"""RecipeEngine: compile and run one recipe as a lazy DataFrame plan.

Stage order follows the reference *code* (not its docs — SURVEY §4.2#1):
get_normalized_data (aggregate.py:316-585):
    scan → rename → filter-out → infer → precomputed → pack → unpack →
    infer → filter-in → dim-column check → infer → values cast
get_aggregated_data (aggregate.py:588-729):
    expected-fill / ordering warnings → groupBy(series+axis+variants)
    .agg(values: recipe agg, others: first) → drop '_'-prefixed columns

Everything stays lazy until an action; the numeric-inference passes are
the exception (each needs one small aggregate job over candidate string
columns — the price of reproducing pandas' dynamic `to_numeric`
inference with static Catalyst types).

Recursion (S10): `input.config` children are built depth-first and
contribute their *normalized* (pre-aggregation) frames with `File`
overwritten by the child config name (aggregate.py:74-91). Children are
cached — a child referenced by several parents computes once.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bearysta_spark.cachescope import scoped_cache
from bearysta_spark.colnames import qcol
from bearysta_spark.engine.expr import (
    ExprCompileError,
    compile_expr,
    extract_ratio_calls,
)
from bearysta_spark.engine.recipe import Recipe, RecipeError
from bearysta_spark.engine.sources import scan
from bearysta_spark.operators import filter_in, filter_out, pack, unpack
from bearysta_spark.operators.aggregate import AGG_FUNCS, agg_expr
from bearysta_spark.operators.expected import expected_fill, ordering_check
from bearysta_spark.operators import ratio as ratio_ops
from bearysta_spark.session import local_frame

logger = logging.getLogger("bearysta_spark.engine")


# exception-free numeric detection: regex match instead of try_cast for
# the *detection* pass — a failed try_cast throws JVM-side (measured
# ~30 s per pass on 600k rows × 5 non-numeric columns vs <1 s for rlike)
_NUM_RE = r"^[+-]?((\d+\.?\d*|\.\d+)([eE][+-]?\d+)?|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
_INT_RE = r"^[+-]?\d+$"

# lineage columns are strings by construction — never probe them
_LINEAGE = ("Path", "File", "Directory")


def infer_numeric(df: DataFrame, exclude: tuple[str, ...] = ()) -> DataFrame:
    """P2: pandas `to_numeric(errors='ignore')` semantics — promote a
    string column iff every non-null value parses as a number; long when
    all values are integral (and no NaN markers), else double.

    Two stages to keep it cheap on wide frames: (1) one job fetches the
    first non-null value of every candidate — columns whose sample
    doesn't parse are left string immediately (the common case for
    label/lineage columns); (2) one aggregate job over the survivors
    counts regex mismatches. Promotion itself is a lazy projection.
    """
    cand = [
        c
        for c, t in df.dtypes
        if t == "string" and c not in exclude and c not in _LINEAGE
    ]
    if not cand:
        return df

    firsts = df.agg(
        *[F.first(qcol(c), ignorenulls=True).alias(c) for c in cand]
    ).collect()[0]

    def plausible(v) -> bool:
        if v is None:
            return False
        try:
            float(v)
            return True
        except (TypeError, ValueError):
            return False

    cand = [c for c in cand if plausible(firsts[c])]
    if not cand:
        return df

    aggs = []
    for i, c in enumerate(cand):
        t = F.trim(qcol(c))
        aggs += [
            F.count(qcol(c)).alias(f"n_{i}"),
            F.count(F.when(~t.rlike(_NUM_RE), 1)).alias(f"bad_{i}"),
            F.count(F.when(~t.rlike(_INT_RE), 1)).alias(f"nonint_{i}"),
        ]
    stats = df.agg(*aggs).collect()[0]
    promotions = {}
    for i, c in enumerate(cand):
        n, bad, nonint = stats[f"n_{i}"], stats[f"bad_{i}"], stats[f"nonint_{i}"]
        if n == 0 or bad > 0:
            continue  # not all-numeric → keep string (pandas behavior)
        if nonint == 0:
            promotions[c] = F.expr(f"try_cast(trim(`{c}`) as bigint)")
        else:
            promotions[c] = F.expr(f"try_cast(trim(`{c}`) as double)")
    return df.withColumns(promotions) if promotions else df


def _align_for_union(frames: list[DataFrame]) -> list[DataFrame]:
    """Pre-union schema alignment across child frames.

    Spark resolves unionByName case-insensitively, so a child's
    'classes' (bigint, from svm.yml) lands in another child's 'Classes'
    (string, sklearn.yml's fillna('n/a')) and ANSI union coercion
    cast-throws on the words. pandas concat (the reference,
    aggregate.py:85) never coerces. Align: first spelling wins the
    name; when the same column carries conflicting dtypes including
    string, every frame casts it to string (infer_numeric re-promotes
    later iff all values are numeric). Numeric-vs-numeric conflicts are
    left to Spark's native safe widening.
    """
    canon: dict[str, str] = {}
    seen_types: dict[str, set[str]] = {}
    for f in frames:
        for name, dt in f.dtypes:
            canon.setdefault(name.lower(), name)
            seen_types.setdefault(name.lower(), set()).add(dt)
    conflicted = {
        canon[k] for k, ds in seen_types.items() if len(ds) > 1 and "string" in ds
    }
    out = []
    for f in frames:
        renames = {
            name: canon[name.lower()]
            for name, _ in f.dtypes
            if name != canon[name.lower()]
        }
        g = f.withColumnsRenamed(renames) if renames else f
        casts = {
            c: qcol(c).cast("string")
            for c in conflicted
            if c in g.columns and dict(g.dtypes)[c] != "string"
        }
        g = g.withColumns(casts) if casts else g
        out.append(g)
    return out


class RecipeEngine:
    """Compile + execute one recipe (and its input.config DAG)."""

    def __init__(
        self,
        spark: SparkSession,
        recipe: Recipe | dict | str,
        inputs: list[str] | None = None,
        allow_python: bool = False,
        diagnostics: bool = False,
        _seen: frozenset[str] = frozenset(),
    ):
        self.spark = spark
        self.diagnostics = diagnostics
        if isinstance(recipe, str):
            recipe = Recipe.load(recipe)
        elif isinstance(recipe, dict):
            recipe = Recipe(recipe)
        self.recipe = recipe
        self.inputs = inputs
        self.allow_python = allow_python
        self._normalized: DataFrame | None = None

        # cycle guard (the reference would recurse forever; SURVEY §7.2)
        key = os.path.abspath(recipe.path) if recipe.path else None
        if key and key in _seen:
            raise RecipeError(f"Recipe cycle detected at {key}")
        self._seen = _seen | ({key} if key else set())

    # -- raw ----------------------------------------------------------

    def raw(self) -> DataFrame:
        """S1-S11: children (recursive, normalized) + file scans, outer-
        aligned union (pd.concat(sort=True) ≡ unionByName allowMissing)."""
        frames: list[DataFrame] = []
        for child_path in self.recipe.child_configs:
            child = RecipeEngine(
                self.spark,
                Recipe.load(child_path),
                allow_python=self.allow_python,
                _seen=self._seen,
            )
            name = os.path.splitext(os.path.basename(child_path))[0]
            cdf = child.normalized().withColumn("File", F.lit(name))
            frames.append(cdf)

        scanned = scan(self.spark, self.recipe, self.inputs)
        if scanned is not None:
            frames.append(scanned)

        if not frames:
            raise RecipeError("Recipe has no inputs (neither path nor config)")

        frames = _align_for_union(frames)
        out = frames[0]
        for df in frames[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        if len(frames) > 1:
            # children are reused by ratio joins etc. — cache the union
            out = scoped_cache(out)
        return out

    # -- normalized ---------------------------------------------------

    def normalized(self, df: DataFrame | None = None) -> DataFrame:
        if df is None:
            if self._normalized is not None:
                return self._normalized
            df = self.raw()
        r = self.recipe

        if r.rename:
            df = df.withColumnsRenamed({k: v for k, v in r.rename.items() if k in df.columns})

        if r.filter_out:
            df = filter_out(df, r.filter_out)

        df = infer_numeric(df)

        for col, expr in r.precomputed.items():
            df = self._precompute(df, col, expr)

        for p in r.pack:
            df = pack(df, p["columns"], p["name"], p.get("value", "Value"))

        for p in r.unpack:
            df = unpack(df, p["name"], p["value"])

        df = infer_numeric(df)

        if r.filter_in:
            df = filter_in(df, r.filter_in)

        for col in r.axis + r.series + r.variants:
            if col not in df.columns:
                raise RecipeError(f'Column "{col}" specified in config but not found')

        if r.filter_in:
            # dropping rows can leave a column all-numeric; without
            # filter-in the frame is the one the pass above just probed
            df = infer_numeric(df)

        missing = [c for c in r.values if c not in df.columns]
        if missing:
            raise RecipeError("Missing values columns: " + ", ".join(missing))

        # values must be numeric (hard error parity, aggregate.py:578-583):
        # a still-string values column means inference failed → non-numeric data
        for c in r.values:
            if dict(df.dtypes)[c] == "string":
                raise RecipeError("Found non-numerical data in values columns!")
        df = df.withColumns({c: qcol(c).cast("double") for c in r.values})

        self._normalized = df
        return df

    # -- precompute ---------------------------------------------------

    def _precompute(self, df: DataFrame, col: str, expr) -> DataFrame:
        r = self.recipe
        if not isinstance(expr, str):
            return df.withColumn(col, F.lit(expr))

        rewritten, ratio_calls = extract_ratio_calls(expr)
        tmp_cols = []
        for tmp, spec in ratio_calls:
            fname = spec["func"]
            base_func = getattr(ratio_ops, fname)
            kw = {}
            if "invert" not in fname and spec.get("invert"):
                kw["invert"] = True
            df = base_func(
                df,
                spec["value"],
                base=spec["base"],
                series=r.series,
                axis=r.axis,
                variants=r.variants,
                agg=r.aggregation,
                out=tmp,
                **kw,
            )
            tmp_cols.append(tmp)

        try:
            column = compile_expr(df, rewritten)
            df = df.withColumn(col, column)
        except ExprCompileError:
            if not self.allow_python:
                raise
            df = self._python_fallback(df, col, expr)
        return df.drop(*tmp_cols) if tmp_cols else df

    def _python_fallback(self, df: DataFrame, col: str, expr: str) -> DataFrame:
        """Arrow-batched pandas eval of the original lambda string —
        reference-exact semantics for explicitly-trusted recipes.
        Row-wise (`row[` present) or frame-wise, applied per batch
        (frame-wise lambdas must therefore be element-wise — true of
        every shipped recipe). Frame-wise lambdas returning a
        (frame, origin) tuple take the P5 merge-back path instead."""
        import pandas as pd  # noqa: F401

        logger.warning(
            "precompute %r fell back to python eval (allow_python=True)", col
        )
        row_wise = "row[" in expr
        if not row_wise and self._probe_returns_tuple(df, expr):
            return self._tuple_merge_back(df, col, expr)
        out_schema = ", ".join(
            [f"`{c}` {t}" for c, t in df.dtypes] + [f"`{col}` string"]
        )

        def apply_batch(it):
            import numpy as np
            import pandas as pd

            from bearysta_spark.engine.expr import read_csv_cached

            # S9: same cached-CSV accessor the reference exposes in its
            # eval env (aggregate.py:483)
            env = {"np": np, "pd": pd, "read_csv_fd": read_csv_cached}
            for pdf in it:
                if row_wise:
                    fn = eval("lambda row: " + expr, env)  # noqa: S307
                    res = pdf.apply(fn, axis=1) if len(pdf) else pd.Series([], dtype=object)
                else:
                    fn = eval("lambda df: " + expr, env)  # noqa: S307
                    res = fn(pdf)
                if isinstance(res, tuple):
                    # P5 (df, origin) merge-back needs the whole frame,
                    # which a batch never is — backstop for lambdas the
                    # probe misclassified (data-dependent return type)
                    raise ValueError(
                        "tuple-returning precompute detected mid-batch; "
                        "the expression's return type must not depend on "
                        "the data"
                    )
                pdf = pdf.copy()
                pdf[col] = res.astype(str) if len(pdf) else res
                yield pdf

        out = df.mapInPandas(apply_batch, schema=out_schema)
        return infer_numeric(out, exclude=tuple(c for c in df.columns))

    @staticmethod
    def _eval_frame_lambda(pdf, expr: str):
        import numpy as np
        import pandas as pd

        from bearysta_spark.engine.expr import read_csv_cached

        # same eval env the reference exposes (aggregate.py:483)
        env = {"np": np, "pd": pd, "read_csv_fd": read_csv_cached}
        return eval("lambda df: " + expr, env)(pdf)  # noqa: S307

    def _probe_returns_tuple(self, df: DataFrame, expr: str) -> bool:
        """Classify a frame-wise lambda by evaluating it on a small
        driver-side sample: tuple-returning expressions (the reference's
        advanced merge-back protocol, aggregate.py:500-506) are
        structural — the return type comes from the expression shape,
        not the data — so a sample is enough to dispatch."""
        try:
            probe = self._eval_frame_lambda(df.limit(50).toPandas(), expr)
        except Exception:
            return False  # let the batch path surface the real error
        return isinstance(probe, tuple)

    # Driver-side eval bound for tuple merge-backs. The lambda itself is
    # arbitrary pandas over the WHOLE frame — inherently single-node, like
    # the reference engine it reproduces. Recipes are benchmark-log scale;
    # anything larger should use the native ratio_of family.
    TUPLE_MERGE_MAX_ROWS = 2_000_000

    def _tuple_merge_back(self, df: DataFrame, col: str, expr: str) -> DataFrame:
        """P5 general tuple merge-back (ref aggregate.py:500-506): the
        frame lambda returns (result_frame, origin_col); rename origin →
        col and left-join result to the frame on all shared columns
        (pd.merge default-key semantics). The eval is driver-side and
        bounded (see TUPLE_MERGE_MAX_ROWS); the merge-back join itself
        stays a distributed Spark join, shuffling on the shared columns
        exactly like the native ratio_of merge-back."""
        n = df.count()
        if n > self.TUPLE_MERGE_MAX_ROWS:
            raise RecipeError(
                f"tuple-returning precompute for {col!r} needs whole-frame "
                f"python eval, bounded at {self.TUPLE_MERGE_MAX_ROWS} rows "
                f"(got {n}); rewrite with the ratio_of/percent_of family"
            )
        result = self._eval_frame_lambda(df.toPandas(), expr)
        res_pdf, origin = result
        res_pdf = res_pdf.rename(columns={origin: col})
        rdf = local_frame(self.spark, res_pdf)
        right = df.drop(col) if col in df.columns else df
        shared = [c for c in rdf.columns if c in right.columns]
        if not shared:
            raise RecipeError(
                f"tuple merge-back for {col!r} shares no columns with the frame"
            )
        return rdf.join(right, on=shared, how="left")

    # -- aggregated ---------------------------------------------------

    def aggregated(self, df: DataFrame | None = None) -> DataFrame:
        r = self.recipe
        if df is None:
            df = self.normalized()

        if r.expected is not None:
            df = expected_fill(
                df,
                [tuple(x) if isinstance(x, (list, tuple)) else (x,) for x in r.expected],
                series=r.series,
                axis=r.axis,
                variants=r.variants,
            )
            for violation in self.check_ordering(df):
                logger.warning(
                    "Unexpected performance ordering: %s", violation
                )

        dims = r.series + r.axis + r.variants
        agg = r.aggregation
        if agg not in AGG_FUNCS:
            raise RecipeError(f"Unknown aggregation {agg!r}")
        values = [v for v in r.values if v in df.columns]
        others = [c for c in df.columns if c not in dims and c not in values]
        aggs = [agg_expr(agg, v, v) for v in values] + [
            F.first(qcol(c), ignorenulls=True).alias(c) for c in others
        ]
        if self.diagnostics and others:
            # A5 (reference aggregate.py:723-726): log distinct counts of
            # columns being aggregated out. approx_count_distinct — at
            # scale an exact nunique per column is its own shuffle each.
            row = df.agg(
                *[F.approx_count_distinct(qcol(c)).alias(c) for c in others]
            ).collect()[0]
            for c in others:
                logger.debug(
                    'Aggregated out column "%s" with ~%d unique values', c, row[c]
                )
        out = df.groupBy(*dims).agg(*aggs)
        keep = [c for c in out.columns if not c.startswith("_")]
        return out.select(*keep)

    def check_ordering(self, df: DataFrame) -> list[dict]:
        r = self.recipe
        if r.expected is None or len(r.series) != 1:
            return []
        order = [x if not isinstance(x, (list, tuple)) else x[0] for x in r.expected]
        out = []
        for v in r.values:
            out += ordering_check(
                df.filter(qcol(v).isNotNull()),
                order,
                r.series[0],
                v,
                axis=r.axis,
                variants=r.variants,
                agg=r.aggregation if r.aggregation in AGG_FUNCS else "mean",
                higher_is_better=r.higher_is_better,
            )
        return out

    # -- pivot --------------------------------------------------------

    def pivot_tables(self, df: DataFrame | None = None):
        """A6: one wide pivot per variant combination (axis rows ×
        series columns), mirroring the reference's per-variant
        pivot_table loop (aggregate.py:749-789)."""
        from bearysta_spark.operators.aggregate import pivot_table

        r = self.recipe
        if df is None:
            df = self.aggregated()
        variants = [v for v in r.variants if v in df.columns]
        if not variants:
            yield (), pivot_table(df, r.axis, r.series or ["File"], r.values, self._pivot_agg())
            return
        combos = [tuple(row) for row in df.select(*variants).distinct().collect()]
        for combo in sorted(combos, key=lambda t: tuple(str(x) for x in t)):
            sub = df
            for c, val in zip(variants, combo):
                sub = sub.filter(qcol(c) == F.lit(val))
            yield combo, pivot_table(
                sub, r.axis, r.series or ["File"], r.values, self._pivot_agg()
            )

    def _pivot_agg(self) -> str:
        return self.recipe.aggregation if self.recipe.aggregation in AGG_FUNCS else "mean"
