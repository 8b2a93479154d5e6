"""RecipeEngine: compile and run one recipe as a lazy DataFrame plan.

Stage order follows the reference *code* (not its docs — SURVEY §4.2#1):
get_normalized_data (aggregate.py:316-585):
    scan → rename → filter-out → infer → precomputed → pack → unpack →
    infer → filter-in → dim-column check → infer → values cast
get_aggregated_data (aggregate.py:588-729):
    expected-fill / ordering warnings → groupBy(series+axis+variants)
    .agg(values: recipe agg, others: first) → drop '_'-prefixed columns

Everything stays lazy until an action; the numeric-inference passes are
the exception (each needs one aggregate job over candidate string
columns — the price of reproducing pandas' dynamic `to_numeric`
inference with static Catalyst types). The pass after the reshaping
stages probes only the columns they rewrote, and runs no job when none
of those is a string; the filter-in pass probes every string column.

Recursion (S10): `input.config` children are built depth-first and
contribute their *normalized* (pre-aggregation) frames with `File`
overwritten by the child config name (aggregate.py:74-91). Children are
cached — a child referenced by several parents computes once.
"""

from __future__ import annotations

import logging
import math
import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
from bearysta_spark.operators.aggregate import AGG_FUNCS, group_agg
from bearysta_spark.operators.expected import expected_fill, ordering_check
from bearysta_spark.operators import ratio as ratio_ops
from bearysta_spark.session import local_frame

logger = logging.getLogger("bearysta_spark.engine")


# exception-free numeric detection: regex match instead of try_cast for
# the *detection* pass — a failed try_cast throws JVM-side (measured
# ~30 s per pass on 600k rows × 5 non-numeric columns vs <1 s for rlike)
_NUM_RE = r"^[+-]?((\d+\.?\d*|\.\d+)([eE][+-]?\d+)?|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
_INT_RE = r"^[+-]?\d+$"
_SIGNED_NAN_RE = r"^[+-][nN][aA][nN]$"
_NUM_PY = re.compile(_NUM_RE, re.ASCII)

# lineage columns are strings by construction — never probe them
_LINEAGE = ("Path", "File", "Directory")


def infer_numeric(df: DataFrame, exclude: tuple[str, ...] = ()) -> DataFrame:
    """P2: pandas `to_numeric(errors='ignore')` semantics — promote a
    string column iff every non-null value parses as a number; long when
    all values are integral and fit a long (and no NaN markers), else
    double. A signed NaN (`-nan`, `+nan`) is NaN, as in pandas; Spark's
    cast reads only an unsigned one.

    One aggregate job counts the non-null values, regex mismatches,
    integer mismatches and out-of-range integers of every candidate;
    promotion itself is a lazy projection. `exclude` names columns whose
    verdict the caller already knows (see RecipeEngine.normalized).
    """
    cand = [
        c
        for c, t in df.dtypes
        if t == "string" and c not in exclude and c not in _LINEAGE
    ]
    if not cand:
        return df

    aggs = []
    for i, c in enumerate(cand):
        t = F.trim(qcol(c))
        aggs += [
            F.count(qcol(c)).alias(f"n_{i}"),
            F.count(F.when(~t.rlike(_NUM_RE), 1)).alias(f"bad_{i}"),
            F.count(F.when(~t.rlike(_INT_RE), 1)).alias(f"nonint_{i}"),
            # an integer a long cannot hold makes the column double
            F.count(F.when(t.rlike(_INT_RE) & t.try_cast("bigint").isNull(), 1)).alias(
                f"big_{i}"
            ),
        ]
    stats = df.agg(*aggs).collect()[0]
    promotions = {}
    for i, c in enumerate(cand):
        n, bad = stats[f"n_{i}"], stats[f"bad_{i}"]
        if n == 0 or bad > 0:
            continue  # not all-numeric → keep string (pandas behavior)
        t = F.trim(qcol(c))
        if stats[f"nonint_{i}"] == 0 and stats[f"big_{i}"] == 0:
            promotions[c] = t.try_cast("bigint")
        else:
            promotions[c] = F.regexp_replace(t, _SIGNED_NAN_RE, "NaN").try_cast("double")
    return df.withColumns(promotions) if promotions else df


_NAN = float("nan")


def _distinct_value(v):
    """`v` as Spark's `distinct` groups it: every NaN is one value (one
    object, so tuples holding it compare equal) and -0.0 is 0.0."""
    if isinstance(v, float):
        return _NAN if math.isnan(v) else v + 0.0
    return v


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
        _seen: frozenset[str] = frozenset(),
    ):
        self.spark = spark
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

        # Every dtype is now settled. The stages below keep each column
        # they do not rewrite with the same set of values (pack repeats
        # rows, unpack groups them, ratio joins are left joins), so its
        # verdict cannot change: the next pass probes only what they
        # rewrite.
        settled = set(df.columns)

        for col, expr in r.precomputed.items():
            df, python = self._precompute(df, col, expr)
            # a python lambda sees, and may rebuild, the whole frame
            settled = set() if python else settled - {col}

        for p in r.pack:
            name, value = p["name"], p.get("value", "Value")
            df = pack(df, p["columns"], name, value)
            settled -= {*p["columns"], name, value}
            if not all(_NUM_PY.match(c.strip(" ")) for c in p["columns"]):
                # every row carries every packed name, so one
                # non-numeric name keeps the column a string (Spark's
                # `trim` strips spaces only)
                settled.add(name)

        for p in r.unpack:
            carried = set(df.columns) - {p["name"], p["value"]}
            df = unpack(df, p["name"], p["value"])
            settled &= carried

        df = infer_numeric(df, exclude=tuple(settled))

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

    def _precompute(self, df: DataFrame, col: str, expr) -> tuple[DataFrame, bool]:
        """The frame with `col` computed, and whether the expression
        fell back to python eval."""
        r = self.recipe
        if not isinstance(expr, str):
            return df.withColumn(col, F.lit(expr)), False

        rewritten, ratio_calls = extract_ratio_calls(expr)
        tmp_cols = []
        for tmp, spec in ratio_calls:
            # a *_inv name is its base operator with invert=True, which
            # extract_ratio_calls has already resolved into the spec
            base_func = getattr(ratio_ops, spec["func"].removesuffix("_inv"))
            df = base_func(
                df,
                spec["value"],
                base=spec["base"],
                series=r.series,
                axis=r.axis,
                variants=r.variants,
                agg=r.aggregation,
                out=tmp,
                invert=spec["invert"],
            )
            tmp_cols.append(tmp)

        python = False
        try:
            column = compile_expr(df, rewritten)
            df = df.withColumn(col, column)
        except ExprCompileError:
            if not self.allow_python:
                raise
            df = self._python_fallback(df, col, expr)
            python = True
        return (df.drop(*tmp_cols) if tmp_cols else df), python

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
        if r.aggregation not in AGG_FUNCS:
            raise RecipeError(f"Unknown aggregation {r.aggregation!r}")
        values = [v for v in r.values if v in df.columns]
        others = [c for c in df.columns if c not in dims and c not in values]
        if others and logger.isEnabledFor(logging.DEBUG):
            # A5 (reference aggregate.py:723-726): log distinct counts of
            # columns being aggregated out. The job exists only for these
            # debug lines. approx_count_distinct — at scale an exact
            # nunique per column is its own shuffle each.
            row = df.agg(
                *[F.approx_count_distinct(qcol(c)).alias(c) for c in others]
            ).collect()[0]
            for c in others:
                logger.debug(
                    'Aggregated out column "%s" with ~%d unique values', c, row[c]
                )
        out = group_agg(df, dims, values, r.aggregation)
        keep = [c for c in out.columns if not c.startswith("_")]
        return out.select(*[qcol(c) for c in keep])

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

    def pivot_tables(self, df: DataFrame | None = None) -> list[tuple[tuple, DataFrame]]:
        """A6: one wide pivot per variant combination (axis rows ×
        series columns), mirroring the reference's per-variant
        pivot_table loop (aggregate.py:749-789).

        The aggregated table holds one row per dims combination, so it
        is collected once: its axis, variant and value columns plus the
        pivot key Spark computes (`pivot_key`). The combinations (sorted
        by their str), each one's rows and each one's key list (sorted
        as Spark's `pivot()` sorts, ascending with null first) come from
        that collect. Each table re-applies the aggregation to its rows
        in a one-partition JVM-local frame: one 1-task job when it is
        collected. A null variant value forms a combination, and NaNs
        form one, as in Spark's `distinct`. A table with more keys than
        `spark.sql.pivotMaxValues` is left to Spark's `pivot()`, which
        raises.
        """
        from bearysta_spark.operators.aggregate import pivot_key, pivot_table

        r = self.recipe
        if df is None:
            df = self.aggregated()
        variants = [v for v in r.variants if v in df.columns]
        cols = list(dict.fromkeys([*r.axis, *r.values]))
        key = "__pivot_key"
        view = df.select(
            *[qcol(c) for c in dict.fromkeys([*cols, *variants])],
            pivot_key(r.series or ["File"]).alias(key),
        )
        table = view.toArrow()
        keys = table.column(key).to_pylist()
        found = [table.column(v).to_pylist() for v in variants]
        # with no variants, one table over every row, even when empty
        combos: dict[tuple, list[int]] = {} if variants else {(): []}
        for i in range(table.num_rows):
            combo = tuple(_distinct_value(f[i]) for f in found)
            combos.setdefault(combo, []).append(i)

        table = table.select([*cols, key])
        schema = StructType([view.schema[c] for c in [*cols, key]])
        max_keys = int(self.spark.conf.get("spark.sql.pivotMaxValues"))
        out = []
        for combo in sorted(combos, key=lambda t: tuple(str(x) for x in t)):
            rows = combos[combo]
            names = sorted({keys[i] for i in rows}, key=lambda k: (k is not None, k or ""))
            frame = local_frame(self.spark, table.take(pa.array(rows, pa.int64())), schema)
            out.append((combo, pivot_table(
                frame.coalesce(1),
                r.axis,
                [key],
                r.values,
                self._pivot_agg(),
                column_values=names if len(names) <= max_keys else None,
            )))
        return out

    def _pivot_agg(self) -> str:
        return self.recipe.aggregation if self.recipe.aggregation in AGG_FUNCS else "mean"
