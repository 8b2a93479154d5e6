"""The benchmark's workloads: their inputs, their operations and the
check each operation's output must pass.

An operation is one user-visible unit of work: one recipe run through
`aggregated` → `sinks.to_csv` → `pivot_tables`, or one registered query
built and executed to the `noop` sink. Every call into a layer of the
engine is wrapped in a tracer span; untraced, the spans are no-ops.
"""

from __future__ import annotations

import glob
import io
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import yaml

import gen_recipes
from tracing import Tracer, plan_counts, plan_text

# eval_substring_decontam: a broadcast-gate count barrier and the
# _finalize write; knn_pq_adc: Arrow UDF kernels and no scoped cache.
# Both match their DuckDB oracles exactly, and each takes about 2 s a
# pass, where near_dup_pairs (the same gate and write) takes 4-5 s.
CURATION_OPS = ["eval_substring_decontam", "knn_pq_adc"]
#: the read-only seed-42 sf0.01 fixture tables that the repository's
#: tests and scripts read (TESTDATA.md)
FIXTURE_DIR = os.path.expanduser("~/testdata/sf0.01")
FIXTURE_TABLES = ("documents", "embeddings")
WORKLOADS = ("recipes", "curation")


@dataclass
class Op:
    name: str
    #: run(spark, tracer, check) executes the operation; with check=True
    #: it returns an error message, or None when the output is correct
    run: Callable[[object, Tracer, bool], str | None]
    #: work counts per execution (layer -> {count: value})
    counts: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# recipes
# ---------------------------------------------------------------------------


def _recipe_inputs(path: str) -> tuple[int, int]:
    """(files, lines) one run of the recipe at `path` scans."""
    with open(path) as f:
        files = sorted(glob.glob(yaml.safe_load(f)["input"]["path"]))
    n_lines = 0
    for fn in files:
        with open(fn, "rb") as f:
            n_lines += f.read().count(b"\n")
    return len(files), n_lines


def _dim_key(row, dims) -> tuple:
    return tuple(str(row[d]) for d in dims)


def _check_recipe(case: gen_recipes.RecipeCase, csv: str, pivots: list[pd.DataFrame], axis) -> str | None:
    """The CSV sink's table and every pivot cell against the aggregates
    computed in pandas from the generator's records."""
    exp = case.expected()
    got = pd.read_csv(io.StringIO(csv))
    missing = [c for c in case.dims + case.values if c not in got.columns]
    if missing:
        return f"{case.name}: csv lacks columns {missing}"
    if len(got) != len(exp):
        return f"{case.name}: csv has {len(got)} rows, expected {len(exp)}"
    want = {_dim_key(r, case.dims): r for _, r in exp.iterrows()}
    for _, r in got.iterrows():
        e = want.get(_dim_key(r, case.dims))
        if e is None:
            return f"{case.name}: unexpected group {_dim_key(r, case.dims)}"
        for v in case.values:
            # the csv sink prints '%.3f'
            if not abs(float(r[v]) - float(e[v])) <= 5e-4 + 1e-9 * abs(float(e[v])):
                return f"{case.name}: {v} of {_dim_key(r, case.dims)} is {r[v]}, expected {e[v]:.6f}"
    cells = np.sort(np.concatenate([
        p.drop(columns=[c for c in axis if c in p.columns]).to_numpy(dtype=float).ravel()
        for p in pivots
    ]))
    cells = cells[~np.isnan(cells)]
    expect = np.sort(exp[case.values].to_numpy(dtype=float).ravel())
    if cells.shape != expect.shape or not np.allclose(cells, expect, rtol=1e-9, atol=0):
        return f"{case.name}: pivot cells differ from the expected aggregates"
    return None


def _recipe_op(case: gen_recipes.RecipeCase) -> Op:
    from bearysta_spark import sinks
    from bearysta_spark.engine import Recipe, RecipeEngine

    files, lines = _recipe_inputs(case.path)
    recipe = Recipe.load(case.path)

    def run(spark, tracer: Tracer, check: bool) -> str | None:
        eng = RecipeEngine(spark, recipe)
        with tracer.span("engine.sources"):
            raw = eng.raw()
        with tracer.span("engine.core"):
            agg = eng.aggregated(eng.normalized(raw))
        with tracer.span("sinks") as sp:
            csv = sinks.to_csv(agg)
            if sp is not None:
                sp.counts["rows"] = csv.count("\n") - 1
        with tracer.span("operators.pivot"):
            pivots = [t.toPandas() for _, t in eng.pivot_tables(agg)]
        spark.catalog.clearCache()
        return _check_recipe(case, csv, pivots, recipe.axis) if check else None

    return Op(case.name, run, {"engine.sources": {"files": files, "lines": lines}})


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    return v.isoformat() if hasattr(v, "isoformat") else v


def compare_to_oracle(scols: list[str], srows: list[tuple], dcols: list[str], drows: list[tuple]) -> bool:
    """Exact, order-insensitive comparison of a Spark result with its
    DuckDB oracle: same column set, same multiset of rows."""
    if sorted(scols) != sorted(dcols):
        return False
    idx = [dcols.index(c) for c in scols]
    a = sorted(tuple(_norm(x) for x in r) for r in srows)
    b = sorted(tuple(_norm(r[i]) for i in idx) for r in drows)
    return a == b


def _query_op(name: str, data_dir: str, oracle: tuple[list, list]) -> Op:
    from bearysta_spark.queries import QUERIES

    def run(spark, tracer: Tracer, check: bool) -> str | None:
        tracer.planned = False
        with tracer.span("queries.build"):
            df = QUERIES[name](spark, data_dir)
        if tracer.enabled and not tracer.planned:
            with tracer.span("catalyst") as sp:
                sp.counts.update(plan_counts(plan_text(df)))
        with tracer.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()
        if check:  # after the noop write, so that the checked pass warms the timed path
            rows = [tuple(r) for r in df.collect()]
            if not compare_to_oracle(df.columns, rows, *oracle):
                return f"{name}: result differs from its DuckDB oracle"
        return None

    return Op(name, run)


def instrument_scratch(tracer: Tracer) -> None:
    """Time `scratch.materialize_distributed` — the parquet write and
    re-read a cache-scoped query pays before it returns — and count the
    plan of the frame it is handed, which is the query's real plan."""
    from bearysta_spark import scratch

    inner = scratch.materialize_distributed

    def timed(df, tag="df", replaces=None):
        if not tracer.enabled:
            return inner(df, tag, replaces)
        with tracer.span("scratch.finalize"):
            with tracer.span("catalyst") as sp:
                sp.counts.update(plan_counts(plan_text(df)))
            tracer.planned = True
            return inner(df, tag, replaces)

    scratch.materialize_distributed = timed


# ---------------------------------------------------------------------------
# building a workload
# ---------------------------------------------------------------------------


@dataclass
class Workload:
    name: str
    ops: list[Op]
    inputs: dict  # input sizes, for the report


def build(name: str, seed: int, data_root: str) -> Workload:
    """Make `name`'s inputs from `seed` and return its operations in a
    seed-shuffled order. `recipes` generates its tree under `data_root`;
    `curation` reads the fixture tables, so its seed only orders the
    operations."""
    rng = random.Random(seed)
    if name == "recipes":
        rs = gen_recipes.write_recipe_inputs(data_root, seed)
        ops = [_recipe_op(c) for c in rs.cases]
        inputs = {"files": rs.files, "lines": rs.lines, "mb": rs.bytes / 2**20}
    else:
        from bearysta_spark.queries import ORACLE

        paths = {t: os.path.join(FIXTURE_DIR, f"{t}.parquet") for t in FIXTURE_TABLES}
        missing = [p for p in paths.values() if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(f"fixture tables not found: {missing}")
        con = duckdb.connect()
        try:
            for t, p in paths.items():
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            inputs = {"dir": FIXTURE_DIR, "rows": {t: con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in paths}}
            ops = []
            for q in CURATION_OPS:
                rel = con.sql(ORACLE[q])
                ops.append(_query_op(q, FIXTURE_DIR, (rel.columns, rel.fetchall())))
        finally:
            con.close()
    rng.shuffle(ops)
    return Workload(name, ops, inputs)
