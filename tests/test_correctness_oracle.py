"""Differential oracle tests: every query in __spark_entry__.queries()
vs its DuckDB oracle_sql(), mimicking the driver's comparison
(row-count + column set + order-insensitive values).

Runs at sf0.001 for speed; the driver's gate runs sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value comparison: tolerate last-ulp drift
        return round(v, 6)
    if hasattr(v, "isoformat"):  # datetime/date: compare as naive ISO string
        return v.isoformat()
    if isinstance(v, int):
        return float(v) if False else v
    return v


def _rowset(rows, cols):
    return sorted(
        (
            tuple(
                _norm(r[c] if isinstance(r, dict) else r[i])
                for i, c in enumerate(cols)
            )
            for r in rows
        ),
        key=repr,  # None-safe ordering (cube/rollup rows carry NULL dims)
    )


ORACLE = entrymod.oracle_sql()
ALL = entrymod.queries()


# r14 (the pytest gate, VERDICT r13 item 1): the three IMI-PQ audit
# replays are the suite's slowest oracle cases (43/20/17 s at sf0.001 —
# the unrolled training-replay SQL, not the assertion) and are ALSO
# the queries the round driver verifies itself every round (r13/r14
# head rotation) and the full-replica artifact covers; they run with
# -m slow, the other ~200 oracle cases stay in the default gate.
_SLOW_ORACLE = {
    "imi_pq_opq_recall",
    "imi_pq_residual_recall_clustered",
    "imi_pq_residual_recall",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE
        else n
        for n in sorted(ORACLE)
    ],
)
def test_query_matches_oracle(name, spark, duck):
    sdf = ALL[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(ORACLE[name])
    dcols = rel.columns
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"

    # align duck columns to spark order
    idx = [dcols.index(c) for c in scols]
    drows = [tuple(r[i] for i in idx) for r in drows]
    a = _rowset(srows, scols)
    b = _rowset(drows, scols)
    assert a == b, f"{name}: value mismatch\nspark[:3]={a[:3]}\nduck[:3]={b[:3]}"


def test_rows_only_queries_run(spark):
    for name in sorted(set(ALL) - set(ORACLE)):
        df = ALL[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_driver_priority_names_are_unique_and_registered():
    # the driver order list is hand-kept: a repeated name is dead weight
    # (only its first position counts) and an unregistered one is a typo
    from bearysta_spark.queries import _DRIVER_PRIORITY, QUERIES

    dups = sorted({n for n in _DRIVER_PRIORITY if _DRIVER_PRIORITY.count(n) > 1})
    assert not dups, f"listed more than once: {dups}"
    unknown = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
    assert not unknown, f"not registered: {unknown}"
