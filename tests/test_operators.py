"""Unit tests for the core operator library (SURVEY §2.3-2.6)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bearysta_spark.operators import (
    expected_fill,
    filter_in,
    filter_out,
    group_agg,
    pack,
    pivot_table,
    ratio_of,
    unpack,
)
from bearysta_spark.operators.expected import ordering_check
from bearysta_spark.operators.ratio import MissingBaseError, percent_diff


@pytest.fixture(scope="module")
def perf(spark):
    rows = [
        # Prefix, Function, Size, Time
        ("native", "erf", 1000, 1.0),
        ("native", "erf", 1000, 3.0),
        ("native", "exp", 1000, 4.0),
        ("intel", "erf", 1000, 1.0),
        ("intel", "exp", 1000, 1.0),
        ("numba", "erf", 1000, 8.0),
        ("numba", "erf", 2000, 6.0),
    ]
    return spark.createDataFrame(rows, ["Prefix", "Function", "Size", "Time"])


def test_filter_in_out(perf):
    assert filter_in(perf, {"Prefix": ["native", "intel"]}).count() == 5
    assert filter_out(perf, {"Function": ["exp"]}).count() == 5
    # missing column is a no-op (reference iterates only present cols)
    assert filter_in(perf, {"Nope": [1]}).count() == 7


def test_filter_out_keeps_nulls(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], ["c"])
    assert filter_out(df, {"c": ["a"]}).count() == 2


def test_group_agg_mean_and_first(perf):
    out = group_agg(perf, ["Prefix", "Function"], ["Time"], "mean")
    d = {(r["Prefix"], r["Function"]): r for r in out.collect()}
    assert d[("native", "erf")]["Time"] == 2.0
    # non-dimension column Size aggregated with first
    assert d[("numba", "erf")]["Size"] in (1000, 2000)
    assert len(d) == 5


def test_group_agg_empty_dims_global(perf):
    # A3: zero grouping keys → one global group
    out = group_agg(perf, [], ["Time"], "max", keep_others=False)
    assert out.collect()[0]["Time"] == 8.0


def test_geomean(spark):
    df = spark.createDataFrame([(2.0,), (8.0,)], ["v"])
    out = group_agg(df, [], ["v"], "geomean", keep_others=False)
    assert abs(out.collect()[0]["v"] - 4.0) < 1e-12


def test_median_exact(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (10.0,), (20.0,)], ["v"])
    out = group_agg(df, [], ["v"], "median", keep_others=False)
    assert out.collect()[0]["v"] == 6.0


def test_pack_unpack_roundtrip(spark):
    wide = spark.createDataFrame(
        [("a", 1.0, 10.0), ("b", 2.0, 20.0)], ["k", "fit", "predict"]
    )
    long = pack(wide, ["fit", "predict"], "Function", "Time")
    assert long.count() == 4
    assert set(long.columns) == {"k", "Function", "Time"}
    back = unpack(long, "Function", "Time")
    got = {r["k"]: (r["fit"], r["predict"]) for r in back.collect()}
    assert got == {"a": (1.0, 10.0), "b": (2.0, 20.0)}


def test_unpack_null_keys_survive(spark):
    # Spark groups NULL keys natively — the reference needed a 'NaN'-string
    # hack (aggregate.py:527-534); assert the NULL-keyed rows survive.
    df = spark.createDataFrame(
        [(None, "x", 1.0), ("k1", "x", 2.0)], ["k", "name", "val"]
    )
    out = unpack(df, "name", "val")
    assert out.count() == 2


def test_unpack_dotted_name(spark):
    df = spark.createDataFrame(
        [("a", "x.y", 1.0), ("a", "z", 2.0)], ["id.k", "k.name", "v.al"]
    )
    assert unpack(df, "k.name", "v.al").collect() == [
        Row(**{"id.k": "a", "x.y": 1.0, "z": 2.0})
    ]


def test_pivot_table(perf):
    out = pivot_table(perf, ["Function"], ["Prefix"], ["Time"], "mean")
    d = {r["Function"]: r for r in out.collect()}
    assert d["erf"]["native"] == 2.0
    assert d["erf"]["intel"] == 1.0
    assert d["exp"]["numba"] is None


def test_ratio_of(perf):
    out = ratio_of(
        perf,
        "Time",
        base={"Prefix": "intel"},
        series=["Prefix"],
        axis=["Function", "Size"],
        agg="mean",
        out="Ratio",
    )
    d = {(r["Prefix"], r["Function"], r["Size"]): r["Ratio"] for r in out.collect()}
    assert d[("native", "erf", 1000)] == 2.0  # mean(1,3)/1
    assert d[("intel", "erf", 1000)] == 1.0
    # no intel base at Size=2000 → NULL ratio (pandas left-join NaN parity)
    assert d[("numba", "erf", 2000)] is None
    assert out.count() == perf.count()


def test_ratio_missing_base_raises(perf):
    with pytest.raises(MissingBaseError):
        ratio_of(perf, "Time", base={"Prefix": "nope"}, series=["Prefix"])


def test_percent_diff(spark):
    df = spark.createDataFrame(
        [("a", 2.0), ("base", 1.0)], ["Prefix", "Time"]
    )
    out = percent_diff(df, "Time", base={"Prefix": "base"}, series=["Prefix"], out="Pct")
    d = {r["Prefix"]: r["Pct"] for r in out.collect()}
    assert d["a"] == 100.0
    assert d["base"] == 0.0


def test_expected_fill(spark):
    df = spark.createDataFrame(
        [("f1", "a", 1.0), ("f1", "b", 2.0), ("f2", "a", 3.0)],
        ["Function", "Prefix", "Time"],
    )
    out = expected_fill(df, [("a",), ("b",), ("c",)], series=["Prefix"], axis=["Function"])
    assert out.count() == 6  # 3 original + (f1,c) (f2,b) (f2,c)
    nulls = out.filter(F.col("Time").isNull())
    got = {(r["Function"], r["Prefix"]) for r in nulls.collect()}
    assert got == {("f1", "c"), ("f2", "b"), ("f2", "c")}


def test_ordering_check(perf):
    # expect intel fastest, then native, then numba (Time: lower is better)
    ok = ordering_check(
        perf, ["intel", "native", "numba"], "Prefix", "Time", axis=["Function", "Size"]
    )
    assert ok == []
    bad = ordering_check(
        perf, ["numba", "intel", "native"], "Prefix", "Time", axis=["Function", "Size"]
    )
    assert len(bad) > 0


def test_asof_join(spark):
    from bearysta_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", "2024-01-01 10:00:00"), (2, "u1", "2024-01-01 12:00:00"),
         (3, "u2", "2024-01-01 11:00:00")],
        ["id", "user", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 09:30:00", 10.0), ("u1", "2024-01-01 11:30:00", 20.0),
         ("u2", "2024-01-01 11:00:00", 30.0), ("u3", "2024-01-01 08:00:00", 40.0)],
        ["user", "ts", "v"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = asof_join(left, right, on="ts", by=["user"], right_cols=["v"])
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}  # exact-time match for id=3

    # tolerance: id=1 is 30min after its signup → excluded at 10min tol
    tol = asof_join(left, right, on="ts", by=["user"], right_cols=["v"],
                    tolerance_seconds=600)
    got_tol = {r["id"]: r["v"] for r in tol.collect()}
    assert got_tol == {1: None, 2: None, 3: 30.0}


def test_asof_join_ntz_and_numeric_on(spark):
    # ADVICE r02: tolerance must be NTZ-safe (computed on the original
    # type, not cast through session-TZ TIMESTAMP) and must fail fast on
    # a numeric time column instead of reading it as epoch seconds
    import pytest

    from bearysta_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", "2024-01-01 12:00:00")], ["id", "user", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 11:40:00", 10.0)], ["user", "ts", "v"]
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    tol = asof_join(left, right, on="ts", by=["user"], right_cols=["v"],
                    tolerance_seconds=1800)
    assert [r["v"] for r in tol.collect()] == [10.0]
    tight = asof_join(left, right, on="ts", by=["user"], right_cols=["v"],
                      tolerance_seconds=600)
    assert [r["v"] for r in tight.collect()] == [None]

    num_left = spark.createDataFrame([(1, "u1", 1000)], ["id", "user", "t"])
    num_right = spark.createDataFrame([("u1", 900, 1.0)], ["user", "t", "v"])
    with pytest.raises(TypeError, match="timestamp"):
        asof_join(num_left, num_right, on="t", by=["user"], right_cols=["v"],
                  tolerance_seconds=60)


def test_salted_join_equals_plain_join(spark):
    from bearysta_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(100)], ["k", "payload"]
    )
    right = spark.createDataFrame([(0, "a"), (1, "b"), (9, "z")], ["k", "dim"])
    plain = {(r["k"], r["payload"], r["dim"]) for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["payload"], r["dim"]) for r in salted_join(left, right, ["k"], salt=8).collect()}
    assert salted == plain
    assert len(salted) == 67  # keys 0,1 present: ceil/floor of 100/3


def test_asof_join_null_right_value_attaches_matched_row(spark):
    # ADVICE r01: per-column last(ignorenulls) skipped a matched right
    # row whose carried value is NULL and attached an OLDER row's value.
    # merge_asof/DuckDB ASOF semantics: the matched row's value wins,
    # even when it is NULL.
    from bearysta_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", "2024-01-01 12:00:00")], ["id", "user", "ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 09:00:00", 10.0),
         ("u1", "2024-01-01 11:00:00", None)],
        "user string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = asof_join(left, right, on="ts", by=["user"], right_cols=["v"])
    assert [r["v"] for r in out.collect()] == [None]

    # tolerance must measure from the matched row (11:00, 1h away), not
    # from the older row the value used to leak from
    tol = asof_join(left, right, on="ts", by=["user"], right_cols=["v"],
                    tolerance_seconds=2 * 3600)
    assert [r["v"] for r in tol.collect()] == [None]


def test_banded_range_join_equals_naive(spark):
    from bearysta_spark.operators.rangejoin import banded_range_join

    probe = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 1.9, 2.0, 5.5, 7.99, 8.0, 42.0])],
        ["pid", "v"],
    )
    iv = spark.createDataFrame(
        [(0, 0.0, 2.0), (1, 1.5, 6.0), (2, 5.0, 9.0), (3, 40.0, 41.0)],
        ["band_id", "lo", "hi"],
    )
    got = {
        (r["pid"], r["band_id"])
        for r in banded_range_join(probe, iv, "v", width=3.0).collect()
    }
    naive = {
        (r["pid"], r["band_id"])
        for r in probe.join(
            iv, (probe.v >= iv.lo) & (probe.v < iv.hi)
        ).collect()
    }
    assert got == naive
    # boundary semantics: lo inclusive, hi exclusive
    assert (0, 0) in got and (2, 0) not in got


def test_banded_range_join_plan_is_equi_join(spark):
    # the point of the operator: NO BroadcastNestedLoopJoin in the plan
    import contextlib, io

    from bearysta_spark.operators.rangejoin import banded_range_join

    probe = spark.range(100).select(F.col("id").alias("pid"), (F.col("id") * 1.0).alias("v"))
    iv = spark.range(10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 15.0).alias("hi"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded_range_join(probe, iv, "v", width=15.0).explain("formatted")
    plan = buf.getvalue()
    assert "NestedLoop" not in plan
