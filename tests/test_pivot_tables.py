"""`RecipeEngine.pivot_tables` (A6): one wide table per variant
combination, built from one collect of the aggregated table.

The reference formulation is Spark's own `pivot()` over the aggregated
plan, one null-safe filtered frame per combination (`spark_pivots`):
every table must have its columns in its order, its rows and
bit-identical cells.
"""

from __future__ import annotations

import math

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bearysta_spark.colnames import qcol
from bearysta_spark.engine import RecipeEngine
from bearysta_spark.operators.aggregate import pivot_table

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"

# P,Q: series parts (a null P, so a null key); S: numeric series values
# (Spark spells 1e10 `1.0E10`); Env, Arch: variants (Arch null twice)
CSV = """\
Arch,Env,P,Q,S,Function,Time
icx,e1,a,x,1e10,erf,1.5
icx,e1,a,y,0.1,erf,2.0
icx,e1,b,,2.5,exp,3.0
icx,e2,,x,,erf,4.0
spr,e2,a,x,1e10,erf,4.0
spr,e1,b,y,0.1,erf,8.0
spr,e1,a,x,1e10,exp,16.0
spr,e2,b,y,3,sin,7.0
,e2,a,x,1e10,erf,5.0
,e1,b,x,0.1,erf,6.0
"""


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    p = tmp_path_factory.mktemp("pivots") / "d.csv"
    p.write_text(CSV)
    return str(p)


def engine(spark, data, **spec):
    return RecipeEngine(
        spark,
        {"input": {"path": data, "format": "csv"}, "values": ["Time"], "aggregation": "mean", **spec},
    )


def spark_pivots(eng, agg):
    """The tables as Spark's `pivot()` computes them over the
    aggregated plan: its own distinct-values job and key order."""
    r = eng.recipe
    series = r.series or ["File"]
    variants = [v for v in r.variants if v in agg.columns]
    if not variants:
        return [((), pivot_table(agg, r.axis, series, r.values, eng._pivot_agg()))]
    combos = [tuple(row) for row in agg.select(*variants).distinct().collect()]
    out = []
    for combo in sorted(combos, key=lambda t: tuple(str(x) for x in t)):
        sub = agg
        for c, v in zip(variants, combo):
            sub = sub.filter(qcol(c).eqNullSafe(F.lit(v)))
        out.append((combo, pivot_table(sub, r.axis, series, r.values, eng._pivot_agg())))
    return out


def _bits(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    return repr(v)


def shape(tables):
    return [
        (
            tuple(map(_bits, combo)),
            t.columns,
            [f.dataType.simpleString() for f in t.schema],
            sorted(tuple(map(_bits, r)) for r in t.collect()),
        )
        for combo, t in tables
    ]


CASES = {
    "multi_series_geomean": dict(series=["P", "Q"], axis=["Function"], variants=["Env"], aggregation="geomean"),
    "multi_series_median": dict(series=["P", "Q"], axis=["Function"], variants=["Env"], aggregation="median"),
    "multi_series_count": dict(series=["P", "Q"], axis=["Function"], variants=["Env"], aggregation="count"),
    "numeric_series": dict(series=["S"], axis=["Function"], variants=["Env"]),
    "null_series_value": dict(series=["P"], axis=["Function", "Env"]),
    "no_series": dict(axis=["Function"]),
    "two_variants": dict(series=["P"], axis=["Function"], variants=["Env", "Arch"]),
    "empty_no_variants": dict(series=["P"], axis=["Function"], **{"filter-in": {"Env": ["none"]}}),
    "empty_with_variants": dict(series=["P"], axis=["Function"], variants=["Env"], **{"filter-in": {"Env": ["none"]}}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_pivot_tables_match_sparks_pivot(spark, data, case):
    eng = engine(spark, data, **CASES[case])
    agg = eng.aggregated()
    assert shape(eng.pivot_tables(agg)) == shape(spark_pivots(eng, agg))


def test_pivot_tables_whatever_the_arrow_conf(spark, data):
    eng = engine(spark, data, series=["P", "Q"], axis=["Function"], variants=["Env"])
    agg = eng.aggregated()
    want = shape(spark_pivots(eng, agg))
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        assert shape(eng.pivot_tables(agg)) == want
    finally:
        spark.conf.set(ARROW_CONF, old)


def test_pivot_key_spelling_and_null_key_order(spark, data):
    eng = engine(spark, data, series=["S"], axis=["Function"])
    [((), numeric)] = eng.pivot_tables()
    assert numeric.columns == ["Function", "null", "0.1", "1.0E10", "2.5", "3.0"]
    eng = engine(spark, data, series=["P", "Q"], axis=["Function"])
    [((), multi)] = eng.pivot_tables()
    # concat_ws skips a null part
    assert multi.columns == ["Function", "a|x", "a|y", "b", "b|x", "b|y", "x"]


def test_more_keys_than_pivot_max_values_raises(spark, data):
    eng = engine(spark, data, series=["S"], axis=["Function"], variants=["Env"])
    spark.conf.set("spark.sql.pivotMaxValues", "2")
    try:
        with pytest.raises(AnalysisException, match="pivot"):
            list(eng.pivot_tables())
    finally:
        spark.conf.unset("spark.sql.pivotMaxValues")


def test_null_variant_value_gets_its_rows(spark, data):
    eng = engine(spark, data, series=["P"], axis=["Function"], variants=["Arch"])
    tables = dict(eng.pivot_tables())
    assert list(tables) == [(None,), ("icx",), ("spr",)]
    null = tables[(None,)]
    assert null.columns == ["Function", "a", "b"]
    assert [tuple(r) for r in null.collect()] == [("erf", 5.0, 6.0)]


def test_nan_variant_values_form_one_combination(spark, tmp_path):
    p = tmp_path / "n.csv"
    p.write_text("V,K,T\nNaN,a,1\nnan,b,2\n-0.0,a,4\n0.0,b,5\n1.5,a,3\n")
    eng = engine(spark, str(p), series=["K"], variants=["V"], values=["T"], aggregation="sum")
    tables = list(eng.pivot_tables())
    assert [str(combo[0]) for combo, _ in tables] == ["0.0", "1.5", "nan"]
    nan = tables[2][1]
    assert [tuple(r) for r in nan.collect()] == [(1.0, 2.0)]


def test_pivot_tables_collect_the_aggregated_plan_once(spark, data, jobs_during):
    eng = engine(spark, data, series=["P"], axis=["Function"], variants=["Env", "Arch"])
    agg = eng.aggregated()
    plan = jobs_during(agg.collect)
    tables = []
    jobs = jobs_during(lambda: tables.extend(t.collect() for _, t in eng.pivot_tables(agg)))
    assert len(tables) == 6
    # the aggregated plan once, then one job per table
    assert jobs == plan + 6
