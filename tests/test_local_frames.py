"""Driver-built frames stay JVM-local.

`createDataFrame` over a Python list plans a `LogicalRDD` over a
`PythonRDD`, so every action that reads it opens a stage of Python
workers replaying the pickled rows. `session.local_frame` builds a
`LocalRelation` instead; these tests pin that for the helper, for
every frame the recipe engine builds on the driver and for registered
queries that return driver-computed model state, and a source guard
keeps every other way of putting driver rows into a plan out of the
package.
"""

from __future__ import annotations

import pathlib
import re

import pyarrow as pa
import pytest
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from bearysta_spark.cachescope import cache_scope
from bearysta_spark.engine.sources import lines_df, scan_csv
from bearysta_spark.operators import expected_fill
from bearysta_spark.queries import RAW_QUERIES
from bearysta_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bearysta_spark"
ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def assert_jvm_local(df) -> None:
    plan = analyzed(df)
    assert "LogicalRDD" not in plan, plan


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_is_local_relation_whatever_the_arrow_conf(spark, arrow):
    schema = StructType([StructField("k", StringType()), StructField("n", LongType())])
    old = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, arrow)
    try:
        df = local_frame(spark, [("a", 1), (None, 2)], schema)
        empty = local_frame(spark, [], schema)
        pdf = local_frame(spark, df.toPandas())
    finally:
        spark.conf.set(ARROW_CONF, old)
    for f in (df, empty, pdf):
        assert "LocalRelation" in analyzed(f)
        assert_jvm_local(f)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [("a", 1), (None, 2)]
    assert empty.schema == schema and empty.count() == 0
    assert dict(pdf.dtypes) == {"k": "string", "n": "bigint"}


def test_local_frame_reads_a_ddl_schema_as_create_dataframe_does(spark):
    ddl = "k string, n long, x double, i int"
    rows = [("a", 1, 0.5, 2), (None, None, None, None)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert_jvm_local(got)
    assert got.schema == want.schema
    assert all(f.nullable for f in got.schema.fields)
    assert got.collect() == want.collect()


def test_local_frame_raises_on_a_lossy_value(spark):
    assert local_frame(spark, [(2.0,), (None,)], "n long").collect() == [(2,), (None,)]
    with pytest.raises(pa.ArrowInvalid, match="truncated"):
        local_frame(spark, [(1.5,)], StructType([StructField("n", LongType())]))
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(2**40,)], "n int")


def test_local_frame_rows_need_a_schema(spark):
    with pytest.raises(TypeError, match="StructType"):
        local_frame(spark, [("a",)])


def test_sidecar_scan_is_local_and_has_no_join(spark, tmp_path):
    data = tmp_path / "a.out"
    data.write_text("x\n1\n")
    (tmp_path / "a.out.meta").write_text("env_name: e1\n")
    out = scan_csv(spark, [str(data)])
    assert_jvm_local(out)
    # the sidecar values ride the chunk specs: nothing to join or broadcast
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed and "BroadcastExchange" not in executed, executed
    assert [(r["x"], r["env_name"]) for r in out.collect()] == [("1", "e1")]


def test_chunk_spec_frame_is_local(spark, tmp_path):
    big = tmp_path / "big.log"
    big.write_text("".join(f"line {i}\n" for i in range(200)))
    out = lines_df(spark, [str(big)], None, chunk_mb=0.0005)
    assert_jvm_local(out)
    assert out.count() == 200


def test_expected_fill_frame_is_local(spark):
    df = local_frame(
        spark,
        [("erf", "a", 1.0)],
        StructType(
            [
                StructField("Function", StringType()),
                StructField("Prefix", StringType()),
                StructField("Time", DoubleType()),
            ]
        ),
    )
    out = expected_fill(df, [("a",), ("b",)], series=["Prefix"], axis=["Function"])
    assert_jvm_local(out)
    assert sorted(r["Prefix"] for r in out.collect()) == ["a", "b"]


def test_expected_fill_keeps_inferred_column_types(spark):
    df = spark.range(1).selectExpr("'f' AS Function", "1L AS Size", "1.0 AS Time")
    out = expected_fill(df, [(1,), (2,)], series=["Size"], axis=["Function"])
    assert dict(out.dtypes)["Size"] == "bigint"
    assert sorted(r["Size"] for r in out.collect()) == [1, 2]


def test_empty_scan_frame_is_local(spark, tmp_path):
    empty = tmp_path / "empty.csv"
    empty.write_text("")
    out = scan_csv(spark, [str(empty)])
    assert_jvm_local(out)
    assert out.columns == ["Path"] and out.count() == 0


@pytest.mark.parametrize(
    "name", ["pca_top_component", "unimax_mixture_plan", "doremi_domain_weights"]
)
def test_driver_model_state_queries_build_local_frames(spark, sf_dir, name):
    # these queries return rows computed on the driver; the raw plan
    # reads them as a local table, not through a Python RDD
    with cache_scope() as scope:
        df = RAW_QUERIES[name](spark, sf_dir)
    try:
        assert_jvm_local(df)
    finally:
        scope.release()


def test_no_bare_create_dataframe_on_the_recipe_path():
    # every driver-built frame in the package goes through local_frame;
    # on the recipe path (engine/, operators/) no column name is spliced
    # into an expression string either
    def recipe_path_offence(sub: str, line: str) -> bool:
        return (
            # the recipe CSV scan opens literal paths itself: a Hadoop
            # text read percent-encodes or re-globs odd file names
            (sub == "engine" and ("spark.read.text(" in line or "input_file_name(" in line))
            # a column name interpolated into SQL text breaks on a
            # backtick; recipe-named columns go through qcol
            or 'F.expr(f"' in line
            or 'selectExpr(f"' in line
        )

    offenders = [
        f"{rel}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if (rel := path.relative_to(PACKAGE)).as_posix() != "session.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
        or "sparkContext.parallelize(" in line
        or (rel.parts[0] in ("engine", "operators") and recipe_path_offence(rel.parts[0], line))
    ]
    assert not offenders, offenders


def test_no_bare_cache_outside_scoped_cache():
    # a registered query finalizes exactly when its build registered a
    # cache through scoped_cache; a bare .cache()/.persist() is invisible
    # to that scope and would pin blocks past the query's return.
    # (The streaming foreachBatch persists free themselves per batch.)
    bare = re.compile(r"\.cache\(\s*\)|\.persist\(")
    files = [PACKAGE / "queries.py"] + [
        path
        for sub in ("functions", "operators", "engine")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
    ]
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in files
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if bare.search(line)
    ]
    assert not offenders, offenders


def test_no_checkpoint_in_the_package():
    # lineage is truncated only through scratch parquet
    # (scratch.materialize_distributed): a checkpoint pins RDD blocks no
    # cache scope releases
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert not offenders, offenders


#: Python-worker UDF sites under bearysta_spark/. Array arithmetic that
#: SQL can express runs as JVM folds instead (ROADMAP item 5); this
#: ceiling only ever moves down.
UDF_SITES_CEILING = 31


def test_udf_site_count_does_not_rise():
    site = re.compile(
        r"@pandas_udf|\bpandas_udf\(|\.mapInPandas\(|\.mapInArrow\(|\bF\.udf\b"
    )
    sites = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if site.search(line)
    ]
    assert len(sites) <= UDF_SITES_CEILING, sites
