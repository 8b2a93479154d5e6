"""Driver-built frames on the recipe path stay JVM-local.

`createDataFrame` over a Python list plans a `LogicalRDD` over a
`PythonRDD`, so every action that reads it opens a stage of Python
workers replaying the pickled rows. `session.local_frame` builds a
`LocalRelation` instead; these tests pin that for the helper and for
every frame the recipe engine builds on the driver.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from bearysta_spark.engine.sources import (
    attach_sidecar_meta,
    chunked_lines_df,
    scan_csv,
)
from bearysta_spark.operators import expected_fill
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


def test_local_frame_rows_need_a_schema(spark):
    with pytest.raises(TypeError, match="StructType"):
        local_frame(spark, [("a",)])


def test_sidecar_frame_is_local_and_broadcast_joined(spark, tmp_path):
    data = tmp_path / "a.out"
    data.write_text("x\n")
    (tmp_path / "a.out.meta").write_text("env_name: e1\n")
    df = local_frame(
        spark, [(str(data),)], StructType([StructField("Path", StringType())])
    )
    out = attach_sidecar_meta(spark, df, [str(data)])
    assert_jvm_local(out)
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical and "Path" in physical
    assert out.collect()[0]["env_name"] == "e1"


def test_chunk_spec_frame_is_local(spark, tmp_path):
    big = tmp_path / "big.log"
    big.write_text("".join(f"line {i}\n" for i in range(200)))
    out = chunked_lines_df(spark, [str(big)], None, chunk_mb=0.0005)
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


def test_no_bare_create_dataframe_on_the_recipe_path():
    # every driver-built frame in these packages goes through local_frame
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for sub in ("engine", "operators")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not offenders, offenders
