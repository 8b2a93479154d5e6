"""Table loaders (bearysta_spark.tables): each file's schema is
inferred by Spark once, and a file rewritten in place is re-inferred."""

from __future__ import annotations

from bearysta_spark.tables import load_table, read_parquet


def test_second_load_runs_no_job(spark, sf_dir, jobs_during):
    first = load_table(spark, sf_dir, "documents")
    again = []
    assert jobs_during(lambda: again.append(load_table(spark, sf_dir, "documents"))) == 0
    assert again[0].schema == first.schema
    assert again[0].count() == first.count()


def test_events_load_is_memoized_with_its_timestamp_type(spark, sf_dir, jobs_during):
    # the memo holds Spark's own inference: `ts` stays timestamp_ntz
    # (a pyarrow-derived schema would say timestamp)
    first = load_table(spark, sf_dir, "events")
    again = []
    assert jobs_during(lambda: again.append(load_table(spark, sf_dir, "events"))) == 0
    assert again[0].dtypes == first.dtypes
    assert dict(again[0].dtypes)["ts"] == "timestamp_ntz"


def test_file_rewritten_in_place_is_reinferred(spark, tmp_path, jobs_during):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    assert jobs_during(lambda: read_parquet(spark, path)) == 0
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode(
        "overwrite"
    ).parquet(path)
    got = []
    assert jobs_during(lambda: got.append(read_parquet(spark, path))) == 1
    assert got[0].columns == ["a", "b"]
    assert sorted(r.b for r in got[0].collect()) == [0, 2, 4]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    # written without Spark's schema metadata, so the conf decides
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"x"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        assert dict(read_parquet(spark, path).dtypes)["v"] == "binary"
        spark.conf.set(conf, "true")
        assert dict(read_parquet(spark, path).dtypes)["v"] == "string"
    finally:
        spark.conf.set(conf, old)
