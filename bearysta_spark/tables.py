"""Test-data table loaders.

The driver's tables (TESTDATA.md) are plain parquet; `events.parquet`
carries TIMESTAMP(NANOS) which Spark's parquet reader rejects unless
`spark.sql.legacy.parquet.nanosAsLong` is set — we set it at runtime
(works on a caller-provided session) and convert the raw nanosecond
longs to proper microsecond timestamps.

Every read infers a file's schema once per process (`read_parquet`):
Spark's inference costs one Spark job per `spark.read.parquet`, which a
query build would otherwise pay for each table it reads.

At 100 TB these reads stay exactly the same — parquet scans with
predicate pushdown and column pruning; only the path changes to object
storage and the tables gain partition columns (e.g. orders by
o_orderdate month) which Catalyst prunes from the same code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs that change the schema Spark infers from a parquet
#: footer; each is part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

#: (files fingerprint, Spark's own inferred schema) per (path,
#: inference confs). Inferring runs one footer-reading Spark job per
#: `spark.read.parquet`; a hit reads with the schema given instead. A
#: file rewritten in place changes the fingerprint, so it is re-inferred
#: and its entry replaced.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _files_fingerprint(path: str) -> tuple:
    """(path, size, mtime_ns) of the file at `path`, or of every file
    under the directory at `path` (a directory of part files); empty
    when nothing is there on the local filesystem."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs
        )
    return tuple(
        (f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers each file's schema once.

    Paths not on the local filesystem (no fingerprint) are read plainly."""
    fingerprint = _files_fingerprint(path)
    if not fingerprint:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as a proper TimestampType (µs).

    The nanosAsLong conf is runtime-settable; flipping it only affects
    parquet footer interpretation for reads planned afterwards.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
