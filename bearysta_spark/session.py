"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would
ship to a 1000-executor cluster (AQE handles runtime re-planning, skew
joins, and shuffle-partition coalescing there — at cluster scale only
`spark.sql.shuffle.partitions` / executor sizing change).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(app_name: str = "bearysta_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession.

    Settings rationale (100 TB design notes):
    - AQE on: runtime shuffle coalescing + skew-join splitting; at scale
      this is what keeps the group-agg / ratio_of joins balanced.
    - shuffle.partitions ~ cores locally; on a real cluster this is set
      to 2-3x total executor cores and AQE coalesces down.
    - Arrow on: every Pandas-UDF extension operator (minhash, embedding
      kernels, multimodal decode) moves batches via Arrow, not pickle.
    - session timezone pinned UTC: parity with DuckDB/parquet timestamps.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # warehouse for bucketed saveAsTable (static conf — set at build)
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "bearysta_spark_warehouse"),
        )
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence[object]] | pd.DataFrame,
    schema: StructType | None = None,
) -> DataFrame:
    """A small driver-built frame that stays inside the JVM.

    `createDataFrame` over a Python list (and over pandas with the Arrow
    conf off) plans a `LogicalRDD` over a `PythonRDD`: every action that
    reads the frame opens a stage of Python-worker tasks that replay the
    pickled rows. Handed a `pyarrow.Table`, Spark builds a
    `LocalRelation` instead, whatever `spark.sql.execution.arrow.pyspark
    .enabled` says, and the rows are read as a local table scan.

    `rows` is a sequence of tuples aligned with `schema`, or a pandas
    frame; for a pandas frame `schema` may be omitted, and the column
    types are then Arrow's inference from its dtypes (what
    `createDataFrame` infers with the Arrow conf on).
    """
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, preserve_index=False)
        return spark.createDataFrame(table, schema=schema)
    if schema is None:
        raise TypeError("local_frame needs a StructType schema for row input")
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
