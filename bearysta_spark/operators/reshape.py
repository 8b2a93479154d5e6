"""pack / unpack — melt and pivot reshaping (SURVEY §2.6).

pack  (R1, reference aggregate.py:510-517): wide→long melt.
unpack(R2, reference aggregate.py:519-541): long→wide pivot taking
`first` of the value column per cell. The reference's 'NaN'-string hack
(:527-534) exists because pandas drops NaN group keys; Spark groups NULL
keys natively so no hack is needed — NULL-in-grouping-columns rows
survive by construction.

Scale: melt is narrow (no shuffle). unpack is one shuffle; pass
`column_values` when known to skip the distinct job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.colnames import qcol, qname


def pack(
    df: DataFrame,
    columns: Sequence[str],
    name: str,
    value: str = "Value",
    value_type: str = "double",
) -> DataFrame:
    """Melt `columns` into (name, value) long rows; all other columns are
    id_vars. Values are cast to a common type (melt requires it): to
    `value_type` when every packed column is numeric (recipe values are
    numeric measures), else to string, numeric columns rendered from
    `value_type`, so the caller's inference decides — as pandas' melt
    keeps the strings, where a cast would fail on the first word."""
    ids = [c for c in df.columns if c not in columns]
    types = dict(df.dtypes)
    strings = any(types.get(c) == "string" for c in columns)

    def packed(c):
        if types.get(c) == "string":
            return qcol(c)
        v = qcol(c).cast(value_type)
        return v.cast("string") if strings else v

    casted = df.select(
        *[qcol(c) for c in ids],
        *[packed(c).alias(c) for c in columns],
    )
    return casted.unpivot(
        [qcol(c) for c in ids], [qcol(c) for c in columns], name, value
    )


def unpack(
    df: DataFrame,
    name: str,
    value: str,
    column_values: Sequence[str] | None = None,
) -> DataFrame:
    """Pivot the `name` column's values into columns holding first(value)
    per group of all remaining columns."""
    others = [c for c in df.columns if c not in (name, value)]
    p = df.groupBy(*[qcol(c) for c in others]).pivot(
        qname(name), list(column_values) if column_values else None
    )
    return p.agg(F.first(qcol(value), ignorenulls=True))
