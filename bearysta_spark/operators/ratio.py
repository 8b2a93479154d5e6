"""ratio_of family — group-baseline normalization (SURVEY §2.4 J4).

THE signature operator of the reference (bearysta/aggregate.py:354-476):
for a value column V, aggregate a named base series-combination and every
series group by (axis+variants), then attach ratio = agg(group)/agg(base)
back onto every input row.

Spark-first design (chosen over a window formulation for its NULL
semantics — a base combo missing for some (axis, variants) group yields
NULL ratios there, matching the pandas left-join behavior):

    base slice  -> filter(base kwargs) -> groupBy(axis+variants).agg  [small]
    groups      -> groupBy(axis+variants+series).agg                  [one shuffle]
    ratios      = groups JOIN broadcast(base) ON axis+variants
    result      = df LEFT JOIN ratios ON axis+variants+series

The base aggregate is tiny (one row per axis/variants combo) and is
broadcast, so the whole operator costs one shuffle for the group
aggregate plus one shuffle for the merge-back join; at 100 TB both hash
on the same keys and AQE coalesces them.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.colnames import qcol

from bearysta_spark.operators.aggregate import agg_expr


class MissingBaseError(ValueError):
    """Raised when the base series combination has no rows
    (reference aggregate.py:373-377 hard error)."""


def ratio_of(
    df: DataFrame,
    value: str,
    base: Mapping[str, object],
    series: Sequence[str],
    axis: Sequence[str] = (),
    variants: Sequence[str] = (),
    agg: str = "mean",
    out: str = "Ratio",
    invert: bool = False,
    offset: float = 0.0,
    scale: float = 1.0,
    check_base: bool = True,
) -> DataFrame:
    """Attach a per-row ratio column normalizing `value` against the
    `base` series combination.

    Derived family (reference aggregate.py:445-476) via scale/offset/invert:
      ratio_of        scale=1    offset=0
      ratio_diff      offset=-1        (ratio − 1)
      percent_of      scale=100
      percent_diff    scale=100 offset=-1   ((ratio−1)·100 semantics: see below)
      *_inv           invert=True      (base/group instead of group/base;
                                        a recipe's ratio_of_inv(...) etc.)

    Note percent_diff in the reference is (ratio−1)×100; we apply
    (ratio+offset)×scale, so offset=-1, scale=100 reproduces it.
    """
    keys = [*axis, *variants]
    series = list(series)

    base_slice = df
    for k, v in base.items():
        base_slice = base_slice.filter(qcol(k) == F.lit(v))
    if check_base and base_slice.isEmpty():
        raise MissingBaseError(f"no rows match ratio base {dict(base)!r}")

    base_agg = base_slice.groupBy(*[qcol(k) for k in keys]).agg(
        agg_expr(agg, value, "__base")
    )
    grp_agg = df.groupBy(*[qcol(k) for k in [*keys, *series]]).agg(
        agg_expr(agg, value, "__agg")
    )

    joined = (
        grp_agg.join(F.broadcast(base_agg), keys, "left")
        if keys
        else grp_agg.crossJoin(F.broadcast(base_agg))
    )
    raw = (
        (F.col("__base") / F.col("__agg"))
        if invert
        else (F.col("__agg") / F.col("__base"))
    )
    ratios = joined.withColumn(out, (raw + F.lit(offset)) * F.lit(scale)).drop(
        "__agg", "__base"
    )
    return df.join(ratios, [*keys, *series], "left")


def ratio_diff(df, value, base, series, **kw):
    return ratio_of(df, value, base, series, offset=-1.0, **kw)


def percent_of(df, value, base, series, **kw):
    return ratio_of(df, value, base, series, scale=100.0, **kw)


def percent_diff(df, value, base, series, **kw):
    return ratio_of(df, value, base, series, offset=-1.0, scale=100.0, **kw)
