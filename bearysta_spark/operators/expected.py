"""Expected-data operators (SURVEY §2.5 A7/A8).

A7 expected_fill (reference aggregate.py:618-671): given a declared list
of expected series combinations, append one NULL-valued row for every
(axis+variants) group that is missing one of them.

A8 ordering_check (reference aggregate.py:673-703): per group, aggregate
by series and verify the performance ordering matches the declared
expectation; returns the violating groups (the reference only warns).

Scale: expected_fill = distinct(axis+variants) × expected (both tiny)
left-anti-joined against distinct present combos — the anti-join hashes
on the same keys as the main aggregate. ordering_check is a diagnostic
aggregate (one shuffle) whose result is small enough to collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bearysta_spark.colnames import qcol
from bearysta_spark.operators.aggregate import agg_expr
from bearysta_spark.session import local_frame


def expected_fill(
    df: DataFrame,
    expected: Sequence[Sequence[object]],
    series: Sequence[str],
    axis: Sequence[str] = (),
    variants: Sequence[str] = (),
) -> DataFrame:
    """Union one NULL-filled row per missing expected series combo per
    (axis+variants) group. `expected` is a list of tuples aligned with
    `series` (a scalar entry is a 1-tuple)."""
    spark = df.sparkSession
    series = list(series)
    keys = [*axis, *variants]

    rows = [tuple(e) if isinstance(e, (list, tuple)) else (e,) for e in expected]
    # column types as createDataFrame infers them from the Python values
    exp_df = local_frame(spark, rows, spark._inferSchemaFromList(rows, names=series))  # noqa: SLF001

    groups = df.select(*keys).distinct() if keys else spark.range(1).select()
    wanted = groups.crossJoin(F.broadcast(exp_df)) if keys else exp_df
    present = df.select(*keys, *series).distinct()
    missing = wanted.join(present, [*keys, *series], "left_anti")

    fill = missing.select(
        *[
            qcol(c) if c in ([*keys, *series]) else F.lit(None).cast(df.schema[c].dataType).alias(c)
            for c in df.columns
        ]
    )
    return df.unionByName(fill)


def ordering_check(
    df: DataFrame,
    expected_order: Sequence[object],
    series: str,
    value: str,
    axis: Sequence[str] = (),
    variants: Sequence[str] = (),
    agg: str = "mean",
    higher_is_better: bool = False,
) -> list[dict]:
    """Return a list of {group, observed, expected} dicts for every
    (axis+variants) group whose series ordering by agg(value) does not
    match `expected_order` (restricted to present members)."""
    keys = [*axis, *variants]
    agged = df.groupBy(*keys, series).agg(agg_expr(agg, value, "__v"))
    rows = agged.collect()

    by_group: dict[tuple, list] = {}
    for r in rows:
        k = tuple(r[c] for c in keys)
        by_group.setdefault(k, []).append((r[series], r["__v"]))

    violations = []
    for k, pairs in by_group.items():
        pairs = [p for p in pairs if p[1] is not None]
        observed = [s for s, _ in sorted(pairs, key=lambda p: p[1], reverse=higher_is_better)]
        want = [s for s in expected_order if s in set(observed)]
        if observed != want:
            violations.append(
                {"group": dict(zip(keys, k)), "observed": observed, "expected": want}
            )
    return violations
