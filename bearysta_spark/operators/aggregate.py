"""Group-by aggregation + pivot-table operators.

Reference semantics: bearysta/aggregate.py:718-727 (main group-agg with
`first` on non-dimension columns), :93-99 (geomean special case),
:768-771/:812-815/:916-920 (pivot_table sites), :21-39 (empty-key
group-by — Spark's groupBy() with zero columns already yields one global
group, so no shim is needed).

Scale notes: the group-agg is a single hash-aggregate shuffle with
map-side partial aggregation (Spark does partial+final automatically for
all functions used here, including the exp/avg/log composition of
geomean). `median` is the exception — exact median cannot partial-agg,
so at 100 TB prefer `percentile_approx` (exposed as `median_approx`).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bearysta_spark.colnames import qcol


def _geomean(col: Column) -> Column:
    # exp(mean(log(x))): matches scipy gmean for positive inputs
    # (reference aggregate.py:93-99). NULL-safe: avg skips NULLs.
    return F.exp(F.avg(F.log(col)))


# Exact (order-independent) numeric aggregation: double summation depends
# on partial-aggregate order, so repeated runs (or different partition
# counts) can differ in the last ulp. Accumulating in DECIMAL(25,10) makes
# sum/mean deterministic — used for oracle-compared results and any recipe
# that names `sum_exact` or `mean_exact` as its aggregation.
_DEC = "decimal(25,10)"


def _sum_exact(col: Column) -> Column:
    return F.sum(col.cast(_DEC)).cast("double")


def _mean_exact(col: Column) -> Column:
    # exact sum, then a single double division (same op order as the
    # DuckDB-oracle formulation → bit-identical results)
    return F.sum(col.cast(_DEC)).cast("double") / F.count(col)


AGG_FUNCS: dict[str, object] = {
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "avg": F.avg,
    "sum": F.sum,
    "count": F.count,
    "std": F.stddev_samp,
    "median": F.median,
    "median_approx": lambda c: F.percentile_approx(c, 0.5),
    "first": lambda c: F.first(c, ignorenulls=True),
    "geomean": _geomean,
    "sum_exact": _sum_exact,
    "mean_exact": _mean_exact,
}


def agg_expr(func: str, col: str | Column, alias: str | None = None) -> Column:
    """Resolve an aggregation-function name (recipe `aggregation:` key)
    to a Column expression. Unknown names raise, mirroring the reference's
    pandas-dispatch failure mode.

    Scale guard: exact `median` cannot partial-aggregate — every row of a
    group ships to one reducer, the one recipe aggregation that degrades
    superlinearly at corpus scale, so its first use logs a warning
    pointing at `median_approx` (percentile_approx: t-digest, map-side
    combinable). `median` stays exact because the DuckDB oracle and the
    reference's pandas median are exact."""
    if func not in AGG_FUNCS:
        raise ValueError(
            f"unknown aggregation {func!r}; available: {sorted(AGG_FUNCS)}"
        )
    if func == "median":
        _warn_exact_median()
    c = qcol(col)
    out = AGG_FUNCS[func](c)
    return out.alias(alias) if alias else out


_median_warned = False


def _warn_exact_median() -> None:
    global _median_warned
    if not _median_warned:
        logging.getLogger("bearysta_spark.operators").warning(
            "exact median cannot partial-aggregate (all rows per group "
            "shuffle to one reducer); use the `median_approx` aggregation "
            "for the t-digest percentile_approx at scale"
        )
        _median_warned = True


def group_agg(
    df: DataFrame,
    dims: Sequence[str],
    values: Sequence[str],
    func: str,
    keep_others: bool = True,
) -> DataFrame:
    """Main recipe aggregation (A1): groupBy(series+axis+variants),
    recipe agg on `values`, `first` on every other column.

    `first`-for-others reproduces the reference's arbitrary-row semantics
    (aggregate.py:719-721); we pin ignorenulls=True which matches pandas
    groupby('first').
    """
    dims = [d for d in dims if d in df.columns]
    aggs = [agg_expr(func, v, v) for v in values]
    if keep_others:
        others = [c for c in df.columns if c not in dims and c not in values]
        aggs += [F.first(qcol(c), ignorenulls=True).alias(c) for c in others]
    return df.groupBy(*[qcol(d) for d in dims]).agg(*aggs)


def pivot_key(columns: Sequence[str]) -> Column:
    """The pivot key of `columns`: the column cast to string, or several
    joined with '|' (pandas MultiIndex column equivalent). The spelling
    is Spark's cast (`1.0E10`, `0.1`); a null value is a null key unless
    other columns are joined to it."""
    if len(columns) != 1:
        return F.concat_ws("|", *[qcol(c).cast("string") for c in columns])
    return qcol(columns[0]).cast("string")


def pivot_table(
    df: DataFrame,
    index: Sequence[str],
    columns: Sequence[str],
    values: Sequence[str],
    func: str,
    column_values: Sequence[str] | None = None,
) -> DataFrame:
    """Wide pivot (A6): groupBy(index).pivot(columns).agg(func(values)).

    Multiple pivot columns are concatenated into one pivot key with '|'
    (`pivot_key`). Passing `column_values`
    (derivable from a recipe's `expected:` list) skips Spark's extra
    distinct-values job — important at scale where the distinct is a
    full shuffle of its own.
    """
    g = df.withColumn("__pivot_key", pivot_key(columns)).groupBy(
        *[qcol(c) for c in index]
    )
    p = g.pivot("__pivot_key", list(column_values) if column_values else None)
    if len(values) == 1:
        return p.agg(agg_expr(func, values[0]))
    return p.agg(*[agg_expr(func, v, v) for v in values])
