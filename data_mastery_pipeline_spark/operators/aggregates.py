"""Aggregation operators A1-A8 + scale extensions (SURVEY §2.D).

  A1/A2 grain aggregates  (silver_processor.py:279-304)
  A3    multi-grain rollup (schema.sql:226-239)
  A4    group-by over expression (schema.sql:242-252)
  A5    distinct count (schema.sql:305-306) + approx HLL variant
  A6    scalar count probes (weather_pipeline_dag.py:185-210)
  A7    duplicate detector (weather_pipeline_dag.py:193-198)
  A8    null-conjunction count (weather_pipeline_dag.py:205-210)
  ∅→native: rollup/cube/grouping sets, percentile, stddev/variance,
  collect_list/set — SURVEY §2.D's explicit gap list.

Scale: all are single-shuffle hash aggregates; Spark plans
partial(map-side) + final aggregation automatically. For 100 TB,
``approx_count_distinct`` (HLL) replaces exact distinct counts and
grain keys come from the timestamp itself (no pre-materialized y/m/d
columns needed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.timefn import TIME_PART_FNS

# Measure-spec: (aggregate fn name, input column). The reference's fixed
# measure set (avg/min/max/count — silver_processor.py:281-289) becomes a
# configurable spec, mirroring its config-driven design (config.yaml:67-71).
AGG_FNS = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "stddev": F.stddev_samp,
    "variance": F.var_samp,
    "median": F.median,
    "collect_set": F.collect_set,
}


def safe_corr(x: Column | str, y: Column | str) -> Column:
    """Pearson correlation, NULL-safe on zero-variance input: composed
    as covar_samp/(sd·sd) — algebraically identical to ``F.corr`` (the
    (n−1) factors cancel) but via try_divide, because under Spark 4's
    default ANSI mode the BUILTIN corr crashes with DIVIDE_BY_ZERO on
    any constant-valued group (reproduced, review r6 10th pass) while
    DuckDB's corr returns NULL. ONE definition for every corr in the
    repo (stat_moments, autocorr, dim correlations)."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    return F.try_divide(
        F.covar_samp(xc, yc), F.stddev_samp(xc) * F.stddev_samp(yc)
    )


def grain_aggregate(
    df: DataFrame,
    ts_col: str,
    grain: Sequence[str],
    group_extra: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """A1/A2 generalized — aggregate at a calendar grain.

    ``grain`` names calendar parts (keys of TIME_PART_FNS, e.g.
    ``["year","month","day"]`` for daily, ``+["hour"]`` for hourly);
    ``group_extra`` adds entity keys (reference: city, country);
    ``measures`` is a list of (fn, column, alias).

    Derives the grain keys inline from ``ts_col`` so the scan never needs
    pre-materialized part columns (reference silver_processor.py:279-304
    materializes y/m/d/h first — same result, one projection cheaper here).
    """
    parts = {g: TIME_PART_FNS[g](F.col(ts_col)) for g in grain}
    aggs = [AGG_FNS[fn](col).alias(alias) for fn, col, alias in measures]
    return (
        df.withColumns(parts)
        .groupBy(*group_extra, *grain)
        .agg(*aggs)
    )


def reaggregate(
    df: DataFrame,
    keys: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """A3 — multi-grain rollup: re-aggregate a finer aggregate at a coarser
    grain (weekly-over-daily, schema.sql:226-239). AVG-of-avg / SUM-of-count
    semantics preserved exactly as the reference's view defines them."""
    aggs = [AGG_FNS[fn](col).alias(alias) for fn, col, alias in measures]
    return df.groupBy(*keys).agg(*aggs)


def group_by_expression(
    df: DataFrame,
    exprs: dict[str, Column],
    measures: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """A4 — group by computed expressions (GROUP BY city, DATE(ts), is_day —
    schema.sql:242-252). ``exprs`` maps output name → grouping expression."""
    aggs = [AGG_FNS[fn](col).alias(alias) for fn, col, alias in measures]
    named = [expr.alias(name) for name, expr in exprs.items()]
    return df.groupBy(*named).agg(*aggs)


def duplicate_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A7 — key groups appearing more than once
    (GROUP BY ... HAVING COUNT(*) > 1, weather_pipeline_dag.py:193-198)."""
    return df.groupBy(*keys).agg(F.count("*").alias("n")).filter(F.col("n") > 1)


def null_counts(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """A6/A8/Q3 — per-column null counts in one pass
    (weather_pipeline_dag.py:205-210): sum(isnull::int) per column, single
    aggregate, no N scans. Coalesced to 0 on empty input — sum over
    zero rows is NULL, and "no rows" must read as "no nulls", not
    unknown (review r6; same fix as operators/profile.py)."""
    return df.agg(
        *[
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).alias(f"nulls_{c}")
            for c in columns
        ],
        F.count("*").alias("n_rows"),
    )


def rollup_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
    mode: str = "rollup",
) -> DataFrame:
    """∅→native — ROLLUP / CUBE multi-grain totals (SURVEY §2.D gap list).

    Adds a ``grouping_id`` column so subtotal rows are identifiable (and
    oracle-comparable: DuckDB's GROUPING_ID() matches Spark's for the same
    key order).
    """
    grouped = df.rollup(*keys) if mode == "rollup" else df.cube(*keys)
    aggs = [AGG_FNS[fn](col).alias(alias) for fn, col, alias in measures]
    return grouped.agg(*aggs, F.grouping_id().alias("grouping_id"))


def grouping_sets_aggregate(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    keys: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """∅→native — explicit GROUPING SETS (the general form of rollup/
    cube; Spark ≥4.0 DataFrame API). One shuffle computes every set —
    at scale this replaces N separate groupBy jobs over the same scan.
    """
    grouped = df.groupingSets([list(s) for s in sets], *[F.col(k) for k in keys])
    aggs = [AGG_FNS[fn](col).alias(alias) for fn, col, alias in measures]
    return grouped.agg(*aggs, F.grouping_id().alias("grouping_id"))
