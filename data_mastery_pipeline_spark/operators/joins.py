"""Join operators (SURVEY §2.F).

The reference has no explicit join operator (correlation happens via a
shared business key + BI-side joins); the engine provides the full join
surface over star-schema data, Spark-native:

  equi inner/left/right/full — sort-merge by default, broadcast for dims
  semi / anti                — EXISTS / NOT EXISTS (anti == S14's filter)
  theta / range (non-equi)   — interval containment, the join form of P10
  as-of                      — latest dim row ≤ fact ts (W1's generalization)
  cross                      — similarity-search blocking

Scale notes: dimension tables (region/nation/customer/supplier/part at
star-schema ratios) are broadcast explicitly so fact-table joins never
shuffle the fact side. The as-of join uses the union+window trick —
one shuffle on the key, no per-row subquery, no driver loop — which
scales to arbitrarily large fact AND quote sides (unlike merge_asof
per-group pandas, which needs the whole group in memory).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """EXISTS — rows of left with a match in right; right's columns dropped."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT EXISTS — rows of left without a match in right (the S14
    idempotent-load filter, gold_loader.py:296-319)."""
    return left.join(right, on=on, how="left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
    how: str = "inner",
    broadcast_right: bool = True,
) -> DataFrame:
    """Theta/range join — non-equi condition (interval containment, the
    join form of P10 silver_processor.py:245-251).

    Pure non-equi joins plan as BroadcastNestedLoopJoin; keep the right
    side small/broadcast, or include an equi key in ``condition`` so
    Spark can hash on it and apply the range as a post-filter.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=condition, how=how)


def asof_join(
    fact: DataFrame,
    quotes: DataFrame,
    key: str,
    fact_ts: str,
    quote_ts: str,
    quote_cols: Sequence[str],
) -> DataFrame:
    """As-of join — for each fact row, the latest quote row with
    ``quote_ts <= fact_ts`` for the same key (SURVEY §2.F).

    Union+window formulation: tag both sides, union on (key, ts), carry
    the quote ROW forward with ``last(ignorenulls=True)`` over an
    unbounded-preceding frame, keep fact rows. One shuffle on ``key``;
    no range explosion; late/duplicate timestamps resolved by the
    fact-after-quote ordering of the tag.

    The carried value is ONE STRUCT of all quote columns, not one
    last() per column (review r6, verified): per-column carry would
    backfill a NULL field in the latest quote from an OLDER quote row,
    fabricating a combined row that never existed — the struct is
    non-null exactly on quote rows, so last(ignorenulls) picks the
    latest quote row ATOMICALLY, NULL fields and all (matching the
    ASOF JOIN oracle semantics).
    """
    q = quotes.select(
        F.col(key),
        F.col(quote_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in quote_cols]).alias("__q"),
    )
    fact_cols = [c for c in fact.columns]
    f_side = fact.select(
        F.col(key),
        F.col(fact_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__f_{c}") for c in fact_cols if c != key],
    )
    # align schemas for unionByName
    q = q.withColumns({f"__f_{c}": F.lit(None).cast(fact.schema[c].dataType) for c in fact_cols if c != key})
    q_struct_type = q.schema["__q"].dataType
    f_side = f_side.withColumn("__q", F.lit(None).cast(q_struct_type))
    unioned = q.unionByName(f_side)

    # quote rows (__side=0) sort before fact rows at the same timestamp,
    # so a fact at exactly quote_ts sees that quote. The quote struct is
    # the final tie-break: two quotes sharing (key, quote_ts) would
    # otherwise resolve by partition arrival order — nondeterministic
    # across runs (review r6; repo convention is deterministic keep
    # policies). Policy: greatest (quote_cols…) tuple wins. Requires
    # orderable quote column types (no maps), which ASOF semantics
    # implies anyway.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__q", F.last(F.col("__q"), ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).select(
        F.col(key),
        F.col("__ts").alias(fact_ts),
        *[F.col(f"__f_{c}").alias(c) for c in fact_cols if c not in (key, fact_ts)],
        *[F.col("__q")[c].alias(c) for c in quote_cols],
    )
    return out


def star_join(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    stats: dict | None = None,
    threshold_bytes: int | None = None,
) -> DataFrame:
    """The canonical star join lineitem⋈orders⋈customer⋈nation⋈region with
    dimensions broadcast (FIXTURES.md §4). Fact table never shuffles for
    the dim joins; by default only the lineitem⋈orders join shuffles
    (both large).

    ``stats`` (r10 verdict task 5 — the CBO loop extended from one
    query into the join library): an optional mapping of
    {"orders", "customer", "nation", "region"} → ``cbo.TableStats``
    (from a ``StatsCatalog``; filtered/derived relations via
    ``cbo.filtered_stats`` / ``cbo.derived_stats_for_agg``). With no
    stats the behavior is EXACTLY the historical one. With stats:

    - a DIM whose cataloged estimate exceeds ``threshold_bytes`` is
      DEMOTED to a shuffle join — the 100 TB protection against
      force-broadcasting a customer dimension that long outgrew the
      executors (a static F.broadcast hint overrides Spark's own
      threshold, so only the catalog can catch this);
    - the ORDERS side is PROMOTED to broadcast when its cataloged
      estimate fits — the filtered-fact case static planning misses
      with spark.sql.cbo.enabled=false (a Filter keeps its child's
      sizeInBytes), and AQE only converts after paying both shuffle
      map stages. Plan pinned in tests/test_cbo.py.

    ``threshold_bytes`` defaults to the session's
    ``autoBroadcastJoinThreshold``."""
    if stats:
        from .. import cbo as _cbo

        if threshold_bytes is None:
            threshold_bytes = _cbo._parse_bytes(
                lineitem.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            )

        def _dim(df, name):
            s = stats.get(name)
            if s is not None and s.estimated_bytes() > threshold_bytes:
                return df  # cataloged too big to broadcast: demote
            return F.broadcast(df)

        s_orders = stats.get("orders")
        o = (
            F.broadcast(orders)
            if s_orders is not None
            and s_orders.estimated_bytes() <= threshold_bytes
            else orders
        )
    else:
        _dim = lambda df, name: F.broadcast(df)  # noqa: E731
        o = orders
    return (
        lineitem.join(o, lineitem.l_orderkey == orders.o_orderkey)
        .join(_dim(customer, "customer"), orders.o_custkey == customer.c_custkey)
        .join(_dim(nation, "nation"), customer.c_nationkey == nation.n_nationkey)
        .join(_dim(region, "region"), nation.n_regionkey == region.r_regionkey)
    )


def time_bucket_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Proximity range join with BOTH sides large and no equi key —
    |left_ts - right_ts| <= tolerance — via time-bucket blocking.

    A naive non-equi join here is a nested-loop/cartesian disaster; the
    scalable form buckets both sides into tolerance-sized bins and hash-
    joins each left bucket against {bucket-1, bucket, bucket+1} (any
    qualifying pair is at most one bin apart), applying the exact range
    predicate as a post-filter. One shuffle per side on the bucket key;
    candidate count is bounded by bin occupancy, not |L|×|R|. The same
    trick generalizes to any 1-D range join (value bands, geohash cells
    for 2-D).

    Columns come back prefixed to avoid collisions.
    """
    # microsecond arithmetic throughout — unix_timestamp() truncates to
    # seconds and silently widens the tolerance at the boundary
    tol_us = int(tolerance_seconds) * 1_000_000
    bucket = lambda c: F.expr(f"unix_micros({c}) div {tol_us}")  # noqa: E731
    l = left.select(
        *[F.col(c).alias(f"{left_prefix}{c}") for c in left.columns]
    ).withColumn("__bucket", F.explode(F.array(
        bucket(f"{left_prefix}{left_ts}") - 1,
        bucket(f"{left_prefix}{left_ts}"),
        bucket(f"{left_prefix}{left_ts}") + 1,
    )))
    r = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    ).withColumn("__bucket", bucket(f"{right_prefix}{right_ts}"))

    lts, rts = F.col(f"{left_prefix}{left_ts}"), F.col(f"{right_prefix}{right_ts}")
    within = F.abs(F.unix_micros(lts) - F.unix_micros(rts)) <= tol_us
    return l.join(r, on="__bucket", how="inner").filter(within).drop("__bucket")
