"""Incremental view maintenance over the transaction log's CDC — the
ONE home of the change-feed retraction fold. Every consumer of a txlog
change feed folds through the pieces below, so each rule exists once:

- :func:`signed_weight` — +1 per insert, −1 per delete (also the
  netting weight of scd.py, wap.py and search.py);
- :func:`cents` — double measures as integer cents;
- :func:`signed_sums` — per-key ``sum(w · m)``, NULL keys dropped;
- :func:`fold_into` — the read-modify-write merge of a delta into a
  txlog state table, exactly-once under a ``stream_txn`` watermark;
- :func:`drain_cdf` — the ``txlog_feed`` → foreachBatch →
  ``availableNow`` drain.

Consumers: the streaming sum/count view (:func:`foreach_batch_view_sink`),
the materialized views (mv.py ``SumCountView`` / ``JoinAggView``, and
``MinMaxView``'s per-value netting) and the PSI/KS/CUSUM drift monitors
(drift.py).

Why this shape survives 100 TB:

- The source side reads O(changed files) per trigger (the CDC
  planner), never the table.
- The delta computation is one hash aggregate over the batch's change
  rows — signed counts (+insert/−delete) and signed integer sums.
- The target side is a keyed merge that rewrites O(files overlapping
  the touched key range) of the (small) aggregate table.
- Exactly-once rides the target's txn watermark
  (:meth:`TxTable.merge_upsert` ``stream_txn``): Structured Streaming
  re-delivers the last batch after any restart, and a READ-MODIFY-WRITE
  sink applied twice corrupts the aggregate — the watermark (checked
  inside the commit retry loop, so even concurrent replays serialize
  through the log's put-if-absent) makes the replay a no-op. A delta
  that folds to zero rows still records its watermark, so a consumer
  can always declare itself caught up.

The maintained measures are counts and INTEGER sums: integer deltas
commute and associate EXACTLY, so the incrementally-maintained table
equals the direct aggregate bit-for-bit regardless of batch boundaries
or accumulation order — floating-point sums would drift at the ulp
level and break value-hash equality.

Retracted-to-zero keys stay as zero-measure tombstone rows in the
target (the merge path has no delete leg); :func:`current_view`
filters them — the standard IVM tombstone convention.

Public-design note: this is the "aggregate materialized view over a
change feed" pattern the lakehouse ecosystems ship (Delta Live Tables
/ Materialize-style SUM/COUNT views); re-expressed here over this
repo's own log format, CDC source, and exactly-once merge.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.txlog import TxTable, register

MEASURES = ("n_rows", "sum_cents")


def mv_schema(key: str, key_type: str) -> str:
    """DDL for a sum/count view keyed by ``key``."""
    return f"{key} {key_type}, n_rows bigint, sum_cents bigint"


def signed_weight():
    """+1 per CDC insert, −1 per delete — THE retraction fold weight."""
    return F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )


def cents(col) -> "F.Column":
    """Integer cents of a double measure (NULL → 0): integer deltas
    commute exactly, which is what makes maintained sums bit-equal to
    direct aggregates under any batch boundaries."""
    return F.coalesce(
        F.floor(col * 100 + F.lit(0.5)).cast("bigint"), F.lit(0)
    )


def signed_sums(
    cdf: DataFrame, keys: dict[str, Column], measures: dict[str, Column]
) -> DataFrame:
    """CDC rows → per-key signed delta: one bigint ``sum(w · m)`` per
    measure (``m = F.lit(1)`` is the signed count), grouped by the
    ``keys`` (output name → expression over a change row).

    Rows with a NULL key are EXCLUDED: the source does not constrain
    keys non-null, and a NULL-key delta row would make
    :meth:`TxTable.merge_upsert` raise ("NULL update keys") on every
    trigger — wedging the maintained state permanently. The view
    simply carries no NULL group (the choice Delta's MERGE makes: NULL
    never equi-matches a key); a deployment that needs the NULL group
    aggregates it under a sentinel key upstream."""
    rows = cdf.select(
        *[e.alias(k) for k, e in keys.items()],
        signed_weight().alias("__w"),
        *[m.alias(f"__m_{n}") for n, m in measures.items()],
    ).dropna(subset=list(keys))
    return rows.groupBy(*keys).agg(
        *[
            F.sum(F.col("__w") * F.col(f"__m_{n}")).cast("bigint").alias(n)
            for n in measures
        ]
    )


def fold_into(
    target: TxTable,
    delta: DataFrame,
    key: str,
    measures: Sequence[str],
    stream_txn: tuple[str, int],
    carry: Sequence[str] = (),
) -> int | None:
    """Read-modify-write ``delta`` into ``target`` exactly-once: each
    touched key's row becomes ``coalesce(current, 0) + delta`` per
    measure (``carry`` columns ride along from the delta unchanged),
    upserted under the ``stream_txn`` watermark. A replayed
    ``stream_txn`` commits nothing; an empty delta still records its
    watermark (merge_upsert's empty-batch rule). Returns merge_upsert's
    result. Lazy up to the merge — no Spark action of its own."""
    cur = target.read().select(
        key, *[F.col(m).alias(f"__cur_{m}") for m in measures]
    )
    merged = delta.join(cur, key, "left").select(
        key,
        *carry,
        *[
            (F.coalesce(F.col(f"__cur_{m}"), F.lit(0)) + F.col(m))
            .cast("bigint")
            .alias(m)
            for m in measures
        ],
    )
    return target.merge_upsert(merged, key, stream_txn=stream_txn)


def foreach_batch_view_sink(
    target: TxTable, key: str, value_col: str, app_id: str
):
    """``writeStream.foreachBatch(...)`` sink maintaining ``target`` as
    the sum/count view (:func:`mv_schema`) of a CDC stream, one
    exactly-once :func:`fold_into` per micro-batch."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = signed_sums(
            batch_df,
            {key: F.col(key)},
            {"n_rows": F.lit(1), "sum_cents": cents(F.col(value_col))},
        )
        fold_into(target, delta, key, MEASURES, (app_id, batch_id))

    return _sink


def drain_cdf(source: TxTable, sink, checkpoint: str) -> None:
    """Drain ``source``'s change feed (``txlog_feed``, ``mode="cdf"``)
    through a foreachBatch ``sink``: every commit the ``checkpoint``
    has not yet delivered, then stop (``availableNow``)."""
    register(source.spark)
    (
        source.spark.readStream.format("txlog_feed")
        .option("root", source.root)
        .option("mode", "cdf")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def current_view(target: TxTable) -> DataFrame:
    """The maintained view with retracted-to-zero tombstones hidden."""
    return target.read().filter(F.col("n_rows") > 0)
