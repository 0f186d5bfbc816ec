"""Incremental inverted-index search over the transaction-log format.

``bm25_search`` (queries_ops.py) scores the corpus by SCANNING every
document — right for ad-hoc queries, wrong for a serving path hit
thousands of times: at 100 TB each query re-reads the corpus. This
module materializes the classic IR serving structure on the repo's
own storage layer (the Lucene segment design re-expressed as lakehouse
tables):

- **postings** — one row per (term, doc_id): tf, the doc's length
  (denormalized so query time needs no doc join), and the insert
  GENERATION. Written term-clustered (repartitionByRange + sort), so
  the txlog's min/max file stats make a term lookup open only the
  files whose term range covers it — `TxTable.scan` is the index
  probe, no extra structure.
- **doclens** — one row per live doc (doc_id, dl, gen): the corpus
  stats (N, avgdl) relation, including token-less docs the postings
  can't represent.
- **tombstones** — (doc_id, killed_upto): Lucene's delete bitmap as a
  table. Deletes and updates never touch the immutable postings; a
  posting is live iff its gen ≥ every tombstone's killed_upto for
  that doc (an update's fresh postings carry the refresh version, so
  they survive the tombstone that kills the old generation).
  `vacuum_tombstones` folds the dead rows out (replace_where) when
  the bitmap grows.

Refresh is CDF-driven and exactly-once per table: each table's txn
watermark IS its refresh state (the mv.py design), each table folds
its OWN lag window, so a crash between the three commits resumes
without double-apply. Deltas are NETTED by (doc_id, full row) first —
file-rewrite churn (optimize/merge) emits delete+insert pairs that
must cancel (the scd2.py lesson).

Scoring uses the exact BM25 expression tree of bm25_search (shared
builder), so index-served results are bit-identical to the full-scan
path — asserted in the driver query.

Reference surface: the reference has no search serving at all; its
only text op is substring match (gold_loader.py:313). This is the
standard public design (Lucene/Elasticsearch postings + delete sets)
on Spark-native storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as textfn
from .localrel import local_frame
from .sources.txlog import TxTable
from .streaming.ivm import signed_weight

K1 = 1.2
B = 0.75


def bm25_score(terms: list[str]):
    """The shared BM25 column expression: requires columns tf{i}, dl,
    and the broadcast stats columns n, avgdl, df{i}. Built ONCE here so
    the scan path (bm25_search) and the index path (SearchIndex.query)
    fold the identical tree left-to-right — bit-identical doubles."""
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        term = idf * (F.col(f"tf{i}") * (K1 + 1.0)) / (
            F.col(f"tf{i}")
            + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
        )
        score = term if score is None else score + term
    return score


class SearchIndex:
    """An incrementally-maintained BM25 index over a txlog source
    table with (doc_id long, text string) columns."""

    def __init__(self, spark: SparkSession, source: TxTable, root: str):
        self.spark = spark
        self.source = source
        self.postings = TxTable(spark, os.path.join(root, "postings"))
        self.doclens = TxTable(spark, os.path.join(root, "doclens"))
        self.tombstones = TxTable(spark, os.path.join(root, "tombstones"))

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls, spark: SparkSession, source: TxTable, root: str
    ) -> "SearchIndex":
        TxTable.create(
            spark,
            root=os.path.join(root, "postings"),
            df=local_frame(
                spark, [], "term string, doc_id long, dl long, tf long, gen long"
            ),
            stat_cols=["term", "doc_id"],
        )
        TxTable.create(
            spark,
            root=os.path.join(root, "doclens"),
            df=local_frame(spark, [], "doc_id long, dl long, gen long"),
            stat_cols=["doc_id"],
        )
        TxTable.create(
            spark,
            root=os.path.join(root, "tombstones"),
            df=local_frame(spark, [], "doc_id long, killed_upto long"),
            stat_cols=["doc_id"],
        )
        return cls(spark, source, root)

    # -- refresh ----------------------------------------------------------

    _APP = "searchidx"

    @staticmethod
    def _net(cdf: DataFrame) -> DataFrame:
        """Net the raw change feed by full logical row: rewrite churn
        (delete+insert of the same row) cancels; output rows carry
        net = +1 (insert) or −1 (delete)."""
        return (
            cdf.select("doc_id", "text", signed_weight().alias("w"))
            .groupBy("doc_id", "text")
            .agg(F.sum("w").alias("net"))
            .filter(F.col("net") != 0)
        )

    def _window(
        self, table: TxTable, want: int
    ) -> tuple[int, int] | None:
        """This table's own lag window up to the PINNED target version
        (one ``want`` per refresh call, so a source advancing mid-call
        cannot leave the three tables at different versions)."""
        last = table.last_stream_batch(self._APP)
        have = -1 if last is None else last
        return None if want <= have else (have, want)

    def refresh(self) -> int | None:
        """Fold source changes into the index, exactly-once per table,
        in TWO phases. Netting (insert+delete cancel) is only valid
        when every table applies the identical window: after a crash
        between the three commits, a doc inserted in the crashed
        window and deleted before the resume would net to nothing in
        the lagging tombstone leg's wider window, while the crashed
        postings commit is already durable — served-forever garbage
        (symmetrically, re-inserted postings would be lost). So:

        1. **Repair**: if the three watermarks disagree (a prior
           refresh crashed mid-commit), each lagging table first folds
           its OWN sub-window up to the max already-committed
           watermark — exactly the changes the leader durably applied
           — restoring alignment before any new changes are netted.
        2. **Advance**: all tables, now aligned, fold the identical
           window (aligned_mark, current_source_version] sharing one
           persisted net.

        In the common no-crash case phase 1 is a no-op and phase 2 is
        a single shared-net pass. Returns the reflected source
        version, or None if already current everywhere."""
        marks = []
        for t in (self.postings, self.doclens, self.tombstones):
            last = t.last_stream_batch(self._APP)
            marks.append(-1 if last is None else last)
        advanced = None
        if max(marks) > min(marks):  # phase 1: crash repair
            advanced = self._fold(max(marks))
        want_pin = self.source.version()
        if want_pin > max(marks):  # phase 2: aligned advance
            got = self._fold(want_pin)
            advanced = got if got is not None else advanced
        return advanced

    def _fold(self, want_pin: int) -> int | None:
        """One fold pass: each table applies its own lag window up to
        ``want_pin``. Callers guarantee windows are safe to net — see
        refresh()'s two-phase contract."""
        advanced = None
        # one netted delta per DISTINCT lag window, persisted so the
        # aligned common case (all three tables current to the same
        # watermark) reads the CDF once, not three times; unpersisted
        # before return (the weather_dag localCheckpoint lesson)
        nets: dict[tuple[int, int], DataFrame] = {}

        def _net_for(win: tuple[int, int]) -> DataFrame:
            if win not in nets:
                nets[win] = self._net(
                    self.source.changes(win[0], win[1])
                ).persist()
            return nets[win]

        toks = textfn.tokens("text")
        dl = (
            F.when(F.col("text").isNull(), F.lit(0))
            .otherwise(F.size(toks))
            .cast("long")
        )
        try:
            win = self._window(self.postings, want_pin)
            if win:
                have, want = win
                ins = _net_for(win).filter(F.col("net") > 0)
                rows = (
                    ins.select(
                        "doc_id",
                        dl.alias("dl"),
                        F.explode(toks).alias("term"),
                    )
                    .groupBy("term", "doc_id", "dl")
                    .agg(F.count("*").cast("long").alias("tf"))
                    .withColumn("gen", F.lit(want).cast("long"))
                )
                # term-clustered write: min/max term stats per file
                # become the probe index for scan()
                rows = rows.repartitionByRange(
                    8, "term"
                ).sortWithinPartitions("term")
                self.postings.append_stream_batch(rows, self._APP, want)
                advanced = want
            win = self._window(self.doclens, want_pin)
            if win:
                have, want = win
                ins = _net_for(win).filter(F.col("net") > 0)
                self.doclens.append_stream_batch(
                    ins.select(
                        "doc_id",
                        dl.alias("dl"),
                        F.lit(want).cast("long").alias("gen"),
                    ),
                    self._APP,
                    want,
                )
                advanced = want
            win = self._window(self.tombstones, want_pin)
            if win:
                have, want = win
                dels = _net_for(win).filter(F.col("net") < 0)
                self.tombstones.append_stream_batch(
                    dels.select(
                        "doc_id",
                        F.lit(want).cast("long").alias("killed_upto"),
                    ).distinct(),
                    self._APP,
                    want,
                )
                advanced = want
        finally:
            for df in nets.values():
                df.unpersist()
        return advanced

    # -- query ------------------------------------------------------------

    def _alive(self, df: DataFrame) -> DataFrame:
        """Tombstone filter: a row is live iff its gen ≥ the max
        killed_upto for its doc (fresh generations outlive the
        tombstone that killed their predecessors). Tombstone set is
        bounded by total deletes and broadcast."""
        dead = self.tombstones.read().groupBy("doc_id").agg(
            F.max("killed_upto").alias("__killed")
        )
        return (
            df.join(F.broadcast(dead), "doc_id", "left")
            .filter(
                F.col("__killed").isNull()
                | (F.col("gen") >= F.col("__killed"))
            )
            .drop("__killed")
        )

    def query(self, terms: list[str], k: int = 20) -> DataFrame:
        """BM25 top-k for ``terms`` served from the index: opens only
        the postings files whose term stats cover a query term (the
        scan() probe), never the corpus. Returns (doc_id, raw_score)
        ordered score DESC, doc_id ASC."""
        parts = None
        for t in terms:
            p, _ = self.postings.scan({"term": (t, t)})
            parts = p if parts is None else parts.unionByName(p)
        live = self._alive(parts)
        # pivot to one row per doc with a tf column per term — the
        # EXACT column layout bm25_score expects, so the fold order
        # matches the scan path term-for-term
        pivoted = live.groupBy("doc_id", "dl").agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("term") == t, F.col("tf"))),
                    F.lit(0),
                )
                .cast("double")
                .alias(f"tf{i}")
                for i, t in enumerate(terms)
            ]
        )
        lens = self._alive(self.doclens.read())
        stats = lens.agg(
            F.count("*").cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
        )
        dfs = live.groupBy().agg(
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                .cast("double")
                .alias(f"df{i}")
                for i, t in enumerate(terms)
            ]
        )
        scored = (
            pivoted.withColumn("dl", F.col("dl").cast("double"))
            .crossJoin(F.broadcast(stats))
            .crossJoin(F.broadcast(dfs))
            .select("doc_id", bm25_score(terms).alias("raw_score"))
        )
        return scored.orderBy(F.col("raw_score").desc(), "doc_id").limit(k)

    # -- maintenance --------------------------------------------------------

    def vacuum_tombstones(self) -> dict:
        """Fold the delete set into the postings (Lucene segment merge):
        rewrite postings/doclens keeping only live rows (atomic
        replace_where over the full doc_id range), then clear the
        tombstones. Idempotent: a crash after the rewrites leaves
        tombstones that no longer match anything — queries stay
        correct, the next vacuum clears them."""
        dead_rows = self.tombstones.read().count()
        if dead_rows == 0:
            return {"tombstones_folded": 0}
        lo, hi = -(1 << 62), 1 << 62
        self.postings.replace_where(
            "doc_id", lo, hi, self._alive(self.postings.read())
        )
        self.doclens.replace_where(
            "doc_id", lo, hi, self._alive(self.doclens.read())
        )
        self.tombstones.delete_where("doc_id", lo, hi)
        return {"tombstones_folded": int(dead_rows)}
