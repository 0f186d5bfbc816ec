"""SCD TYPE 2 dimension maintained from a txlog CHANGE DATA FEED —
the public "APPLY CHANGES INTO … STORED AS SCD TYPE 2" surface (Delta
Live Tables' apply_changes; the same shape Snowflake streams + tasks
and Flink temporal tables serve): a keyed source table of CURRENT
state, whose history of upserts and deletes becomes a dimension of
validity intervals ``[valid_from, valid_to)`` in source-commit-version
time, with ``is_current`` marking each key's open row.

Why the CDF and not snapshots: diffing two snapshots of a 100 TB
dimension costs two full scans per sync; the change feed is O(changed
files) in the applied window, and the fold below never reads the
target beyond the CURRENT rows of the keys that actually changed
(broadcast-pruned semi-join) — the blast radius is O(changed keys).

The subtle and essential step is NETTING: the txlog CDF is a
file-granular retraction feed, so a rewrite (merge / copy-on-write
delete) re-emits every UNTOUCHED neighbor row in the rewritten file as
a same-version delete+insert pair. Folding the raw feed would mint a
phantom SCD row per neighbor per rewrite. Netting by (key, attrs,
version) with signed weights cancels the churn exactly; what survives
is the logical event stream — per (key, version): an UPSERT carrying
the new attribute state, or a pure-delete TOMBSTONE. The driver oracle
(scd2_dimension_history) recomputes the dimension from the logical
events alone, so any churn leak fails the value-hash.

Interval assembly is one per-KEY window pass (``lead`` over commit
version — partitioned by key, never global): each upsert opens a row
at its version and the NEXT event of the same key closes it; a
tombstone closes without opening; the existing current row of each
affected key joins the sequence as a pseudo-event so its closure
rides the same ``lead``. Exactly-once: the upsert batch lands via
``merge_upsert(stream_txn=("scd2:"+name, source_version))`` — the
target's txn watermark IS the applier state (no side files; a crashed
or replayed apply of an applied window commits nothing, mirroring
mv.py), and an all-churn window records the caught-up watermark with
a data-free commit.

Preconditions, enforced loudly in-flight (conditional raise_error
riding the projection — zero extra passes): the source holds at most
one live row per key (the dimension contract merge_upsert itself
enforces on its write side), and NULL keys are not trackable (dropped,
the MERGE NULL-never-matches convention of streaming/ivm.py, whose
``signed_weight`` is the netting weight here).

Reference parity: the reference pipeline re-lands current-state
aggregates and keeps no history (silver_processor.py writes latest
only); this module is the lakehouse-native history layer over the
same feed. Cited designs are public: Delta CDF + DLT SCD2, Kimball
type-2 dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .localrel import local_frame
from .sources.txlog import TxTable
from .streaming.ivm import signed_weight

_ID_SEP = ":"


class Scd2Dimension:
    """A type-2 dimension over ``source`` keyed by ``key``; all other
    source columns are tracked attributes. ``apply()`` folds the CDF
    window since the last watermark; the FIRST apply (watermark −1)
    replays the source's full history, so the dimension backfills
    every interval the log still holds."""

    def __init__(
        self, spark: SparkSession, source: TxTable, root: str, key: str, name: str
    ):
        self.spark = spark
        self.source = source
        self.key = key
        self.name = name
        self.target = TxTable(spark, root)

    # -- construction ---------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source: TxTable,
        root: str,
        key: str,
        name: str,
    ) -> "Scd2Dimension":
        src_schema = source.read().schema
        names = [f.name for f in src_schema.fields]
        if key not in names:
            raise ValueError(f"key {key!r} not in source columns {names}")
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src_schema.fields
        )
        empty = local_frame(
            spark,
            [],
            f"__scd_id string, {fields}, valid_from bigint, "
            "valid_to bigint, is_current boolean",
        )
        TxTable.create(spark, root, empty, stat_cols=["__scd_id"])
        return cls(spark, source, root, key, name)

    # -- apply ------------------------------------------------------------

    def _app_id(self) -> str:
        return f"scd2:{self.name}"

    def last_applied(self) -> int:
        last = self.target.last_stream_batch(self._app_id())
        return -1 if last is None else last

    def _attrs(self) -> list[str]:
        return [c for c in self.source.read().columns if c != self.key]

    def _events(self, cdf: DataFrame, attrs: list[str]) -> DataFrame:
        """The logical event stream: per (key, commit version) an
        upsert (``__state`` struct of the new attributes) or a
        tombstone (``__state`` NULL). Netting by full attribute tuple
        cancels rewrite churn; the uniqueness guard rides the
        projection as a conditional raise_error."""
        w = signed_weight()
        net = (
            cdf.filter(F.col(self.key).isNotNull())
            .groupBy(self.key, *attrs, "_commit_version")
            .agg(F.sum(w).cast("long").alias("__w"))
            .filter(F.col("__w") != 0)
        )
        ev = net.groupBy(self.key, "_commit_version").agg(
            F.max(
                F.when(F.col("__w") > 0, F.struct(*attrs))
            ).alias("__state"),
            F.sum(F.when(F.col("__w") > 0, 1).otherwise(0)).alias("__n_ins"),
            F.min("__w").alias("__min_w"),
            F.max("__w").alias("__max_w"),
            # the event's net liveness delta: pure insert +1, update 0
            # (+1 −1), pure delete −1 — feeds the per-key running-sum
            # uniqueness guard in apply() (a second live row for a key
            # arrives as a second +1 with no intervening −1)
            F.sum("__w").cast("long").alias("__net"),
        )
        broken = (
            (F.col("__n_ins") > 1)
            | (F.col("__min_w") < -1)
            | (F.col("__max_w") > 1)
        )
        msg = (
            f"scd2 {self.name!r}: source is not a keyed current-state "
            f"table — multiple live rows for one {self.key!r} in a "
            "single commit window"
        )
        return ev.select(
            self.key,
            F.when(broken, F.raise_error(F.lit(msg)).cast("long"))
            .otherwise(F.col("_commit_version"))
            .alias("__version"),
            "__state",
            "__net",
        )

    def apply(self) -> int | None:
        """Fold the source CDF since the last watermark into the
        dimension. Returns the newly reflected source version, or None
        when already current. Exactly-once under replay."""
        have, want = self.last_applied(), self.source.version()
        if want <= have:
            return None
        attrs = self._attrs()
        clash = {"__w", "__state", "__net", "__version", "__run", "__next_v"}
        bad = sorted(clash & set(attrs) | clash & {self.key})
        if bad:
            raise ValueError(
                f"scd2 {self.name!r}: source columns {bad} collide with "
                "internal aliases — rename them first"
            )
        from .checkpointing import release, truncate_lineage

        # ONE evaluation of the CDF fold: the events relation feeds the
        # affected-keys probe AND the interval sequence (two subtrees of
        # one plan — uncut, the O(changed files) feed scans twice)
        events = truncate_lineage(
            self._events(self.source.changes(have, want), attrs)
        )
        try:
            return self._apply_events(events, attrs, want)
        finally:
            release(events)

    def _apply_events(
        self, events: DataFrame, attrs: list[str], want: int
    ) -> int:
        # existing CURRENT rows of affected keys join the sequence as
        # pseudo-events at their valid_from (< every new event version,
        # since valid_from ≤ have) so one lead() closes them too
        affected = events.select(self.key).distinct()
        existing = (
            self.current()
            .join(F.broadcast(affected), self.key, "left_semi")
            .select(
                self.key,
                F.col("valid_from").alias("__version"),
                F.struct(*attrs).alias("__state"),
                F.lit(1).cast("long").alias("__net"),  # an open row IS live
            )
        )
        seq = events.unionByName(existing)
        win = Window.partitionBy(self.key).orderBy("__version")
        # per-key liveness running sum: ever >1 means a SECOND live row
        # for the key with no intervening delete — the cross-version
        # form of the unkeyed-source violation (<0 cannot arise from a
        # real feed: a delete only ever retracts a live row)
        run = F.sum("__net").over(
            win.rowsBetween(Window.unboundedPreceding, 0)
        )
        dup_msg = (
            f"scd2 {self.name!r}: source is not a keyed current-state "
            f"table — a second live row for one {self.key!r} arrived "
            "with no intervening delete"
        )
        rows = (
            seq.withColumn("__run", run)
            .withColumn("__next_v", F.lead("__version").over(win))
            .filter(F.col("__state").isNotNull())  # tombstones only close
            .withColumn(
                "__version",
                F.when(
                    (F.col("__run") > 1) | (F.col("__run") < 0),
                    F.raise_error(F.lit(dup_msg)).cast("long"),
                ).otherwise(F.col("__version")),
            )
            .select(
                F.concat_ws(
                    _ID_SEP,
                    F.col(self.key).cast("string"),
                    F.col("__version").cast("string"),
                ).alias("__scd_id"),
                self.key,
                *[F.col(f"__state.{a}").alias(a) for a in attrs],
                F.col("__version").cast("bigint").alias("valid_from"),
                F.col("__next_v").cast("bigint").alias("valid_to"),
                F.col("__next_v").isNull().alias("is_current"),
            )
        )
        # an all-churn window (zero rows) still records its watermark
        # (merge_upsert's empty stream_txn rule), so the applier can
        # never wedge stale
        self.target.merge_upsert(
            rows, "__scd_id", stream_txn=(self._app_id(), want)
        )
        return want

    # -- reads ------------------------------------------------------------

    def read(self) -> DataFrame:
        """The full dimension: every validity interval, history and
        current, surrogate id hidden."""
        return self.target.read().drop("__scd_id")

    def current(self) -> DataFrame:
        """The current-state slice — row-equal to the source's live
        rows once applied (pinned by tests)."""
        return self.read().filter(F.col("is_current"))
