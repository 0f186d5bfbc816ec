"""Materialized views over the transaction log: incremental refresh +
aggregate navigation (query answering from the MV, never the base).

The storage layer (sources/txlog.py) already provides the two halves a
materialized-view system needs — an incremental READ (``changes()``,
the CDF retraction feed) and an exactly-once incremental WRITE (the
``stream_txn`` keyed merge). This module composes them into the
feature the lakehouse ecosystems ship as "materialized views with
incremental refresh" (Delta Live Tables / Snowflake MVs / Oracle's
query rewrite): a sum/count aggregate table that

- **refreshes incrementally**: each ``refresh()`` reads ONLY the CDF
  of the commits since the last refresh — O(changed files), never the
  base table — and folds it through streaming/ivm.py, the one
  change-feed fold: ``ivm.signed_sums`` gives per-dim signed deltas
  (+insert/−delete; integer-cents measures, so accumulation order
  can't drift the result) and ``ivm.fold_into`` read-modify-writes
  them into the MV with the txn watermark carrying exactly-once. The
  WATERMARK IS THE REFRESH STATE: ``("mv:"+name, source_version)``
  makes a replayed/concurrent refresh of an already-applied range a
  no-op, so crash-retry cannot double-apply a delta, a range that
  folds to zero rows still records it, and ``last_refreshed()`` is
  read back from the target's own log — no side state files.
- **answers coarser-grain queries** (aggregate navigation): any GROUP
  BY over a SUBSET of the MV's dimensions re-aggregates the MV —
  sums of sums and sums of counts — touching O(|MV|) rows instead of
  the base table. ``answer()`` enforces the two correctness gates:
  the requested dims must be a subset of the MV's, and the MV must
  not be stale (``strict=True`` raises StaleViewError rather than
  silently serving an old snapshot; ``strict=False`` documents the
  eventual-consistency read the caller opted into).

Retracted-to-zero dims stay as n_rows=0 tombstones hidden by reads
(the IVM convention). Dims are arbitrary SQL expressions over the
source row; NULL-valued dims are excluded (ivm.signed_sums drops NULL
keys — the merge key cannot be NULL) — a deployment that needs a NULL
group maps it to a sentinel in the dim expression.

100 TB: refresh moves |changed rows| → |touched dims| through one hash
aggregate, then rewrites O(MV files overlapping the touched key range)
of the (small) aggregate table. ``answer`` is a scan of the MV only.
The single synthetic merge key (``mv_key``, the dim tuple joined with
an unprintable separator) keeps the key-range file pruning of
merge_upsert effective and is a stat column by construction.

r8 additions: :class:`MinMaxView` (extremes maintained monotonically
on insert, group-scoped base re-scan ONLY when a delete reaches a
stored extreme — see its docstring for the safety rule),
:class:`JoinAggView` (equi-join views maintained from BOTH sources'
change feeds via the bilinear two-phase delta, each phase its own
exactly-once watermark; each phase is a join followed by the same
fold), and :class:`Navigator` (query rewrite across
a family of MVs: route each GROUP BY to the coarsest fresh covering
view).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .localrel import local_frame
from .sources.txlog import TxTable
from .streaming import ivm

_SEP = "\x1f"


class StaleViewError(RuntimeError):
    """answer(strict=True) on an MV behind its source."""


class SumCountView:
    """Sum/count materialized view over a TxTable source.

    ``dims`` maps output dim name → SQL expression over a source row;
    ``value_expr`` is the summed measure (folded to integer cents)."""

    MEASURE_FIELDS = "n_rows bigint, sum_cents bigint"

    def __init__(
        self,
        spark: SparkSession,
        source: TxTable,
        root: str,
        name: str,
        dims: dict[str, str],
        value_expr: str,
    ):
        self.spark = spark
        self.source = source
        self.name = name
        self.dims = dict(dims)
        self.value_expr = value_expr
        self.target = TxTable(spark, root)

    # -- construction -------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source: TxTable,
        root: str,
        name: str,
        dims: dict[str, str],
        value_expr: str,
    ) -> "SumCountView":
        dim_fields = ", ".join(
            # dim types follow the expressions; store as string for the
            # key, native for the dims — evaluate once to take schema
            f"{d} {t}"
            for d, t in cls._dim_types(spark, source, dims).items()
        )
        empty = local_frame(
            spark, [], f"mv_key string, {dim_fields}, {cls.MEASURE_FIELDS}"
        )
        TxTable.create(spark, root, empty, stat_cols=["mv_key"])
        return cls(spark, source, root, name, dims, value_expr)

    @staticmethod
    def _dim_types(spark, source, dims) -> dict[str, str]:
        probe = source.read().limit(0).select(
            *[F.expr(e).alias(d) for d, e in dims.items()]
        )
        return {f.name: f.dataType.simpleString() for f in probe.schema.fields}

    # -- refresh --------------------------------------------------------

    def _app_id(self) -> str:
        return f"mv:{self.name}"

    def last_refreshed(self) -> int:
        """Source version the MV reflects (−1 = never refreshed) —
        read from the target's own txn watermark, no side state."""
        last = self.target.last_stream_batch(self._app_id())
        return -1 if last is None else last

    def _keys(self) -> dict:
        """Fold keys over a source row: the synthetic ``mv_key`` and
        each dim (a NULL dim drops the row — ivm.signed_sums)."""
        dims = {d: F.expr(e) for d, e in self.dims.items()}
        key = F.concat_ws(_SEP, *[c.cast("string") for c in dims.values()])
        return {"mv_key": key, **dims}

    def _fold(self, rows: DataFrame, stream_txn: tuple[str, int]) -> None:
        """Fold CDF (or CDF-join) rows into the MV: per-dim signed count
        and cents sum, merged exactly-once under ``stream_txn``."""
        c = ivm.cents(F.expr(self.value_expr))
        ivm.fold_into(
            self.target,
            ivm.signed_sums(
                rows, self._keys(), {"n_rows": F.lit(1), "sum_cents": c}
            ),
            "mv_key",
            ivm.MEASURES,
            stream_txn,
            carry=list(self.dims),
        )

    def refresh(self) -> int | None:
        """Fold the CDF since the last refresh into the MV. Returns the
        new reflected source version, or None when already current.
        Crash-safe: the merge's txn watermark makes a replayed refresh
        of the same range a no-op (exactly-once, not just idempotent —
        this is a read-modify-write), and a range that folds to zero
        delta rows still records its watermark."""
        have, want = self.last_refreshed(), self.source.version()
        if want <= have:
            return None
        self._apply(have, want)
        return want

    def _apply(self, have: int, want: int) -> None:
        self._fold(self.source.changes(have, want), (self._app_id(), want))

    # -- reads ----------------------------------------------------------

    def read(self) -> DataFrame:
        """The MV at full grain, tombstones hidden."""
        return self.target.read().filter(F.col("n_rows") > 0).drop(
            "mv_key"
        )

    def is_stale(self) -> bool:
        return self.last_refreshed() < self.source.version()

    def _measure_aggs(self) -> list:
        """Rollup expressions for navigation — subclasses append their
        measures (sums of sums/counts roll up losslessly; tombstones
        are hidden by read())."""
        return [
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        ]

    def answer(
        self, group_dims: list[str], strict: bool = True
    ) -> DataFrame:
        """Aggregate navigation: GROUP BY a SUBSET of the MV's dims,
        answered by re-aggregating the MV (:meth:`_measure_aggs`) —
        the base table is never read."""
        unknown = [d for d in group_dims if d not in self.dims]
        if unknown:
            raise ValueError(
                f"dims {unknown} not in materialized grain "
                f"{sorted(self.dims)} — cannot navigate to a FINER grain"
            )
        if strict and self.is_stale():
            raise StaleViewError(
                f"MV {self.name!r} reflects source v{self.last_refreshed()} "
                f"< v{self.source.version()} — refresh() first "
                "(or pass strict=False for an eventually-consistent read)"
            )
        return self.read().groupBy(*group_dims).agg(*self._measure_aggs())


class MinMaxView(SumCountView):
    """Sum/count/min/max materialized view — the measure set a plain
    CDF fold CANNOT always maintain, handled the way the public
    engines document it (SQL Server indexed views refuse MIN/MAX under
    deletes; Oracle MV fast refresh degrades to group re-scan):

    - **inserts fold monotonically**: ``new_min = least(cur_min,
      min(inserted))`` and symmetrically for max — O(delta), exact.
    - **deletes fold only when provably harmless**: if every deleted
      value lies STRICTLY inside the stored ``(min, max)`` open
      interval, the extremes cannot have been deleted (ties are NOT
      safe — the deleted row might be one of several holding the
      extreme, but another might remain, so equality forces the scan).
    - **otherwise the touched GROUP is re-scanned** from the source at
      the refresh's target version — never the whole base: the rescan
      reads O(rows in breached groups), key-pruned by an inner join on
      the (broadcast-small) breached dim tuples. A group whose fold
      nets to zero rows tombstones without any scan.

    Sum/count stay exactly the parent's signed fold, so this class is
    the parent plus extremes; navigation (`answer`) adds min-of-mins /
    max-of-maxes, which is valid precisely because tombstones are
    hidden. It nets per (group, value) through ivm.signed_sums but keeps
    its own merge (extremes do not fold by addition). Measures fold
    through ivm.cents (NULL → 0 cents) in the incremental fold AND the
    rescan, so the two paths cannot disagree on NULL handling."""

    MEASURE_FIELDS = (
        "n_rows bigint, sum_cents bigint, min_cents bigint, "
        "max_cents bigint"
    )
    #: groups re-scanned by the LAST refresh (0 = pure fold) — the
    #: ops gauge for how often deletes breach stored extremes
    last_rescan_groups: int = 0

    def _apply(self, have: int, want: int) -> None:
        self.target.merge_upsert(
            self._merged_state(have, want),
            "mv_key",
            stream_txn=(self._app_id(), want),
        )

    def _merged_state(self, have: int, want: int) -> DataFrame:
        c = ivm.cents(F.expr(self.value_expr))
        # NET the fold per (group, value) FIRST: a rewrite-mode commit
        # churns whole files through the CDF as delete+re-insert pairs
        # for untouched rows — netting cancels them exactly, so only
        # values whose multiset count actually changed register as
        # inserts/deletes (otherwise every file rewrite would breach
        # the extremes and force a spurious rescan)
        per_value = ivm.signed_sums(
            self.source.changes(have, want),
            {**self._keys(), "__c": c},
            {"__vw": F.lit(1)},
        )
        ins = F.when(F.col("__vw") > 0, F.col("__c"))
        dele = F.when(F.col("__vw") < 0, F.col("__c"))
        delta = per_value.groupBy("mv_key", *self.dims).agg(
            F.sum("__vw").cast("bigint").alias("__d_n"),
            F.sum(F.col("__vw") * F.col("__c"))
            .cast("bigint")
            .alias("__d_s"),
            F.min(ins).alias("__ins_min"),
            F.max(ins).alias("__ins_max"),
            F.min(dele).alias("__del_min"),
            F.max(dele).alias("__del_max"),
            F.max(
                F.when(F.col("__vw") < 0, 1).otherwise(0)
            ).alias("__has_del"),
        )
        cur = self.target.read().select(
            "mv_key",
            F.col("n_rows").alias("__cur_n"),
            F.col("sum_cents").alias("__cur_s"),
            F.col("min_cents").alias("__cur_min"),
            F.col("max_cents").alias("__cur_max"),
        )
        j = delta.join(cur, "mv_key", "left")
        new_n = (
            F.coalesce(F.col("__cur_n"), F.lit(0)) + F.col("__d_n")
        ).cast("bigint")
        new_s = (
            F.coalesce(F.col("__cur_s"), F.lit(0)) + F.col("__d_s")
        ).cast("bigint")
        # a delete is harmless iff every deleted value sits STRICTLY
        # inside the stored extremes (no deleted non-null value at all
        # is trivially harmless); equality means the extreme itself
        # may be gone → rescan. A delete against a group with no
        # stored extreme (absent, or all-NULL values) is never safe —
        # it implies insert+delete within one refresh window.
        del_safe = (F.col("__has_del") == 0) | (
            (
                F.col("__del_min").isNull()
                | (
                    F.col("__cur_min").isNotNull()
                    & (F.col("__del_min") > F.col("__cur_min"))
                )
            )
            & (
                F.col("__del_max").isNull()
                | (
                    F.col("__cur_max").isNotNull()
                    & (F.col("__del_max") < F.col("__cur_max"))
                )
            )
        )
        j = j.withColumn("__n", new_n).withColumn(
            "__fold_ok", (F.col("__n") == 0) | del_safe
        )
        # the join output is delta-group-sized (small); materialize it
        # once so the breach count, the fold, and the rescan keys don't
        # each recompute the CDF read
        from .checkpointing import truncate_lineage

        j = truncate_lineage(j, None)
        folded = j.filter(F.col("__fold_ok")).select(
            "mv_key",
            *self.dims,
            F.col("__n").alias("n_rows"),
            new_s.alias("sum_cents"),
            F.when(
                F.col("__n") > 0,
                F.least(F.col("__cur_min"), F.col("__ins_min")),
            ).alias("min_cents"),
            F.when(
                F.col("__n") > 0,
                F.greatest(F.col("__cur_max"), F.col("__ins_max")),
            ).alias("max_cents"),
        )
        breached = j.filter(~F.col("__fold_ok")).select(
            "mv_key", *self.dims
        )
        # observability + work-skipping: most refreshes breach nothing
        # and must not touch the base at all
        self.last_rescan_groups = breached.count()
        if self.last_rescan_groups == 0:
            return folded
        dims = [F.expr(e).alias(d) for d, e in self.dims.items()]
        src_rows = self.source.read(version=want).select(
            *dims, c.alias("__c")
        )
        rescanned = (
            src_rows.join(F.broadcast(breached), list(self.dims), "inner")
            .groupBy("mv_key", *self.dims)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.coalesce(F.sum("__c"), F.lit(0))
                .cast("bigint")
                .alias("sum_cents"),
                F.min("__c").alias("min_cents"),
                F.max("__c").alias("max_cents"),
            )
        )
        return folded.unionByName(rescanned)

    def _measure_aggs(self) -> list:
        # min of mins / max of maxes roll up losslessly (unlike
        # refresh, rollup needs no retraction handling — tombstones
        # are already hidden)
        return super()._measure_aggs() + [
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        ]


class JoinAggView(SumCountView):
    """Materialized sum/count aggregate over an EQUI-JOIN of two
    TxTable sources, refreshed incrementally from BOTH change feeds —
    the join-view IVM (previously a standalone algebra demo,
    ``incremental_join_maintenance``) unified under the MV API
    (refresh / answer / staleness / exactly-once watermarks).

    The bilinear identity drives a TWO-PHASE refresh::

        V(wa, wb) = V(va, vb) + ΔA ⋈ B@vb  +  A@wa ⋈ ΔB

    phase 1 folds A's delta against B FROZEN at its last-reflected
    version; phase 2 folds B's delta against A at its NEW version
    (which includes ΔA — exactly the sequential decomposition, so the
    multiset algebra closes). Each phase is one exactly-once commit
    with its OWN txn watermark (``mvj:<name>:a`` / ``:b``), so a crash
    between phases resumes at phase 2 without double-applying phase 1.

    Join rows inherit the CDF retraction weights from the DELTA side
    (the frozen side contributes multiplicity, weight +1 per matched
    row), so deletes retract join contributions exactly.

    100 TB: each phase costs O(Δ ⋈ matching other-side rows) — the
    delta is small and the frozen side's scan is the standard IVM
    cost; the base⋈base term is never recomputed. Requires disjoint
    non-key column names across the two sources (loud check)."""

    def __init__(
        self,
        spark: SparkSession,
        source_a: TxTable,
        source_b: TxTable,
        key_a: str,
        key_b: str,
        root: str,
        name: str,
        dims: dict[str, str],
        value_expr: str,
    ):
        super().__init__(spark, source_a, root, name, dims, value_expr)
        self.source_b = source_b
        self.key_a, self.key_b = key_a, key_b

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source_a: TxTable,
        source_b: TxTable,
        key_a: str,
        key_b: str,
        root: str,
        name: str,
        dims: dict[str, str],
        value_expr: str,
    ) -> "JoinAggView":
        a_cols = set(source_a.read().columns)
        b_cols = set(source_b.read().columns)
        clash = (a_cols & b_cols) - {key_a, key_b}
        if clash:
            raise ValueError(
                f"join sources share non-key columns {sorted(clash)} — "
                "rename one side (dims/value_expr would be ambiguous)"
            )
        joined0 = source_a.read().limit(0).join(
            source_b.read().limit(0),
            F.col(key_a) == F.col(key_b),
        )
        probe = joined0.select(
            *[F.expr(e).alias(d) for d, e in dims.items()]
        )
        dim_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in probe.schema.fields
        )
        empty = local_frame(
            spark, [], f"mv_key string, {dim_fields}, {cls.MEASURE_FIELDS}"
        )
        TxTable.create(spark, root, empty, stat_cols=["mv_key"])
        return cls(
            spark, source_a, source_b, key_a, key_b, root, name, dims,
            value_expr,
        )

    # -- two-sided refresh state ---------------------------------------

    def _side_app(self, side: str) -> str:
        return f"mvj:{self.name}:{side}"

    def _side_refreshed(self, side: str) -> int:
        last = self.target.last_stream_batch(self._side_app(side))
        return -1 if last is None else last

    def last_refreshed(self) -> tuple[int, int]:  # type: ignore[override]
        return (self._side_refreshed("a"), self._side_refreshed("b"))

    def is_stale(self) -> bool:
        va, vb = self.last_refreshed()
        return va < self.source.version() or vb < self.source_b.version()

    # -- refresh ---------------------------------------------------------

    def refresh(self) -> tuple[int, int] | None:  # type: ignore[override]
        va, vb = self.last_refreshed()
        wa, wb = self.source.version(), self.source_b.version()
        if wa <= va and wb <= vb:
            return None
        join = F.col(self.key_a) == F.col(self.key_b)
        # phase 1: ΔA ⋈ B@vb (B frozen at its LAST-REFLECTED version —
        # using B's head here would double-count against phase 2)
        if wa > va:
            frozen_b = (
                self.source_b.read(version=vb)
                if vb >= 0
                else self.source_b.read().limit(0)
            )
            self._fold(
                self.source.changes(va, wa).join(frozen_b, join),
                (self._side_app("a"), wa),
            )
        # phase 2: A@wa ⋈ ΔB (A at its NEW version — includes ΔA)
        if wb > vb:
            frozen_a = self.source.read(version=wa)
            self._fold(
                self.source_b.changes(vb, wb).join(frozen_a, join),
                (self._side_app("b"), wb),
            )
        return (wa, wb)


class Navigator:
    """Aggregate navigator over a FAMILY of MVs on one source: route a
    GROUP BY to the COARSEST fresh view whose grain covers the
    requested dims — the reference's ``v_weekly_stats`` chain
    (sql/schema.sql:226-239 re-aggregates the daily view) as query
    rewrite: a weekly rollup is answered from the daily MV, a
    per-type total from the type-grain MV, never the base table.

    Freshness participates in routing: a stale-but-covering view is
    skipped while a fresh one exists; if ONLY stale views cover the
    query, strict=True raises StaleViewError (refresh something) and
    strict=False serves the best stale view, documenting the
    eventual-consistency read."""

    def __init__(self, *views: SumCountView):
        self.views: list[SumCountView] = list(views)

    def register(self, view: SumCountView) -> SumCountView:
        self.views.append(view)
        return view

    def route(self, group_dims: list[str], strict: bool = True):
        covering = [
            v for v in self.views if set(group_dims) <= set(v.dims)
        ]
        if not covering:
            raise ValueError(
                f"no registered MV covers dims {sorted(group_dims)} — "
                f"grains available: {[sorted(v.dims) for v in self.views]}"
            )
        fresh = [v for v in covering if not v.is_stale()]
        pool = fresh if fresh else covering
        if not fresh and strict:
            raise StaleViewError(
                f"every MV covering {sorted(group_dims)} is stale — "
                "refresh one, or pass strict=False"
            )
        # coarsest = fewest dims (fewest rows to re-aggregate);
        # deterministic name tie-break
        return min(pool, key=lambda v: (len(v.dims), v.name))

    def answer(
        self, group_dims: list[str], strict: bool = True
    ) -> DataFrame:
        return self.route(group_dims, strict).answer(
            group_dims, strict=strict
        )


def view_root(base_root: str, name: str) -> str:
    """Conventional target location: <source>/_mv/<name>."""
    return posixpath.join(base_root, "_mv", name)
