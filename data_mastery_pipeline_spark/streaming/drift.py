"""Streaming drift monitors over the transaction log's CDC feed —
per-micro-batch PSI, two-sample KS and CUSUM against a pinned
reference.

The monitoring family (queries_insight.py: KS/CUSUM/PSI/WoE) is
batch-shaped: each run re-scans the data. A production drift monitor
must instead ride the change feed — the distribution summary is
maintained INCREMENTALLY and the statistic is recomputed per trigger
against a frozen reference. All three monitors share one lifecycle
(:class:`_CdcMonitor`), built from parts the repo already trusts:

- **Maintained state** (``bins`` / ``vals`` / ``days``, one row per
  key): each micro-batch folds through streaming/ivm.py, the one
  change-feed fold — ``ivm.signed_sums`` (+1 insert / −1 delete) and
  the exactly-once ``ivm.fold_into`` merge. A replayed batch is a
  no-op, so the state equals the direct aggregate of the source's
  current snapshot bit-for-bit under ANY batch boundaries (integer
  counts and cents commute exactly).
- **Pinned reference** — computed once from ``read(version=ref)``.
- **One statistic row per trigger** — after each batch's fold, the
  statistic between the maintained state and the reference is
  appended to a log table (``psi_log`` / ``ks_log`` / ``cusum_log``),
  itself exactly-once via ``append_stream_batch``. If a crash lands
  between the two commits, the replay no-ops the state merge
  (watermark) and recomputes the SAME row from the already-final
  state — the log row is never wrong, only late.
- **Equality twin** (``assert_consistent``) — the maintained state
  must equal the direct-snapshot aggregate (:func:`histogram`,
  :func:`value_counts`, :func:`day_sums`, which deliberately do NOT
  go through the fold under test), and the last logged row must equal
  the statistic recomputed from final state.

PSI with the standard +0.5 smoothing over the FULL bin domain (empty
bins included): ``p_i = (cur_i + 0.5) / (curN + 0.5·B)`` and likewise
for the reference; ``PSI = Σ (p_i − q_i)·ln(p_i / q_i)``. NULL values
are not samples of the distribution and are excluded on both the
fold and the direct sides.

100 TB: per trigger the source side reads O(changed files) (the CDC
planner), the fold is one hash aggregate over change rows to the
state's keys, and the target merge rewrites O(files overlapping the
touched keys) of a small state table. The monitor's steady-state cost
is the size of the CHANGES — the whole point over re-scanning 100 TB
per evaluation.

Reference surface: the reference has no monitoring at all; this is
the public drift-monitoring pattern (Evidently/whylogs-style PSI)
re-expressed over this repo's CDC + exactly-once sink machinery.
"""

from __future__ import annotations

import math
import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import local_frame
from ..sources.txlog import TxTable
from . import ivm

DEFAULT_EDGES: tuple[float, ...] = tuple(float(x) for x in range(0, 101, 10))

BINS_SCHEMA = "bin int, n_rows bigint"
PSI_LOG_SCHEMA = "batch_id bigint, psi double, n_rows bigint"


def bin_expr(col, edges: Sequence[float]):
    """Ordered bin index of a value: ``Σ_e (v ≥ e)`` — 0 below the
    first edge, ``len(edges)`` at/above the last. A pure Catalyst
    expression (codegen, no UDF), trivially mirrored in ANSI SQL as a
    sum of CASEs."""
    out = F.lit(0)
    for e in edges:
        out = out + F.when(col >= F.lit(float(e)), 1).otherwise(0)
    return out.cast("int")


def histogram(
    df: DataFrame, value_col: str, edges: Sequence[float]
) -> DataFrame:
    """Per-bin counts of ``df`` (NULL values excluded) — (bin, n_rows).
    Bins with no rows are absent; consumers join against the full
    spine (see :func:`psi_table`)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bin_expr(F.col(value_col), edges).alias("bin"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )


def psi_table(
    cur_bins: DataFrame,
    ref_bins: DataFrame,
    n_bins: int,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-bin PSI relation over the FULL bin spine: (bin, ref_n,
    cur_n, psi_contrib) plus the total ``psi`` and ``drift_detected``
    broadcast onto every row. Smoothing +0.5 per bin keeps empty bins
    finite (and mirrors cleanly in SQL)."""
    spark = cur_bins.sparkSession
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        spine.join(
            ref_bins.withColumnRenamed("n_rows", "ref_n"), "bin", "left"
        )
        .join(cur_bins.withColumnRenamed("n_rows", "cur_n"), "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).cast("bigint").alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).cast("bigint").alias("cur_n"),
        )
    )
    tot = j.agg(
        F.sum("ref_n").cast("double").alias("ref_tot"),
        F.sum("cur_n").cast("double").alias("cur_tot"),
    )
    j = j.crossJoin(F.broadcast(tot))
    q = (F.col("ref_n") + 0.5) / (F.col("ref_tot") + 0.5 * n_bins)
    p = (F.col("cur_n") + 0.5) / (F.col("cur_tot") + 0.5 * n_bins)
    contrib = (p - q) * F.log(p / q)
    per_bin = j.select("bin", "ref_n", "cur_n", contrib.alias("__c"))
    total = per_bin.agg(F.sum("__c").alias("psi"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "ref_n",
            "cur_n",
            F.col("__c").alias("psi_contrib"),
            "psi",
            (F.col("psi") > threshold).alias("drift_detected"),
        )
    )


def _empty_table(spark, root: str, name: str, ddl: str, key: str):
    return TxTable.create(
        spark,
        os.path.join(root, name),
        local_frame(spark, [], ddl),
        stat_cols=[key],
    )


class _CdcMonitor:
    """The lifecycle every drift monitor shares (module docstring): a
    STATE table ``(key, measure)`` folded from the CDC feed, a LOG
    table with one statistic row per trigger, the foreachBatch sink
    and the equality twin. A subclass supplies its schemas (``STATE``
    and ``LOG``: table name + DDL), its reference pin (in
    ``__init__``), the fold terms, the direct-snapshot twin and its
    one-row statistic, whose columns are the LOG columns after
    ``batch_id``."""

    STATE: tuple[str, str]
    LOG: tuple[str, str]

    def __init__(
        self, spark: SparkSession, source: TxTable, root: str, app_id: str
    ):
        self.spark, self.source, self.app_id = spark, source, app_id
        (name, ddl), (log_name, log_ddl) = self.STATE, self.LOG
        self._key, self._measure = (f.split()[0] for f in ddl.split(","))
        self.state = _empty_table(spark, root, name, ddl, self._key)
        self.log = _empty_table(spark, root, log_name, log_ddl, "batch_id")
        # the public per-statistic names: bins/psi_log, vals/ks_log, …
        setattr(self, name, self.state)
        setattr(self, log_name, self.log)

    def _fold_terms(self) -> tuple[Column, Column]:
        """(key, measure) expressions over a change row."""
        raise NotImplementedError

    def _direct(self, df: DataFrame) -> DataFrame:
        """The state computed directly from a snapshot."""
        raise NotImplementedError

    def _stat(self, state: DataFrame) -> DataFrame:
        """The one-row statistic of a state relation."""
        raise NotImplementedError

    def _live(self) -> DataFrame:
        """The maintained state, retracted-to-zero keys hidden."""
        return self.state.read().filter(F.col(self._measure) != 0)

    def sink(self):
        """``writeStream.foreachBatch(...)`` sink: fold the batch into
        the state exactly-once, then append this trigger's statistic
        row to the log exactly-once."""
        key, measure = self._key, self._measure
        state_app = f"{self.app_id}_{self.STATE[0]}"

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            k, m = self._fold_terms()
            delta = ivm.signed_sums(batch_df, {key: k}, {measure: m})
            ivm.fold_into(
                self.state, delta, key, [measure], (state_app, batch_id)
            )
            row = self._stat(self._live()).first()
            if row is None or None in row:
                raise ValueError(
                    f"{type(self).__name__}: statistic undefined after batch "
                    f"{batch_id} — is the monitored column all NULL, or did "
                    "the state net to empty?"
                )
            self.log.append_stream_batch(
                local_frame(
                    batch_df.sparkSession, [(batch_id, *row)], self.LOG[1]
                ),
                self.app_id + "_log",
                batch_id,
            )

        return _sink

    def assert_consistent(self) -> None:
        """Equality twin: the maintained state must equal the direct
        aggregate of the source's CURRENT snapshot, and the last logged
        row must equal the statistic recomputed from final state."""
        direct = self._direct(self.source.read()).filter(
            F.col(self._measure) != 0
        )
        mine = self._live()
        if (
            mine.exceptAll(direct).limit(1).count()
            or direct.exceptAll(mine).limit(1).count()
        ):
            raise ValueError(
                f"maintained {self.STATE[0]} diverged from the direct "
                "snapshot aggregate"
            )
        log = self.log.read().orderBy(F.desc("batch_id")).limit(1).first()
        if log is None:
            return
        want = self._stat(self._live()).first()
        for field, exp in want.asDict().items():
            got = log[field]
            if isinstance(exp, float):
                same = math.isclose(got, exp, rel_tol=1e-9, abs_tol=1e-12)
            else:
                same = got == exp
            if not same:
                raise ValueError(
                    f"last logged {field} {got} != recomputed {exp}"
                )


class DriftMonitor(_CdcMonitor):
    """PSI monitor: per-bin histogram state (``bins``), the reference
    histogram pinned as a ≤B-entry dict, one ``psi_log`` row per
    trigger."""

    STATE = ("bins", BINS_SCHEMA)
    LOG = ("psi_log", PSI_LOG_SCHEMA)

    def __init__(
        self,
        spark: SparkSession,
        source: TxTable,
        root: str,
        value_col: str,
        edges: Sequence[float] = DEFAULT_EDGES,
        ref_version: int = 0,
        threshold: float = 0.2,
        app_id: str = "driftmon",
    ):
        self.value_col = value_col
        self.edges = tuple(float(e) for e in edges)
        self.threshold = threshold
        super().__init__(spark, source, root, app_id)
        self.ref_bins = {
            int(r["bin"]): int(r["n_rows"])
            for r in self._direct(source.read(version=ref_version))
            .collect()  # ≤B rows — bounded by construction
        }

    @property
    def n_bins(self) -> int:
        return len(self.edges) + 1

    def _fold_terms(self):
        v = F.col(self.value_col)
        return F.when(v.isNotNull(), bin_expr(v, self.edges)), F.lit(1)

    def _direct(self, df):
        return histogram(df, self.value_col, self.edges)

    def _stat(self, state):
        return psi_table(
            state, self.ref_bins_df(), self.n_bins, self.threshold
        ).agg(  # every row carries the same total psi
            F.max("psi").alias("psi"),
            F.sum("cur_n").cast("bigint").alias("n_rows"),
        )

    def ref_bins_df(self) -> DataFrame:
        return local_frame(
            self.spark, sorted(self.ref_bins.items()), BINS_SCHEMA
        )

    def current_psi(self) -> DataFrame:
        """The per-bin PSI relation from the maintained state."""
        return psi_table(
            self._live(), self.ref_bins_df(), self.n_bins, self.threshold
        )


# ---------------------------------------------------------------------------
# KS drift monitor (r9 verdict task 6): same state machinery, the
# distribution-SHAPE statistic. PSI needs binning; KS bounds the max
# ECDF gap anywhere — the streaming twin of queries_insight's batch
# ks_test_drift, with the ECDF computed by the SAME prefix-sum ranks
# (ranks.with_prefix_sums — bucket-partitioned windows + broadcast
# triangle offsets, never a single-task global sort).
#
# State here is the DISTINCT-VALUE count relation (v, n_rows)
# maintained by signed folds — exact, so the logged statistic equals a
# batch recomputation bit-for-bit under any batch boundaries. The
# state is bounded by the metric's distinct-value domain: right for
# monitoring metrics, which are quantized/bounded by nature (prices in
# cents, latencies in ms buckets); for a genuinely unbounded domain,
# quantize with bin_expr first and accept binned-KS semantics.
# ---------------------------------------------------------------------------

VALS_SCHEMA = "v double, n_rows bigint"
KS_LOG_SCHEMA = (
    "batch_id bigint, d_stat double, ks_lambda double, n_rows bigint"
)

KS_CRITICAL_05 = 1.358  # asymptotic two-sample critical value, α=0.05


def value_counts(df: DataFrame, value_col: str) -> DataFrame:
    """Distinct-value counts (v, n_rows), NULLs excluded (a NULL is
    not a sample point of the ECDF; also the engines order NULLs
    oppositely — the batch ks_test_drift rule)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("double").alias("v"))
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )


def ks_stats(cur_vals: DataFrame, ref_vals: DataFrame) -> DataFrame:
    """ONE-row two-sample KS relation between two distinct-value count
    relations: (n_ref, n_cur, d_stat, ks_lambda, drift_detected).
    Both ECDFs ride one prefix-sum pass over the value union
    (ranks.with_prefix_sums); D is a plain max over that relation."""
    from ..operators import ranks

    j = (
        cur_vals.select("v", F.col("n_rows").alias("cur_w"))
        .join(
            ref_vals.select("v", F.col("n_rows").alias("ref_w")),
            "v",
            "full_outer",
        )
        .select(
            "v",
            F.coalesce("cur_w", F.lit(0)).cast("double").alias("cur_w"),
            F.coalesce("ref_w", F.lit(0)).cast("double").alias("ref_w"),
        )
    )
    c = ranks.with_prefix_sums(
        j, [("v", "asc")], ["ref_w", "cur_w"], ["c_ref", "c_cur"]
    )
    tot = c.agg(
        F.sum("ref_w").cast("double").alias("n_ref"),
        F.sum("cur_w").cast("double").alias("n_cur"),
    )
    g = c.crossJoin(F.broadcast(tot))
    gap = F.abs(F.col("c_ref") / F.col("n_ref") - F.col("c_cur") / F.col("n_cur"))
    lam = F.max(gap) * F.sqrt(
        F.col("n_ref") * F.col("n_cur") / (F.col("n_ref") + F.col("n_cur"))
    )
    return g.groupBy("n_ref", "n_cur").agg(
        F.max(gap).alias("d_stat"), lam.alias("ks_lambda")
    ).select(
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        "d_stat",
        "ks_lambda",
        (F.col("ks_lambda") > KS_CRITICAL_05).alias("drift_detected"),
    )


class KsDriftMonitor(_CdcMonitor):
    """Streaming two-sample KS monitor: distinct-value state (``vals``)
    and the prefix-sum ECDF statistic. The reference value-count
    relation is MATERIALIZED once at monitor creation (its own txlog
    table — unlike PSI's ≤B bins it is not driver-collectable in
    general), so per trigger the cost is the change fold + one
    prefix-sum pass over the value union, never a source rescan."""

    STATE = ("vals", VALS_SCHEMA)
    LOG = ("ks_log", KS_LOG_SCHEMA)

    def __init__(
        self,
        spark: SparkSession,
        source: TxTable,
        root: str,
        value_col: str,
        ref_version: int = 0,
        app_id: str = "ksdriftmon",
    ):
        self.value_col = value_col
        super().__init__(spark, source, root, app_id)
        ref_counts = self._direct(source.read(version=ref_version))
        if ref_counts.limit(1).count() == 0:
            raise ValueError(
                "KS reference window has no non-NULL values at version "
                f"{ref_version} — pick a ref_version with a real sample"
            )
        self.ref_vals = TxTable.create(
            spark,
            os.path.join(root, "ref_vals"),
            ref_counts,
            stat_cols=["v"],
        )

    def _fold_terms(self):
        return F.col(self.value_col).cast("double"), F.lit(1)

    def _direct(self, df):
        return value_counts(df, self.value_col)

    def _stat(self, state):
        return ks_stats(state, self.ref_vals.read()).select(
            "d_stat", "ks_lambda", F.col("n_cur").alias("n_rows")
        )

    def current_ks(self) -> DataFrame:
        return ks_stats(self._live(), self.ref_vals.read())


# ---------------------------------------------------------------------------
# CUSUM drift monitor (r10): the LOCATION-shift sequential test on the
# same exactly-once CDC state machinery — completes the streaming
# monitoring family (PSI = binned mass, KS = distribution shape,
# CUSUM = sustained mean shift in a time-ordered series, long before
# any single day trips a z-score).
#
# State is the per-DAY sum relation (day, x_cents) maintained by
# signed folds in INTEGER CENTS (exact, commutative — any batch
# boundary yields the same state), merged exactly-once per trigger.
# μ/σ are pinned from the reference version's daily series at monitor
# creation (a 1-row aggregate — driver-collectable like PSI's bins).
# Per trigger the CUSUM recursion is recomputed over the maintained
# state — calendar-bounded (≤365·years rows regardless of data
# volume, the plan-hygiene allowlist class) — and the max statistics
# are appended to a cusum_log exactly-once.
# ---------------------------------------------------------------------------

# day is an ISO string (not date): parquet footer stats skip temporal
# types, so a string key keeps the state-table merges file-PRUNABLE
# (ISO order == chronological order); outputs cast to date
DAYS_SCHEMA = "day string, x_cents bigint"
CUSUM_LOG_SCHEMA = (
    "batch_id bigint, max_up double, max_down double, "
    "alarm boolean, n_days bigint"
)


def day_sums(df: DataFrame, day_col: str, cents_col: str) -> DataFrame:
    """Per-day integer-cents sums (day, x_cents); NULL days excluded
    (not points of the series)."""
    return (
        df.filter(F.col(day_col).isNotNull())
        .groupBy(
            F.col(day_col).cast("date").cast("string").alias("day")
        )
        .agg(F.sum(cents_col).cast("bigint").alias("x_cents"))
    )


def cusum_table(days: DataFrame, mu: float, sd: float) -> DataFrame:
    """Two-sided CUSUM (Page 1954; slack k = σ/2, decision h = 4σ —
    the batch cusum_revenue_shift recursion via its closed form
    S_i = Y_i − min(0, min_{j≤i} Y_j)) over a per-day relation against
    a PINNED (μ, σ). Returns (day, revenue, cusum_up, cusum_down,
    alarm) ordered by day. Unpartitioned running windows are justified
    here: the input is calendar-bounded by construction."""
    from pyspark.sql import Window

    x = F.col("x_cents").cast("double") / 100.0
    k = sd / 2.0
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = days.select(F.col("day").cast("date").alias("day"), x.alias("x"))
    d = d.withColumn("y_pos", F.sum(F.col("x") - mu - k).over(w)).withColumn(
        "y_neg", F.sum(mu - k - F.col("x")).over(w)
    )
    d = d.withColumn(
        "s_pos", F.col("y_pos") - F.least(F.lit(0.0), F.min("y_pos").over(w))
    ).withColumn(
        "s_neg", F.col("y_neg") - F.least(F.lit(0.0), F.min("y_neg").over(w))
    )
    # σ units, not raw sums: a raw cumsum of ~1e9 quantized at 2dp
    # would demand 11 significant digits of cross-engine double
    # agreement (measured: one boundary flip at sf0.01); the σ ratio
    # needs ~6 and is the standard CUSUM reporting unit anyway
    return d.select(
        "day",
        F.col("x").alias("revenue"),
        (F.col("s_pos") / sd).alias("cusum_up_sigma"),
        (F.col("s_neg") / sd).alias("cusum_down_sigma"),
        (F.greatest("s_pos", "s_neg") > 4.0 * sd).alias("alarm"),
    ).orderBy("day")


class CusumDriftMonitor(_CdcMonitor):
    """Streaming CUSUM monitor: per-day integer-cents state (``days``)
    and the sequential location statistic. The source table must carry
    (day_col, cents_col) directly (precompute cents at table-build time
    so the fold stays exact integer algebra)."""

    STATE = ("days", DAYS_SCHEMA)
    LOG = ("cusum_log", CUSUM_LOG_SCHEMA)

    def __init__(
        self,
        spark: SparkSession,
        source: TxTable,
        root: str,
        day_col: str,
        cents_col: str,
        ref_version: int = 0,
        app_id: str = "cusumdriftmon",
    ):
        self.day_col = day_col
        self.cents_col = cents_col
        super().__init__(spark, source, root, app_id)
        ref = (
            self._direct(source.read(version=ref_version))
            .select((F.col("x_cents").cast("double") / 100.0).alias("x"))
            .agg(F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd"))
            .first()
        )
        if ref["mu"] is None or ref["sd"] is None or ref["sd"] == 0.0:
            raise ValueError(
                "CUSUM reference window needs >= 2 days with variance "
                f"(got mu={ref['mu']}, sd={ref['sd']}) — pick a ref_version "
                "with a real daily series"
            )
        self.mu = float(ref["mu"])
        self.sd = float(ref["sd"])

    def _fold_terms(self):
        day = F.col(self.day_col).cast("date").cast("string")
        return day, F.col(self.cents_col)

    def _direct(self, df):
        return day_sums(df, self.day_col, self.cents_col)

    def _stat(self, state):
        return cusum_table(state, self.mu, self.sd).agg(
            F.max("cusum_up_sigma").alias("max_up"),
            F.max("cusum_down_sigma").alias("max_down"),
            F.max("alarm").alias("alarm"),
            F.count("*").cast("bigint").alias("n_days"),
        )

    def current_cusum(self) -> DataFrame:
        return cusum_table(self._live(), self.mu, self.sd)
