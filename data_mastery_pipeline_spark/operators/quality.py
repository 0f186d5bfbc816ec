"""Data-quality operators Q1-Q7 (SURVEY §2.L) — the reference's DAG
quality_check task (weather_pipeline_dag.py:166-223) and config-driven
thresholds (config.yaml:105-109) as engine-level, single-pass checks.

Scale: all checks for one dataset run in ONE aggregate job (one scan),
instead of the reference's one-query-per-check pattern.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


@dataclass
class QualityReport:
    n_rows: int
    null_pct: dict[str, float]
    n_duplicate_keys: int
    n_range_violations: int
    passed: bool
    failures: list[str] = field(default_factory=list)


def check_quality(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    null_checked: Sequence[str],
    null_pct_max: float = 0.10,
    range_checks: Sequence[tuple[str, float, float]] = (),
    require_nonempty: bool = True,
) -> QualityReport:
    """Q1-Q5 in two jobs: one aggregate scan (counts, null pcts, range
    violations) + one dup-key aggregate.

    Mirrors: Q1 non-empty (dag:185-190), Q2 dup detection (:193-202),
    Q3/Q4 null counts / ≤10% threshold (:205-213, config.yaml:107),
    Q5 range conformance (schema.sql:75-77).
    """
    aggs: list[Column] = [F.count("*").alias("__n")]
    for c in null_checked:
        aggs.append(F.avg(F.col(c).isNull().cast("double")).alias(f"__nullpct_{c}"))
    viol = F.lit(0)
    for c, lo, hi in range_checks:
        viol = viol + F.sum(
            (~F.col(c).between(lo, hi) & F.col(c).isNotNull()).cast("bigint")
        )
    aggs.append(viol.alias("__range_viol"))
    row = df.agg(*aggs).collect()[0]

    n_dup = (
        df.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .count()
        if key_cols
        else 0
    )

    null_pct = {c: float(row[f"__nullpct_{c}"] or 0.0) for c in null_checked}
    failures = []
    if require_nonempty and row["__n"] == 0:
        failures.append("empty dataset")
    for c, pct in null_pct.items():
        if pct > null_pct_max:
            failures.append(f"null pct {pct:.1%} > {null_pct_max:.0%} on {c}")
    if n_dup:
        failures.append(f"{n_dup} duplicate keys on {list(key_cols)}")
    if row["__range_viol"]:
        failures.append(f"{row['__range_viol']} range violations")
    return QualityReport(
        n_rows=int(row["__n"]),
        null_pct=null_pct,
        n_duplicate_keys=int(n_dup),
        n_range_violations=int(row["__range_viol"] or 0),
        passed=not failures,
        failures=failures,
    )


def with_observed_metrics(
    df: DataFrame,
    name: str = "metrics",
    value_cols: Sequence[str] = (),
):
    """Attach free in-flight metrics to a DataFrame via ``observe()``.

    The reference calls ``df.count()`` after every stage
    (silver_processor.py:148,198,326) — each one RE-EXECUTES the plan,
    so its pipeline pays for three extra full passes per run (the
    SURVEY §3.2 anti-pattern). ``observe`` computes aggregate metrics
    DURING the action that was going to run anyway: zero extra jobs,
    zero extra scans, exact at any scale.

    Returns (df_with_observation, observation); read
    ``observation.get`` AFTER an action ran. Metrics: row count plus a
    null count per listed column.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in value_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
    return df.observe(obs, *metrics), obs


def bucket_checksums(
    df: DataFrame, cols: Sequence[Column | str], n_buckets: int = 64
) -> DataFrame:
    """Anti-entropy table checksums — verify two copies of a table
    (a replica, a shallow-clone branch, a migrated dataset, a
    different ENGINE's copy) hold identical content by exchanging
    ``n_buckets`` summary rows instead of the table (the Merkle-bucket
    reconciliation of Dynamo/Cassandra repair, flattened to one
    level).

    Per row: a portable content hash (md5 over the '|'-joined
    canonical column renderings — callers pass deterministic-text
    expressions: ints, strings, dates, quantized cents; never raw
    doubles, whose text forms differ across engines). Rows land in
    ``pmod(hash, n_buckets)`` buckets; each bucket aggregates
    ``n_rows``, ``xor_sum`` (order- and partition-independent, never
    overflows) and ``mod_sum`` (catches the duplicate-pair XOR
    cancellation). Two copies match iff all bucket rows match; a
    mismatch names which 1/n_buckets slice to drill into —
    reconciliation I/O is O(diverged slice), not O(table).

    Scale: one narrow projection + one n_buckets-ary aggregate (map-
    side combinable, no shuffle beyond the final n_buckets rows). The
    48-bit md5-prefix hash keeps every value exactly representable in
    a BIGINT on both engines (the simhash md5-portable discipline).
    """
    # NULLs render as an explicit sentinel: concat_ws silently DROPS
    # nulls, so ('a', NULL, 'b') and ('a', 'b', NULL) would otherwise
    # canonicalize identically — an integrity checker must not have
    # content-ambiguous hashes (oracle side mirrors with coalesce)
    canon = F.concat_ws(
        "|",
        *[
            F.coalesce(
                (F.col(c) if isinstance(c, str) else c).cast("string"),
                F.lit("␀NULL"),
            )
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("bigint")
    return (
        df.select(
            F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
            h.alias("__h"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("xor_sum"),
            F.sum(F.col("__h") % F.lit(1_000_003)).alias("mod_sum"),
        )
        .orderBy("bucket")
    )
