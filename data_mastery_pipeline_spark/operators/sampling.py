"""Deterministic sampling & split operators for training-data curation.

`df.sample()` draws from a per-partition RNG — resampling changes when
partitioning changes, and a row's fate depends on where it sits. Curation
needs the opposite: a row's membership must be a pure FUNCTION OF ITS ID
(stable under repartition, re-runs, and incremental arrival), and train/
test must stay disjoint forever. Hence hash-gate sampling: gate(id) ∈
[0, 10000) decides membership; fractions become threshold comparisons.

Two gates:
- ``hash_gate`` — xxhash64(id, salt): the production default (uniform,
  well-mixed, any id type). Engine-specific → rows-only oracle checks.
- ``affine_gate`` — ((id % 99991) * 2654435761 + salt) % 10000: weaker
  mixing but pure integer arithmetic any SQL engine reproduces, so the
  DuckDB oracle can value-check the whole sampling pipeline. The inner
  mod keeps the product far from int64 overflow (DuckDB raises on
  overflow rather than wrapping, so silent wraparound can't be relied
  on for portability).

All operators are narrow (no shuffle) except deterministic_shuffle,
which is exactly one exchange.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

GATE_BUCKETS = 10_000


def hash_gate(id_col: str, salt: int = 0) -> Column:
    """xxhash64-based gate in [0, GATE_BUCKETS)."""
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(GATE_BUCKETS))


def affine_gate(id_col: str, salt: int = 0) -> Column:
    """SQL-portable gate in [0, GATE_BUCKETS) for integer ids (see
    module docstring for the overflow-safety of the constants)."""
    return F.pmod(
        F.pmod(F.col(id_col), F.lit(99_991)) * F.lit(2_654_435_761) + F.lit(salt),
        F.lit(GATE_BUCKETS),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    gate: Column,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. keep 50% of English docs, 20% of
    the rest) — the corpus-balancing step of a training-data pipeline.
    One narrow filter; no shuffle, no RNG."""
    thr = F.lit(int(round(default_fraction * GATE_BUCKETS)))
    for key, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == key, F.lit(int(round(frac * GATE_BUCKETS)))
        ).otherwise(thr)
    return df.filter(gate < thr)


def train_test_split(
    df: DataFrame, test_fraction: float, gate: Column
) -> tuple[DataFrame, DataFrame]:
    """(train, test), disjoint and exhaustive by construction: the gate
    partitions the id space, so a row can never migrate between splits
    across runs or dataset growth — the leakage guarantee `.sample()`
    cannot give."""
    cut = int(round(test_fraction * GATE_BUCKETS))
    return df.filter(gate >= cut), df.filter(gate < cut)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    num_partitions: int | None = None,
    key: Column | None = None,
) -> DataFrame:
    """Reproducible global shuffle for training-example order: order by
    a salted hash of the id. Same seed → identical order on every run
    and cluster layout; different seed → a fresh permutation. One
    range exchange (it IS a global sort on the hash), which also yields
    evenly sized output partitions regardless of input skew.

    ``key`` overrides the order key (default engine-native
    ``xxhash64(id, seed)``; pass the md5-prefix fold from
    functions.text for an oracle-portable permutation). The id rides
    both the range partitioner and the sort as a TIEBREAK, so the
    global order is total even under hash collisions — without it a
    collision split across a range boundary would make the permutation
    layout-dependent."""
    key = key if key is not None else F.xxhash64(F.col(id_col), F.lit(seed))
    parts = [num_partitions] if num_partitions is not None else []
    out = df.repartitionByRange(*parts, key, F.col(id_col))
    return out.sortWithinPartitions(key, F.col(id_col))


def alpha_mixture_rates(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture resampling rates — the data-mixing
    step of multilingual/multi-source LM training (the mT5/XLM-R
    p_i^α schedule): given per-stratum mass p_i = n_i/N, the target
    mixture is q_i = p_i^α / Σ p_j^α (α < 1 upweights low-resource
    strata), and building a corpus of T = target_fraction·N rows
    needs per-row keep rate r_i = min(1, T·q_i / n_i).

    Returns one row per stratum: (stratum, n_rows, rate, gate_cut)
    with gate_cut = floor(rate·GATE_BUCKETS + 0.5) ready for
    :func:`affine_gate` filtering. Pure aggregates over strata — the
    rates relation is |strata|-sized and broadcastable at any corpus
    size; the sampling pass itself is one narrow filter."""
    counts = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    tot = counts.agg(
        F.sum("n_rows").cast("double").alias("n_total"),
        F.sum(F.pow(F.col("n_rows").cast("double"), F.lit(alpha))).alias(
            "z"
        ),
    )
    j = counts.crossJoin(F.broadcast(tot))
    # q_i = (n_i^alpha) / Z  (p_i^alpha / sum p_j^alpha — the N^alpha
    # factors cancel, so integer n_i feed pow directly: fewer divisions
    # before the transcendental keeps both engines on identical inputs)
    q = F.pow(F.col("n_rows").cast("double"), F.lit(alpha)) / F.col("z")
    rate = F.least(
        F.lit(1.0),
        F.lit(target_fraction) * F.col("n_total") * q / F.col("n_rows"),
    )
    return j.select(
        "stratum",
        "n_rows",
        rate.alias("rate"),
        F.floor(rate * GATE_BUCKETS + F.lit(0.5))
        .cast("bigint")
        .alias("gate_cut"),
    )


def alpha_mixture_resample(
    df: DataFrame,
    strata_col: str,
    gate: Column,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
) -> DataFrame:
    """Deterministic α-temperature resample: keep rows whose portable
    gate falls under their stratum's :func:`alpha_mixture_rates` cut.
    Two aggregates over strata + one broadcast join + one narrow
    filter — no RNG, no shuffle of the data rows, reproducible under
    re-runs/repartitioning/growth like every gate-based sampler here."""
    rates = alpha_mixture_rates(df, strata_col, alpha, target_fraction)
    # collision-proof internal names: a caller DataFrame that already
    # carries a 'stratum' or 'gate_cut' column must neither make the
    # join ambiguous nor lose its column to the drop (ADVICE r10)
    keyed = rates.select(
        F.col("stratum").alias("__amr_stratum"),
        F.col("gate_cut").alias("__amr_gate_cut"),
    )
    return (
        df.join(
            F.broadcast(keyed),
            df[strata_col] == F.col("__amr_stratum"),
        )
        .filter(gate < F.col("__amr_gate_cut"))
        .drop("__amr_stratum", "__amr_gate_cut")
    )
