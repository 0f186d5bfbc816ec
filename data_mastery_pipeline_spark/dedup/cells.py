"""Cell blocking for the blocked self-joins — the ONE home of the cell
decision (near_dup_clusters family: dedup/ngram.py; knn_graph and
knn_graph_recall: similarity/knngraph.py; their DuckDB oracles).

A blocked self-join scores only pairs that share a CELL: the leading
``b`` bits of a per-row fingerprint both engines evaluate
bit-identically (the md5 set-simhash for near-dup, the 32 embedding
sign bits for kNN). The width grows with the corpus,

    b = clamp(ceil(log2(n / TARGET_CELL)), MIN_BITS, MAX_BITS),

so the expected cell size stays ~TARGET_CELL at every scale and the
scored-pair mass Σ|cell|² ≈ n · TARGET_CELL stays LINEAR. The recall
knob is TARGET_CELL: bigger cells = more recall = proportionally more
mass. ``b`` is sized driver-side from the row count of the
checkpointed base so the stamp carries a literal shift; the oracles
evaluate the same rule from :func:`cell_bits_sql`. Each operator keeps
its own join and verification (knn joins on ``!=``, ngram on ``<``
plus length bands).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..checkpointing import truncate_lineage

TARGET_CELL = 64
MIN_BITS = 3
MAX_BITS = 18  # cells = 2^b ≤ 2^MAX_BITS


def cell_bits(n: int) -> int:
    """b for a corpus of ``n`` rows; n = 0 clamps like n = 1. Powers of
    two land exactly (log2 is exact there in IEEE double — the property
    the SQL mirror relies on)."""
    return min(
        MAX_BITS,
        max(MIN_BITS, math.ceil(math.log2(max(n, 1) / float(TARGET_CELL)))),
    )


def cell_bits_sql() -> str:
    """:func:`cell_bits` as a DuckDB aggregate over the input rows.
    ``greatest(…, 1)`` is Python's ``max(n, 1)``: DuckDB refuses
    log2(0), so an empty corpus would error instead of clamping."""
    return (
        f"least({MAX_BITS}, greatest({MIN_BITS}, CAST(ceil(log2("
        f"greatest(count(*), 1) / {TARGET_CELL}.0)) AS INT)))"
    )


def cell_stamp(fp: Column, fp_bits: int, b: int) -> Column:
    """The cell: the ``b`` leading bits of a non-negative ``fp_bits``-wide
    fingerprint, ``fp >>> (fp_bits − b)``."""
    return F.shiftrightunsigned(fp, fp_bits - b).cast("bigint")


def celled_base(df: DataFrame, fp_col: str, fp_bits: int) -> DataFrame:
    """``df`` with its fingerprint column ``fp_col`` replaced by ``cell``,
    materialized ONCE. Both sides of a blocked self-join read the
    checkpoint, so the scan and the fingerprint pass run once instead
    of once per join side; only the literal-shift stamp runs per side.
    Data-sized → serialized + spillable (checkpointing.truncate_lineage).
    Eager: ONE job, the checkpoint, runs when the plan is built; an
    ``Observation`` on it counts the rows that size ``b``."""
    obs = Observation()
    base = truncate_lineage(
        df.observe(obs, F.count(F.lit(1)).alias("n")), footprint="data"
    )
    stamp = cell_stamp(F.col(fp_col), fp_bits, cell_bits(obs.get["n"]))
    return base.withColumn("cell", stamp).drop(fp_col)
