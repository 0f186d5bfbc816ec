"""MinHash + LSH near-duplicate detection, DataFrame-native.

Pipeline (all Catalyst expressions — no UDFs, no Spark-ML dependency):
  shingle:   text → tokens → k-token shingles hashed DIRECTLY to int64
             (xxhash64 over an arrays_zip struct of k shifted slices —
             no per-shingle string concatenation ever materializes)
  family:    g_i(h) = (a_i*h + b_i) mod p  (universal hashing — cheap
             multiply-add per function instead of 64 string re-hashes;
             a_i,b_i from a fixed-seed PRNG, so fully deterministic)
  minhash:   per-row array folds — array_min(transform(shingles, g_i))
             for each of the 64 functions, plus the bottom-k sketch
             from the same array (ZERO shuffle: mins never need values
             from other rows)
  banding:   signature split into b bands of r rows; band hash = xxhash64
  candidate: explode bands → groupBy (band_idx, band_hash) → pairs
  verify:    Jaccard on bottom-k (KMV) sketches of the int shingle-hash
             sets of candidate pairs — exact while the pair's union fits
             the sketch, ±O(1/√k) beyond (array_intersect on int64;
             31-bit collisions shift Jaccard by < 1e-3, far under any
             useful threshold)

Scale: shuffles are (a) the signature/set groupBy on doc id (map-side
combine reduces each partition to one row per doc), (b) the band-bucket
groupBy (uniform 64-bit keys), (c) the candidate-pair join back to the
shingle sets (pair side is small → AQE broadcasts it). No all-pairs
product ever materializes; bucket skew is bounded by ``max_bucket``
(degenerate buckets — e.g. thousands of empty docs — belong to exact
dedup, not LSH).

31-bit masking keeps every product under 2^62: safe under ANSI-mode
bigint arithmetic (no overflow), while 2M+ distinct shingle hashes keep
collision probability per hash function ~1e-3 — irrelevant to a min
over hundreds of shingles.

Probability a pair with Jaccard s becomes a candidate: 1-(1-s^r)^b
(the standard S-curve; r=4, b=16 → ~0.5 crossover at s≈0.5).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..checkpointing import truncate_lineage
from ..functions.text import tokens
from ..parallelism import fan_out

_MASK31 = 0x7FFFFFFF
_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def shingle_hashes(text: str | Column, k: int = 3) -> Column:
    """Distinct 31-bit hashes of the k-token shingles of ``text``
    (array<bigint>), computed without building shingle strings:
    zip the token array with its k-1 shifted copies and xxhash64 each
    struct row. Documents shorter than k tokens hash their full token
    struct (one shingle), so no document silently drops out.
    """
    toks = tokens(text)
    n = F.size(toks)
    win = n - (k - 1)  # number of length-k windows
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, win) for i in range(k)])
    full = F.slice(toks, 1, k)  # short-doc fallback: all (< k) tokens
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(zipped, lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK31))),
        ).otherwise(F.array(F.xxhash64(full).bitwiseAND(F.lit(_MASK31))))
    )


def _hash_family(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) multiply-add coefficients."""
    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]


def signatures_and_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    max_set_size: int | None = None,
    shingle_col: Column | None = None,
) -> DataFrame:
    """(id, minhash[num_hashes], sh_set) as ONE narrow projection over
    each row's shingle-hash array — signatures and the verification
    sketch come from the same array, no aggregation anywhere.

    ``shingle_col`` overrides the default token-shingle hasher with a
    caller-supplied ``array<bigint>`` of 31-bit element hashes — the
    hook that lets the edit-distance LSH prefilter (dedup/editjoin.py)
    minhash CHARACTER q-grams through the identical signature fold
    instead of duplicating it.

    ``max_set_size`` bounds sh_set to the k SMALLEST hashes — a bottom-k
    (KMV) sketch. Memory bound per doc downstream: 64 ints +
    max_set_size ints, independent of document length (a 100 TB corpus
    of book-length docs would otherwise make sh_set the row-size hot
    spot through the checkpoint and both verify joins).
    ``kmv_jaccard`` stays EXACT whenever |A ∪ B| ≤ max_set_size and is
    the standard ±O(1/√k) KMV estimate beyond it.

    ZERO-SHUFFLE: signatures are per-row array folds
    (``array_min(transform(...))`` per hash function), not an
    explode + groupBy — the earlier exploded form shuffled one row per
    (doc, shingle) just to take per-doc mins of values that never
    leave their row. Same math, same outputs, narrow map only; at
    100 TB this deletes the largest shuffle of the MinHash pipeline
    (the banding/bucket shuffles that follow carry 64-int signatures,
    not shingle streams).

    One SQL string for all 64 folds instead of 64 Column trees: each
    Column-tree fold costs ~6 py4j driver→JVM round trips, ~400 total;
    a single expr() parses JVM-side in one call (measured 8× faster
    construction at identical plans).
    """
    arr = "array(" + ",".join(
        f"array_min(transform(__sh, h -> (h * {a}L + {b}L) % {_P}L))"
        for a, b in _hash_family(num_hashes)
    ) + ")"
    sh: Column = F.col("__sh")
    if max_set_size is not None:
        sh = F.slice(F.array_sort(sh), 1, max_set_size)
    # 64 folds per row over the shingle array is the pipeline's heaviest
    # map — guard against low-split sources (single-row-group files, few
    # huge gzips) serializing it on a handful of cores
    shingles = shingle_col if shingle_col is not None else shingle_hashes(text_col, k)
    return (
        fan_out(df)
        .select(F.col(id_col), shingles.alias("__sh"))
        .select(F.col(id_col), F.expr(arr).alias("minhash"), sh.alias("sh_set"))
    )


def kmv_jaccard(
    set_a: Column | str, set_b: Column | str, max_set_size: int | None
) -> Column:
    """Jaccard from two bottom-k shingle sketches (Beyer et al. 2007 /
    MMDS §3.3): with M = the k smallest of A_k ∪ B_k (itself a bottom-k
    sketch of A ∪ B), J ≈ |M ∩ A_k ∩ B_k| / |M|. Exact when the true
    union fits in k (slice returns the whole union); ±O(1/√k) otherwise.
    ``max_set_size=None`` ⇒ plain exact Jaccard over full sets."""
    a, b = F.col(set_a) if isinstance(set_a, str) else set_a, (
        F.col(set_b) if isinstance(set_b, str) else set_b
    )
    union = F.array_union(a, b)
    # try_divide: two empty shingle sets give |union| = 0, and under
    # ANSI a plain division would crash the whole near-dup job on one
    # degenerate doc pair; NULL (undefined similarity) fails the
    # J >= threshold filter on both engines (DuckDB 0/0 is NULL too)
    if max_set_size is None:
        inter = F.size(F.array_intersect(a, b)).cast("double")
        return F.try_divide(inter, F.size(union).cast("double"))
    m = F.slice(F.array_sort(union), 1, max_set_size)
    inter = F.size(F.array_intersect(F.array_intersect(m, a), b))
    return F.try_divide(inter.cast("double"), F.size(m).cast("double"))


def band_table(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bh) — one row per (doc, band) with the band's bucket
    hash. This is the persistable LSH index relation: band it once for
    a corpus, store it, and every later batch joins its own band table
    against it (see cross_near_dups)."""
    r = num_hashes // bands
    # single parsed expression for all bands (see signatures_and_sets on
    # why: one py4j call instead of bands × r Column-tree round trips)
    band_structs = ",".join(
        "struct({b} as band, xxhash64({b}, {cols}) as bh)".format(
            b=b, cols=",".join(f"minhash[{b * r + i}]" for i in range(r))
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col),
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over a signature table.

    Returns (id_a, id_b) with id_a < id_b, distinct across bands.

    ``max_bucket=None`` disables the bucket cap — full banding recall
    (same trade as simhash_near_dups: a dropped overfull bucket can
    hide a qualifying pair, so oracle-checked-by-value callers must
    not cap; the quadratic fan-out of a degenerate bucket is then the
    caller's documented trade, and mass-identical content belongs to
    exact dedup first anyway).
    """
    banded = band_table(sig, id_col, num_hashes, bands)

    # size-gate BEFORE materializing any id list (review r6): a window
    # count over the bucket key spills to disk, while collect_list on an
    # unfiltered degenerate bucket (millions of identical/empty docs)
    # builds the whole array in ONE aggregation buffer — the exact OOM
    # the cap advertises to prevent. The window leaves the relation
    # partitioned on (band, bh), so the follow-up aggregate adds no
    # second shuffle.
    w = Window.partitionBy("band", "bh")
    gated = banded.withColumn("n", F.count("*").over(w)).filter(
        (F.col("n") > 1)
        if max_bucket is None
        else ((F.col("n") > 1) & (F.col("n") <= max_bucket))
    )
    buckets = (
        gated.groupBy("band", "bh")
        .agg(F.collect_list(id_col).alias("ids"))
        .withColumn("ids", F.array_sort("ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(F.col("ids"), lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    return pairs


def verified_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_set_size: int | None = 8192,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: candidates from LSH
    banding, verified with (bottom-k-sketched) Jaccard over int
    shingle-hash sets. Returns (id_a, id_b, jaccard) for pairs ≥
    threshold.

    ``max_set_size`` caps per-doc verification memory (see
    signatures_and_sets): the default 8192 keeps verification EXACT for
    any pair whose union has ≤ 8192 distinct shingles (~6k words of
    running text) and KMV-estimated within ~1% beyond — long documents
    no longer carry unbounded sh_set arrays through the shuffle/joins.
    ``None`` restores full exact sets.

    The signatures+sets frame fans out three ways (banding + two
    verification joins), so it is materialized ONCE via
    ``truncate_lineage`` — measured 3× faster cold than recomputing the
    shingle aggregation per consumer (`.persist()` alone measured
    slower: it re-optimizes the full plan per consumer; the checkpoint
    truncates it). ``checkpoint_dir=None`` keeps the fast local
    checkpoint; pass a DFS path on a real cluster (local blocks die with
    their executor). The frame stays resident for the session (callers
    holding many of these can `.unpersist()` the result's lineage when
    done).
    """
    ss = truncate_lineage(
        signatures_and_sets(df, text_col, id_col, k, num_hashes, max_set_size),
        checkpoint_dir,
        footprint="data",
    )
    pairs = lsh_candidate_pairs(
        ss.select(id_col, "minhash"), id_col, num_hashes, bands
    )
    sets = ss.select(F.col(id_col), "sh_set")
    joined = (
        pairs.join(sets.withColumnsRenamed({id_col: "id_a", "sh_set": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh_set": "sh_b"}), "id_b")
    )
    return (
        joined.withColumn("jaccard", kmv_jaccard("sh_a", "sh_b", max_set_size))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_near_dups(
    index: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_set_size: int | None = 8192,
    max_bucket: int = 1000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Incremental dedup: near-dups of ``incoming`` docs AGAINST an
    ``index`` corpus (not within either side) — the arrival-batch shape
    of a training-data pipeline, where each new crawl slice dedups
    against everything already accepted.

    Candidates come from joining the two band tables on (band, bh):
    only cross-side bucket collisions survive, so within-side pairs are
    never generated — at 100 TB the index band table is a precomputed,
    bucketed-on-(band, bh) relation that every arrival batch joins
    against without re-reading index text (band_table is that
    persistable index; this function recomputes it only because the
    engine owns no storage between queries).

    ``max_bucket`` applies the same degenerate-bucket guard as
    lsh_candidate_pairs, per side: an index bucket with M boilerplate
    collisions meeting an arrival bucket with N would otherwise emit
    M×N candidates per band — the all-pairs blowup this pipeline
    exists to avoid. Oversized buckets belong to exact dedup.

    Returns (id_new, id_index, jaccard) for verified pairs ≥ threshold.
    """
    ss_i = truncate_lineage(
        signatures_and_sets(index, text_col, id_col, k, num_hashes, max_set_size),
        checkpoint_dir,
        footprint="data",
    )
    ss_n = truncate_lineage(
        signatures_and_sets(incoming, text_col, id_col, k, num_hashes, max_set_size),
        checkpoint_dir,
        footprint="data",
    )
    def _capped(banded: DataFrame) -> DataFrame:
        big = (
            banded.groupBy("band", "bh")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "bh")
        )
        return banded.join(F.broadcast(big), ["band", "bh"], "left_anti")

    bi = _capped(
        band_table(ss_i.select(id_col, "minhash"), id_col, num_hashes, bands)
    )
    bn = _capped(
        band_table(ss_n.select(id_col, "minhash"), id_col, num_hashes, bands)
    )
    cand = (
        bn.withColumnRenamed(id_col, "id_new")
        .join(bi.withColumnRenamed(id_col, "id_index"), ["band", "bh"])
        .select("id_new", "id_index")
        .distinct()
    )
    sets_n = ss_n.select(F.col(id_col).alias("id_new"), F.col("sh_set").alias("sh_a"))
    sets_i = ss_i.select(
        F.col(id_col).alias("id_index"), F.col("sh_set").alias("sh_b")
    )
    return (
        cand.join(sets_n, "id_new")
        .join(sets_i, "id_index")
        .withColumn("jaccard", kmv_jaccard("sh_a", "sh_b", max_set_size))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_new", "id_index", "jaccard")
    )
