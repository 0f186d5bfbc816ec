"""SimHash near-duplicate detection, DataFrame-native.

64-bit SimHash: each token votes ±1 on each bit of its xxhash64; the
fingerprint's bit i is 1 iff the summed vote is positive. Near-dups are
pairs within a Hamming-distance radius, found by the standard
pigeonhole blocking: split the 64 bits into (radius+1) bands — two
fingerprints within ``radius`` must agree exactly on ≥1 band.

Scale shape: explode(tokens) → hash once per token → ONE vectorized
groupBy(doc) aggregate computing all 64 bit-counts (map-side partial
aggregation; one shuffle on doc_id). Band blocking is a second groupBy
on 16-bit keys. No all-pairs product, no per-document folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.text import tokens

BITS = 64

# Portable hash variant: 60 bits from the md5 hex prefix. Any uniform
# bit source works for SimHash; md5 is the one hash BOTH Spark and
# DuckDB expose byte-identically, which makes the whole fingerprint —
# and therefore the full near-dup pair set — reproducible in ANSI SQL
# and oracle-checkable by value. xxhash64 stays the default scale path
# (one 64-bit mix vs a full md5 per token).
BITS_MD5 = 60


def md5_60(toks: Column) -> Column:
    """Per-token 60-bit hashes from the md5 hex prefix (``BITS_MD5``)."""
    return F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10
        ).cast("bigint"),
    )


def _token_hashes(text_col: str | Column, hash_fn: str) -> tuple[Column, int]:
    """Array of per-token hashes (duplicates preserved — each
    occurrence votes) and the usable bit width."""
    toks = tokens(text_col)
    if hash_fn == "xxhash64":
        return F.transform(toks, lambda t: F.xxhash64(t)), BITS
    if hash_fn == "md5_60":
        return md5_60(toks), BITS_MD5
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5_60', got {hash_fn!r}")


def vote_fold(hashes: str, bits: int) -> Column:
    """The SimHash majority vote over the hash-array column ``hashes``:
    bit i (< ``bits``) is 1 iff more than half of the hashes have it
    set. A per-row fold — ``aggregate`` over bit indices,
    ``filter``/``size`` for the vote count — so no explode and no
    shuffle. The sign bit is safe: ``shiftleft(1L, 63)`` wraps to
    Long.MIN_VALUE and is combined with OR, never addition."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, "
        "(acc, i) -> acc | IF("
        f"2 * size(filter({hashes}, h -> (h >> i) & 1 = 1)) > size({hashes}), "
        "shiftleft(1L, i), 0L))"
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, fp) with fp = SimHash of the token stream (duplicate tokens
    vote once per occurrence, standard weighting). ``hash_fn``:
    ``"xxhash64"`` (64-bit, fast default) or ``"md5_60"`` (60-bit,
    byte-portable to DuckDB/ANSI SQL for oracle checking).

    ZERO-SHUFFLE: the majority vote per bit is a per-row fold over the
    token-hash array (nested higher-order functions — ``aggregate``
    over bit indices, ``filter``/``size`` for the vote count), not an
    explode + per-doc bit-count aggregate. The earlier exploded form
    shuffled one row per token occurrence just to count bits of values
    that never leave their row; at 100 TB that was the pipeline's only
    data-sized shuffle (banding shuffles 64-bit fingerprints)."""
    from ..parallelism import fan_out

    # the per-row 60/64-bit vote fold is CPU-dominant — guard against
    # low-split sources serializing it (see parallelism.fan_out)
    df = fan_out(df)
    hashes, bits = _token_hashes(text_col, hash_fn)
    # NULL-text docs are EXCLUDED (review r6, 11th pass): tokens(NULL)
    # is NULL, and under ANSI the vote IF() then takes the 0L branch on
    # every bit — all null-text docs would share fp=0, band together,
    # and be reported as hamming-0 "duplicates" of each other. No text
    # ⇒ no fingerprint ⇒ no pair (the exact_dedup null rule).
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), hashes.alias("__h"))
        .select(F.col(id_col), vote_fold("__h", bits).alias("fp"))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a^b)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    radius: int = 3,
    max_bucket: int | None = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with Hamming distance ≤ radius, via pigeonhole band blocking
    ((radius+1) bands of bits/(radius+1) bits → exact recall: a pair
    within ``radius`` differs in ≤ radius bands, so ≥1 band matches
    exactly; bits the flooring leaves uncovered only COARSEN buckets,
    never drop a qualifying pair).

    ``max_bucket`` is a RECALL trade, not a free knob: a dropped
    overfull bucket can hide a qualifying pair whose every matching
    band overflowed. Wide radii make this concrete — radius 12 leaves
    60//13 = 4-bit bands (16 keys), so ANY corpus beyond ~16k docs
    overfills every bucket. Pass ``None`` for exact recall (the
    oracle-checked configuration); keep a cap only when degenerate
    buckets (mass-duplicate content that belongs to exact dedup first)
    would otherwise blow up the pair fan-out, and prefer a narrower
    radius with wider bands at scale."""
    n_bands = radius + 1
    bits = BITS_MD5 if hash_fn == "md5_60" else BITS
    width = bits // n_bands
    fp = simhash_fingerprints(df, text_col, id_col, hash_fn)

    band = lambda b: F.shiftrightunsigned(F.col("fp"), b * width).bitwiseAND(  # noqa: E731
        F.lit((1 << width) - 1)
    )
    banded = fp.select(
        id_col,
        "fp",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band(b).alias("key")) for b in range(n_bands)])
        ).alias("bb"),
    ).select(id_col, "fp", "bb.band", "bb.key")

    # size-gate BEFORE materializing any (id, fp) list (review r6, same
    # fix as minhash.lsh_candidate_pairs): the window count spills; an
    # unfiltered collect_list on a degenerate bucket builds the whole
    # array in one aggregation buffer. With max_bucket=None (exact
    # recall) the quadratic pair fan-out of a giant bucket remains — the
    # docstring's documented trade — but the list itself still only
    # materializes for buckets that pass the n>1 gate.
    wb = Window.partitionBy("band", "key")
    gated = banded.withColumn("n", F.count("*").over(wb)).filter(
        (F.col("n") > 1)
        if max_bucket is None
        else ((F.col("n") > 1) & (F.col("n") <= max_bucket))
    )
    buckets = gated.groupBy("band", "key").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("fp"))).alias("docs")
    )
    pairs = (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("docs"),
                            lambda a: F.transform(
                                F.col("docs"),
                                lambda b: F.struct(
                                    a["id"].alias("id_a"), b["id"].alias("id_b"),
                                    a["fp"].alias("fp_a"), b["fp"].alias("fp_b"),
                                ),
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.fp_a", "p.fp_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", hamming64(F.col("fp_a"), F.col("fp_b")))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )
