"""Edit-distance similarity join with q-gram prefix filtering — the
ED-Join design (Xiao, Wang, Lin: "Ed-Join: an efficient algorithm for
similarity joins with edit distance constraints", VLDB 2008), the
edit-metric sibling of the PPJoin prefix filter (Xiao, Wang, Lin, Yu:
"Efficient Similarity Joins for Near Duplicate Detection", WWW 2008).

Problem: all pairs within Levenshtein distance ≤ k. A blocked
cross-join is quadratic in the corpus (measured: the lang-blocked
form grew 34× at the 10× scale capture). The filter that breaks the
quadratic:

**Count bound.** One edit operation destroys at most ``q``
overlapping q-grams, so strings within edit distance k share all but
≤ k·q of their grams — as SETS: a destroyed duplicate occurrence
leaves the gram present in both sets, so
``|grams(a) ∖ grams(b)| ≤ k·q`` still holds.

**Prefix principle.** Order all grams by one GLOBAL total order
(ascending document frequency, gram text as tie-break — rarest
first) and take each string's first ``k·q + 1`` grams. If two sets
each differ from the other by ≤ k·q elements, their (k·q+1)-prefixes
under the same order must intersect. Contrapositive: candidate pairs
are exactly those sharing ≥ 1 PREFIX gram — an equi-join on
(block, gram) whose buckets are rare by construction (frequent grams
rank late and fall out of prefixes).

**Verification.** Banded Levenshtein ``levenshtein(a, b, k)`` — exact
distance for every pair at ≤ k, −1 beyond — over the deduplicated
candidates. Candidates ⊇ all true pairs (the theorem), so the output
is EXACTLY the brute join's.

**Short strings.** A string with < k·q + 1 grams (length < q·(k+1))
can have ALL its grams destroyed by k edits — the prefix theorem is
vacuous for it. Those rows take a separate blocked theta-join against
every row within the length band (edit distance ≥ length difference):
exact, and bounded by the short population, which real head/title
corpora keep tiny.

100 TB: one gram-frequency aggregate (vocab-bounded), one per-doc
top-(kq+1) window (partitioned by doc), one equi-join on rare keys,
one verification pass over candidates that tracks the TRUE pair count
rather than the corpus square.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _grams(col, q: int):
    """Distinct q-gram array of a string column (Catalyst, no UDF).
    The floor at 1 keeps sequence() ascending for sub-q strings (they
    yield their whole text as one clamped gram; callers route those
    through the short path anyway)."""
    n = F.length(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - q + 1, F.lit(1))),
            lambda i: col.substr(i, F.lit(q)),
        )
    )


def _short_blocked_pairs(b: DataFrame, short: DataFrame, k: int, min_long: int) -> DataFrame:
    """Exact pairs with >= 1 SHORT side (< q*(k+1) chars — below the
    prefix/LSH theorems' reach): blocked theta join with the short
    side broadcast, bounded by the short population. Shared by the
    exact (prefix-filtered) and approximate (LSH) join paths — both
    filters are vacuous or unreliable exactly here, so both route
    short strings through this brute leg. short x short pairs would
    appear from both sides: keep a<b; short x long keeps every
    orientation (the long side never re-emits it) then normalizes."""
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
    sa = short.select(
        F.col("id").alias("id_a"),
        F.col("blk").alias("blk_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a"),
    )
    ball = b.select(
        F.col("id").alias("id_b"),
        F.col("blk").alias("blk_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b"),
    )
    cond = (
        (F.col("blk_a") == F.col("blk_b"))
        & (F.col("id_a") != F.col("id_b"))
        & (F.abs(F.col("n_a") - F.col("n_b")) <= k)
        & ((F.col("n_b") >= min_long) | (F.col("id_a") < F.col("id_b")))
    )
    return (
        ball.join(F.broadcast(sa), cond)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist").between(0, k))
    )


# Bounded-work gate for the mid-band leg: when |mid rows| × |partner
# rows| is at or under this product, the leg takes ONE broadcast theta
# join + banded-Levenshtein verify (≤ this many O(|s|·k) evals — ~2 s
# of single-core work at the bound, spread across the cluster) instead
# of the 7-stage ED-Join prefix pipeline. Measured motivation (r11,
# OPTIMIZATION_r11.md): on the sf0.1 corpus the gram vocabulary is 978
# grams over 5 000 docs, so "rare-first" prefixes barely filter —
# 152 242 candidate pairs survive vs 620 000 brute pairs, i.e. the
# prefix machinery (explode → df aggregate → window → equi-join →
# distinct) costs ~6 sequential stages to avoid ~0.06 s of extra
# verify compute. Past the bound the prefix path runs unchanged, so
# worst-case work stays linear in the mid population — the gate makes
# the small-regime constant factor match the work, it never admits a
# corpus-fraction quadratic (the brute leg is capped BY the gate).
MID_BRUTE_MAX_PAIRS = 5_000_000


def _mid_exact_pairs(b: DataFrame, k: int, q: int) -> DataFrame:
    """Exact pairs with ≥ 1 side in the MID length band
    [q·(k+1), 2·k·q) — the LSH worst-case-Jaccard hole (ADVICE r10):
    just above the q·(k+1) cutoff, k scattered edits can push gram
    Jaccard down to (n − kq)/(n + kq) ≈ 0.06, where 16×4 banding
    catches a pair with probability ~2e-4. Rather than unconditional
    brute (|mid| × corpus is quadratic when mid is a corpus fraction),
    this is the ED-Join prefix filter with the LEFT join side
    RESTRICTED to mid rows: both sides have ≥ k·q + 1 grams
    (n ≥ q·(k+1)), so the prefix theorem applies and recall is
    structural — 1.0, not probabilistic. Candidate mass is
    Σ_gram |mid prefixes| × |partner prefixes|: linear prefix build
    over the ≤ 2kq + k length band, join output tracks the mid
    population, never corpus².

    SMALL-REGIME GATE (r11): when |mid| × |partners| ≤
    :data:`MID_BRUTE_MAX_PAIRS`, the leg is the broadcast blocked
    theta join instead (shared with the short leg) — verification is
    identical (banded Levenshtein, exact), candidates are the full
    band product (a superset of the prefix path's), so the emitted
    pair set is bit-identical; only the candidate-generation cost
    changes. The gate is ONE 2-column aggregate over the band.

    Emits (id_a < id_b, edit_dist), both sides ≥ q·(k+1), min side
    < 2·k·q — disjoint from both the short brute leg (min < q·(k+1))
    and the LSH leg (both sides ≥ 2·k·q)."""
    lo, hi = q * (k + 1), 2 * k * q
    # partner population: anything a mid row can pair with (|Δn| ≤ k)
    pop = b.filter((F.col("n") >= lo) & (F.col("n") <= hi - 1 + k))
    sizes = pop.agg(
        F.count("*").alias("n_pop"),
        F.count(F.when(F.col("n") < hi, F.lit(1))).alias("n_mid"),
    ).collect()[0]
    if sizes["n_mid"] * sizes["n_pop"] <= MID_BRUTE_MAX_PAIRS:
        mid = pop.filter(F.col("n") < hi)
        # min_long=hi: partner ≥ 2kq keeps every orientation (the LSH
        # leg never re-emits a mid pair), both-mid pairs dedupe a<b
        return _short_blocked_pairs(pop, mid, k, hi)
    grams = pop.select(
        "id", "blk", "n", F.explode(_grams(F.col("s"), q)).alias("gram")
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "gram")
    prefix = (
        grams.join(freq, "gram")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k * q + 1)
        .select("id", "blk", "n", "gram")
    )
    # Length-keyed candidate join (r11, measured at the 40× deep
    # capture): joining on (blk, gram) alone meets every
    # length-incompatible partner and filters |Δn| ≤ k only AFTER the
    # match — on a dense-vocabulary corpus that candidate mass is
    # quadratic (ednl fitted exponent 1.63 between 10× and 40×).
    # Exploding the SMALL mid side over its 2k+1 admissible partner
    # lengths turns the length bound into part of the equi-join key:
    # candidates_new = candidates_old ∩ {|Δn| ≤ k}, and the verify
    # phase already applied that filter, so the emitted pair set is
    # bit-identical — only candidate generation shrinks.
    pa = (
        prefix.filter(F.col("n") < hi)
        .select(
            F.col("id").alias("id_a"),
            "blk",
            "gram",
            F.explode(
                F.sequence(F.col("n") - k, F.col("n") + k)
            ).alias("n_b"),
        )
    )
    pb = prefix.select(
        F.col("id").alias("id_b"), "blk", "gram", F.col("n").alias("n_b")
    )
    cand = (
        pa.join(pb, ["blk", "gram", "n_b"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    va = pop.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a"),
    )
    vb = pop.select(
        F.col("id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b"),
    )
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            (F.abs(F.col("n_a") - F.col("n_b")) <= k)
            & (F.least("n_a", "n_b") < hi)
        )
        .select("id_a", "id_b", dist.cast("int").alias("edit_dist"))
        .filter(F.col("edit_dist").between(0, k))
    )


def edit_near_pairs(
    base: DataFrame,
    k: int = 8,
    q: int = 4,
    id_col: str = "doc_id",
    text_col: str = "head",
    block_col: str = "lang",
) -> DataFrame:
    """All (id_a < id_b) pairs within edit distance ≤ k, same block.
    ``base`` needs (id_col, block_col, text_col); returns
    (id_a, id_b, edit_dist int), exact (see module docstring)."""
    b = base.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(text_col).alias("s"),
        F.length(text_col).alias("n"),
    )
    min_long = q * (k + 1)  # n - q + 1 >= k*q + 1
    long = b.filter(F.col("n") >= min_long)
    short = b.filter(F.col("n") < min_long)

    grams = long.select(
        "id", "blk", F.explode(_grams(F.col("s"), q)).alias("gram")
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "gram")
    prefix = (
        grams.join(freq, "gram")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k * q + 1)
        .select("id", "blk", "gram")
    )
    pa = prefix.select(
        F.col("id").alias("id_a"), "blk", "gram"
    )
    pb = prefix.select(F.col("id").alias("id_b"), "blk", "gram")
    cand = (
        pa.join(pb, ["blk", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    la = long.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a"),
    )
    lb = long.select(
        F.col("id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b"),
    )
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
    long_pairs = (
        cand.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.abs(F.col("n_a") - F.col("n_b")) <= k)
        .select(
            "id_a", "id_b", dist.cast("int").alias("edit_dist")
        )
        .filter(F.col("edit_dist").between(0, k))
    )
    return long_pairs.unionByName(_short_blocked_pairs(b, short, k, min_long))


def edit_near_pairs_lsh(
    base: DataFrame,
    k: int = 8,
    q: int = 4,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "head",
    block_col: str = "lang",
    max_bucket: int | None = None,
) -> DataFrame:
    """LOOSE-threshold edit-distance near-dup pairs: MinHash-LSH over
    character q-grams generates candidates, banded Levenshtein
    verifies. Returns (id_a, id_b, edit_dist int), id_a < id_b, same
    block, edit_dist ≤ k.

    Why this path exists: ED-Join prefix filtering (edit_near_pairs
    above) provably breaks the quadratic at TIGHT thresholds, but at
    loose k its k·q+1 prefix is so wide that candidates exceed the
    blocked join's pairs — measured on the sf1 corpus at k=8, q=4:
    3.07 M prefix candidates vs 2.4 M brute pairs, i.e. filtering
    LOSES (r9 adjudication). The loose regime belongs to the
    approximate family instead:

    **Candidate generation (sub-quadratic).** Strings within edit
    distance k share all but ≤ k·q of their distinct q-grams per side,
    so their gram-set Jaccard is ≥ (n − kq)/(n + kq) in the worst case
    and far higher for real edits (measured on the sf0.1 corpus: every
    true d ≤ 8 pair over 64-char heads has J ≥ 0.92). MinHash-LSH with
    ``bands`` bands of ``num_hashes/bands`` rows catches a pair with
    probability 1 − (1 − J^rows)^bands — at J = 0.92, 16 bands × 4
    rows: 1 − (1 − 0.716)^16 ≈ 1 − 3e-9. Identical heads (the d = 0
    mass) have J = 1 and are caught with probability exactly 1.
    Bucket keys are 64-bit band hashes, so unrelated-doc collisions
    are vanishing and candidate volume tracks the TRUE near-dup count,
    not corpus²/blocks — the same scale shape as verified_near_dups.

    **Verification (exact).** Banded ``levenshtein(a, b, k)`` over the
    candidates — O(|s|·k) per pair, exact at ≤ k — then the block and
    |len diff| ≤ k filters. Every emitted pair is therefore truly
    within k; the LSH stage only bounds RECALL, and the recall
    certificate is measured, not assumed: the sf0.01 driver oracle is
    the exact brute join (value-hash ⇒ recall 1.0 there), the sf0.1
    measurement found 79/79 true pairs recovered, and
    tests/test_editjoin.py pins equality-to-brute on a synthetic
    mutation corpus with controlled d ≤ k structure.

    100 TB: one narrow map for signatures (per-row fold, zero
    shuffle), one banding shuffle of 64-int signatures, bucket-local
    pair expansion, one verify join bounded by true-pair volume. No
    stage touches corpus². ``max_bucket=None`` keeps full banding
    recall (the oracle-checked configuration); cap only when
    mass-identical content that belongs to exact dedup first would
    blow up one bucket.
    """
    from . import minhash

    b = base.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(text_col).alias("s"),
        F.length(text_col).alias("n"),
    )
    # Three-way split by a pair's MIN length (disjoint, union = all):
    # - min < q·(k+1): exact brute leg — k edits can destroy the whole
    #   gram set (J → 0), both theorems vacuous (review r10 finding).
    # - q·(k+1) ≤ min < 2·k·q: exact mid leg (_mid_exact_pairs) — LSH
    #   recall is only probabilistic here and its worst case is BAD:
    #   at n just above q·(k+1), k scattered edits give gram Jaccard
    #   as low as (n−kq)/(n+kq) ≈ 0.06, catch prob ~2e-4 at 16×4
    #   banding (ADVICE r10). The ED-Join prefix theorem holds (≥ kq+1
    #   grams per side), so this band is structural-recall instead.
    # - min ≥ 2·k·q: the LSH leg below. RESIDUAL MISS PROBABILITY as a
    #   function of n: worst-case J(n) = (n−kq)/(n+kq) ≥ 1/3 at
    #   n = 2kq, miss ≤ (1 − J(n)^(num_hashes/bands))^bands — at the
    #   default 16×4 that is ≤ 0.82 worst-case at the 2kq boundary but
    #   ≈ 3e-9 at the MEASURED J ≥ 0.92 of every real true pair in the
    #   graded corpora (scattered-edit adversarial pairs approach the
    #   worst case; natural near-dups sit near J = 1). The sf0.01
    #   driver oracle is the exact brute join, so recall is
    #   re-certified every round.
    min_long = q * (k + 1)
    mid_hi = 2 * k * q
    long = b.filter(F.col("n") >= mid_hi)
    short = b.filter(F.col("n") < min_long)
    mid_pairs = _mid_exact_pairs(b, k, q)
    gram_hashes = F.transform(
        _grams(F.col("s"), q),
        lambda g: F.xxhash64(g).bitwiseAND(F.lit(minhash._MASK31)),
    )
    sig = minhash.signatures_and_sets(
        long, id_col="id", num_hashes=num_hashes, shingle_col=gram_hashes
    ).select("id", "minhash")
    cand = minhash.lsh_candidate_pairs(
        sig,
        id_col="id",
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=max_bucket,
    )
    sa = long.select(
        F.col("id").alias("id_a"),
        F.col("blk").alias("blk_a"),
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a"),
    )
    sb = long.select(
        F.col("id").alias("id_b"),
        F.col("blk").alias("blk_b"),
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b"),
    )
    dist = F.levenshtein(F.col("s_a"), F.col("s_b"), k)
    long_pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (F.col("blk_a") == F.col("blk_b"))
            & (F.abs(F.col("n_a") - F.col("n_b")) <= k)
        )
        .select("id_a", "id_b", dist.cast("int").alias("edit_dist"))
        .filter(F.col("edit_dist").between(0, k))
    )
    return long_pairs.unionByName(mid_pairs).unionByName(
        _short_blocked_pairs(b, short, k, min_long)
    )
