"""N-gram Jaccard near-dup detection with deterministic blocking —
the oracle-checkable exact twin of the MinHash path.

Where MinHash trades exactness for scale, this operator computes exact
token-set Jaccard inside explicit blocks (same language + similar
length), which is SQL-expressible and therefore DuckDB-verifiable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.text import tokens
from .cells import celled_base
from .simhash import BITS_MD5, md5_60, vote_fold


def jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
    build: str = "broadcast",
    set_repr: str = "auto",
) -> DataFrame:
    """Exact token-set Jaccard over within-block pairs.

    ``set_repr`` picks the token-set representation: ``"auto"`` probes
    the corpus vocabulary at plan-construction time (a cheap sampled
    bail-out first, then a full confirm only when the sample stays
    small — see _small_vocab), ``"array"`` skips the probe entirely,
    ``"bitmask"`` asserts a ≤63-token vocabulary and errors otherwise.

    Blocks on ``block_cols``; prunes pairs whose token counts differ by
    more than ``length_tolerance`` — a RECALL/COST blocking knob, not a
    free lunch (review r6): a true Jaccard ≥ t only bounds the sizes
    within factor 1/t, so losslessness requires tolerance ≥ 1/t − 1
    (≈1.86 at t=0.35 — far wider than the 0.2 default). The default
    deliberately trades tail recall (a short doc fully contained in a
    much longer one) for a ~3× smaller candidate set; pass
    ``length_tolerance=None`` to use the EXACT Jaccard length bound
    [n·t, n/t] and provably lose nothing. Containment-style duplication
    is the asymmetric operator's job (queries_adv.containment_pairs).
    Returns (id_a, id_b, jaccard).

    The edge set is the UNBLOCKED definition: every within-block pair
    that passes the length band and the threshold. It differs on
    purpose from the near_dup_clusters family, whose edges are this set
    restricted to simhash cells (``jaccard_pairs_celled``);
    near_dup_blocking_recall measures the gap.

    ``build`` picks the join strategy — both produce identical pairs:

    - ``"broadcast"``: broadcast the build side, repartition the probe
      side to full parallelism. The trap it avoids: block keys like
      `lang` have a HANDFUL of distinct values, so a shuffled self-join
      puts one language per task and leaves the rest of the cluster
      idle (measured 5/32 threads busy → >10× slowdown). Right whenever
      the hashed-token dictionary fits an executor (≈1 KB/doc).
    - ``"shuffle"``: for build sides too big to broadcast — adds a
      LOG-SCALE LENGTH BUCKET to the block key (any pair within the
      length tolerance is at most one bucket apart, so the probe side
      duplicates into bucket±1). Key cardinality becomes
      |blocks| × |length buckets|, restoring shuffle parallelism
      without losing a single qualifying pair.
    """
    # Adaptive set representation, chosen from a corpus statistic:
    #
    # - LOW-CARDINALITY VOCABULARY (≤ 63 distinct tokens corpus-wide —
    #   category/tag/enum-style columns, and this synthetic corpus):
    #   dictionary-encode each token set into ONE int64 bitmask;
    #   |A∩B| = bit_count(a&b). Two ALU ops per candidate pair instead
    #   of a hash-set intersection over ~2×|set| elements — measured
    #   ~4× on the pair stage — and the broadcast dictionary shrinks
    #   from ~1 KB/doc to 8 B/doc.
    # - otherwise: int64 xxhash64 token arrays (not strings — int
    #   compares measure 3× faster than string compares inside
    #   array_intersect at identical results; set SIZES are what
    #   Jaccard needs, and a 64-bit collision altering a size is
    #   ~1e-11 per document pair).
    #
    # Both paths produce identical (id_a, id_b, jaccard) — pinned
    # against brute-force ground truth for BOTH branches in
    # tests/test_ngram_repr.py (the oracle corpora are all small-vocab,
    # so without the forced-array test the fallback branch would be
    # unexercised).
    if set_repr == "array":
        vocab = None
    else:
        vocab = _small_vocab(df, text_col, limit=63)
        if set_repr == "bitmask" and vocab is None:
            raise ValueError(
                "set_repr='bitmask' requires a ≤63-token corpus vocabulary"
            )
    if vocab is not None:
        mask = _bitmask_repr(vocab, text_col)
        base = df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in block_cols],
            mask.alias("toks"),
        ).withColumn("n_toks", F.bit_count("toks").cast("int"))
    else:
        # the one canonical token-set representation — shared with the
        # prefix path so the two cannot drift (review r6)
        base = _hashed_token_base(df, text_col, id_col, block_cols)

    if length_tolerance is None:  # exact lossless Jaccard length bound
        lo, hi = threshold, 1.0 / threshold
    else:
        lo, hi = 1.0 - length_tolerance, 1.0 + length_tolerance

    a_cols = [
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
    ]
    b_cols = [
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
    ]

    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cond = cond & F.col("n_b").between(F.col("n_a") * lo, F.col("n_a") * hi)

    if build == "broadcast":
        sc = df.sparkSession.sparkContext
        a = base.select(*a_cols).repartition(sc.defaultParallelism)
        joined = a.join(F.broadcast(base.select(*b_cols)), cond)
    elif build == "shuffle":
        # log-scale bucket with base B = max(hi, 1/lo): for any pair in
        # tolerance, |log_B(n_b/n_a)| ≤ 1, so floor buckets differ by at
        # most 1 — the probe side fans out to bucket±1 and the join is a
        # plain equi-join on (blocks…, bucket). (Base hi alone is WRONG:
        # log_hi(1/lo) > 1 when lo < 1/hi, silently dropping pairs.)
        if lo <= 0:
            # review r6, 11th pass: length_tolerance >= 1 makes the low
            # ratio unbounded — lo = 0 divides by zero here, and
            # lo < 0 silently picked base hi and DROPPED qualifying
            # pairs the broadcast build returns. No ±1 bucket fan-out
            # can cover an unbounded ratio; fail with the alternatives.
            raise ValueError(
                "jaccard_pairs_blocked(build='shuffle'): "
                f"length_tolerance={length_tolerance} leaves the length "
                "ratio unbounded below (lo <= 0) — use build='broadcast' "
                "or length_tolerance=None (the exact Jaccard bound)"
            )
        base_b = max(hi, 1.0 / lo)
        bucket = F.floor(
            F.log(F.greatest(F.col("n_toks"), F.lit(1)).cast("double"))
            / math.log(base_b)
        )
        a = base.select(*a_cols, bucket.alias("__lb")).withColumn(
            "__lb", F.explode(F.array(F.col("__lb") - 1, F.col("__lb"), F.col("__lb") + 1))
        )
        b = base.select(*b_cols, bucket.alias("__lb"))
        joined = a.join(b, on=(cond & (a["__lb"] == b["__lb"]))).drop("__lb")
    else:
        raise ValueError(f"build must be 'broadcast' or 'shuffle', got {build!r}")

    if vocab is not None:
        inter = F.bit_count(
            F.col("toks_a").bitwiseAND(F.col("toks_b"))
        ).cast("double")
    else:
        inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    # |A∪B| = |A| + |B| − |A∩B| for the DISTINCT sets — arithmetic,
    # not a second per-pair pass (array_union costs as much as
    # array_intersect and its size is implied)
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bitmask_repr(vocab: list[str], text_col: str):
    """(mask_expr, n_toks_expr) for the ≤63-token dictionary encoding —
    shared by the blocked and celled pair builders so the two cannot
    drift. bit = 2^(dict position): pow(2, k) is a power of two, exactly
    representable in double for k ≤ 62, so the long cast is exact
    (shiftleft would be the obvious tool but only takes a literal shift
    amount). Out-of-dictionary tokens fail LOUDLY: array_position
    returns 0 for a miss, and without the guard pow(2,-1)=0.5 casts to
    0 — the token would silently encode to NO bit and corrupt every
    Jaccard it touches. A miss is only possible if the data drifts
    between the plan-time _small_vocab collect and execution
    (nondeterministic source, re-executed lineage) — exactly the case
    that must not pass silently (ADVICE r04)."""
    vlit = F.array(*[F.lit(v) for v in vocab])

    def _bit(acc, t):
        # bind array_position's result to a lambda variable so the
        # O(|vocab|) scan runs ONCE per token — referencing the
        # expression twice (guard + value) would evaluate it twice,
        # since subexpression elimination doesn't reach inside
        # higher-order-function lambdas
        bit_of = lambda p: F.when(  # noqa: E731
            p == 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "bitmask set_repr: token absent from the "
                        "probed vocabulary (data changed between "
                        "planning and execution): "
                    ),
                    t,
                )
            ).cast("long"),
        ).otherwise(
            F.pow(F.lit(2.0), (p - 1).cast("double")).cast("long")
        )
        return acc.bitwiseOR(
            F.element_at(
                F.transform(F.array(F.array_position(vlit, t)), bit_of), 1
            )
        )

    mask = F.aggregate(
        F.array_distinct(tokens(text_col)),
        F.lit(0).cast("long"),
        _bit,
    )
    return mask


def _small_vocab(
    df: DataFrame, text_col: str, limit: int = 63
) -> list[str] | None:
    """The corpus-wide sorted token vocabulary if it has ≤ ``limit``
    distinct tokens, else None.

    Two-phase so large-vocab corpora (which then take the array path
    anyway) don't pay a full tokenize pass for the probe: a 200-doc
    sample usually exceeds the limit immediately and bails; only a
    sample that stays small triggers the full-corpus confirm — exactly
    the case where the bitmask encoding will repay it. The dictionary
    must be COMPLETE (an out-of-dictionary token would silently drop
    from the mask), hence the confirm pass. Driver transfer is bounded
    at limit+1 rows in both phases; pass set_repr='array' upstream to
    skip probing entirely."""
    # Phase 1 — cheap bail-out: collect 200 raw texts (ONE CollectLimit
    # job reading ~a partition at any scale) and count distinct tokens
    # driver-side. Purely heuristic, so the Python whitespace split need
    # not match tokens() exactly: an overcount bails to the array path
    # (identical results, no bitmask), an undercount falls through to
    # the authoritative confirm below. The previous shape — explode →
    # distinct → limit stacked ABOVE a mid-plan limit(200) — paid a
    # single-partition exchange plus CollectLimit's incremental job
    # rounds and measured SLOWER than the full confirm pass itself
    # (0.9 s vs 0.45 s warm at sf0.1 — r11, guide §1).
    sample_rows = (
        df.select(F.col(text_col).cast("string").alias("t"))
        .limit(200)
        .collect()
    )
    seen: set[str] = set()
    for r in sample_rows:
        seen.update((r["t"] or "").split())
        if len(seen) > limit:
            return None
    # Phase 2 — full-corpus confirm (the dictionary must be COMPLETE):
    # one pass, driver transfer bounded at limit+1 rows.
    sample = (
        df.select(F.explode(F.array_distinct(tokens(text_col))).alias("t"))
        .distinct()
        .limit(limit + 1)
        .collect()
    )
    if len(sample) > limit:
        return None
    return sorted(r["t"] for r in sample)


def _hashed_token_base(df: DataFrame, text_col: str, id_col: str, block_cols):
    toks_hashed = F.transform(
        F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)
    )
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        toks_hashed.alias("toks"),
    ).withColumn("n_toks", F.size("toks"))


# --- simhash-cell blocking (near_dup_clusters family, r12 re-scope) -------
#
# The exact within-(lang, length) pair join is quadratic BY DEFINITION on a
# dense corpus: at sf0.1 the median within-block Jaccard is 0.78, so the
# TRUE edge set itself is Θ(|block|²) (1.53 M pairs over 5 000 docs) and the
# 40× deep capture OOM'd the pair aggregate (r11 adjudication). The fix is
# the knn_graph playbook: a closed-form cell both engines evaluate bounds
# the scored-pair mass linearly, and the oracle mirrors the blocking
# bit-for-bit (the cell rule lives in dedup/cells.py). The fingerprint is a
# SET-simhash (majority vote over the DISTINCT token hashes, so identical
# token sets ⇒ identical fingerprint ⇒ same cell: J = 1 pairs are co-celled
# with probability 1, the structural guarantee dedup needs). Graded recall
# decays with J and is MEASURED, not assumed (near_dup_blocking_recall) —
# the honest-floor policy knn_graph set.


def set_simhash_hashes(text_col: str) -> Column:
    """Input of the SET-simhash: the md5-prefix hashes of the DISTINCT
    tokens (simhash.md5_60 — byte-portable to DuckDB). Fold it with
    ``simhash.vote_fold(…, BITS_MD5)``: votes are per distinct token,
    so the fingerprint is a function of the token SET, matching the
    Jaccard the cells block for."""
    return md5_60(F.array_distinct(tokens(text_col)))


def jaccard_pairs_celled(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
    set_repr: str = "auto",
) -> DataFrame:
    """Exact token-set Jaccard restricted to SIMHASH CELLS — the
    bounded-mass near-dup edge definition (module comment above).

    Same verification as ``jaccard_pairs_blocked`` (same set_repr probe,
    same length tolerance, same threshold), but a pair additionally
    requires ``cell_a == cell_b`` where cell = the leading b bits of the
    portable set-simhash and b adapts to the corpus size
    (dedup/cells.py). The join is a plain (blocks…, cell) equi-join —
    key cardinality 2^b restores shuffle parallelism that lang-only
    blocks never had, and AQE skew-join splits an oversized cell.
    NULL-text docs carry no fingerprint and emit no pair (the simhash
    rule)."""
    if set_repr == "array":
        vocab = None
    else:
        vocab = _small_vocab(df, text_col, limit=63)
        if set_repr == "bitmask" and vocab is None:
            raise ValueError(
                "set_repr='bitmask' requires a ≤63-token corpus vocabulary"
            )

    from ..parallelism import fan_out

    # the md5+fold fingerprint pass is CPU-dominant
    nn = fan_out(df.filter(F.col(text_col).isNotNull()))
    if vocab is not None:
        toks_repr = _bitmask_repr(vocab, text_col)
        n_expr = F.bit_count("toks")
    else:
        toks_repr = F.transform(
            F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)
        )
        n_expr = F.size("toks")
    hashed = nn.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        toks_repr.alias("toks"),
        set_simhash_hashes(text_col).alias("__h"),
    )
    base = celled_base(
        hashed.select(
            "id",
            *block_cols,
            "toks",
            n_expr.cast("int").alias("n_toks"),
            vote_fold("__h", BITS_MD5).alias("__fp"),
        ),
        "__fp",
        BITS_MD5,
    )

    if length_tolerance is None:
        lo, hi = threshold, 1.0 / threshold
    else:
        lo, hi = 1.0 - length_tolerance, 1.0 + length_tolerance

    a = base.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
        F.col("cell").alias("cell_a"),
    )
    bs = base.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
        F.col("cell").alias("cell_b"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (F.col("cell_a") == F.col("cell_b"))
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cond = cond & F.col("n_b").between(F.col("n_a") * lo, F.col("n_a") * hi)
    joined = a.join(bs, cond)

    if vocab is not None:
        inter = F.bit_count(
            F.col("toks_a").bitwiseAND(F.col("toks_b"))
        ).cast("double")
    else:
        inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
    base: DataFrame | None = None,
) -> DataFrame:
    """PPJoin-style candidate generation (Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection", WWW'08 — the public
    prefix-filtering principle): order every token set by a global
    rarest-first canonical order, keep only the first
    ``n − ⌈t·n⌉ + 1`` tokens (the PREFIX), and equi-join docs on shared
    prefix tokens. Soundness: J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉,
    and a set whose prefix missed every intersection element would have
    to fit all of them in its ⌈t·n⌉−1 suffix slots — contradiction. So
    every qualifying pair shares ≥1 prefix token, while non-dup pairs
    rarely share RARE tokens — the candidate set shrinks from
    |block|² to Σ_rare-token |posting list|².

    Rarest-first is what makes it work: token order = ascending global
    document frequency, so prefixes hold a doc's most discriminative
    tokens and hot-token posting lists stay out of the index. One extra
    aggregation (the df table) + one join buys that — both plain
    shuffles on token hash, no skew (the head of a Zipf vocabulary is
    exactly what the prefix EXCLUDES).

    Returns distinct (id_a, id_b) candidates — a superset of the
    qualifying pairs under the same block + length predicates as
    ``jaccard_pairs_blocked``; verification stays the caller's job.
    ``base``: a pre-built (ideally lineage-truncated) token base — the
    tokenize+hash pass fans out three ways below (df table, rarest-first
    re-sort, prefix explode), so callers that already hold the base
    should pass it instead of paying the rebuild (review r6).
    """
    if base is None:
        base = _hashed_token_base(df, text_col, id_col, block_cols)
    if length_tolerance is None:  # exact lossless Jaccard length bound
        lo, hi = threshold, 1.0 / threshold
    else:
        lo, hi = 1.0 - length_tolerance, 1.0 + length_tolerance

    tok_df = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df_"))
    )
    # re-sort each doc's tokens rarest-first; (df_, tok) struct sort makes
    # the order total and deterministic across engines/partitionings
    ordered = (
        base.select("id", F.explode("toks").alias("tok"))
        .join(tok_df, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_", "tok"))),
                lambda s: s["tok"],
            ).alias("toks_rare_first")
        )
    )
    prefix_len = F.col("n_toks") - F.ceil(F.lit(threshold) * F.col("n_toks")) + 1
    pref = (
        base.select("id", *block_cols, "n_toks")
        .join(ordered, "id")
        .select(
            "id",
            *block_cols,
            "n_toks",
            F.explode(F.slice("toks_rare_first", 1, prefix_len)).alias("ptok"),
        )
    )
    a = pref.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("n_toks").alias("n_a"),
        "ptok",
    )
    b = pref.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("n_toks").alias("n_b"),
        "ptok",
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cond = cond & F.col("n_b").between(F.col("n_a") * lo, F.col("n_a") * hi)
    return a.join(b, on="ptok").filter(cond).select("id_a", "id_b").distinct()


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
) -> DataFrame:
    """Exact Jaccard pairs via prefix-filtered candidates — identical
    output to ``jaccard_pairs_blocked`` (property-tested), with the
    all-pairs-within-block candidate set replaced by the PPJoin prefix
    index. The scale path when blocks are large and near-dup density is
    low: candidate count tracks the number of genuinely-similar pairs,
    not |block|².

    The tokenize+hash base is built ONCE, lineage-truncated, and shared
    by the candidate index and the verify join — it previously ran
    ~4-5× per call (review r6)."""
    from ..checkpointing import truncate_lineage

    # per-doc token-hash arrays: O(corpus) mass → serialized + spillable
    # (ADVICE r10: the footprint='data' rollout missed this site)
    base = truncate_lineage(
        _hashed_token_base(df, text_col, id_col, block_cols), footprint="data"
    )
    cand = prefix_candidates(
        df, text_col, id_col, block_cols, length_tolerance, threshold, base=base
    )
    sets = base.select("id", "toks", "n_toks")
    joined = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("toks").alias("toks_a"),
            F.col("n_toks").alias("n_a"),
        ),
        "id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("toks").alias("toks_b"),
            F.col("n_toks").alias("n_b"),
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
