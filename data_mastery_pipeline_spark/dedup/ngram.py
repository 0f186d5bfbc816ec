"""N-gram Jaccard near-dup detection with deterministic blocking —
the oracle-checkable exact twin of the MinHash path.

Where MinHash trades exactness for scale, this operator computes exact
token-set Jaccard inside explicit blocks (same language + similar
length), which is SQL-expressible and therefore DuckDB-verifiable.

Every pair builder is filter-then-verify over one token-set encoding:
:func:`token_sets` picks the encoding, :func:`band_join_sides` builds
the suffixed a/b sides plus the ``id_a < id_b`` + block + length-band
condition, and :func:`jaccard_filter` keeps the pairs whose
``|A∩B| / |A∪B|`` reaches the threshold. Each caller keeps its own
join strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.text import tokens
from .cells import celled_base
from .simhash import BITS_MD5, md5_60, vote_fold

# (toks, n, inter): the per-doc token-set column, its set size over a
# column named "toks", and |A∩B| as a double over "toks_a"/"toks_b"
TokenSets = tuple[Column, Column, Column]


def jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_tolerance: float | None = 0.2,
    threshold: float = 0.35,
) -> DataFrame:
    """Exact token-set Jaccard over within-block pairs.

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

    The join broadcasts the b side and repartitions the a side to full
    parallelism. Block keys like `lang` have a HANDFUL of distinct
    values, so a shuffled self-join would put one language per task
    and leave the rest of the cluster idle (measured 5/32 threads busy
    → >10× slowdown).
    """
    toks, n, inter = token_sets(df, text_col)
    base = df.select(
        F.col(id_col).alias("id"), *block_cols, toks.alias("toks")
    ).withColumn("n", n)
    a, b, cond = band_join_sides(base, block_cols, length_tolerance, threshold)
    a = a.repartition(df.sparkSession.sparkContext.defaultParallelism)
    joined = a.join(F.broadcast(b), cond)
    return jaccard_filter(joined, inter, threshold).select("id_a", "id_b", "jaccard")


def token_sets(df: DataFrame, text_col: str) -> TokenSets:
    """The token-set encoding for ``df``, chosen from one vocabulary
    probe (:func:`_small_vocab`):

    - ≤ 63 distinct tokens corpus-wide (category/tag/enum-style
      columns, and this synthetic corpus): each set is ONE int64
      bitmask over the sorted dictionary; |A∩B| = bit_count(a & b),
      two ALU ops per candidate pair instead of a hash-set
      intersection, and 8 B/doc to broadcast instead of ~1 KB/doc.
      Measured at sf0.1 on local[4] (31-token vocabulary, min-of-3):
      jaccard_pairs_blocked 0.92–1.09 s vs 7.27–7.38 s on arrays;
      jaccard_pairs_celled + connected components 2.37–3.04 s vs
      3.49–3.97 s.
    - otherwise: :func:`hashed_token_sets`.

    Both encodings give identical pairs — pinned against brute-force
    ground truth for each one in tests/test_ngram_repr.py."""
    vocab = _small_vocab(df, text_col, limit=63)
    if vocab is None:
        return hashed_token_sets(text_col)
    return (
        _bitmask_repr(vocab, text_col),
        F.bit_count("toks").cast("int"),
        F.bit_count(F.col("toks_a").bitwiseAND(F.col("toks_b"))).cast("double"),
    )


def hashed_token_sets(text_col: str) -> TokenSets:
    """Distinct tokens as int64 xxhash64 arrays — needs no probe. Ints,
    not strings: int compares measure 3× faster inside array_intersect
    at identical results; Jaccard needs only set SIZES, and a 64-bit
    collision altering one is ~1e-11 per document pair."""
    return (
        F.transform(F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)),
        F.size("toks"),
        F.size(F.array_intersect("toks_a", "toks_b")).cast("double"),
    )


def band_join_sides(
    base: DataFrame,
    block_cols: tuple[str, ...],
    length_tolerance: float | None,
    threshold: float,
) -> tuple[DataFrame, DataFrame, Column]:
    """(a, b, cond) for a blocked self-join of ``base`` — an (id,
    block_cols…, toks, n, …) frame. Each side carries every column of
    ``base`` suffixed ``_a``/``_b``; ``cond`` is ``id_a < id_b``, equal
    blocks, and ``n_b`` inside the length band of ``n_a`` (±
    ``length_tolerance``, or the exact Jaccard bound [n·t, n/t] when it
    is None)."""
    if length_tolerance is None:
        lo, hi = threshold, 1.0 / threshold
    else:
        lo, hi = 1.0 - length_tolerance, 1.0 + length_tolerance
    a, b = (
        base.select(*[F.col(c).alias(f"{c}_{s}") for c in base.columns])
        for s in "ab"
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cond = cond & F.col("n_b").between(F.col("n_a") * lo, F.col("n_a") * hi)
    return a, b, cond


def jaccard_filter(joined: DataFrame, inter: Column, threshold: float) -> DataFrame:
    """``joined`` plus ``jaccard``, keeping pairs with jaccard ≥
    ``threshold``. |A∪B| = |A| + |B| − |A∩B| for DISTINCT sets —
    arithmetic, not a second per-pair pass (array_union costs as much
    as array_intersect and its size is implied)."""
    union = F.col("n_a") + F.col("n_b") - inter
    return joined.withColumn("jaccard", inter / union).filter(
        F.col("jaccard") >= threshold
    )


def _bitmask_repr(vocab: list[str], text_col: str) -> Column:
    """The ≤63-token dictionary encoding of ``text_col``'s token set.
    bit = 2^(dict position): pow(2, k) is a power of two, exactly
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
                        "bitmask token set: token absent from the "
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

    return F.aggregate(
        F.array_distinct(tokens(text_col)),
        F.lit(0).cast("long"),
        _bit,
    )


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
    at limit+1 rows in both phases."""
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
) -> DataFrame:
    """Exact token-set Jaccard restricted to SIMHASH CELLS — the
    bounded-mass near-dup edge definition (module comment above).

    The blocked pairs of ``jaccard_pairs_blocked`` over the
    ``celled_base`` output, with ``cell`` as one more block column:
    cell = the leading b bits of the portable set-simhash, b adapts to
    the corpus size (dedup/cells.py). The join is a plain (blocks…,
    cell) equi-join — key cardinality 2^b restores shuffle parallelism
    that lang-only blocks never had, and AQE skew-join splits an
    oversized cell. NULL-text docs carry no fingerprint and emit no
    pair (the simhash rule)."""
    from ..parallelism import fan_out

    toks, n, inter = token_sets(df, text_col)
    # the md5+fold fingerprint pass is CPU-dominant
    nn = fan_out(df.filter(F.col(text_col).isNotNull()))
    hashed = nn.select(
        F.col(id_col).alias("id"),
        *block_cols,
        toks.alias("toks"),
        set_simhash_hashes(text_col).alias("__h"),
    )
    base = celled_base(
        hashed.select(
            "id",
            *block_cols,
            "toks",
            n.alias("n"),
            vote_fold("__h", BITS_MD5).alias("__fp"),
        ),
        "__fp",
        BITS_MD5,
    )
    a, b, cond = band_join_sides(
        base, (*block_cols, "cell"), length_tolerance, threshold
    )
    joined = a.join(b, cond)
    return jaccard_filter(joined, inter, threshold).select("id_a", "id_b", "jaccard")
