"""Both Jaccard set representations (int64 bitmask for ≤63-token
vocabularies, hashed int arrays otherwise) against brute-force ground
truth — the oracle corpora are all small-vocab, so the array branch
would otherwise be unexercised. A small-vocab corpus reaches the array
branch through ``no_vocab``, which pins the vocabulary probe to None."""

from __future__ import annotations

import itertools

from data_mastery_pipeline_spark.dedup import cells, ngram


def _brute_pairs(rows, threshold):
    sets = {i: set(t.split()) for i, t, _ in rows}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = inter / union if union else 0.0
        if j >= threshold:
            out[(a, b)] = round(j, 6)
    return out


def _corpus(vocab):
    """Deterministic near-dup corpus over the given vocabulary: base
    docs plus perturbed copies (one token swapped)."""
    rows = []
    for i in range(12):
        # stride i*14 so 12 docs × 14 tokens sweep the WHOLE vocabulary
        # (a 120-word vocab must actually appear to force the array path)
        base = [vocab[(i * 14 + j) % len(vocab)] for j in range(14)]
        rows.append((i * 2, " ".join(base), "en"))
        near = list(base)
        near[0] = vocab[(i * 5 + 7) % len(vocab)]
        rows.append((i * 2 + 1, " ".join(near), "en"))
    return rows


def no_vocab(monkeypatch):
    """Make ngram.token_sets pick the hashed-array encoding."""
    monkeypatch.setattr(ngram, "_small_vocab", lambda *a, **k: None)


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = ngram.jaccard_pairs_blocked(
        df, length_tolerance=0.5, threshold=0.5, **kw
    ).collect()
    return {(r["id_a"], r["id_b"]): round(r["jaccard"], 6) for r in got}


def test_bitmask_branch_matches_brute_force(spark):
    vocab = [f"w{i}" for i in range(40)]  # ≤63 → bitmask path
    rows = _corpus(vocab)
    got = _run(spark, rows)
    assert got == _brute_pairs(rows, 0.5)
    assert got  # the corpus genuinely contains qualifying pairs


def test_array_branch_matches_brute_force_and_bitmask_semantics(spark, monkeypatch):
    vocab = [f"w{i}" for i in range(120)]  # >63 → array path
    rows = _corpus(vocab)
    got_auto = _run(spark, rows)
    assert got_auto == _brute_pairs(rows, 0.5)
    # forcing the array path on the SMALL-vocab corpus must reproduce
    # the bitmask branch bit-for-bit
    small_rows = _corpus([f"w{i}" for i in range(40)])
    bitmask = _run(spark, small_rows)
    no_vocab(monkeypatch)
    assert _run(spark, small_rows) == bitmask


def test_bitmask_request_on_large_vocab_is_loud(spark):
    """A vocabulary past 63 tokens never reaches the bitmask encoding:
    the probe refuses it at exactly 64 distinct tokens, and token_sets
    falls back to hashed int64 arrays instead of a mask that cannot
    hold the dictionary."""
    from pyspark.sql import types as T

    def encoding(n_vocab):
        rows = [(i, " ".join(f"w{j}" for j in range(i, n_vocab, 8)), "en")
                for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        toks, _, _ = ngram.token_sets(df, "text")
        return ngram._small_vocab(df, "text"), df.select(toks).schema[0].dataType

    vocab, dtype = encoding(63)
    assert len(vocab) == 63 and dtype == T.LongType()
    vocab, dtype = encoding(64)
    assert vocab is None and dtype.elementType == T.LongType()


def test_bitmask_out_of_vocab_token_fails_loudly(spark, monkeypatch):
    """If the data drifts between the plan-time vocabulary probe and
    execution (nondeterministic source, re-executed lineage), an
    out-of-dictionary token must RAISE, not silently encode to no bit
    and corrupt every Jaccard it touches (ADVICE r04). Simulated by
    pinning the probe to a vocabulary missing one live token."""
    import pytest

    df = spark.createDataFrame(
        [(1, "en", "aa bb cc"), (2, "en", "aa bb dd")],
        "doc_id long, lang string, text string",
    )
    monkeypatch.setattr(ngram, "_small_vocab", lambda *a, **k: ["aa", "bb", "cc"])
    with pytest.raises(Exception, match="absent from the probed vocabulary"):
        ngram.jaccard_pairs_blocked(df, threshold=0.1).collect()


def test_lossless_length_bound_finds_containment_pairs(spark):
    """Review r6: the default ±20% length tolerance is a recall/cost
    knob that DROPS a short doc fully contained in a long one;
    length_tolerance=None (exact Jaccard bound [n·t, n/t]) must find
    it. Pins both behaviors so the trade stays deliberate."""
    from data_mastery_pipeline_spark.dedup import cells, ngram

    short = " ".join(f"w{i}" for i in range(40))
    long_ = " ".join(f"w{i}" for i in range(80))  # J = 40/80 = 0.5
    docs = spark.createDataFrame(
        [(1, short, "en"), (2, long_, "en")], "doc_id bigint, text string, lang string"
    )
    t = 0.45
    strict = ngram.jaccard_pairs_blocked(docs, threshold=t).collect()
    assert strict == []  # 80 vs 40 tokens: outside ±20%
    loose = ngram.jaccard_pairs_blocked(
        docs, threshold=t, length_tolerance=None
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in loose] == [(1, 2)]


# --- simhash-cell blocked pairs (r12 near_dup_clusters re-scope) ----------


def _run_celled(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = ngram.jaccard_pairs_celled(
        df, length_tolerance=0.5, threshold=0.5, **kw
    ).collect()
    return {(r["id_a"], r["id_b"]): round(r["jaccard"], 6) for r in got}


def test_celled_pairs_are_blocked_pairs_restricted_to_cells(spark):
    """The celled edge definition = the blocked definition ∩ cell
    co-membership: every celled pair is a blocked pair with the SAME
    jaccard value (the verification layer is shared), and every
    IDENTICAL-set pair (J = 1) survives the blocking — identical token
    sets have identical set-simhash fingerprints, so co-celling is
    structural, not probabilistic."""
    vocab = [f"tok{i}" for i in range(24)]
    rows = _corpus(vocab)
    # two exact-duplicate token-set pairs (shuffled order, same set)
    rows.append((100, rows[0][1], "en"))
    rows.append((101, " ".join(reversed(rows[2][1].split())), "en"))
    blocked = _run(spark, rows)
    celled = _run_celled(spark, rows)
    assert set(celled) <= set(blocked)
    for pair, j in celled.items():
        assert j == blocked[pair]
    exact_pairs = {p for p, j in blocked.items() if j == 1.0}
    assert exact_pairs  # the corpus really contains J=1 pairs
    assert exact_pairs <= set(celled)


def test_celled_repr_parity_bitmask_vs_array(spark, monkeypatch):
    """Both set representations produce identical celled pairs (the
    blocked-path guarantee extended to the celled path)."""
    vocab = [f"t{i}" for i in range(20)]  # ≤63 → the probe picks bitmask
    rows = _corpus(vocab)
    auto = _run_celled(spark, rows)
    no_vocab(monkeypatch)
    arr = _run_celled(spark, rows)
    assert auto == arr and auto


# n values spanning both clamps and the power-of-two boundaries; n = 0
# is the empty / all-NULL-text corpus
CELL_NS = (0, 1, 40, 64, 500, 512, 513, 5000, 200000, 64 * (1 << 18), 10**9, 10**12)


def test_cell_bits_clamp_and_growth():
    """b = clamp(ceil(log2(n/TARGET_CELL)), 3, 18): constant expected
    cell size at every scale — per-node candidate work stays ~
    TARGET_CELL, the anti-quadratic invariant both blocked joins rely
    on — clamped at both ends; power-of-two boundaries land exactly
    (log2 is exact there in IEEE double — the property the DuckDB
    mirror relies on)."""
    expected = (3, 3, 3, 3, 3, 3, 4, 7, 12, 18, 18, 18)
    assert [cells.cell_bits(n) for n in CELL_NS] == list(expected)
    assert cells.cell_bits(40) == cells.MIN_BITS
    assert cells.cell_bits(10**9) == cells.MAX_BITS


def test_cell_bits_sql_matches_python():
    """The oracles' width rule (cells.cell_bits_sql, run in DuckDB)
    agrees with the Spark-side cell_bits for every n — including n = 0,
    where an unguarded log2(0) errors in DuckDB while Python clamps —
    and the count(*) form clamps an empty input the same way."""
    import duckdb

    con = duckdb.connect()
    (empty,) = con.execute(f"SELECT {cells.cell_bits_sql()} FROM range(0)").fetchone()
    assert empty == cells.cell_bits(0) == cells.MIN_BITS
    # the row count as a bound value: corpora up to 10^12 rows
    over_n = cells.cell_bits_sql().replace("count(*)", "CAST(? AS BIGINT)")
    for n in CELL_NS:
        (got,) = con.execute(f"SELECT {over_n}", [n]).fetchone()
        assert got == cells.cell_bits(n), n
    con.close()


def test_celled_base_starts_one_job(spark):
    """celled_base sizes ``b`` from an Observation on its checkpoint job
    instead of a separate count: exactly one Spark job per call."""
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        "id", F.xxhash64("id").bitwiseAND(F.lit((1 << 60) - 1)).alias("fp")
    )
    sc = spark.sparkContext
    group = "test_celled_base_starts_one_job"
    sc.setJobGroup(group, "celled_base job count")
    try:
        base = cells.celled_base(df, "fp", 60)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    # b = cell_bits(500) = 3: the stamp kept the fingerprint's 3 top bits
    assert base.columns == ["id", "cell"]
    assert base.agg(F.max("cell")).first()[0] < 8


def test_blocked_pair_builders_on_degenerate_input(spark, monkeypatch):
    """Empty input, all-NULL text and a single row: every blocked pair
    builder (both token-set encodings, the celled join, the kNN graph)
    returns an empty result without raising."""
    from data_mastery_pipeline_spark.similarity.knngraph import (
        POOL_BITS,
        blocked_knn_graph,
    )

    schema = "doc_id long, text string, lang string"
    frames = {
        "empty": spark.createDataFrame([], schema),
        "all-NULL text": spark.createDataFrame(
            [(1, None, "en"), (2, None, "en")], schema
        ),
        "one row": spark.createDataFrame([(1, "aa bb cc", "en")], schema),
    }
    for name, df in frames.items():
        assert ngram.jaccard_pairs_blocked(df).collect() == [], name
        assert ngram.jaccard_pairs_celled(df).collect() == [], name
    no_vocab(monkeypatch)
    for name, df in frames.items():
        assert ngram.jaccard_pairs_blocked(df).collect() == [], name

    emb_schema = "vec_id long, embedding array<double>"
    # the sign pool reads the first POOL_BITS dimensions
    vec = [(-1.0) ** j * (j + 1) for j in range(POOL_BITS)]
    for rows in ([], [(1, vec)]):
        emb = spark.createDataFrame(rows, emb_schema)
        assert blocked_knn_graph(emb).collect() == [], rows
    # narrower than the pool: bits past the last dimension are 0, and
    # two identical 3-d vectors share a cell
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0]), (2, [1.0, -2.0, 3.0])], emb_schema
    )
    pairs = {(r["qid"], r["nbr_id"]) for r in blocked_knn_graph(emb).collect()}
    assert pairs == {(1, 2), (2, 1)}
