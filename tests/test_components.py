"""Connected-components operator: known graph shapes + the canonical-keep
action (dedup/components.py)."""

from __future__ import annotations

from data_mastery_pipeline_spark.dedup import components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = components.connected_components(df, **kw)
    return {r["id"]: r["component"] for r in got.collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4, everything labels to 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components_stay_disjoint(spark):
    got = _cc(spark, [(10, 11), (11, 12), (20, 21), (30, 31)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_triangle_with_bridge(spark):
    got = _cc(spark, [(5, 6), (6, 7), (5, 7), (7, 2)])
    assert got == {2: 2, 5: 2, 6: 2, 7: 2}


def test_convergence_rounds_logarithmic_in_diameter(spark):
    """Structural guard against the round-2/3 49 s regression class
    (VERDICT r04 task 7): contraction + pointer jumping must converge in
    ≤ ceil(log2(diameter)) + 1 rounds, not O(diameter). A worst-case
    path graph of diameter 32 therefore gets at most 6 rounds — plain
    min-propagation without jumping would need 32 and any silent
    reintroduction of that behavior fails here, loudly."""
    import math

    diameter = 32
    # finish_threshold=0 forces the pure distributed path — the bounded
    # driver finish would otherwise absorb this small graph entirely
    got = _cc(spark, [(i, i + 1) for i in range(diameter)], finish_threshold=0)
    assert got == {i: 0 for i in range(diameter + 1)}
    rounds = len(components.LAST_RUN_STATS)
    bound = math.ceil(math.log2(diameter)) + 1
    assert rounds <= bound, (
        f"CC took {rounds} rounds on a diameter-{diameter} path "
        f"(bound {bound}) — pointer jumping/contraction degraded: "
        f"{components.LAST_RUN_STATS}"
    )
    # and the per-round instrumentation the bench detail relies on exists
    assert all(
        {"round", "wall_sec", "edges_after"} <= set(s) for s in components.LAST_RUN_STATS
    )


def test_canonical_keep_drops_non_min_members(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(0, 1), (1, 4)], "id_a long, id_b long")
    members = components.connected_components(
        edges, id_alias="doc_id", comp_alias="cluster_id"
    )
    kept = components.canonical_per_component(
        members, df, id_col="doc_id", comp_col="cluster_id"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 2, 3, 5]


def test_jaccard_build_strategies_agree(spark, monkeypatch):
    """The two token-set encodings of jaccard_pairs_blocked (≤63-token
    bitmask, hashed int64 arrays) give identical pairs and Jaccard
    values on the oracle corpus. Its vocabulary is small, so the array
    leg is reached by pinning the vocabulary probe to None."""
    from data_mastery_pipeline_spark.dedup import ngram
    from data_mastery_pipeline_spark.tables import load_table
    from conftest import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE)

    def pairs():
        got = ngram.jaccard_pairs_blocked(docs).collect()
        return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in got)

    bitmask = pairs()
    monkeypatch.setattr(ngram, "_small_vocab", lambda *a, **k: None)
    assert pairs() == bitmask and len(bitmask) > 0


# --- sampling & split operators ---------------------------------------------


def test_train_test_split_disjoint_exhaustive_stable(spark):
    from data_mastery_pipeline_spark.operators import sampling
    from data_mastery_pipeline_spark.tables import load_table
    from conftest import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE)
    gate = sampling.hash_gate("doc_id", salt=42)
    train, test = sampling.train_test_split(docs, 0.1, gate)
    n, ntr, nte = docs.count(), train.count(), test.count()
    assert ntr + nte == n
    assert train.join(test, "doc_id", "inner").count() == 0
    # ~10% within tolerance for 500 docs
    assert 0.04 * n <= nte <= 0.16 * n
    # membership is repartition-stable
    re_test = sampling.train_test_split(docs.repartition(13), 0.1, 
        sampling.hash_gate("doc_id", salt=42))[1]
    assert sorted(r["doc_id"] for r in re_test.collect()) == sorted(
        r["doc_id"] for r in test.collect()
    )


def test_deterministic_shuffle_reproducible_permutation(spark):
    from data_mastery_pipeline_spark.operators import sampling
    from data_mastery_pipeline_spark.tables import load_table
    from conftest import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE).select("doc_id")
    a = [r["doc_id"] for r in sampling.deterministic_shuffle(docs, "doc_id", seed=1, num_partitions=4).collect()]
    b = [r["doc_id"] for r in sampling.deterministic_shuffle(docs, "doc_id", seed=1, num_partitions=4).collect()]
    c = [r["doc_id"] for r in sampling.deterministic_shuffle(docs, "doc_id", seed=2, num_partitions=4).collect()]
    assert a == b                      # same seed → identical order
    assert a != c                      # new seed → new permutation
    assert sorted(a) == sorted(c)      # same multiset
    assert a != sorted(a)              # actually shuffled
    # LAYOUT-independence: the permutation survives a different
    # partition count and a different input layout — the property
    # orderBy(rand()) cannot give and epoch reproducibility needs
    d = [r["doc_id"] for r in sampling.deterministic_shuffle(
        docs.repartition(13), "doc_id", seed=1, num_partitions=7).collect()]
    assert a == d


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir → reliable RDD checkpoints (survive executor loss
    on a real cluster); result identical to the localCheckpoint path."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    ckpt = tmp_path / "ckpt"
    got = components.connected_components(edges, checkpoint_dir=str(ckpt))
    assert {r["id"]: r["component"] for r in got.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
    }
    # files really went to the reliable checkpoint dir
    assert any(p.is_file() for p in ckpt.rglob("*"))


# --- bounded (bottom-k / KMV) shingle-set verification ----------------------


def _long_doc(n_tokens: int, mutate_frac: float = 0.0, seed: int = 0) -> str:
    import random

    toks = [f"w{i}" for i in range(n_tokens)]
    if mutate_frac:
        rng = random.Random(seed)
        for i in rng.sample(range(n_tokens), int(n_tokens * mutate_frac)):
            toks[i] = f"m{i}"
    return " ".join(toks)


def test_signature_sets_bounded_for_long_docs(spark):
    from pyspark.sql import functions as F

    from data_mastery_pipeline_spark.dedup import minhash

    df = spark.createDataFrame(
        [(0, _long_doc(3000)), (1, _long_doc(3000, 0.1, seed=7))],
        "doc_id long, text string",
    )
    ss = minhash.signatures_and_sets(df, max_set_size=512)
    sizes = [r[0] for r in ss.select(F.size("sh_set")).collect()]
    assert max(sizes) == 512  # 3000-token docs clipped to the sketch bound


def test_kmv_verify_tracks_exact_jaccard_on_long_docs(spark):
    from data_mastery_pipeline_spark.dedup import minhash

    df = spark.createDataFrame(
        [(0, _long_doc(3000)), (1, _long_doc(3000, 0.1, seed=7))],
        "doc_id long, text string",
    )

    def pairs(max_set_size):
        out = minhash.verified_near_dups(
            df, jaccard_threshold=0.3, max_set_size=max_set_size
        )
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}

    exact = pairs(None)
    assert exact, "10%-mutated twin must be a verified near-dup"
    # union (~3.3k shingles) fits the default 8192 sketch → bit-identical
    assert pairs(8192) == exact
    # 512-hash sketch: same pairs, jaccard within KMV error (σ≈0.022)
    est = pairs(512)
    assert est.keys() == exact.keys()
    for p, j in exact.items():
        assert abs(est[p] - j) < 0.08, (p, est[p], j)


def _verified(df):
    return {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in df.collect()}


def test_prefix_filter_same_pairs_fewer_candidates(spark):
    """Candidate filtering on the near-dup path is the simhash cell
    (ngram.jaccard_pairs_celled): every celled pair is a blocked pair
    with the same Jaccard (one shared verify step), and the cell scores
    strictly fewer candidates than the blocked all-pairs path. A
    threshold of 0 keeps every candidate that passes the block and
    length band, so the pair count IS the candidate count."""
    from data_mastery_pipeline_spark.dedup import ngram
    from data_mastery_pipeline_spark.tables import load_table
    from conftest import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE)
    blocked = _verified(ngram.jaccard_pairs_blocked(docs))
    celled = _verified(ngram.jaccard_pairs_celled(docs))
    assert celled and celled.items() <= blocked.items()

    n_blocked = ngram.jaccard_pairs_blocked(docs, threshold=0.0).count()
    n_celled = ngram.jaccard_pairs_celled(docs, threshold=0.0).count()
    assert len(celled) <= n_celled < n_blocked, (len(celled), n_celled, n_blocked)


def test_prefix_filter_big_reduction_on_low_density_corpus(spark):
    """On a low-near-dup-density corpus with a large vocabulary (the
    hashed-array encoding), the simhash cell cuts the candidate set by
    several times the blocked all-pairs count while the genuine
    near-dup twins (Jaccard 39/41) still pair up."""
    import random

    from data_mastery_pipeline_spark.dedup import ngram

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(20000)]
    rows = []
    for i in range(300):  # mostly-dissimilar docs, similar lengths
        rows.append((i, "en", " ".join(rng.sample(vocab, 40))))
    twins = []
    for i in range(10):  # a few genuine near-dup twins
        base_toks = rng.sample(vocab, 40)
        twin = list(base_toks)
        twin[0] = "mutant"
        rows.append((1000 + 2 * i, "en", " ".join(base_toks)))
        rows.append((1001 + 2 * i, "en", " ".join(twin)))
        twins.append((1000 + 2 * i, 1001 + 2 * i))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    blocked = _verified(ngram.jaccard_pairs_blocked(docs))
    celled = _verified(ngram.jaccard_pairs_celled(docs))
    assert set(blocked) == set(twins)
    assert celled.items() <= blocked.items() and len(celled) >= 8

    n_celled = ngram.jaccard_pairs_celled(docs, threshold=0.0).count()
    n_blocked_pairs = 320 * 319 // 2  # one block, one length bucket
    assert n_celled * 4 < n_blocked_pairs, (n_celled, n_blocked_pairs)


def test_driver_finish_matches_distributed(spark):
    """The bounded local finish (union-find + broadcast pointer map)
    must label exactly like the pure distributed iteration — same
    random-ish graph, both paths, equal outputs; and the finish is
    recorded in the run stats."""
    edges = [(i, (i * 7 + 3) % 40) for i in range(60) if i != (i * 7 + 3) % 40]
    local = _cc(spark, edges)  # default threshold → driver finish
    assert any("finish" in s for s in components.LAST_RUN_STATS)
    dist = _cc(spark, edges, finish_threshold=0)
    assert local == dist


def test_mid_loop_driver_finish(spark):
    """A graph bigger than the threshold at the start but under it after
    one contraction exercises the IN-LOOP finish branch."""
    # 30 dense cliques of 5 (contract to points in round 1) + a chain
    edges = []
    for c in range(30):
        base = 100 * c
        edges += [(base + i, base + j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(100 * c + 4, 100 * (c + 1)) for c in range(29)]
    local = _cc(spark, edges, finish_threshold=200)  # 329 edges > 200 at start
    dist = _cc(spark, edges, finish_threshold=0)
    assert local == dist
