"""similarity/knngraph.py: the sign-bit-blocked kNN graph must equal a
straight-line Python recomputation of its own contract (blocking bits,
dynamic b, per-cell top-k with quantized-cos tie-breaks), keep exact
duplicates structurally co-celled, and emit nothing for lone-cell
nodes. Sequential-fold cosine is mirrored exactly (Spark's aggregate()
folds left-to-right; so do the plain Python loops here)."""

from __future__ import annotations

import math
import random

from data_mastery_pipeline_spark.dedup import cells
from data_mastery_pipeline_spark.similarity import knngraph

DIM = 32
SCHEMA = "vec_id long, embedding array<double>"


def _vecs(n, seed=5, dim=DIM):
    rng = random.Random(seed)
    return [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)
    ]


def _cos(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _q4(x):
    return math.floor(x * 10000 + 0.5) / 10000.0


def _py_graph(rows, k=3):
    b = cells.cell_bits(len(rows))
    by_cell = {}
    for i, v in rows:
        bits = sum((1 << j) for j in range(knngraph.POOL_BITS) if v[j] > 0)
        by_cell.setdefault(bits >> (knngraph.POOL_BITS - b), []).append((i, v))
    out = []
    for members in by_cell.values():
        for qid, qv in members:
            scored = sorted(
                (( -_q4(_cos(nv, qv)), nid) for nid, nv in members if nid != qid),
            )
            for rnk, (negcos, nid) in enumerate(scored[:k], start=1):
                out.append((qid, nid, rnk, -negcos))
    return sorted(out)


def test_equals_python_recomputation(spark):
    rows = _vecs(200)
    got = sorted(
        tuple(r)
        for r in knngraph.blocked_knn_graph(
            spark.createDataFrame(rows, SCHEMA)
        ).collect()
    )
    assert got == _py_graph(rows)
    assert len(got) > 0


def test_exact_duplicates_always_pair(spark):
    """Identical vectors share every sign bit — co-celled with
    probability 1, and cos quantizes to exactly 1.0: the structural
    guarantee embedding-dedup needs from a blocked graph."""
    rows = _vecs(150, seed=9)
    twins = [(1000 + i, list(rows[i * 7][1])) for i in range(5)]
    rows = rows + twins
    got = knngraph.blocked_knn_graph(
        spark.createDataFrame(rows, SCHEMA)
    ).collect()
    by_pair = {(r.qid, r.nbr_id): r for r in got}
    for i in range(5):
        a, bid = rows[i * 7][0], 1000 + i
        assert (a, bid) in by_pair and by_pair[(a, bid)].cos == 1.0
        assert (bid, a) in by_pair and by_pair[(bid, a)].cos == 1.0
        assert by_pair[(a, bid)].rnk == 1


def test_lone_cell_node_emits_nothing(spark):
    """A node alone in its cell has no in-cell neighbors — the blocked
    contract says it emits no rows and appears in no one's top-k."""
    # all crowd vectors share the 3 leading sign bits (dims 29..31
    # negative) => one cell at b = cells.MIN_BITS; the loner flips them
    rng = random.Random(3)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1.0, 1.0) for _ in range(DIM)]
        v[29] = v[30] = v[31] = -abs(v[29]) - 0.1
        rows.append((i, v))
    loner = [rng.uniform(-1.0, 1.0) for _ in range(DIM)]
    loner[29] = loner[30] = loner[31] = 0.5
    rows.append((99, loner))
    got = knngraph.blocked_knn_graph(
        spark.createDataFrame(rows, SCHEMA)
    ).collect()
    assert not any(r.qid == 99 or r.nbr_id == 99 for r in got)
    assert len(got) > 0  # the crowd still pairs up
    assert sorted((r.qid, r.nbr_id, r.rnk, r.cos) for r in got) == _py_graph(
        rows
    )


def test_blocking_bits_scale_with_n():
    """b = clamp(ceil(log2(n / TARGET_CELL)), 3, 18): cell granularity
    must GROW with the corpus so per-node candidate work stays ~
    TARGET_CELL at every scale (the anti-quadratic invariant). The kNN
    graph sizes its cells with the shared rule, dedup/cells.cell_bits."""
    assert cells.TARGET_CELL == 64
    assert cells.cell_bits(40) == 3  # clamped at MIN_BITS
    assert cells.cell_bits(500) == 3  # ceil(log2(500/64)) = 3
    assert cells.cell_bits(10**9) == cells.MAX_BITS  # clamped at MAX_BITS


def test_oracle_sql_blocking_is_in_lockstep(spark):
    """The registered oracle's sign-term SQL must express the same
    (bit, dim) mapping as sign_bits_expr — a drifted term silently
    re-blocks the oracle and the driver red would look like a scoring
    bug."""
    from data_mastery_pipeline_spark.queries_adv import _KNN_SIGN_TERMS

    for j in range(knngraph.POOL_BITS):
        assert f"WHEN v[{j + 1}] > 0 THEN {1 << j} ELSE" in _KNN_SIGN_TERMS
    # and both engines read a vector narrower than the pool the same
    # way: past-the-end dimensions contribute bit 0
    import duckdb
    from pyspark.sql import functions as F

    vec = [1.0, -2.0, 3.0]
    want = duckdb.sql(
        f"SELECT {_KNN_SIGN_TERMS} FROM (SELECT {vec}::DOUBLE[] AS v)"
    ).fetchone()[0]
    got = (
        spark.createDataFrame([(vec,)], "v array<double>")
        .select(knngraph.sign_bits_expr(F.col("v")).alias("b"))
        .first()["b"]
    )
    assert got == want == 5
