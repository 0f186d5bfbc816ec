"""Fast-tier checks of the txlog row-level core on one small fixed table:
the two DML modes agree, the change feed replays every DML verb, and
each verb starts a pinned number of Spark jobs.

Every other ``test_txlog*.py`` module is full-tier, so this module is
what the default run exercises of ``sources/txlog.py``: the positional
scan, the deletion-vector commit, the range planner and the commit walk
behind ``delete_where`` / ``update_where`` / ``replace_where`` /
``merge_upsert`` / ``changes``.
"""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from data_mastery_pipeline_spark.sources.txlog import TxTable

SCHEMA = "k long, s string, v double"
# k = 1..20 in the first file; k = 21..41 in the second, where k = 41
# has a NULL v (NULL never matches a range predicate)
FILE_A = [(k, "abc"[k % 3], float(k)) for k in range(1, 21)]
FILE_B = [(k, "abc"[k % 3], float(k)) for k in range(21, 41)] + [(41, "c", None)]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _table(spark, root: str) -> TxTable:
    t = TxTable.create(spark, root, _df(spark, FILE_A))
    t.append(_df(spark, FILE_B))
    return t


@pytest.fixture
def table(spark, tmp_path):
    return _table(spark, str(tmp_path / "t"))


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _replayed(base: Counter, feed) -> Counter:
    """``base`` with the signed change feed applied (+insert, −delete)."""
    out = Counter(base)
    for r in feed.collect():
        row = (r["k"], r["s"], r["v"])
        out[row] += 1 if r["_change_type"] == "insert" else -1
    assert all(n >= 0 for n in out.values()), out
    return +out


def _dml(t: TxTable, mode: str) -> None:
    t.delete_where("v", 5.0, 12.0, mode=mode)  # first file only
    t.update_where("k", 18, 25, {"v": "v * 10", "s": "'u'"}, mode=mode)
    t.delete_where("v", 8.0, 30.0, mode=mode)  # partly deleted already
    t.update_where("k", 30, 45, {"v": "k + 0.5"}, mode=mode)  # NULL v too
    t.delete_where("s", "u", "u", mode=mode)  # the rows updated above


def _model() -> Counter:
    rows = {k: (k, s, v) for k, s, v in FILE_A + FILE_B}
    for k, (_, s, v) in list(rows.items()):
        if v is not None and 5.0 <= v <= 12.0:
            del rows[k]
    for k, (_, s, v) in list(rows.items()):
        if 18 <= k <= 25:
            rows[k] = (k, "u", v * 10)
    for k, (_, s, v) in list(rows.items()):
        if v is not None and 8.0 <= v <= 30.0:
            del rows[k]
    for k, (_, s, v) in list(rows.items()):
        if 30 <= k <= 45:
            rows[k] = (k, s, k + 0.5)
    return Counter(r for r in rows.values() if r[1] != "u")


def test_rewrite_and_dv_modes_read_alike(spark, tmp_path):
    reads = {}
    for mode in ("rewrite", "dv"):
        t = _table(spark, str(tmp_path / mode))
        _dml(t, mode)
        reads[mode] = _rows(t.read())
        # the feed replays to the same snapshot in both modes
        assert _replayed(Counter(), t.changes(-1)) == reads[mode], mode
    assert reads["rewrite"] == reads["dv"] == _model()
    assert t.dv_stats()  # the dv table really is merge-on-read


def test_changes_replay_every_dml_verb(spark, table):
    t = table
    v0 = t.version()
    t.delete_where("v", 3.0, 6.0, mode="dv")
    t.update_where("k", 10, 14, {"v": "v + 100"}, mode="dv")
    t.merge_upsert(_df(spark, [(12, "m", 1.5), (50, "n", 2.5)]), "k")
    t.replace_where("k", 30, 35, _df(spark, [(31, "r", 3.5), (33, "r", 4.5)]))
    t.delete_where("v", 100.0, 200.0)
    t.update_where("k", 1, 2, {"s": "'z'"})
    ops = [h["op"] for h in t.history()[v0 + 1 :]]
    assert ops == ["delete_dv", "update_dv", "merge", "replace", "delete", "update"]
    final = _rows(t.read())
    assert _replayed(Counter(), t.changes(-1)) == final
    for v in range(v0, t.version()):
        assert _replayed(_rows(t.read(version=v)), t.changes(v)) == final, v
    assert final[(12, "m", 1.5)] == 1 and final[(50, "n", 2.5)] == 1
    assert not any(10 <= r[0] <= 14 and r[2] >= 100 for r in final)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted under its own job group."""
    sc = spark.sparkContext
    group = f"txlog_core_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "txlog core job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_verb_job_counts(spark, table):
    """Spark jobs per verb on the fixed table, pinned: a change to the
    row-level core must not add a job to any verb medallion runs."""
    t = table
    empty = spark.createDataFrame([], SCHEMA)
    counts = {
        "empty stream merge": _jobs(
            spark, lambda: t.merge_upsert(empty, "k", stream_txn=("core", 0))
        ),
        "dv delete": _jobs(spark, lambda: t.delete_where("v", 5.0, 12.0, mode="dv")),
        "dv update": _jobs(
            spark,
            lambda: t.update_where("k", 10, 25, {"v": "v * 2"}, mode="dv"),
        ),
        "merge": _jobs(
            spark,
            lambda: t.merge_upsert(_df(spark, [(12, "m", 1.0), (60, "n", 2.0)]), "k"),
        ),
        "cdf count": _jobs(
            spark, lambda: t.changes(-1).groupBy().count().collect()
        ),
    }
    assert t.last_stream_batch("core") == 0
    # an empty merge learns it is empty from the checkpoint job itself
    assert counts == {
        "empty stream merge": 1,
        "dv delete": 3,
        "dv update": 6,
        "merge": 5,
        "cdf count": 5,
    }
