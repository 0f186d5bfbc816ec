"""Materialized-view tests (mv.py): incremental refresh equivalence,
exactly-once replay, staleness guard, navigation gates, tombstones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_mastery_pipeline_spark.mv import (
    MinMaxView,
    Navigator,
    StaleViewError,
    SumCountView,
)
from data_mastery_pipeline_spark.sources.txlog import TxTable


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, grp string, day string, v double"
    )


def _mk(spark, root, rows):
    src = TxTable.create(spark, root + "/src", _df(spark, rows))
    view = SumCountView.create(
        spark,
        src,
        root + "/mv",
        "t",
        dims={"grp": "grp", "day": "day"},
        value_expr="v",
    )
    return src, view


def _direct(src, *dims):
    return sorted(
        tuple(r)
        for r in src.read()
        .filter(F.col("grp").isNotNull())
        .groupBy(*dims)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.coalesce(
                    F.floor(F.col("v") * 100 + F.lit(0.5)).cast("bigint"),
                    F.lit(0),
                )
            ).alias("sum_cents"),
        )
        .collect()
    )


def _mv(view, *dims):
    return sorted(tuple(r) for r in view.answer(list(dims)).collect())


def test_incremental_refresh_tracks_dml(spark, root):
    src, view = _mk(
        spark,
        root,
        [(i, "g%d" % (i % 2), "d%d" % (i % 3), float(i)) for i in range(10)],
    )
    assert view.refresh() == 0
    assert _mv(view, "grp", "day") == _direct(src, "grp", "day")
    # append + MOR delete + rewrite update, multiple commits per refresh
    src.append(_df(spark, [(20, "g0", "d9", 2.5), (21, "g2", "d0", 4.0)]))
    src.delete_where("v", 2.0, 4.0, mode="dv")
    src.update_where("v", 8.0, 9.0, {"v": "v + 0.115"})
    assert view.refresh() == src.version()
    assert _mv(view, "grp", "day") == _direct(src, "grp", "day")
    # coarser-grain navigation matches a direct coarser aggregate
    assert _mv(view, "grp") == _direct(src, "grp")


def test_refresh_exactly_once_and_noop(spark, root):
    src, view = _mk(spark, root, [(1, "a", "d", 1.0)])
    assert view.refresh() == 0
    v = view.target.version()
    assert view.refresh() is None  # current → no commit
    assert view.target.version() == v
    src.append(_df(spark, [(2, "a", "d", 2.0)]))
    assert view.refresh() == src.version()
    assert view.refresh() is None
    assert _mv(view, "grp") == _direct(src, "grp")


def test_staleness_guard_and_finer_grain_rejected(spark, root):
    src, view = _mk(spark, root, [(1, "a", "d", 1.0)])
    view.refresh()
    src.append(_df(spark, [(2, "b", "d", 2.0)]))
    assert view.is_stale()
    with pytest.raises(StaleViewError, match="refresh"):
        view.answer(["grp"])
    # eventually-consistent read serves the OLD snapshot, explicitly
    assert _mv_rows_strictless(view) == [("a", 1, 100)]
    with pytest.raises(ValueError, match="FINER"):
        view.answer(["grp", "id"], strict=False)
    view.refresh()
    assert _mv(view, "grp") == _direct(src, "grp")


def _mv_rows_strictless(view):
    return sorted(
        tuple(r) for r in view.answer(["grp"], strict=False).collect()
    )


def test_refresh_over_empty_delta_range_advances_watermark(spark, root):
    """A CDF range that folds to ZERO delta rows (optimize-only
    commits; the CDF excludes them) must still advance the refresh
    watermark — otherwise the view is stale FOREVER and strict
    answer() raises on every call while every retry re-reads the same
    empty range (review r7)."""
    src, view = _mk(
        spark, root, [(i, "a", "d", float(i)) for i in range(6)]
    )
    view.refresh()
    # two commits, zero CDF rows: optimize compacts the small files
    src.append(_df(spark, [(10, "a", "d", 1.0)]))
    src.optimize(small_file_bytes=1 << 30, target_file_bytes=1 << 20)
    assert view.refresh() == src.version()  # append folds, optimize skips
    assert not view.is_stale()
    # now a metadata-ONLY advance: the delta is empty end to end
    # (alter commits carry no add/remove, so the CDF range has 0 rows)
    src.alter_add_column("extra", "double")
    assert src.version() > view.last_refreshed()
    assert view.refresh() == src.version()
    assert not view.is_stale()  # wedged forever before the fix
    assert view.refresh() is None  # and the watermark replays as no-op
    assert _mv(view, "grp") == _direct(src, "grp")


def _mk_minmax(spark, root, rows):
    src = TxTable.create(spark, root + "/src", _df(spark, rows))
    view = MinMaxView.create(
        spark,
        src,
        root + "/mv",
        "t",
        dims={"grp": "grp"},
        value_expr="v",
    )
    return src, view


def _direct_minmax(src, *dims):
    cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("bigint")
    return sorted(
        tuple(r)
        for r in src.read()
        .filter(F.col("grp").isNotNull())
        .groupBy(*dims)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.coalesce(F.sum(cents), F.lit(0))
            .cast("bigint")
            .alias("sum_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )
        .collect()
    )


def test_minmax_insert_only_folds_without_rescan(spark, root):
    src, view = _mk_minmax(
        spark, root, [(1, "a", "d", 3.0), (2, "a", "d", 7.0), (3, "b", "d", 5.0)]
    )
    view.refresh()
    assert view.last_rescan_groups == 0
    src.append(_df(spark, [(4, "a", "d", 1.0), (5, "b", "d", 9.0)]))
    view.refresh()
    assert view.last_rescan_groups == 0  # inserts fold monotonically
    assert _mv(view, "grp") == _direct_minmax(src, "grp")


def test_minmax_interior_delete_folds_extreme_delete_rescans(spark, root):
    src, view = _mk_minmax(
        spark,
        root,
        [
            (1, "a", "d", 1.0),
            (2, "a", "d", 5.0),
            (3, "a", "d", 9.0),
            (4, "b", "d", 2.0),
            (5, "b", "d", 6.0),
        ],
    )
    view.refresh()
    # delete strictly INSIDE a's (1.0, 9.0): extremes provably intact
    src.delete_where("v", 5.0, 5.0, mode="dv")
    view.refresh()
    assert view.last_rescan_groups == 0
    assert _mv(view, "grp") == _direct_minmax(src, "grp")
    # delete a's stored MIN: fold is unsound, group re-scans
    src.delete_where("v", 1.0, 1.0, mode="dv")
    view.refresh()
    assert view.last_rescan_groups == 1  # only 'a', never 'b'
    assert _mv(view, "grp") == _direct_minmax(src, "grp")


def test_minmax_tie_on_extreme_forces_rescan_and_keeps_value(spark, root):
    """Two rows hold the min; deleting ONE of them must re-scan (the
    equality case is not safe) and the surviving row keeps the min."""
    src, view = _mk_minmax(
        spark,
        root,
        [(1, "a", "d", 1.0), (2, "a", "d", 1.0), (3, "a", "d", 4.0)],
    )
    view.refresh()
    src.delete_where("id", 1, 1, mode="dv")
    view.refresh()
    assert view.last_rescan_groups == 1
    assert _mv(view, "grp") == [("a", 2, 500, 100, 400)]


def test_minmax_insert_and_delete_same_window_nets_exactly(spark, root):
    """A group born AND partially deleted inside one refresh window:
    the per-(group,value) NETTING cancels the churned value (net 0),
    so the fold sees only the net-positive survivors — exact extremes
    with NO rescan (the pre-netting design re-scanned here)."""
    src, view = _mk_minmax(spark, root, [(1, "a", "d", 2.0)])
    view.refresh()
    src.append(_df(spark, [(10, "c", "d", 8.0), (11, "c", "d", 3.0)]))
    src.delete_where("v", 8.0, 8.0, mode="dv")  # kills c's max unseen
    view.refresh()
    assert view.last_rescan_groups == 0
    assert _mv(view, "grp") == _direct_minmax(src, "grp")
    assert ("c", 1, 300, 300, 300) in _mv(view, "grp")


def test_minmax_rewrite_churn_does_not_breach(spark, root):
    """A rewrite-mode delete replays untouched rows through the CDF as
    delete+re-insert pairs; netting cancels them, so an interior
    rewrite delete folds without touching the base."""
    src, view = _mk_minmax(
        spark,
        root,
        [(1, "a", "d", 1.0), (2, "a", "d", 5.0), (3, "a", "d", 9.0)],
    )
    view.refresh()
    src.delete_where("v", 5.0, 5.0)  # rewrite mode: whole file churns
    view.refresh()
    assert view.last_rescan_groups == 0
    assert _mv(view, "grp") == [("a", 2, 1000, 100, 900)]


def test_minmax_group_fully_deleted_tombstones_without_scan(spark, root):
    src, view = _mk_minmax(
        spark, root, [(1, "a", "d", 1.0), (2, "b", "d", 5.0)]
    )
    view.refresh()
    src.delete_where("v", 1.0, 1.0)  # all of 'a'
    view.refresh()
    assert view.last_rescan_groups == 0  # n==0 needs no scan
    assert _mv(view, "grp") == [("b", 1, 500, 500, 500)]
    tomb = view.target.read().filter("n_rows = 0").collect()
    assert len(tomb) == 1
    assert tomb[0]["min_cents"] is None and tomb[0]["max_cents"] is None


def test_minmax_replay_is_exactly_once(spark, root):
    src, view = _mk_minmax(spark, root, [(1, "a", "d", 1.0)])
    assert view.refresh() == 0
    src.append(_df(spark, [(2, "a", "d", 9.0)]))
    assert view.refresh() == src.version()
    v = view.target.version()
    assert view.refresh() is None  # watermark: replay commits nothing
    assert view.target.version() == v
    assert _mv(view, "grp") == _direct_minmax(src, "grp")


def _mk_join(spark, root):
    from data_mastery_pipeline_spark.mv import JoinAggView

    a = TxTable.create(
        spark,
        root + "/a",
        spark.createDataFrame(
            [(1, "p1"), (2, "p2"), (3, "p1")], "k long, prio string"
        ),
    )
    b = TxTable.create(
        spark,
        root + "/b",
        spark.createDataFrame(
            [(1, 10.0), (1, 20.0), (2, 5.0)], "fk long, amt double"
        ),
        stat_cols=["fk", "amt"],
    )
    view = JoinAggView.create(
        spark, a, b, "k", "fk", root + "/mv", "j",
        dims={"prio": "prio"}, value_expr="amt",
    )
    return a, b, view


def _direct_join(a, b):
    cents = F.floor(F.col("amt") * 100 + F.lit(0.5)).cast("bigint")
    return sorted(
        tuple(r)
        for r in a.read()
        .join(b.read(), F.col("k") == F.col("fk"))
        .groupBy("prio")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
        )
        .collect()
    )


def test_join_view_tracks_two_sided_dml(spark, root):
    a, b, view = _mk_join(spark, root)
    assert view.refresh() == (a.version(), b.version())
    assert _mv(view, "prio") == _direct_join(a, b)
    # both sides move in ONE refresh window: new order + its lines +
    # a retraction on the fact side
    a.append(spark.createDataFrame([(4, "p2")], "k long, prio string"))
    b.append(
        spark.createDataFrame(
            [(4, 7.0), (3, 2.0)], "fk long, amt double"
        )
    )
    b.delete_where("amt", 10.0, 10.0, mode="dv")  # retract a join row
    assert view.refresh() == (a.version(), b.version())
    assert _mv(view, "prio") == _direct_join(a, b)
    # one-sided advances refresh one phase only
    a.append(spark.createDataFrame([(5, "p1")], "k long, prio string"))
    assert view.refresh() == (a.version(), b.version())
    assert _mv(view, "prio") == _direct_join(a, b)
    b.update_where("amt", 5.0, 5.0, {"amt": "amt + 1.0"})
    assert view.refresh() == (a.version(), b.version())
    assert _mv(view, "prio") == _direct_join(a, b)
    # exactly-once replay
    assert view.refresh() is None


def test_join_view_dim_side_delete_retracts(spark, root):
    """Deleting a DIMENSION row retracts every joined contribution via
    phase 1 (ΔA deletes ⋈ frozen B)."""
    a, b, view = _mk_join(spark, root)
    view.refresh()
    a.delete_where("k", 1, 1)  # order 1 had two lineitems
    view.refresh()
    assert _mv(view, "prio") == _direct_join(a, b)
    assert all(r[0] != "p1" or r[1] == 1 for r in _mv(view, "prio"))


def test_join_view_refuses_clashing_columns(spark, root):
    from data_mastery_pipeline_spark.mv import JoinAggView

    a = TxTable.create(
        spark, root + "/ca",
        spark.createDataFrame([(1, 1.0)], "k long, amt double"),
    )
    b = TxTable.create(
        spark, root + "/cb",
        spark.createDataFrame([(1, 2.0)], "fk long, amt double"),
    )
    with pytest.raises(ValueError, match="amt"):
        JoinAggView.create(
            spark, a, b, "k", "fk", root + "/cmv", "c",
            dims={"k": "k"}, value_expr="amt",
        )


def test_navigator_routes_to_coarsest_fresh_view(spark, root):
    src = TxTable.create(
        spark, root + "/src", _df(spark, [(1, "a", "d1", 1.0), (2, "b", "d2", 3.0)])
    )
    fine = SumCountView.create(
        spark, src, root + "/fine", "fine",
        dims={"grp": "grp", "day": "day"}, value_expr="v",
    )
    coarse = SumCountView.create(
        spark, src, root + "/coarse", "coarse",
        dims={"grp": "grp"}, value_expr="v",
    )
    nav = Navigator(fine, coarse)
    fine.refresh()
    coarse.refresh()
    # both cover ['grp']; the coarse one wins (fewer rows to re-agg)
    assert nav.route(["grp"]) is coarse
    assert nav.route(["grp", "day"]) is fine  # only fine covers
    assert sorted(tuple(r) for r in nav.answer(["grp"]).collect()) == _direct(
        src, "grp"
    )
    # stale coarse view: routing falls through to the FRESH finer one
    src.append(_df(spark, [(3, "a", "d1", 2.0)]))
    fine.refresh()
    assert coarse.is_stale()
    assert nav.route(["grp"]) is fine
    assert sorted(tuple(r) for r in nav.answer(["grp"]).collect()) == _direct(
        src, "grp"
    )
    # every covering view stale: strict raises, strict=False serves
    src.append(_df(spark, [(4, "b", "d2", 4.0)]))
    with pytest.raises(StaleViewError, match="stale"):
        nav.answer(["grp"])
    stale_served = sorted(
        tuple(r) for r in nav.answer(["grp"], strict=False).collect()
    )
    assert stale_served  # the pre-append snapshot, explicitly opted into
    with pytest.raises(ValueError, match="no registered MV"):
        nav.route(["day", "user"])


def test_null_dims_excluded_and_tombstones_hidden(spark, root):
    src, view = _mk(
        spark, root, [(1, None, "d", 1.0), (2, "a", "d", 3.0)]
    )
    view.refresh()
    assert _mv(view, "grp") == [("a", 1, 300)]  # NULL dim never lands
    src.delete_where("v", 3.0, 3.0)  # retract the only 'a' row
    view.refresh()
    assert _mv(view, "grp") == []  # tombstone hidden
    assert view.target.read().filter("n_rows = 0").count() == 1


def test_fold_into_contract(spark, root):
    """streaming/ivm.py's one change-feed fold: signed sums of two
    batches add up in the target, a replayed batch id commits nothing,
    an empty delta still advances the watermark, NULL keys never
    land."""
    from data_mastery_pipeline_spark.streaming import ivm

    tgt = TxTable.create(
        spark,
        root + "/fold",
        spark.createDataFrame([], ivm.mv_schema("k", "string")),
        stat_cols=["k"],
    )

    def fold(rows, batch_id):
        cdf = spark.createDataFrame(
            rows, "k string, v double, _change_type string"
        )
        delta = ivm.signed_sums(
            cdf,
            {"k": F.col("k")},
            {"n_rows": F.lit(1), "sum_cents": ivm.cents(F.col("v"))},
        )
        return ivm.fold_into(
            tgt, delta, "k", ivm.MEASURES, ("app", batch_id)
        )

    def state():
        return sorted(tuple(r) for r in tgt.read().collect())

    fold([("a", 1.0, "insert"), ("b", 2.5, "insert"), (None, 9.0, "insert")], 0)
    assert state() == [("a", 1, 100), ("b", 1, 250)]  # NULL key dropped
    fold([("a", 0.5, "insert"), ("b", 2.5, "delete"), ("c", None, "insert")], 1)
    want = [("a", 2, 150), ("b", 0, 0), ("c", 1, 0)]
    assert state() == want
    v = tgt.version()
    assert fold([("a", 7.0, "insert")], 1) is None  # replay: no-op
    assert tgt.version() == v and state() == want
    fold([(None, 1.0, "insert")], 2)  # folds to an empty delta
    assert tgt.last_stream_batch("app") == 2  # None at merge_upsert's old rule
    assert tgt.version() == v + 1 and state() == want
