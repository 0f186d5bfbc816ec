"""Global plan-hygiene sweep (round 6): EVERY registered pure-plan query
must satisfy the 100 TB invariants —

1. zero CartesianProduct nodes (the O(n·m) disaster switch);
2. zero row-at-a-time Python UDFs (`BatchEvalPython`) in the plan — the
   only sanctioned Python path is Arrow-batched (`ArrowEvalPython` /
   mapInPandas), and the §2 core uses none at all;
3. zero unpartitioned WindowExec nodes ("Moving all data to a single
   partition") except the justified bounded-grain allowlist below —
   the r7 verdict's mechanism so single-task-window site #6 cannot
   ship unnoticed. Data-scale ranking goes through `operators/ranks`;
4. the plan builds (no analysis errors) against sf0.001.

Per-query plan-shape tests (test_plans.py) pin the interesting plans
precisely; this sweep is the tripwire that keeps a FUTURE query from
shipping a cartesian or a row-Python hot path unnoticed — the same role
test_oracle_types.py plays for oracle types.

Action-queries (modules whose construction executes work: source/sink
round trips, streaming drains) are excluded — their cost is the action,
and their plans are sink-table scans; the plan sweep would time out
re-running their physical work for no signal.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E  # noqa: F401  (registers every query module)
from data_mastery_pipeline_spark import plans
from data_mastery_pipeline_spark.registry import QUERIES

from conftest import SF_SMOKE

# pure-plan modules: construction only declares a DataFrame
_PURE_MODULES = (
    "data_mastery_pipeline_spark.queries",
    "data_mastery_pipeline_spark.queries_adv",
    "data_mastery_pipeline_spark.queries_ext",
    "data_mastery_pipeline_spark.queries_ops",
    "data_mastery_pipeline_spark.queries_stats",
    "data_mastery_pipeline_spark.queries_tpch",
    "data_mastery_pipeline_spark.queries_gov",
    "data_mastery_pipeline_spark.queries_insight",
)

# queries_gov entries whose CONSTRUCTION executes work (table-format
# lifecycles, cache writes, streaming drains) — excluded like the
# action modules; their plans are sink scans with no sweep signal
_GOV_ACTION = {
    "mv_navigation",
    "result_cache_daily",
    "stream_geofence_counts",
    # fan_out probe materializes; grid-vs-brute EQUALITY pinned in
    # test_gov.py, the fan-out plan behavior in test_sources.py
    "spatial_knn",
}

_PURE = sorted(
    name
    for name, fn in QUERIES.items()
    if fn.__module__ in _PURE_MODULES and name not in _GOV_ACTION
)

# deliberate, size-bounded exceptions to the no-cartesian rule — each
# must carry a justification here, not just in its docstring
_CARTESIAN_OK: dict[str, str] = {}

# deliberate exceptions to the no-unpartitioned-window rule. ONLY
# calendar/bucket-bounded relations qualify: the window input's
# cardinality is a function of the time horizon (≤ ~365·years rows)
# or a fixed bucket count — NOT of data volume — so the single task
# holds thousands of rows at any scale. Anything keyed by user/part/
# doc/value grain must use operators/ranks instead.
_GLOBAL_WINDOW_OK: dict[str, str] = {
    "moving_avg_7d": "7-day RANGE frame over the per-DAY aggregate "
    "(calendar-bounded input; sliding frames need order)",
    "daily_revenue_anomalies": "28-day lookback RANGE frame over the "
    "per-DAY aggregate (calendar-bounded)",
    "autocorr_daily_revenue": "lag-1 over the per-DAY revenue series "
    "(calendar-bounded)",
    "kaplan_meier_retention": "running product/sum over per-TIME-BUCKET "
    "tick relation (horizon-bounded survival curve grid)",
    "cusum_revenue_shift": "CUSUM running sums/mins over the per-DAY "
    "revenue aggregate (calendar-bounded)",
    "stream_cusum_drift": "the same CUSUM recursion over the MAINTAINED "
    "per-DAY state relation (calendar-bounded; streaming/drift.py "
    "cusum_table)",
    "seasonal_decompose_daily": "centered 7-row MA over the per-DAY "
    "revenue aggregate (calendar-bounded)",
    "seasonal_residual_anomalies": "same per-DAY decomposition windows "
    "as seasonal_decompose_daily (calendar-bounded)",
    "hybrid_search_rrf": "row_number over two fixed ≤50-row top-k leg "
    "relations (constant cardinality at any data volume)",
}


def test_sweep_covers_most_of_the_registry():
    assert len(_PURE) >= 120, f"sweep shrank to {len(_PURE)} queries"


@pytest.mark.parametrize("name", _PURE)
def test_plan_hygiene(name, spark):
    df = QUERIES[name](spark, SF_SMOKE)
    plan = plans.inspect.formatted_plan(df)
    if name not in _CARTESIAN_OK:
        n_cart = plans.inspect.cartesian_product_count(df)
        assert n_cart == 0, f"{name}: {n_cart} cartesian product(s)"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in _GLOBAL_WINDOW_OK:
        n_gw = plans.inspect.unpartitioned_window_count(df)
        assert n_gw == 0, (
            f"{name}: {n_gw} unpartitioned Window node(s) — single-task "
            "at scale; use operators/ranks or justify in _GLOBAL_WINDOW_OK"
        )


def test_global_window_allowlist_is_tight(spark):
    """Every allowlisted query must actually still HAVE an
    unpartitioned window — a stale entry is a hole the next regression
    hides in."""
    for name in _GLOBAL_WINDOW_OK:
        df = QUERIES[name](spark, SF_SMOKE)
        assert plans.inspect.unpartitioned_window_count(df) > 0, (
            f"{name}: allowlisted but clean — remove the entry"
        )


def test_pushed_filters_keep_bracketed_lists(spark, tmp_path):
    """A pushed ``In(path, [...])`` carries brackets of its own (txlog
    DV reads push one): the pushed list comes back whole, with the
    filters on both sides of it. A scan that prints no PushedFilters
    line (a txlog DV read's data scan) still gets its empty entry, so
    the lists stay aligned with the read schemas."""
    from pyspark.sql import functions as F

    from data_mastery_pipeline_spark.sources.txlog import TxTable

    t = TxTable.create(
        spark, str(tmp_path / "tx"), spark.range(6).selectExpr("id as k").coalesce(1)
    )
    t.delete_where("k", 2, 3, mode="dv")
    data_scan, dv_scan = plans.read_schema_columns(t.read())
    assert "k" in data_scan and dv_scan == ["path", "pos"]
    pushed = plans.pushed_filters(t.read())
    assert len(pushed) == 2 and pushed[0] == "" and "path" in pushed[1]

    root = str(tmp_path / "t")
    spark.range(4).selectExpr("cast(id as string) as path", "id as v").write.parquet(
        root
    )
    df = spark.read.parquet(root).filter(
        F.col("path").isin("a", "b") & (F.col("v") > 0)
    )
    assert plans.pushed_filters(df) == [
        "IsNotNull(v), In(path, [a,b]), GreaterThan(v,0)"
    ]
