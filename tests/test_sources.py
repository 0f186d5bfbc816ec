"""Sources/sinks unit tests: REST data source plumbing, JSON parse
contract, partitioned write → pruned read, serving connection options,
run-log lifecycle, retention semantics."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from data_mastery_pipeline_spark import plans
from data_mastery_pipeline_spark.sources import pgserving, rest, runlog, writers
from data_mastery_pipeline_spark.tables import load_table

from conftest import SF_ORACLE


# --- REST source (S1/S2) ---------------------------------------------------


def test_rest_source_one_partition_per_city(spark):
    df = rest.read_weather(spark, cities=("Paris", "London", "Tokyo"))
    assert df.rdd.getNumPartitions() == 3
    rows = {r["city"] for r in df.collect()}
    assert rows == {"Paris", "London", "Tokyo"}


def test_rest_source_schema_is_typed(spark):
    df = rest.read_weather(spark)
    assert df.schema == rest.WEATHER_SCHEMA
    r = df.filter(F.col("city") == "Paris").collect()[0]
    assert isinstance(r["temperature"], float)
    assert isinstance(r["timestamp"], dt.datetime)
    assert r["sunrise"] < r["sunset"]


def test_rest_fetch_is_deterministic():
    assert rest.synthetic_fetch("Paris") == rest.synthetic_fetch("Paris")
    assert rest.synthetic_fetch("Paris") != rest.synthetic_fetch("London")


def test_parse_weather_malformed_returns_none():
    assert rest.parse_weather({}) is None
    assert rest.parse_weather({"name": "X", "main": {}, "weather": []}) is None
    bad = rest.synthetic_fetch("Paris")
    del bad["wind"]
    assert rest.parse_weather(bad) is None


def test_driver_side_fallback_matches_datasource(spark):
    a = rest.read_weather(spark).orderBy("city").collect()
    b = rest.read_weather_driver_side(spark).orderBy("city").collect()
    assert a == b


# --- Partitioned writer (S6/S7/S10/S11) ------------------------------------


def test_partitioned_write_layout_and_pruned_read(spark):
    ev = load_table(spark, "events", SF_ORACLE).limit(5000)
    out = os.path.join(tempfile.mkdtemp(), "events_part")
    writers.write_partitioned(writers.with_date_partitions(ev), out, mode="overwrite")

    # hive-style directory layout exists
    years = [d for d in os.listdir(out) if d.startswith("year=")]
    assert years, os.listdir(out)

    target = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    day = writers.read_day(spark, out, target.year, target.month, target.day)
    plan = plans.formatted_plan(day)
    # pruning must happen at partition level, not as a data filter
    assert "PartitionFilters: [" in plan
    assert f"year#" in plan.split("PartitionFilters", 1)[1][:200]
    expected = ev.filter(F.to_date("ts") == F.lit(target)).count()
    assert day.count() == expected


# --- serving connection options (S12/S13) ---------------------------------


def test_jdbc_url_and_properties():
    """The live serving path's connection surface (the role a JDBC URL
    plus connection properties play for a jar-based connector): the
    pg_serving source's options map onto host/port/user/database, with
    the port cast from its string option and local defaults filled in."""
    opts = pgserving._conn_opts(
        {"host": "db.internal", "port": "6543", "user": "u", "database": "gold"}
    )
    assert (opts.host, opts.port, opts.user, opts.database) == (
        "db.internal", 6543, "u", "gold",
    )
    assert pgserving._conn_opts({}) == pgserving._ConnOpts(
        "127.0.0.1", 5432, "postgres", "postgres"
    )
    with pytest.raises(ValueError):
        pgserving._conn_opts({"port": "not-a-port"})


# --- Run log + retention (gold_loader analog, Q7) ---------------------------


def test_runlog_success_row(spark):
    run = runlog.StageRun("p", "s")
    df = run.success(spark, rows=42)
    r = df.collect()[0]
    assert r["status"] == "success" and r["rows_processed"] == 42
    assert r["duration_seconds"] >= 0
    assert df.schema == runlog.RUNLOG_SCHEMA


def test_run_stage_failure_captures_error(spark):
    def boom():
        raise ValueError("kaput")

    result, audit = runlog.run_stage(spark, "p", "s", boom)
    assert result is None
    r = audit.collect()[0]
    assert r["status"] == "failed"
    assert "kaput" in r["error_message"]


def test_retention_filter_keeps_timestamp_precision(spark):
    ev = load_table(spark, "events", SF_ORACLE)
    anchor = ev.agg(F.max("ts")).collect()[0][0]
    kept = runlog.retention_filter(ev, "ts", 30, now=anchor)
    cutoff = anchor - dt.timedelta(days=30)
    assert kept.filter(F.col("ts") < F.lit(cutoff)).count() == 0
    # horizon is a timestamp, not a truncated date: nothing newer dropped
    assert kept.count() == ev.filter(F.col("ts") >= F.lit(cutoff)).count()


def test_retention_filter_dynamic_matches_collected_anchor(spark):
    """Plan-native horizon (broadcast scalar subquery) ≡ the collect-
    then-filter formulation, with zero driver round trips."""
    ev = load_table(spark, "events", SF_ORACLE)
    anchor = ev.agg(F.max("ts")).collect()[0][0]
    static = runlog.retention_filter(ev, "ts", 30, now=anchor)
    dynamic = runlog.retention_filter_dynamic(ev, "ts", 30)
    assert dynamic.count() == static.count()
    assert dynamic.columns == ev.columns  # anchor column dropped


def test_read_days_dynamic_prunes_partitions_at_runtime(spark, tmp_path):
    """The broadcast day-dim join must plan DYNAMIC partition pruning:
    PartitionFilters carries a dynamicpruning# subquery, so only the
    target day's directory is read — no driver-side day collect."""
    from data_mastery_pipeline_spark.sources import writers

    ev = load_table(spark, "events", SF_ORACLE)
    out = str(tmp_path / "part")
    writers.write_partitioned(writers.with_date_partitions(ev), out)
    target = ev.agg(F.max(F.to_date("ts")).alias("d")).select(
        F.year("d").alias("year"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day"),
    )
    back = writers.read_days_dynamic(spark, out, target)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    want = ev.filter(
        F.to_date("ts") == ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    ).count()
    assert back.count() == want


def test_rest_stream_polls_and_advances_epoch(spark):
    import tempfile
    import uuid

    stream = rest.stream_weather(spark, cities=("Paris", "London"), interval=3600)
    name = f"wx_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        # wait until at least 3 poll cycles (micro-batches) have landed
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 6:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    got = spark.table(name).collect()
    assert len(got) >= 6  # ≥3 cycles × 2 cities
    # each cycle carries a distinct observation timestamp, 1h apart
    ts = sorted({r["timestamp"] for r in got})
    assert len(ts) >= 3
    assert (ts[1] - ts[0]).total_seconds() == 3600.0
    # per-cycle determinism: Paris rows repeat the synthetic fetch exactly
    paris = [r for r in got if r["city"] == "Paris" and r["timestamp"] == ts[0]]
    expected = rest.parse_weather(rest.synthetic_fetch("Paris"))
    assert paris and tuple(paris[0])[:14] == expected[:14]


# --- Real HTTP fetch (HttpFetcher, stdlib urllib) ---------------------------


@pytest.fixture(scope="module")
def weather_server():
    """Local http.server speaking the OpenWeather GET contract: echoes
    the deterministic synthetic payload for (q, dt); /missing 404s."""
    import http.server
    import json
    import threading
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            params = dict(urllib.parse.parse_qsl(parsed.query))
            if parsed.path != "/weather" or "q" not in params:
                self.send_error(404)
                return
            payload = rest.synthetic_fetch(params["q"], int(params.get("dt", 0)))
            body = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_fetcher_success_matches_synthetic(weather_server):
    fetch = rest.HttpFetcher(f"{weather_server}/weather")
    assert fetch("Paris", 1_700_000_000) == rest.synthetic_fetch("Paris", 1_700_000_000)


def test_http_fetcher_error_returns_none_after_bounded_retries(weather_server):
    # 404 path: the reference's None-on-error contract (producer :83-91)
    fetch = rest.HttpFetcher(f"{weather_server}/nope", retries=2, backoff_seconds=0.01)
    assert fetch("Paris", 0) is None


def test_http_fetcher_unreachable_returns_none():
    # connection refused (reserved port, nothing listening) — fast failure
    fetch = rest.HttpFetcher(
        "http://127.0.0.1:9/weather", timeout_seconds=0.5, retries=1
    )
    assert fetch("Paris", 0) is None


def test_rest_source_over_real_http_matches_synthetic(spark, weather_server):
    via_http = rest.read_weather(
        spark, cities=("Paris", "London"), base_url=f"{weather_server}/weather"
    )
    synthetic = rest.read_weather(spark, cities=("Paris", "London"))
    assert sorted(map(tuple, via_http.collect())) == sorted(
        map(tuple, synthetic.collect())
    )


def test_compaction_shrinks_file_count_preserves_data(spark, tmp_path):
    src, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    ev = load_table(spark, "events", SF_ORACLE).select("event_id", "ts", "user_id")
    frag = writers.with_date_partitions(ev)
    # simulate micro-batch accretion: many tiny files per partition dir
    writers.write_partitioned(frag, src, mode="overwrite", max_records_per_file=50)
    stats = writers.compact_partitioned(spark, src, dest)
    assert stats["files_before"] > 3 * stats["files_after"]
    assert stats["rows"] == ev.count()
    # hive layout preserved and values identical
    a = sorted(map(tuple, spark.read.parquet(dest).select("event_id", "user_id").collect()))
    b = sorted(map(tuple, ev.select("event_id", "user_id").collect()))
    assert a == b
    # partition pruning still works on the compacted layout
    one_day = writers.read_day(spark, dest, 2024, 1, 2)
    assert one_day.count() > 0


def test_clustered_write_gives_selective_file_stats(spark, tmp_path):
    """After write_clustered on user_id, each file's user_id min/max span
    is a small disjoint slice of the key space — the property parquet
    row-group skipping needs to prune needle queries."""
    import pyarrow.parquet as pq
    import glob

    dest = str(tmp_path / "clustered")
    ev = load_table(spark, "events", SF_ORACLE).select("event_id", "user_id", "value")
    writers.write_clustered(ev, dest, ["user_id"], num_files=8)

    files = glob.glob(f"{dest}/*.parquet")
    assert len(files) > 1
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["user_id"]).statistics
            los.append(st.min)
            his.append(st.max)
        spans.append((min(los), max(his)))
    glo = min(s[0] for s in spans)
    ghi = max(s[1] for s in spans)
    total_span = sum(hi - lo for lo, hi in spans)
    # clustered: per-file spans tile the key space instead of each file
    # covering ~all of it (unclustered would give ~len(files) * global)
    assert total_span <= 1.2 * (ghi - glo)


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    target = str(tmp_path / "merge_target")
    ev = load_table(spark, "events", SF_ORACLE).select("event_id", "ts", "user_id", "value")
    base = writers.with_date_partitions(ev)
    writers.write_partitioned(base, target, mode="overwrite")

    # pick one existing day; update 5 of its rows + insert 2 new keys there
    one = base.orderBy("event_id").limit(1).collect()[0]
    y, m, d = one["year"], one["month"], one["day"]
    day_rows = base.filter((F.col("year") == y) & (F.col("month") == m) & (F.col("day") == d))
    upd = (
        day_rows.orderBy("event_id").limit(5)
        .withColumn("value", F.lit(-999.0))
    )
    new_rows = upd.withColumn("event_id", F.col("event_id") + 10_000_000)
    updates = upd.unionByName(new_rows)

    import glob, os
    untouched_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/**/*.parquet", recursive=True)
        if f"year={y}/month={m}/day={d}" not in f
    }
    stats = writers.merge_upsert_partitioned(spark, target, updates, ["event_id"])
    assert stats["touched_partitions"] == 1
    assert stats["updated_or_inserted"] == 10

    after = spark.read.parquet(target)
    # updated rows replaced, inserts present, total = base + 5 inserts
    assert after.filter(F.col("value") == -999.0).count() == 10
    assert after.count() == base.count() + 5
    # untouched partition files were not rewritten
    for f, mt in untouched_before.items():
        assert os.path.getmtime(f) == mt, f


def test_stats_only_aggregates_pushes_into_the_scan(spark):
    """COUNT/MIN/MAX answered from parquet footers: the aggregation is
    pushed into the DSv2 scan (plan-asserted inside the helper — it
    RAISES on silent fallback) and the values equal a full aggregation."""
    from data_mastery_pipeline_spark.sources.stats import stats_only_aggregates

    from conftest import SF_SMOKE

    path = f"{SF_SMOKE}/lineitem.parquet"
    got = stats_only_aggregates(
        spark, path, min_max_cols=("l_quantity", "l_extendedprice")
    ).collect()[0]
    want = (
        spark.read.parquet(path)
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_quantity").alias("mn_q"),
            F.max("l_quantity").alias("mx_q"),
            F.min("l_extendedprice").alias("mn_e"),
            F.max("l_extendedprice").alias("mx_e"),
        )
        .collect()[0]
    )
    assert got["n_rows"] == want["n_rows"]
    assert got["min_l_quantity"] == want["mn_q"]
    assert got["max_l_quantity"] == want["mx_q"]
    assert got["min_l_extendedprice"] == want["mn_e"]
    assert got["max_l_extendedprice"] == want["mx_e"]
    # the conf window restored the session's pre-call values (the
    # session factory itself enables aggregatePushdown; the v1 source
    # list must be back so other scans keep their tested v1 plan shape)
    assert "parquet" in spark.conf.get("spark.sql.sources.useV1SourceList")


def test_merge_schema_reads_evolved_partitions(spark, tmp_path):
    """Schema evolution on disk: a later append adds a column; reading
    with mergeSchema=true yields the union schema with NULLs for the
    old files (the write-side twin of union_schema_evolution's
    unionByName read path)."""
    out = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(out)
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[3]["score"] == 9.5
    # default read (no mergeSchema) picks ONE footer — may miss the new
    # column; the option is what makes evolution safe, hence this pin
    assert merged.count() == 3


def test_fan_out_guards_low_split_sources(spark):
    """parallelism.fan_out: repartitions a below-parallelism source,
    leaves an already-parallel plan untouched (no-op — no extra
    exchange on a healthy layout)."""
    from data_mastery_pipeline_spark.parallelism import fan_out
    from data_mastery_pipeline_spark.plans import inspect as plans

    target = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(i,) for i in range(100)], "x int").coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == target

    wide = spark.range(0, 1000, numPartitions=target * 2)
    out = fan_out(wide.toDF("x"))
    assert out.rdd.getNumPartitions() == target * 2  # untouched
    assert plans.exchange_count(out) == 0


def test_load_table_policy_fans_out_cpu_heavy_tables(spark):
    """VERDICT r05 task 6: documents/embeddings fan out at load time
    (policy), so no individual heavy query can forget; relational
    tables are untouched; fan_out=False opts out."""
    from conftest import SF_SMOKE

    from data_mastery_pipeline_spark import tables

    target = spark.sparkContext.defaultParallelism
    docs = tables.load_table(spark, "documents", SF_SMOKE)
    assert docs.rdd.getNumPartitions() >= target
    raw = tables.load_table(spark, "documents", SF_SMOKE, fan_out=False)
    assert raw.rdd.getNumPartitions() < target  # single small file
    # relational tables keep their scan layout (no forced exchange):
    # the policy set is exactly the two CPU-heavy tables
    assert tables.CPU_HEAVY_TABLES == {"documents", "embeddings"}
    li = tables.load_table(spark, "lineitem", SF_SMOKE)
    assert "Exchange" not in li._jdf.queryExecution().executedPlan().toString()
    # fan_out=True is the sanctioned per-call escalation for a
    # non-policy table feeding CPU-heavy narrow compute (spatial_knn's
    # customer corpus, r8) — same conditional no-op semantics
    cust = tables.load_table(spark, "customer", SF_SMOKE, fan_out=True)
    assert cust.rdd.getNumPartitions() >= target


def test_spatial_knn_fans_out_via_load_table_flag(spark):
    """The r5→r8 lesson as a pin: spatial_knn's corpus side must fan
    out (its per-probe partial top-k sort otherwise runs in ONE task on
    a single-row-group scan) and must do it through load_table's flag,
    not a per-site parallelism patch — the plan carries the round-robin
    exchange below the probe cross-product."""
    import __spark_entry__  # noqa: F401

    from conftest import SF_SMOKE

    from data_mastery_pipeline_spark.registry import QUERIES

    df = QUERIES["spatial_knn"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_erase_keys_partitioned_rewrites_only_touched(spark, tmp_path):
    """GDPR-style delete propagation: erased keys vanish, untouched
    partitions keep their files byte-identical, and stats report the
    touched scope."""
    import os

    from conftest import SF_SMOKE

    from data_mastery_pipeline_spark import tables
    from data_mastery_pipeline_spark.sources import writers
    from pyspark.sql import functions as F

    ev = tables.load_table(spark, "events", SF_SMOKE).withColumns(
        {"year": F.year("ts"), "month": F.month("ts"), "day": F.dayofmonth("ts")}
    )
    path = str(tmp_path / "erase_t")
    ev.write.mode("overwrite").partitionBy("year", "month", "day").parquet(path)

    # erase the users present ONLY in one specific day → other days untouched
    one_day = ev.filter((F.col("month") == 1) & (F.col("day") == 3))
    doomed = one_day.select("user_id").distinct()
    n_doomed_rows = ev.join(doomed, "user_id", "semi").count()

    def snapshot(day_not: int):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet") and f"day={day_not}" not in root:
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = snapshot(3)
    stats = writers.erase_keys_partitioned(
        spark, path, doomed, "user_id", ["year", "month", "day"]
    )
    assert stats["rows_erased"] == n_doomed_rows
    back = spark.read.parquet(path)
    assert back.join(doomed, "user_id", "semi").count() == 0
    assert back.count() == ev.count() - n_doomed_rows
    # untouched partitions keep their files byte-identical (the erased
    # users appear in every day's partition at this SF, so restrict the
    # stability check to directories the erasure did NOT touch — none
    # here would qualify only if every day was touched; assert the
    # helper agrees with the stats either way)
    after = snapshot(3)
    untouched = {p: t for p, t in before.items() if p in after}
    assert all(after[p] == t for p, t in untouched.items())
    # NOTE: at this SF the doomed users span every day, so `untouched`
    # may legitimately be empty here — the falsifiable partition-bounded
    # check lives in test_erase_keys_partitioned_blast_radius below,
    # whose fixture GUARANTEES an untouched partition (review r6: this
    # check alone passed vacuously even for a full-table rewrite).


def test_erase_keys_partitioned_blast_radius(spark, tmp_path):
    """Partition-boundedness, falsifiably: a partition containing NONE
    of the erased keys must keep its exact files (paths + mtimes). The
    fixture guarantees such a partition exists, so a regression to a
    full-table rewrite FAILS here (review r6: the SF-based test's
    untouched set could be empty, making its all() vacuous)."""
    import os

    from data_mastery_pipeline_spark.sources import writers

    rows = [
        (1, 2024, 1, 1), (2, 2024, 1, 1),      # day 1: users 1, 2
        (99, 2024, 1, 2), (98, 2024, 1, 2),    # day 2: users 98, 99
    ]
    df = spark.createDataFrame(rows, "user_id bigint, year int, month int, day int")
    path = str(tmp_path / "erase_blast")
    df.write.mode("overwrite").partitionBy("year", "month", "day").parquet(path)

    day1 = os.path.join(path, "year=2024", "month=1", "day=1")
    before = {
        f: os.path.getmtime(os.path.join(day1, f))
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    }
    assert before  # fixture sanity: the untouched partition has files

    doomed = spark.createDataFrame([(99,)], "user_id bigint")
    stats = writers.erase_keys_partitioned(
        spark, path, doomed, "user_id", ["year", "month", "day"]
    )
    assert stats["rows_erased"] == 1
    after = {
        f: os.path.getmtime(os.path.join(day1, f))
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    }
    assert after == before  # same files, same mtimes — partition untouched
    back = spark.read.parquet(path)
    assert sorted(r["user_id"] for r in back.collect()) == [1, 2, 98]


def test_erase_keys_partitioned_deletes_fully_emptied_partitions(spark, tmp_path):
    """The dynamic-overwrite blind spot: a partition whose EVERY row is
    erased writes no replacement data — its directory must be deleted
    explicitly or the erased rows survive on disk."""
    import os

    from data_mastery_pipeline_spark.sources import writers
    from pyspark.sql import functions as F

    rows = [(1, 2024, 1, 1), (2, 2024, 1, 1), (3, 2024, 1, 2)]
    df = spark.createDataFrame(rows, "user_id bigint, year int, month int, day int")
    path = str(tmp_path / "erase_empty")
    df.write.mode("overwrite").partitionBy("year", "month", "day").parquet(path)
    doomed = spark.createDataFrame([(1,), (2,)], "user_id bigint")
    stats = writers.erase_keys_partitioned(
        spark, path, doomed, "user_id", ["year", "month", "day"]
    )
    assert stats["partitions_emptied"] == 1
    assert not os.path.exists(os.path.join(path, "year=2024", "month=1", "day=1"))
    back = spark.read.parquet(path)
    assert [tuple(r) for r in back.select("user_id").collect()] == [(3,)]


def test_erase_keys_partitioned_noop_on_unknown_keys(spark, tmp_path):
    from data_mastery_pipeline_spark.sources import writers

    df = spark.createDataFrame(
        [(1, 2024, 1, 1)], "user_id bigint, year int, month int, day int"
    )
    path = str(tmp_path / "erase_noop")
    df.write.mode("overwrite").partitionBy("year", "month", "day").parquet(path)
    ghost = spark.createDataFrame([(999,)], "user_id bigint")
    stats = writers.erase_keys_partitioned(
        spark, path, ghost, "user_id", ["year", "month", "day"]
    )
    assert stats == {
        "touched_partitions": 0,
        "rows_erased": 0,
        "rows_remaining_in_touched": 0,
        "partitions_emptied": 0,
    }
    assert spark.read.parquet(path).count() == 1


def test_erase_keys_partitioned_handles_null_partition_values(spark, tmp_path):
    """Review r6 finding: rows whose partition value is NULL land in
    __HIVE_DEFAULT_PARTITION__; non-null-safe equality would silently
    exclude that partition from the rewrite and the erased keys would
    survive on disk — the worst possible GDPR failure mode."""
    from data_mastery_pipeline_spark.sources import writers

    rows = [(1, 2024), (2, None), (3, None), (4, 2025)]
    df = spark.createDataFrame(rows, "user_id bigint, year int")
    path = str(tmp_path / "erase_null")
    df.write.mode("overwrite").partitionBy("year").parquet(path)
    doomed = spark.createDataFrame([(2,)], "user_id bigint")
    stats = writers.erase_keys_partitioned(spark, path, doomed, "user_id", ["year"])
    assert stats["rows_erased"] == 1
    back = spark.read.parquet(path)
    got = sorted(r["user_id"] for r in back.collect())
    assert got == [1, 3, 4]
    # now erase the LAST null-partition row: the default dir must go
    doomed2 = spark.createDataFrame([(3,)], "user_id bigint")
    stats2 = writers.erase_keys_partitioned(spark, path, doomed2, "user_id", ["year"])
    assert stats2["partitions_emptied"] == 1
    import os

    assert not os.path.exists(os.path.join(path, "year=__HIVE_DEFAULT_PARTITION__"))
    assert sorted(r["user_id"] for r in spark.read.parquet(path).collect()) == [1, 4]


def test_merge_upsert_preserves_null_partition_rows(spark, tmp_path):
    """Review r6: same NULL-partition hole as erasure but worse — the
    non-null-safe filter excluded __HIVE_DEFAULT_PARTITION__ from the
    survivors while dynamic overwrite still rewrote it, silently
    DELETING every pre-existing NULL-partition row the update didn't
    carry."""
    from data_mastery_pipeline_spark.sources import writers

    rows = [(1, 10.0, 2024), (2, 20.0, None), (3, 30.0, None)]
    df = spark.createDataFrame(rows, "k bigint, v double, year int")
    path = str(tmp_path / "merge_null")
    df.write.mode("overwrite").partitionBy("year").parquet(path)
    upd = spark.createDataFrame([(2, 200.0, None)], "k bigint, v double, year int")
    writers.merge_upsert_partitioned(spark, path, upd, ["k"], ["year"])
    back = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    # k=2 updated; k=3 (same NULL partition, not in the update) SURVIVES
    assert back == {1: 10.0, 2: 200.0, 3: 30.0}
