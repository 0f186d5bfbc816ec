"""Source/sink lifecycle queries — the write path, REST ingestion, and
retention, registered in the driver contract (SURVEY §2.A, §2.L Q7).

These exercise REAL I/O: `partitioned_roundtrip` physically writes a
hive-partitioned copy of `events` and reads one day back through
partition pruning; `rest_ingest` runs the executor-side Python Data
Source; `runlog_demo` executes a stage under run-logging. Oracles cover
everything deterministic (the REST oracle is a golden VALUES table —
the synthetic fetcher is pure, so its expected output is enumerable).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .localrel import local_frame
from .registry import quantize, query, sql_quantize
from .sources import rest, runlog, writers
from .tables import load_table

# last temp dir per (tag, sf_dir): the next in-process invocation of
# the same query reclaims the PREVIOUS dir (its result is consumed by
# then) instead of leaking one per call; the current dir is deferred to
# process exit (results read it lazily).
_LAST_DIR: dict = {}


def _fresh_dir(tag: str, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    key = (tag, sf_dir)
    prev = _LAST_DIR.pop(key, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"dmps_{tag}_")
    _LAST_DIR[key] = d
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _golden_weather_values() -> str:
    """DuckDB VALUES literal for the synthetic REST fetch of the default
    cities — enumerable because the fetcher is a pure function."""
    rows = []
    for city in rest.DEFAULT_CITIES:
        r = rest.parse_weather(rest.synthetic_fetch(city))
        assert r is not None
        rows.append(
            f"('{r[0]}', {r[2]}, {r[7]}, TIMESTAMP '{r[14].isoformat(sep=' ')}')"
        )
    return ",\n           ".join(rows)


@query(
    "rest_ingest",
    f"""
    SELECT city, temperature::DOUBLE AS temperature, humidity, ts FROM (
        VALUES {_golden_weather_values()}
    ) AS t(city, temperature, humidity, ts)
    """,
)
def rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 — executor-parallel REST ingest via the Python Data Source
    API (one partition per city), flattened to typed rows; checked
    against the golden expected table."""
    wx = rest.read_weather(spark)
    return wx.select(
        "city", "temperature", "humidity", F.col("timestamp").alias("ts")
    )


@query(
    "partitioned_roundtrip",
    """
    SELECT event_type, count(*) AS n_events
    FROM events
    WHERE date_trunc('day', ts) = (SELECT max(date_trunc('day', ts)) FROM events)
    GROUP BY event_type
    """,
)
def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S7+S10+S11 — the write path, for real: events → hive
    `year=/month=/day=` parquet layout (snappy), then a partition-PRUNED
    read of the latest day aggregated per event type.

    The target day stays INSIDE the plan: a one-row (year, month, day)
    aggregate broadcast into the partitioned scan triggers dynamic
    partition pruning (`dynamicpruning#` in PartitionFilters — only the
    matching day's directory is listed/read, decided at runtime). No
    driver-side collect anywhere in the query."""
    ev = load_table(spark, "events", sf_dir)
    # per-invocation unique dir: a fixed shared path raced concurrent
    # bench/driver invocations (one's lazy read vs the other's
    # overwrite) — the ADVICE r04 versioned_snapshot_diff fix, applied
    # here too (review r6)
    out_dir = _fresh_dir("roundtrip", sf_dir)
    writers.write_partitioned(
        writers.with_date_partitions(ev), out_dir, mode="overwrite"
    )
    target = ev.agg(F.max(F.to_date("ts")).alias("d")).select(
        F.year("d").alias("year"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day"),
    )
    back = writers.read_days_dynamic(spark, out_dir, target)
    return back.groupBy("event_type").agg(F.count("*").alias("n_events"))


@query(
    "retention_30d",
    f"""
    SELECT count(*) AS retained,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 30 DAY
    """,
)
def retention_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — retention horizon as a filter rewrite (cleanup_old_data
    analog, schema.sql:259-286), anchored at the dataset's max event
    time so the check is deterministic. The anchor is a broadcast scalar
    subquery, not a driver collect (retention_filter_dynamic)."""
    ev = load_table(spark, "events", sf_dir)
    kept = runlog.retention_filter_dynamic(ev, "ts", 30)
    from .registry import quantize

    return kept.agg(
        F.count("*").alias("retained"), quantize(F.sum("value"), "sum_value")
    )


@query(
    "runlog_demo",
    """
    SELECT 'events_count' AS stage, 'success' AS status,
           count(*) AS rows_processed
    FROM events
    """,
)
def runlog_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-log lifecycle (gold_loader.py:77-167 analog): execute a stage
    under audit and expose its deterministic columns (stage/status/rows);
    execution_id/timestamps/duration are checked for presence by schema
    in tests/test_sources.py."""
    ev = load_table(spark, "events", sf_dir)
    _, audit = runlog.run_stage(
        spark, "demo_pipeline", "events_count", lambda: (ev, ev.count())
    )
    return audit.select("stage", "status", "rows_processed")


def _golden_daily_values() -> str:
    """Python mirror of ingest→silver→daily for the default config —
    enumerable because every stage is a pure function of (city, epoch).
    Returns a DuckDB VALUES literal."""
    from collections import defaultdict
    from datetime import datetime, timezone

    groups: dict[tuple, list] = defaultdict(list)
    for i in range(24):
        epoch = 1_700_000_000 + i * 3600
        for city in rest.DEFAULT_CITIES:
            r = rest.parse_weather(rest.synthetic_fetch(city, epoch))
            assert r is not None
            temp, temp_min, temp_max, humidity = r[2], r[4], r[5], r[7]
            if not (-100.0 <= temp <= 60.0):
                continue
            d = datetime.fromtimestamp(epoch, tz=timezone.utc)
            groups[(r[0], r[1], d.year, d.month, d.day)].append(
                (temp, temp_min, temp_max, humidity)
            )

    def q2(x: float) -> float:
        import math

        return math.floor(x * 100 + 0.5) / 100.0

    rows = []
    for (city, country, y, m, d), vals in sorted(groups.items()):
        n = len(vals)
        rows.append(
            f"('{city}', '{country}', {y}, {m}, {d}, "
            f"{q2(sum(v[0] for v in vals) / n)}, {min(v[1] for v in vals)}, "
            f"{max(v[2] for v in vals)}, {q2(sum(v[3] for v in vals) / n)}, {n})"
        )
    return ",\n           ".join(rows)


@query(
    "weather_pipeline_daily",
    f"""
    SELECT city, country, year, month, day,
           avg_temperature::DOUBLE AS avg_temperature,
           min_temperature::DOUBLE AS min_temperature,
           max_temperature::DOUBLE AS max_temperature,
           avg_humidity::DOUBLE AS avg_humidity,
           record_count::BIGINT AS record_count
    FROM (
        VALUES {_golden_daily_values()}
    ) AS t(city, country, year, month, day, avg_temperature, min_temperature,
           max_temperature, avg_humidity, record_count)
    """,
)
def weather_pipeline_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE silver flow in one plan (SURVEY §3.1-3.2):
    24 REST poll cycles → clean → derive → daily aggregate
    (pipeline.py). The oracle is an independently-computed golden table
    (pure Python mirror of every stage), so this checks the full
    composition, not just the operators."""
    from . import pipeline
    from .registry import quantize

    bronze = pipeline.ingest_bronze(spark, n_cycles=24)
    daily = pipeline.silver_daily(pipeline.to_silver(bronze))
    return daily.select(
        "city", "country",
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        F.col("day").cast("int").alias("day"),
        quantize(F.col("avg_temperature"), "avg_temperature"),
        F.col("min_temperature"),
        F.col("max_temperature"),
        quantize(F.col("avg_humidity"), "avg_humidity"),
        F.col("record_count"),
    )


@query(
    "pg_serving_roundtrip",
    f"""
    SELECT user_id, count(*)::BIGINT AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
)
def pg_serving_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12+S13, LIVE: gold per-user stats upserted into a real PostgreSQL
    serving table (INSERT .. ON CONFLICT keyed on user_id — the
    gold_loader idempotency contract, gold_loader.py:296-319 + UNIQUE
    index sql/schema.sql:86), then read BACK through the executor-side
    wire-protocol data source in 4 parallel range slices. The returned
    frame is the serving table's content, so the oracle checks the full
    write→store→partitioned-read cycle. DROP+recreate keeps re-runs
    deterministic; the upsert keeps a replay of the same run a no-op.
    """
    from .registry import quantize
    from .sources import pgserving, pgwire

    if not pgserving.ensure_local_server():
        raise RuntimeError("local PostgreSQL unavailable for serving round-trip")
    pgserving.register(spark)

    ev = load_table(spark, "events", sf_dir)
    gold = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
        )
        # materialize the (tiny) gold frame once: the write AND the
        # read-bounds both consume it, and without this each would
        # replay the full events scan+aggregate
        .localCheckpoint()
    )
    table = f"gold_user_stats_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    with pgwire.PGConnection(port=pgserving.LOCAL_PORT, database="serving") as conn:
        conn.execute(f"DROP TABLE IF EXISTS {table}")
        pgserving.ensure_serving_table(conn, table, gold.schema, key_cols=["user_id"])
    pgserving.write_serving_table(
        gold, table, port=pgserving.LOCAL_PORT, database="serving",
        upsert_keys=["user_id"], num_partitions=4,
    )
    # Partitioned-connector bounds are driver-side literals by contract
    # (Spark's own JDBC reader takes lowerBound/upperBound parameters at
    # planning time — slice boundaries cannot live inside the plan);
    # reading them off the checkpointed gold frame costs no table scan.
    hi = int(gold.agg(F.max("user_id")).collect()[0][0] or 0) + 1
    return pgserving.read_serving_table(
        spark, table, port=pgserving.LOCAL_PORT, database="serving",
        partition_column="user_id", lower_bound=0, upper_bound=hi, num_partitions=4,
    )


@query(
    "versioned_snapshot_diff",
    f"""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '2000-01-01' AND o_orderkey % 101 <> 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-07-01'
    ), diff AS (
      SELECT CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                  WHEN new.o_orderkey IS NULL THEN 'delete'
                  WHEN new.o_totalprice <> old.o_totalprice THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(new.o_totalprice, 0.0) AS new_price,
             COALESCE(old.o_totalprice, 0.0) AS old_price
      FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           floor(sum(new_price) * 100 + 0.5) / 100.0 AS sum_new_price,
           floor(sum(old_price) * 100 + 0.5) / 100.0 AS sum_old_price
    FROM diff GROUP BY change_type ORDER BY change_type
    """,
)
def versioned_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff through the REAL versioned storage layer
    (sources/versioned.py): the two synthetic order snapshots are
    WRITTEN as table versions 1 and 2, read back via the version
    pointer + time travel, and diffed — proving write→pointer-swing→
    time-travel-read end to end, not just the diff algebra.

    Scale: the versioned layer adds no read amplification (a snapshot
    read is a plain parquet scan of one version dir); the diff itself
    is snapshot_diff's single keyed full-outer join.
    """
    from .sources import versioned as _versioned

    o = load_table(spark, "orders", sf_dir)
    old = o.filter(
        (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderkey") % 101 != 0)
    ).select("o_orderkey", "o_totalprice")
    new = o.filter(
        F.col("o_orderdate") < F.lit("2000-07-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )

    # Per-invocation unique dir (_fresh_dir): a fixed shared path raced
    # when bench and the driver verify ran concurrently over the same
    # sf_dir — one rmtree'd the other's snapshots mid-read (ADVICE r04).
    root = _fresh_dir("versioned", sf_dir)
    _versioned.write_version(spark, root, old)
    _versioned.write_version(spark, root, new)

    prev = _versioned.read_version(spark, root, 1)  # time travel
    live = _versioned.read_version(spark, root)  # pointer resolve
    joined = prev.alias("old").join(
        live.alias("new"), "o_orderkey", "full_outer"
    )
    change = (
        F.when(F.col("old.o_totalprice").isNull(), "insert")
        .when(F.col("new.o_totalprice").isNull(), "delete")
        .when(F.col("new.o_totalprice") != F.col("old.o_totalprice"), "update")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change_type"),
            F.coalesce(F.col("new.o_totalprice"), F.lit(0.0)).alias("np"),
            F.coalesce(F.col("old.o_totalprice"), F.lit(0.0)).alias("op"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n"),
            quantize(F.sum("np"), "sum_new_price"),
            quantize(F.sum("op"), "sum_old_price"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Round-5 late batch (format breadth + scan-reduction). Registered BELOW the
# entire verification backlog in __spark_entry__._PRIORITY: they consume zero
# r05 driver slots and form round 6's fresh verification batch.
# ---------------------------------------------------------------------------

@query(
    "orc_roundtrip",
    f"""
    SELECT event_type, count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")},
           max(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-twin on ORC: events → native ORC write → vectorized ORC scan →
    aggregate. Proves the second columnar format end-to-end (schema,
    timestamps, doubles survive the round trip bit-exactly); the scan
    side shares parquet's pruning/pushdown machinery so plan shape is
    format-invariant (sources/formats.py)."""
    from .sources import formats

    ev = load_table(spark, "events", sf_dir)
    path = _fresh_dir("orc", sf_dir)
    formats.write_orc(ev, path)
    back = formats.read_orc(spark, path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        quantize(F.sum("value"), "sum_value"),
        F.max("ts").alias("max_ts"),
    )


@query(
    "csv_quarantine_roundtrip",
    f"""
    SELECT event_type, count(*) AS n_rows,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__quarantined__', 3, NULL
    """,
)
def csv_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest edge with parser-level quarantine: events rendered as
    CSV lines + 3 injected malformed lines (unparseable long/long/double
    tokens), read back PERMISSIVE with ``_corrupt_record`` capture
    (sources/formats.py), then aggregated with corrupt rows routed to a
    '__quarantined__' bucket instead of dropped — the format-boundary
    analog of the silver quality gates (Q1-Q6).

    Double fidelity: Spark's double→string cast is shortest-roundtrip
    (Java ``Double.toString``), so value survives text exactly; the
    oracle therefore aggregates the parquet source directly and only
    the 3 injected lines differ."""
    from pyspark.sql import types as T

    from .sources import formats

    ev = load_table(spark, "events", sf_dir)
    # concat_ws silently DROPS null arguments, which would left-shift
    # the remaining tokens and corrupt the row's arity; coalesce each
    # field to '' instead — an empty token round-trips as null, and the
    # oracle's GROUP BY sees the same null groups
    tok = lambda c: F.coalesce(c.cast("string"), F.lit(""))  # noqa: E731
    lines = ev.select(
        F.concat_ws(
            ",",
            tok(F.col("event_id")),
            tok(F.col("user_id")),
            tok(F.col("event_type")),
            tok(F.col("value")),
        ).alias("value")
    )
    bad = local_frame(
        spark,
        [("not_an_id,7,click,1.25",), ("42,seven,view,2.5",), ("9,9,purchase,xx",)],
        "value string",
    )
    path = _fresh_dir("csvq", sf_dir)
    lines.unionAll(bad).write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = formats.read_csv_quarantined(spark, path, schema)
    corrupt = F.col(formats.CORRUPT_COL).isNotNull()
    label = F.when(corrupt, F.lit("__quarantined__")).otherwise(F.col("event_type"))
    # a corrupt row's partially-parsed fields are preserved by the
    # reader but must not leak into analytics: null the measure so the
    # quarantine bucket reports count-only
    trusted = F.when(~corrupt, F.col("value"))
    return parsed.groupBy(label.alias("event_type")).agg(
        F.count("*").alias("n_rows"), quantize(F.sum(trusted), "sum_value")
    )


@query(
    "bloom_join_prune",
    f"""
    SELECT count(*) AS n_orders,
           count(DISTINCT c_custkey) AS n_customers,
           {sql_quantize("sum(o_totalprice)", "sum_price")}
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
    """,
)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom semi-join reduction (operators/bloomjoin.py): the
    selective customer subset builds a 16 KiB bloom as a ONE-ROW
    relation (bit_or word aggregate, zero driver collect), broadcast
    onto orders to drop non-matching rows BEFORE the join shuffle; the
    join then removes false positives, so the result is exactly the
    plain join's — which is what the oracle runs."""
    from .operators import bloomjoin

    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    )
    joined = bloomjoin.bloom_pruned_join(orders, cust, "o_custkey", "c_custkey")
    return joined.agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("c_custkey").alias("n_customers"),
        quantize(F.sum("o_totalprice"), "sum_price"),
    )


@query(
    "file_pruning_stats",
    f"""
    SELECT event_type, count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events
    WHERE user_id BETWEEN 5 AND 9
    GROUP BY event_type
    """,
)
def file_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven data skipping (sources/manifest.py): events are
    range-clustered on user_id into 8 files (writers.write_clustered),
    a per-file min/max manifest is built once, and the needle query
    reads ONLY the files whose range intersects [5, 9] — the
    plain-parquet form of Iceberg manifest pruning. The query RAISES if
    no file was actually skipped, so the skipping claim is enforced,
    not assumed; row-level results are exact (residual filter) and the
    oracle is the plain filtered aggregate."""
    from .sources import manifest as mf
    from .sources import writers

    ev = load_table(spark, "events", sf_dir)
    path = _fresh_dir("skip", sf_dir)
    writers.write_clustered(ev, path, ["user_id"], num_files=8)
    man = mf.build_manifest(spark, path, ["user_id"])
    df, stats = mf.skipping_scan(spark, man, "user_id", 5, 9)
    if stats["files_read"] >= stats["files_total"]:
        raise AssertionError(
            f"manifest pruning ineffective: read {stats['files_read']}"
            f"/{stats['files_total']} files for a needle range"
        )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value")
    )


def _produce_events_topic(spark: SparkSession, sf_dir: str, tag: str):
    """The kafka-wire PRODUCE leg shared by the three wire queries
    (roundtrip / stream-hourly / lake-daily): broker+datasource setup,
    previous-invocation topic reclaim (the broker log is in-memory and
    append-only — same pattern as _fresh_dir), keyed-JSON produce of
    the events projection over TCP. ONE definition so the produce and
    parse sides can never disagree on format or protocol (review r6:
    this ~25-line block existed three times, the µs timestamp format
    four times). Returns (broker, topic, fmt, payload_schema, ev)."""
    import uuid

    from pyspark.sql import types as T

    from .schemas import EVENTS
    from .streaming import kafka, kafkawire

    broker = kafkawire.ensure_local_broker()
    kafkawire.register(spark)
    prev = _LAST_DIR.pop((tag, sf_dir), None)
    if prev is not None:
        broker.drop_topic(prev)
    topic = f"{tag}_{uuid.uuid4().hex}"
    _LAST_DIR[(tag, sf_dir)] = topic

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # The wire sink produces one connection per Spark partition; a
    # small parquet input arrives as ONE scan split, so the JSON
    # encode + TCP produce ran single-core (measured 1.7 s warm at
    # sf0.1 — guide §2). Fan out a FEW ways so the per-task encode
    # pipelines against the broker: the topic is single-partition by
    # protocol (one append log), so the broker's per-topic lock — in
    # one GIL-bound process here — is the serializing resource and
    # producer parallelism past a handful only contends (measured:
    # 1 task 1.8 s, 8 tasks 1.3 s, 32 tasks 3.0 s). The cap mirrors
    # the real-Kafka rule that per-partition producer parallelism
    # doesn't scale past the partition's append path; every wire
    # consumer is offset-sliced and order-insensitive (identity set /
    # aggregates), and delivery stays at-least-once per task exactly
    # as before.
    target = min(spark.sparkContext.defaultParallelism, 8)
    if ev.rdd.getNumPartitions() < target:
        ev = ev.repartition(target)
    fmt = {"timestampFormat": kafka.TS_FMT_MICROS}  # µs precision both ways
    pair = kafka.to_kafka_records(ev, key_col="user_id", json_options=fmt)
    (
        pair.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
        .write.format("kafka_wire")
        .option("port", broker.port)
        .option("topic", topic)
        .mode("append")
        .save()
    )
    payload_schema = T.StructType([f for f in EVENTS.fields if f.name != "props"])
    return broker, topic, fmt, payload_schema, ev


@query(
    "kafka_wire_roundtrip",
    """
    SELECT event_id, ts, user_id, event_type,
           floor((value) * 10000 + 0.5) / 10000.0 AS value
    FROM events
    """,
)
def kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4 over the REAL WIRE: events → keyed-JSON Produce to an
    in-process Kafka-protocol broker over TCP → offset-range-sliced
    parallel Fetch through the ``kafka_wire`` Python DataSource →
    parse back to typed rows (streaming/kafkawire.py — from-scratch
    Metadata/Produce/Fetch/ListOffsets v0, CRC-checked message sets).
    The oracle is the identity: wire framing + JSON round trip lose
    nothing. Unlike ``kafka_roundtrip`` (format-level), every byte here
    crosses a socket; executor tasks each fetch their own offset slice
    (the connector planning model, S8's offset-bounded read).

    Per-invocation topic: the broker log is append-only, so a fixed
    topic would double on re-run (the uuid is the Kafka idempotence
    story in miniature — idempotent SINKS, not idempotent logs)."""
    broker, topic, fmt, payload_schema, _ev = _produce_events_topic(
        spark, sf_dir, "kw_topic"
    )

    back = (
        spark.read.format("kafka_wire")
        .option("port", broker.port)
        .option("topic", topic)
        .option("num_partitions", 8)
        .load()
    )
    parsed = back.select(
        F.from_json(F.col("value").cast("string"), payload_schema, fmt).alias("r")
    ).select("r.*")
    return parsed.select(
        "event_id", "ts", "user_id", "event_type", quantize(F.col("value"), "value", 4)
    )


@query(
    "kafka_wire_stream_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def kafka_wire_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kafka_wire STREAMING path as a driver row (VERDICT r05 task
    7): events → keyed-JSON Produce over TCP → ``readStream`` through
    the wire source's micro-batch offset tracking
    (kafkawire.KafkaWireStreamReader: each batch reads [committed,
    log-end), the offset pair is the checkpointed source offset, and
    readBetweenOffsets replays WAL-recorded batches exactly) → JSON
    parse → watermarked 1-hour tumbling aggregate in complete mode →
    memory sink. The oracle is the batch hourly aggregate over the
    same events: wire transport + streaming execution must lose
    nothing. The sink is polled until the aggregate accounts for every
    produced row (complete mode republishes the full state each
    trigger), then the stream stops — a bounded, deterministic drain
    of a genuinely unbounded source (availableNow needs source-side
    support the simple-reader API doesn't offer).

    100 TB: the aggregation state is (hour × event_type)-sized —
    mergeable, bounded; the transport is offset-sliced per micro-batch
    exactly like the real connector. Parity with stream_tumbling_hourly
    (same agg over the file source) isolates the wire leg."""
    import shutil
    import time as _time
    import uuid

    from .streaming import windows as swin

    broker, topic, fmt, payload_schema, ev = _produce_events_topic(
        spark, sf_dir, "kw_stream_topic"
    )
    expected = ev.count()
    stream = (
        spark.readStream.format("kafka_wire")
        .option("port", broker.port)
        .option("topic", topic)
        .load()
        .select(
            F.from_json(F.col("value").cast("string"), payload_schema, fmt).alias("r")
        )
        .select("r.ts", "r.event_type", "r.value")
    )
    agg = swin.tumbling_value_stats(stream, window="1 hour", watermark="1 hour")

    import tempfile

    name = f"kw_stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_kw_stream_")
    conf_key = "spark.sql.shuffle.partitions"
    prev_sp = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "8")  # state-store count (see core.run_available_now)
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 180
            while _time.time() < deadline:
                got = (
                    spark.table(name)
                    .agg(F.sum("n_events").alias("n"))
                    .collect()[0]["n"]
                )
                if got == expected:
                    break
                _time.sleep(0.05)
            else:
                raise TimeoutError(
                    f"kafka_wire_stream_hourly: sink saw {got}/{expected} rows"
                )
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        if prev_sp is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_sp)
    # materialize the final state off the sink table — JVM-side via
    # eager localCheckpoint (bounded: |hours| x |event types| aggregate
    # rows) — then reclaim the sink table + checkpoint dir (review r6:
    # they accumulated per invocation). collect+createDataFrame here
    # paid a Python round trip plus a parallelized-RDD re-evaluation on
    # every downstream action (guide §4).
    res = (
        spark.table(name)
        .select(
            "window_start",
            "event_type",
            "n_events",
            quantize(F.col("sum_value"), "sum_value"),
        )
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


@query(
    "zorder_pruning_stats",
    f"""
    SELECT event_type, count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events
    WHERE user_id BETWEEN 20 AND 40 AND value BETWEEN 50.0 AND 120.0
    GROUP BY event_type
    """,
)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered layout (sources/layout.py): events are written
    range-clustered on the Morton interleave of (user_id, value) into
    16 files, a two-column manifest is built, and a CONJUNCTIVE 2-D
    needle reads only files overlapping BOTH ranges
    (manifest.skipping_scan_multi). The space-filling curve is what
    makes both dimensions' file stats selective at once — 1-D
    clustering on user_id would leave the value dimension's stats
    spanning the full range in every file. The query RAISES unless
    (a) files were skipped AND (b) the value dimension contributed
    pruning on its own — so the Z-order claim is enforced, not
    assumed. Row-level results are exact (residual filter); the oracle
    is the plain filtered aggregate.

    100 TB: layout cost is one range shuffle at write time (amortized
    over every future needle); the prune decision is manifest-driven
    (O(files) driver rows, the Iceberg planning model)."""
    from .sources import layout, manifest as mf

    ev = load_table(spark, "events", sf_dir)
    path = _fresh_dir("zorder", sf_dir)
    layout.write_zordered(ev, path, ["user_id", "value"], num_files=16)
    man = mf.build_manifest(spark, path, ["user_id", "value"])
    preds = {"user_id": (20, 40), "value": (50.0, 120.0)}
    df, stats = mf.skipping_scan_multi(spark, man, preds)
    if stats["files_read"] >= stats["files_total"]:
        raise AssertionError(
            f"z-order pruning ineffective: read {stats['files_read']}"
            f"/{stats['files_total']} files for a 2-D needle"
        )
    # the SECOND dimension must prune by itself — the property 1-D
    # clustering cannot deliver
    value_only = len(mf.pruned_files(man, "value", *preds["value"]))
    if value_only >= stats["files_total"]:
        raise AssertionError(
            "z-order layout left the value dimension unselective: "
            f"{value_only}/{stats['files_total']} files overlap its range"
        )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value")
    )


@query(
    "avro_roundtrip",
    f"""
    SELECT event_type, count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")},
           max(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-twin on AVRO, from-scratch (sources/avrofmt.py): events →
    deflate-coded Object Container Files (one per Spark partition,
    executor-side, tmp-rename atomically) → parallel scan (one input
    partition per file, per-block sync-verified decode) → aggregate.
    The container ships no Avro support at all (no spark-avro jar, no
    avro/fastavro wheel), so the codec is implemented from the public
    Avro 1.11 spec — the pgwire/kafkawire precedent applied to a file
    format. Proves zigzag varints, IEEE754 doubles, µs timestamps,
    null unions, and raw-deflate blocks survive the round trip
    bit-exactly against the identity-shaped oracle."""
    from .sources import avrofmt

    avrofmt.register(spark)
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # The writer encodes in Python one task per partition; a small
    # parquet input arrives as ONE scan split, serializing the whole
    # encode (+ the read of the single output file) onto one core —
    # measured 3.7 s write + 2.0 s read at sf0.1 (guide §2: the
    # distributed algorithm first). Fan out to the session's
    # parallelism when the scan is narrower; at real scale the input
    # already has ≥ cores partitions and this is a no-op.
    target = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < target:
        ev = ev.repartition(target)
    path = _fresh_dir("avro", sf_dir)
    (
        ev.write.format("avro_py")
        .option("path", path)
        .option("codec", "deflate")
        .mode("append")
        .save()
    )
    back = spark.read.format("avro_py").option("path", path).load()
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        quantize(F.sum("value"), "sum_value"),
        F.max("ts").alias("max_ts"),
    )


@query(
    "user_erasure_roundtrip",
    f"""
    SELECT event_type, count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events
    WHERE user_id % 13 <> 0
    GROUP BY event_type ORDER BY event_type
    """,
)
def user_erasure_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation (writers.erase_keys_partitioned):
    events land date-partitioned, a deterministic deletion list
    (user_id ≡ 0 mod 13) is erased IN PLACE with only the containing
    partitions rewritten (dynamic partition overwrite; fully-emptied
    partition directories are deleted explicitly — the dynamic-
    overwrite blind spot), and the surviving table is re-scanned and
    aggregated. The query RAISES if any target row survives or if the
    rewrite touched zero partitions — the erasure contract is
    enforced, not assumed. Oracle = the filtered aggregate over the
    original events.

    100 TB: discovery is a column-pruned semi-join with the erasure
    list broadcast; rewrite cost is touched-partition bytes (an
    erasure batch over k days rewrites k/365ths of a year-partitioned
    table, never the table)."""
    from .sources import writers

    ev = load_table(spark, "events", sf_dir).withColumns(
        {
            "year": F.year("ts"),
            "month": F.month("ts"),
            "day": F.dayofmonth("ts"),
        }
    )
    path = _fresh_dir("erase", sf_dir)
    ev.write.mode("overwrite").partitionBy("year", "month", "day").parquet(path)
    doomed = ev.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    stats = writers.erase_keys_partitioned(
        spark, path, doomed, "user_id", ["year", "month", "day"]
    )
    back = spark.read.parquet(path)
    leaked = back.filter(F.col("user_id") % 13 == 0).count()
    if leaked or stats["touched_partitions"] == 0:
        raise AssertionError(
            f"erasure contract violated: {leaked} rows leaked, "
            f"{stats['touched_partitions']} partitions touched"
        )
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value"))
        .orderBy("event_type")
    )


@query(
    "kafka_wire_lake_daily",
    f"""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events GROUP BY 1, 2
    """,
)
def kafka_wire_lake_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE consumer loop as one driver row
    (kafka_consumer_s3.py analog, S3+S4+S5+S6+S7+S8 composed): events →
    keyed-JSON Produce over TCP → ``readStream`` through the wire
    source's micro-batch offsets → ``foreachBatch`` appends each batch
    to a hive date-partitioned parquet LAKE → checkpoint commits the
    source offsets AFTER the sink write lands (offsets-after-write:
    a crash between write and commit replays the batch — at-least-once
    into an append lake, exactly the reference's guarantee) → the lake
    is re-read and aggregated. Oracle = the same aggregate over the
    original events: the wire + stream + lake round trip loses nothing.

    100 TB: each micro-batch writes only its own date partitions;
    compaction (writers.compact_partitioned) right-sizes the
    accumulated small files; the lake read prunes by partition."""
    import shutil
    import tempfile
    import time as _time

    broker, topic, fmt, payload_schema, ev = _produce_events_topic(
        spark, sf_dir, "kw_lake_topic"
    )
    expected = ev.count()
    lake = _fresh_dir("kwlake", sf_dir)

    def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
        parsed = batch_df.select(
            F.from_json(F.col("value").cast("string"), payload_schema, fmt).alias("r")
        ).select("r.*")
        (
            parsed.withColumns(
                {
                    "year": F.year("ts"),
                    "month": F.month("ts"),
                    "day": F.dayofmonth("ts"),
                }
            )
            .write.mode("append")
            .partitionBy("year", "month", "day")
            .parquet(lake)
        )

    ckpt = tempfile.mkdtemp(prefix="ckpt_kwlake_")
    q = (
        spark.readStream.format("kafka_wire")
        .option("port", broker.port)
        .option("topic", topic)
        .load()
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 180
        got = 0
        while _time.time() < deadline:
            try:
                got = spark.read.parquet(lake).count()
            except Exception:  # lake dir not created by the first batch yet
                got = 0
            if got == expected:
                break
            _time.sleep(0.3)
        else:
            raise TimeoutError(f"kafka_wire_lake_daily: lake has {got}/{expected}")
    finally:
        q.stop()
        q.awaitTermination()
        shutil.rmtree(ckpt, ignore_errors=True)  # throwaway per-run checkpoint

    back = spark.read.parquet(lake)
    return back.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value"))


@query(
    "wire_to_serving_daily",
    f"""
    SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER)
               AS epoch_day,
           event_type,
           count(*) AS n_events,
           {sql_quantize("sum(value)", "sum_value")}
    FROM events GROUP BY 1, 2
    """,
)
def wire_to_serving_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE architecture end-to-end over REAL
    transports (weather_pipeline_dag.py's ingest→consume→gold→load
    chain): events → keyed-JSON Produce to the in-process Kafka-protocol
    broker over TCP (S3) → offset-sliced parallel Fetch back through the
    kafka_wire DataSource (S4) → JSON parse (S2) → daily gold aggregate
    (A1) → idempotent upsert into LIVE PostgreSQL keyed on
    (epoch_day, event_type) (S12, INSERT..ON CONFLICT — gold_loader's
    contract) → range-sliced parallel read back through the pg_serving
    wire-protocol source (S13). The oracle is the same daily aggregate
    over the source events: every leg (wire framing, JSON, aggregation,
    serving store, sliced re-read) must lose nothing.

    The slicing column is epoch_day (days since 1970 — the partitioned
    connector needs an integer bound column; Spark's own JDBC reader has
    the same contract). 100 TB: the gold relation is (days × types)-
    sized — the only data-sized work is the wire transport and the one
    aggregate shuffle; the serving write/read is bounded by the gold
    row count and connection-capped (num_partitions)."""
    from .sources import pgserving, pgwire

    broker, topic, fmt, payload_schema, _ev = _produce_events_topic(
        spark, sf_dir, "kw_serve_topic"
    )
    back = (
        spark.read.format("kafka_wire")
        .option("port", broker.port)
        .option("topic", topic)
        .option("num_partitions", 8)
        .load()
    )
    parsed = back.select(
        F.from_json(F.col("value").cast("string"), payload_schema, fmt).alias("r")
    ).select("r.*")
    gold = (
        parsed.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"), quantize(F.sum("value"), "sum_value"))
        .select(
            F.datediff("day", F.lit("1970-01-01").cast("date")).alias("epoch_day"),
            "event_type",
            "n_events",
            "sum_value",
        )
        # tiny (days x types); the write, the slice bounds, and the
        # final read-back comparison all consume it
        .localCheckpoint()
    )

    if not pgserving.ensure_local_server():
        raise RuntimeError("local PostgreSQL unavailable for wire_to_serving_daily")
    pgserving.register(spark)
    table = f"gold_daily_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    with pgwire.PGConnection(port=pgserving.LOCAL_PORT, database="serving") as conn:
        conn.execute(f"DROP TABLE IF EXISTS {table}")
        pgserving.ensure_serving_table(
            conn, table, gold.schema, key_cols=["epoch_day", "event_type"]
        )
    pgserving.write_serving_table(
        gold, table, port=pgserving.LOCAL_PORT, database="serving",
        upsert_keys=["epoch_day", "event_type"], num_partitions=4,
    )
    bounds = gold.agg(
        F.min("epoch_day").alias("lo"), F.max("epoch_day").alias("hi")
    ).collect()[0]
    return pgserving.read_serving_table(
        spark, table, port=pgserving.LOCAL_PORT, database="serving",
        partition_column="epoch_day",
        lower_bound=int(bounds["lo"] or 0),
        upper_bound=int(bounds["hi"] or 0) + 1,
        num_partitions=4,
    ).select("epoch_day", "event_type", "n_events", "sum_value")


# ---------------------------------------------------------------------------
# Round-6 session 3: transaction-log table format (sources/txlog.py)
# ---------------------------------------------------------------------------

@query(
    "txlog_acid_roundtrip",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 3 IN (0, 1)
    ), after_delete AS (
      SELECT * FROM base
      WHERE NOT coalesce(value BETWEEN 10.0 AND 20.0, FALSE)
    ), updates AS (
      SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
      FROM events WHERE event_id % 5 = 0
    ), merged AS (
      SELECT * FROM after_delete
      WHERE event_id NOT IN (SELECT event_id FROM updates)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM merged GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_acid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transaction-log table format (sources/txlog.py) end to end:
    create → append → predicate DELETE → keyed MERGE → OPTIMIZE
    (value-clustered compaction), every commit an atomic put-if-absent
    log entry with footer-harvested file stats, then the final state
    aggregated per event type against the equivalent relational oracle.

    Self-asserting (the zorder_pruning_stats discipline — facts are
    enforced, not assumed): raises unless (a) OPTIMIZE preserved the
    exact row count AT THE LOG-METADATA level (no scan — num_records
    is additive across rewrites), (b) time travel to the pre-delete
    version still reproduces the create+append row count, and (c) a
    narrow value-range scan PRUNES files via the log's stats after the
    value-clustered compaction (files_read < files_total).

    Scale: this is the O(changed-files) storage layer — an append to a
    100 TB table commits one log entry over its own files; the delete
    rewrites only stat-overlapping files; the merge rewrites only the
    files whose key range intersects the updates; optimize compacts
    without blocking readers (snapshot isolation) and a concurrent
    writer is either serializable (retry) or told so (ConflictError) —
    the conflict matrix is pinned in tests/test_txlog.py.
    """
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("event_id") % 3 == 0),
        stat_cols=["event_id", "user_id", "value"],
    )
    t.append(ev.filter(F.col("event_id") % 3 == 1))
    n_before_delete = t.read().count()
    t.delete_where("value", 10.0, 20.0)
    updates = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") * 2
    )
    t.merge_upsert(updates, "event_id")

    adds = t.snapshot_adds()
    recs_before = sum(a["num_records"] for a in adds)
    total_bytes = sum(a["size"] for a in adds)
    t.optimize(
        small_file_bytes=total_bytes + 1,  # compact everything …
        target_file_bytes=max(1, total_bytes // 4),  # … into ~4 files
        cluster_by="value",
    )
    after = t.snapshot_adds()
    if sum(a["num_records"] for a in after) != recs_before:
        raise ValueError("txlog OPTIMIZE changed the row count")
    if t.read(version=1).count() != n_before_delete:
        raise ValueError("txlog time travel lost the pre-delete snapshot")
    _, st = t.scan({"value": (5.0, 6.0)})
    if st["files_read"] >= st["files_total"]:
        raise ValueError(
            f"txlog stats pruning ineffective: read {st['files_read']}/"
            f"{st['files_total']} files after value-clustered OPTIMIZE"
        )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_change_feed",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 4 IN (0, 1)
    ), after_delete AS (
      SELECT * FROM base
      WHERE NOT coalesce(value BETWEEN 25.0 AND 45.0, FALSE)
    ), updates AS (
      SELECT event_id, ts, user_id, event_type, value * 3 AS value, props
      FROM events WHERE event_id % 7 = 0
    ), merged AS (
      SELECT * FROM after_delete
      WHERE event_id NOT IN (SELECT event_id FROM updates)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM merged GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the transaction log (TxTable.changes): the
    incremental-read half of the table format. A create → append →
    predicate DELETE → keyed MERGE → OPTIMIZE history is read back as a
    retraction feed (insert/delete rows stamped with their commit
    version), and the feed is REPLAYED from empty as signed multisets
    (+insert, −delete) to reconstruct the final snapshot — the exact
    contract an incremental consumer (IVM, downstream sync) builds on.
    The driver-checked observable is the reconstructed state's per-type
    aggregate vs the relational oracle, which is layout-INDEPENDENT
    even though the raw feed is file-granular (a rewrite's surviving
    rows appear as delete+insert pairs that cancel in the replay).

    Self-asserting (the acid_roundtrip discipline): raises unless
    (a) the OPTIMIZE version is absent from the feed (dataChange=false
    — compaction must not re-deliver rows), (b) every replayed row
    nets to exactly 0 or 1 copies (events are key-unique; any other
    net is a feed defect), and (c) the reconstruction's row count
    equals the table's final count.

    100 TB: the feed reads O(changed files) per commit in range — an
    incremental consumer of a day's commits never touches the other
    99.9 TB; the replay is one hash aggregate over feed rows keyed by
    row content. tests/test_txlog.py pins replay invariance across
    EVERY version pair, expired-history errors, and schema evolution
    inside one feed."""
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_cdf", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("event_id") % 4 == 0),
        stat_cols=["event_id", "user_id", "value"],
    )
    t.append(ev.filter(F.col("event_id") % 4 == 1))
    t.delete_where("value", 25.0, 45.0)
    t.merge_upsert(
        ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "value", F.col("value") * 3
        ),
        "event_id",
    )
    v_opt = t.optimize(
        small_file_bytes=1 << 30, target_file_bytes=1 << 22, cluster_by="value"
    )

    feed = t.changes(-1)
    if feed.filter(F.col("_commit_version") == v_opt).limit(1).count() > 0:
        raise ValueError("txlog feed delivered an OPTIMIZE rewrite")
    cols = [f.name for f in t.schema().fields]
    net = (
        feed.groupBy(*cols)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("n")
        )
    )
    bad = net.filter(~F.col("n").isin(0, 1)).limit(1).count()
    if bad:
        raise ValueError("txlog feed replay produced a net copy-count ∉ {0,1}")
    recon = net.filter(F.col("n") == 1).drop("n")
    if recon.count() != t.read().count():
        raise ValueError("txlog feed replay diverged from the final snapshot")
    return (
        recon.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_stream_feed",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
    FROM events WHERE event_id % 6 IN (2, 3, 4)
    GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read of a transaction-logged table ("stream the lake"):
    ``readStream.format("txlog_feed")`` plans micro-batches from log
    versions (offset = version, checkpointed by Spark — S8), each batch
    the files that version committed. A three-commit history (create +
    two appends) is drained with availableNow through the memory sink
    and aggregated per event type; the oracle is the same aggregate
    over the source slices, so the wire is: parquet → txlog commits →
    version-offset micro-batches → Arrow batches (executor-side,
    schema-conformed) → streaming sink, losing nothing — timestamps
    included (min epoch-µs rides the comparison).

    Append-only contract: a delete/merge commit fails the stream by
    default (a consumer cannot retract emitted rows); `on_change=
    'skip'|'redeliver'` opt outs, OPTIMIZE always skipped
    (dataChange=false), restart-resume and the exactly-once
    feed→txlog-sink composition are pinned in tests/test_txlog.py.

    100 TB: each micro-batch is O(files committed since the last
    trigger) — one input partition per file, read as Arrow batches on
    executors; the log replay planning the batch is O(commits) driver
    metadata work, and no batch ever rescans table history."""
    from .sources import txlog as _txlog
    from .streaming import core as _score

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_stream", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("event_id") % 6 == 2),
        stat_cols=["event_id", "user_id", "value"],
    )
    t.append(ev.filter(F.col("event_id") % 6 == 3))
    t.append(ev.filter(F.col("event_id") % 6 == 4))

    _txlog.register(spark)
    drained = _score.run_available_now(
        spark.readStream.format("txlog_feed").option("root", root).load(),
        output_mode="append",
    )
    return (
        drained.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.min(F.unix_micros("ts")).alias("first_us"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_deletion_vectors",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 5 IN (0, 1)
    ), after_del AS (
      SELECT * FROM base
      WHERE NOT coalesce(value BETWEEN 25.0 AND 60.0, FALSE)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM after_del GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletes via DELETION VECTORS (the public
    Delta/Iceberg v2 design): ``delete_where(mode="dv")`` commits the
    matched rows' (file, row_index) pairs as a small sidecar instead of
    rewriting data files — the delete costs O(matched rows), and the
    snapshot read anti-joins the (broadcast-small) DV relation on
    Spark's ``_metadata.file_path``/``row_index`` hidden columns. Two
    overlapping range deletes exercise vector accumulation and the
    already-deleted-position subtraction; OPTIMIZE then compacts with
    vectors applied, retiring them (the read-amplification debt is paid
    once, by compaction, not per delete).

    Self-asserting: raises unless (a) the DV commits rewrote NO data
    file (live file set identical before/after — the whole point),
    (b) visible rows + vector cardinality == raw rows (exact
    accounting), (c) OPTIMIZE leaves zero live vectors and an unchanged
    visible row count (materialization is invisible).

    100 TB: a predicate delete touching 1% of rows across 10k files
    writes kilobytes of positions instead of rewriting terabytes;
    readers pay one broadcast anti-join probe per row until the next
    compaction. tests/test_txlog.py pins rewrite-free deletes, CDF
    replay across dv+rewrite mixes, conflict rules, vacuum safety."""
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_dv", sf_dir), "tbl")
    # 4 data files so the vectors land on several files AND the final
    # optimize has ≥2 compaction inputs at every sf (a 1-file table
    # makes optimize a documented no-op, which would leave vectors live)
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter((F.col("event_id") % 5).isin(0, 1)).repartition(4, "event_id"),
        stat_cols=["event_id", "user_id", "value"],
    )
    raw = t.read().count()
    files0 = sorted(a["path"] for a in t.snapshot_adds())
    t.delete_where("value", 25.0, 45.0, mode="dv")
    t.delete_where("value", 40.0, 60.0, mode="dv")
    if sorted(a["path"] for a in t.snapshot_adds()) != files0:
        raise ValueError("deletion-vector delete rewrote a data file")
    visible = t.read().count()
    n_dv = sum(t.dv_stats().values())
    if visible + n_dv != raw:
        raise ValueError(
            f"DV accounting broke: {visible} visible + {n_dv} deleted "
            f"!= {raw} raw"
        )
    t.optimize(small_file_bytes=1 << 30, target_file_bytes=1 << 22)
    if t.dv_stats():
        raise ValueError("optimize left live deletion vectors behind")
    if t.read().count() != visible:
        raise ValueError("optimize changed the visible row count")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_merge_on_read_update",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 3 = 0
    ), updated AS (
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN coalesce(value BETWEEN 20.0 AND 50.0, FALSE)
                  THEN value * 2.0 + 1.0 ELSE value END AS value,
             props
      FROM base
    ), after_delete AS (
      SELECT * FROM updated
      WHERE NOT coalesce(value BETWEEN 95.0 AND 101.0, FALSE)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM after_delete GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_merge_on_read_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ UPDATE (``update_where(mode="dv")``) stacked with a
    merge-on-read DELETE on the same files: the UPDATE commits ONE
    transaction carrying a deletion vector (the matched rows' old
    positions) plus new data files (their updated values) — updating k
    rows scattered across 10k files writes O(k) rows and rewrites
    nothing; the DELETE then vectors away a band of the UPDATED values,
    which live in the new files (vectors stack across file
    generations). Every assignment reads the OLD row (single-projection
    semantics — the ANSI UPDATE rule, pinned by test against the
    sequential-withColumn trap where assignment k+1 would see
    assignment k's output).

    Self-asserting: raises unless (a) neither MOR commit removed a data
    file (the create's files all stay live), (b) vector cardinality
    equals exactly (updated + deleted) row counts, (c) the table's
    visible count dropped by exactly the delete's matched count.

    100 TB: same anti-join read path as txlog_deletion_vectors — the
    DV relation stays broadcast-small and compaction retires it;
    tests/test_txlog.py pins CDF replay equality across update_dv
    commits (old values emitted as deletes, new as inserts, one
    version) and the no-commit-on-failure contract."""
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_mor", sf_dir), "tbl")
    base = ev.filter(F.col("event_id") % 3 == 0)
    t = _txlog.TxTable.create(
        spark,
        root,
        base.repartition(4, "event_id"),
        stat_cols=["event_id", "user_id", "value"],
    )
    raw = t.read().count()
    files0 = set(a["path"] for a in t.snapshot_adds())
    n_upd = base.filter(F.col("value").between(20.0, 50.0)).count()
    t.update_where(
        "value", 20.0, 50.0, {"value": F.col("value") * 2.0 + 1.0}, mode="dv"
    )
    n_del = t.read().filter(F.col("value").between(95.0, 101.0)).count()
    t.delete_where("value", 95.0, 101.0, mode="dv")
    if not files0 <= set(a["path"] for a in t.snapshot_adds()):
        raise ValueError("a merge-on-read commit removed a data file")
    if sum(t.dv_stats().values()) != n_upd + n_del:
        raise ValueError(
            f"vector cardinality {sum(t.dv_stats().values())} != "
            f"{n_upd} updated + {n_del} deleted"
        )
    if t.read().count() != raw - n_del:
        raise ValueError("visible count diverged from the delete's matches")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_stream_cdf",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 8 IN (0, 1)
    ), updated AS (
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN coalesce(value BETWEEN 10.0 AND 30.0, FALSE)
                  THEN value + 100.0 ELSE value END AS value,
             props
      FROM base
    ), after_delete AS (
      SELECT * FROM updated
      WHERE NOT coalesce(value BETWEEN 60.0 AND 80.0, FALSE)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM after_delete GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_stream_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC — ``readStream.format("txlog_feed").option("mode",
    "cdf")``: micro-batches carry insert AND delete rows (change type +
    commit version), the batch CDF's exact retraction semantics pushed
    through the streaming wire. The driver plans each batch from log
    metadata only, walking the deletion-vector state forward so a
    rewrite's delete side is what was VISIBLE before it; each input
    partition ships its file plus the sidecar paths its executor task
    consults (position-select in Arrow — pyarrow row order IS
    _metadata.row_index). A create → MOR update → rewrite-delete
    history is drained with availableNow and REPLAYED from empty
    (signed multisets) into the final state; the per-type aggregate is
    the driver-checked observable.

    Self-asserting: raises unless every replayed row nets to exactly
    0 or 1 copies and the reconstruction matches the table's count —
    the same contract the batch feed pins, now for the stream (their
    row-level equality is pinned in tests/test_txlog.py, plus
    checkpoint-resume delivering only new changes).

    100 TB: a downstream incremental consumer (IVM, replica sync,
    search indexer) tails the table with O(changed files) per trigger
    and NEVER rescans history — this is the lakehouse CDC pattern the
    public formats ship as readChangeFeed."""
    from .sources import txlog as _txlog
    from .streaming import core as _score

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_scdf", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter((F.col("event_id") % 8).isin(0, 1)).repartition(4, "event_id"),
        stat_cols=["event_id", "user_id", "value"],
    )
    t.update_where(
        "value", 10.0, 30.0, {"value": F.col("value") + 100.0}, mode="dv"
    )
    t.delete_where("value", 60.0, 80.0)  # copy-on-write over DV'd files

    _txlog.register(spark)
    feed = _score.run_available_now(
        spark.readStream.format("txlog_feed")
        .option("root", root)
        .option("mode", "cdf")
        .load(),
        output_mode="append",
    )
    cols = [f.name for f in t.schema().fields]
    net = feed.groupBy(*cols).agg(
        F.sum(
            F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        ).alias("n")
    )
    # both replay invariants in ONE aggregate job (was two sequential
    # actions over the same relation — r11, guide §1.2)
    stats = net.agg(
        F.count(F.when(~F.col("n").isin(0, 1), F.lit(1))).alias("bad"),
        F.count(F.when(F.col("n") == 1, F.lit(1))).alias("recon"),
    ).collect()[0]
    if stats["bad"]:
        raise ValueError("streamed CDC replay produced a net count ∉ {0,1}")
    recon = net.filter(F.col("n") == 1).drop("n")
    if stats["recon"] != t.read().count():
        raise ValueError("streamed CDC replay diverged from the snapshot")
    return (
        recon.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_constraints_asof",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_id % 9 = 0
    GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_constraints_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints + timestamp time travel (the table-format
    governance pair): ``add_constraint`` validates existing data then
    commits metadata (serializing against in-flight writers — they
    re-plan under the constraint); every subsequent write path enforces
    the predicate ROW-WISE inside the staging job via a conditional
    raise_error riding the first output column — zero extra scans, and
    a violating batch fails before anything commits. ``read(as_of=ts)``
    resolves a wall-clock timestamp to the latest commit at-or-before
    it through the in-log commit times (durable where file-mtime
    fallbacks are not) and time-travels there.

    Self-asserting: raises unless (a) a deliberately violating append
    is rejected AND leaves the version unchanged, (b) the as-of read
    excludes the post-timestamp append. The driver-checked observable
    is the as-of snapshot's aggregate — equal to the FIRST slice only,
    which is what proves the timestamp resolution.

    100 TB: constraint enforcement adds one codegen'd projection to
    writes (no validation pass); as-of resolution is O(commits) driver
    metadata. tests/test_txlog.py pins ANSI NULL-passes semantics,
    enforcement on append/merge/update, checkpoint survival, and the
    metadata serialization rule."""
    import time as _time

    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txlog_gov", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("event_id") % 9 == 0),
        stat_cols=["event_id", "user_id", "value"],
    )
    t.add_constraint(
        "value_bounds", "value IS NULL OR value BETWEEN -1e6 AND 1e6"
    )
    ts_mid = _time.time()
    _time.sleep(0.01)
    t.append(ev.filter(F.col("event_id") % 9 == 1))
    v = t.version()
    try:
        t.append(
            ev.filter(F.col("event_id") % 9 == 0)
            .limit(1)
            .withColumn("value", F.lit(-2e6))
        )
        raise ValueError("constraint accepted a violating append")
    except ValueError:
        raise
    except Exception:
        pass  # the expected enforcement failure
    if t.version() != v:
        raise ValueError("a rejected append still committed something")
    snap = t.read(as_of=ts_mid)
    if t.version_at_timestamp(ts_mid) != 1:
        raise ValueError("as-of resolved to the wrong version")
    return (
        snap.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            quantize(F.sum("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_ivm_cdc",
    """
    WITH base AS (
      SELECT * FROM events WHERE event_id % 7 IN (0, 1)
    ), updated AS (
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN coalesce(value BETWEEN 30.0 AND 70.0, FALSE)
                  THEN value * 1.5 ELSE value END AS value,
             props
      FROM base
    ), after_del AS (
      SELECT * FROM updated
      WHERE NOT coalesce(value BETWEEN 100.0 AND 140.0, FALSE)
    ), final AS (
      SELECT * FROM after_del
      UNION ALL
      SELECT * FROM events WHERE event_id % 7 = 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(coalesce(CAST(floor(value * 100 + 0.5) AS BIGINT), 0))
                AS BIGINT) AS sum_cents
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_ivm_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-MAINTAINED AGGREGATE VIEW over streaming CDC — the
    storage layer's capstone composition (streaming/ivm.py): a txlog
    source's change feed (mode="cdf") drains through a foreachBatch
    sink that folds each batch's retraction rows into a txlog TARGET
    table via an EXACTLY-ONCE keyed merge (the merge carries the
    batch's txn watermark — a replayed delivery of a read-modify-write
    delta would corrupt the aggregate, so the watermark, not
    idempotence, is the guarantee). The view is maintained across TWO
    drains: the second applies only the commits after the first
    checkpoint (true incrementality — O(changed files), never a
    recompute).

    Measures are count + INTEGER cents sum: integer deltas commute
    exactly, so the maintained table equals the direct aggregate
    bit-for-bit regardless of batch boundaries — which is what the
    oracle checks.

    Self-asserting: raises unless the maintained view equals the
    directly-computed aggregate of the source's final snapshot (the
    fresh-checkpoint full-re-delivery no-op is pinned separately in
    tests/test_txlog.py — a third stream drain here would only re-pay
    the fixed micro-batch machinery cost per bench run).

    100 TB: per trigger the source side reads O(changed files), the
    delta is one hash aggregate over change rows, and the target merge
    rewrites O(files overlapping the touched keys) of a small
    aggregate table — a materialized view over a 100 TB fact table
    costs the size of the CHANGES, the lakehouse MV pattern."""
    from .sources import txlog as _txlog
    from .streaming import ivm as _ivm

    ev = load_table(spark, "events", sf_dir)
    base_dir = _fresh_dir("txlog_ivm", sf_dir)
    src = _txlog.TxTable.create(
        spark,
        os.path.join(base_dir, "src"),
        ev.filter((F.col("event_id") % 7).isin(0, 1)).repartition(4, "event_id"),
        stat_cols=["event_id", "user_id", "value"],
    )
    src.update_where(
        "value", 30.0, 70.0, {"value": F.col("value") * 1.5}, mode="dv"
    )
    tgt = _txlog.TxTable.create(
        spark,
        os.path.join(base_dir, "tgt"),
        local_frame(spark, [], _ivm.mv_schema("event_type", "string")),
    )
    sink = _ivm.foreach_batch_view_sink(tgt, "event_type", "value", "mv")
    ckpt = os.path.join(base_dir, "c1")
    _ivm.drain_cdf(src, sink, ckpt)
    # more source commits; the SAME checkpoint applies only the delta
    src.delete_where("value", 100.0, 140.0)
    src.append(ev.filter(F.col("event_id") % 7 == 2))
    _ivm.drain_cdf(src, sink, ckpt)
    view = _ivm.current_view(tgt)
    direct = (
        src.read()
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.coalesce(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"),
                    F.lit(0),
                )
            ).alias("sum_cents"),
        )
    )
    if (
        view.exceptAll(direct).limit(1).count()
        or direct.exceptAll(view).limit(1).count()
    ):
        raise ValueError("maintained view diverged from the direct aggregate")
    return view.orderBy("event_type")


def _golden_dag_audit_values() -> str:
    """Expected (stage, status, attempts, rows) for the golden weather
    DAG run — a pure-Python mirror of every stage's row accounting, the
    same independent-oracle discipline as _golden_daily_values."""
    from datetime import datetime, timezone

    cities = rest.DEFAULT_CITIES
    bronze = silver = 0
    daily: set = set()
    hourly: set = set()
    for i in range(24):
        epoch = 1_700_000_000 + i * 3600
        for city in cities:
            r = rest.parse_weather(rest.synthetic_fetch(city, epoch))
            if r is None:
                continue
            bronze += 1
            if not (-100.0 <= r[2] <= 60.0):
                continue
            silver += 1
            d = datetime.fromtimestamp(epoch, tz=timezone.utc)
            daily.add((r[0], r[1], d.year, d.month, d.day))
            hourly.add((r[0], r[1], d.year, d.month, d.day, d.hour))
    rows = [
        ("check_source", len(cities)),
        ("ingest_bronze", bronze),
        ("silver", silver),
        ("quality_gate", 0),
        ("gold_daily", len(daily)),
        ("gold_hourly", len(hourly)),
    ]
    return ",\n           ".join(
        f"('{s}', 'success', 1, {n})" for s, n in rows
    )


@query(
    "weather_dag_run",
    f"""
    SELECT stage, status, attempts::INTEGER AS attempts,
           rows_processed::BIGINT AS rows_processed
    FROM (VALUES {_golden_dag_audit_values()})
      AS t(stage, status, attempts, rows_processed)
    ORDER BY stage
    """,
)
def weather_dag_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Airflow DAG — its OPERATIONAL semantics, not just
    its dataflow — run through the engine-side orchestrator
    (orchestrator.py): dependency-ordered stages (check_source →
    ingest → silver → quality gate → both golds; the gate GATES the
    loads — a deliberate deviation from weather_pipeline_dag.py:316,
    which loads gold first and validates after), per-stage
    retry budgets, transitive downstream SKIP on failure, and an audit
    relation as the outcome. The driver-checked observable is the full
    audit (stage, status, attempts, rows) against an independently
    computed pure-Python mirror — so stage ORDERING, retry counts, and
    every stage's row accounting are all under oracle.

    Retry/skip/cycle semantics are pinned in tests/test_orchestrator.py
    (a flaky stage succeeding on attempt 3; a failing stage skipping
    its transitive downstream while siblings proceed; cycle and
    unknown-dep DAGs rejected).

    100 TB: orchestration is driver-side control flow — the stages'
    bodies are the same library operators the other queries
    oracle-check; the runner moves no data."""
    from . import orchestrator as _orch
    from .checkpointing import release

    results, audit = _orch.run_dag(
        spark, _orch.weather_dag(spark), "weather_pipeline"
    )
    # the ingest and silver stages localCheckpoint their frames (bronze:
    # one Python-source read; silver: 4 downstream consumers); both
    # golds have counted by now, so free the blocks — bench re-runs this
    # query min-of-3 in one driver and the blocks would otherwise
    # accumulate per run (ADVICE r6)
    for stage in ("silver", "ingest_bronze"):
        if stage in results:
            release(results[stage])
    return audit.select(
        "stage", "status", "attempts", "rows_processed"
    ).orderBy("stage")


@query(
    "txlog_restore",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 7 = 0
    ),
    final AS (
      SELECT * FROM base
      UNION ALL
      SELECT * FROM (VALUES (9000001, 1, 'click', 3.5),
                            (9000002, 2, 'view', 1.25))
        AS t(event_id, user_id, event_type, value)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION (sources/txlog.py:restore): the
    metadata-only time-travel restore the public formats ship. The
    lifecycle muddies a table (append + a merge-on-read DV delete, so
    deletion-vector state differs from the target snapshot), restores
    to v0 — one commit whose remove/add/dv actions DIFF the snapshots;
    no data file copied or rewritten — then keeps writing forward.
    Self-asserting: the restored read must equal the v0 time-travel
    read, pre-restore history must stay readable (a restore is a
    forward commit, not history surgery), and a replayed restore at
    head is a no-op. The driver-checked observable is the final
    aggregate: base slice + ONLY the post-restore append — every
    muddying row's disappearance rides the value-hash.

    100 TB: restore cost is O(files in the two snapshots) driver
    metadata + one commit; the alternative (re-writing the old
    snapshot as new data, versioned.py's append-only rollback) moves
    the table's full byte weight. CDF replay stays exact across the
    restore commit (same-path remove+add pairs cancel as signed
    multisets; re-emitted DV actions subtract exactly the raw-add
    excess) — pinned with every-version-pair replay plus the
    model-based DML soak in tests/test_txlog*.py."""
    from .sources import txlog as _txlog

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 7 == 0)
        .select("event_id", "user_id", "event_type", "value")
    )
    root = os.path.join(_fresh_dir("txlog_restore", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, base)
    snap0 = t.read()
    t.append(
        local_frame(
            spark,
            [(8000001, 9, "error", 500.5), (8000002, 9, "error", 600.5)],
            "event_id long, user_id long, event_type string, value double",
        )
    )
    t.delete_where("value", 0.0, 50.0, mode="dv")  # DV state diverges
    v_muddy = t.version()
    t.restore(0)
    restored, original = t.read(), t.read(version=0)
    if restored.exceptAll(original).limit(1).count() or original.exceptAll(
        restored
    ).limit(1).count():
        raise RuntimeError("restored snapshot != v0 time-travel read")
    if t.read(version=v_muddy).count() == snap0.count():
        raise RuntimeError("pre-restore history lost — restore rewrote it")
    if t.restore(t.version()) != t.version():
        raise RuntimeError("restore at head must be a version no-op")
    t.append(
        local_frame(
            spark,
            [(9000001, 1, "click", 3.5), (9000002, 2, "view", 1.25)],
            "event_id long, user_id long, event_type string, value double",
        )
    )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            quantize(F.sum("value"), "sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_column_mapping",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 5 = 0
    ),
    final AS (
      SELECT event_type, value AS amount FROM base
      UNION ALL
      SELECT event_type, amount FROM (VALUES ('click', 123.25),
                                             ('purchase', 777.5))
        AS t(event_type, amount)
    ),
    kept AS (
      SELECT * FROM final WHERE NOT (amount >= 0.0 AND amount <= 30.0)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(amount * 100 + 0.5)) AS BIGINT) AS amount_cents,
           CAST(0 AS BIGINT) AS n_user_vals
    FROM kept GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME/DROP COLUMN via column mapping (sources/txlog.py, r8 —
    the public Delta column-mapping / Iceberg field-id design): stable
    column ids bind logical names to PHYSICAL parquet names, so a
    rename is one metadata commit (zero files rewritten; self-asserted
    by file-list identity), every pre-rename file keeps reading —
    including through stats pruning, the CDF, and time travel (the
    pre-rename version still reads under ITS schema) — and a DROP +
    re-ADD of the same name binds a fresh physical so the dropped data
    cannot resurrect (asserted by the n_user_vals=0 column riding the
    value-hash). Lifecycle: create → RENAME value→amount → append under
    the new schema → DV delete pruned by the renamed column's
    (physically-keyed) stats → DROP user_id → re-ADD user_id → CDF
    replay equality self-check → final aggregate under the END schema.

    100 TB: rename/drop cost is ONE log commit regardless of table
    size; the no-column-mapping alternative rewrites every file. Stats
    stay keyed by physical name, so the pruning index survives renames
    untouched."""
    from .sources import txlog as _txlog

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", "event_type", "value")
    )
    root = os.path.join(_fresh_dir("txlog_colmap", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, base)
    v_pre = t.version()
    files_pre = {a["path"] for a in t.snapshot_adds()}
    t.alter_rename_column("value", "amount")
    if {a["path"] for a in t.snapshot_adds()} != files_pre:
        raise RuntimeError("rename rewrote data files — not metadata-only")
    t.append(
        local_frame(
            spark,
            [
                (9100001, 7, "click", 123.25),
                (9100002, 8, "purchase", 777.5),
            ],
            "event_id long, user_id long, event_type string, amount double",
        )
    )
    t.delete_where("amount", 0.0, 30.0, mode="dv")
    t.alter_drop_column("user_id")
    t.alter_add_column("user_id", "bigint")
    if "value" not in t.read(version=v_pre).columns:
        raise RuntimeError("time travel lost the pre-rename schema")
    # CDF replay equality across rename+drop (END-schema feed)
    net = (
        t.changes(-1)
        .groupBy("event_id", "event_type", "amount")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("n")
        )
    )
    if net.filter(~F.col("n").isin(0, 1)).limit(1).count():
        raise RuntimeError("CDF replay broke across the rename/drop")
    if net.filter("n = 1").count() != t.read().count():
        raise RuntimeError("CDF replay row set != final snapshot")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.floor(F.col("amount") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("amount_cents"),
            F.count("user_id").alias("n_user_vals"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_sql_dml",
    """
    WITH base AS (
      SELECT event_id, event_type, value
      FROM events WHERE event_id % 6 = 0
    ),
    d1 AS (
      SELECT * FROM base WHERE NOT (value >= 0.0 AND value <= 25.0)
    ),
    u1 AS (
      SELECT event_id, event_type,
             CASE WHEN event_type = 'error' THEN value + 1000.0
                  ELSE value END AS value
      FROM d1
    ),
    merged AS (
      SELECT * FROM u1 WHERE event_id NOT IN (9200001, 9200002)
      UNION ALL
      SELECT * FROM (VALUES (9200001, 'click', 11.5),
                            (9200002, 'promo', 77.0))
        AS s(event_id, event_type, value)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS amount_cents
    FROM merged GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML driving the table format (txsql.TxSqlSession, r8): the
    whole lifecycle — DELETE, UPDATE, MERGE INTO (upsert of one
    existing and one new key), ALTER RENAME COLUMN, and the final
    SELECT — runs as SQL STATEMENTS dispatched onto the same
    transactional verbs the DataFrame API uses (delete_where /
    update_where / merge_upsert / alter_rename_column), so both
    front-ends share one commit path and cannot diverge (state
    equality pinned in tests/test_sql_frontend.py). The oracle
    recomputes the final relation declaratively.

    100 TB: each statement inherits its verb's scale contract (stats-
    pruned blast radius, key-range-pruned merge); the dispatcher adds
    only a regex parse. The grammar is the documented honest subset —
    anything else raises UnsupportedSqlError rather than mis-running."""
    from .sources import txlog as _txlog
    from .txsql import TxSqlSession

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 6 == 0)
        .select("event_id", "event_type", "value")
    )
    root = os.path.join(_fresh_dir("txlog_sqldml", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, base)
    ss = TxSqlSession(spark).register("ev", t)
    ss.sql("DELETE FROM ev WHERE value BETWEEN 0 AND 25")
    ss.sql("UPDATE ev SET value = value + 1000 WHERE event_type = 'error'")
    ss.sql(
        "MERGE INTO ev USING ("
        "SELECT BIGINT(9200001) event_id, 'click' event_type, "
        "DOUBLE(11.5) value "
        "UNION ALL SELECT BIGINT(9200002), 'promo', DOUBLE(77.0)"
        ") s ON ev.event_id = s.event_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    ss.sql("ALTER TABLE ev RENAME COLUMN value TO amount")
    return ss.sql(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(floor(amount * 100 + 0.5)) AS BIGINT) AS amount_cents "
        "FROM ev GROUP BY event_type ORDER BY event_type"
    )


@query(
    "mv_sql_lifecycle",
    """
    WITH base AS (
      SELECT event_type, value FROM events WHERE event_id % 5 < 2
    ),
    d1 AS (
      SELECT * FROM base
      WHERE NOT coalesce(value BETWEEN 40.0 AND 60.0, FALSE)
    ),
    u1 AS (
      SELECT event_type,
             CASE WHEN coalesce(value BETWEEN 0.0 AND 10.0, FALSE)
                  THEN value + 5.0 ELSE value END AS value
      FROM d1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS value_cents
    FROM u1 GROUP BY event_type ORDER BY event_type
    """,
)
def mv_sql_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED VIEWS from SQL (txsql r9): ``CREATE MATERIALIZED
    VIEW … AS SELECT dim, SUM(expr) AS m FROM t GROUP BY dim`` and
    ``REFRESH MATERIALIZED VIEW`` dispatch onto mv.SumCountView — the
    same incremental-refresh machinery the DataFrame API drives
    (equality pinned in tests/test_sql_frontend.py), closing the r8
    verdict's API-only gap. Lifecycle here: CREATE (materializes at
    the current source), SQL DELETE + UPDATE on the source (the MV is
    stale until refreshed — the explicit-refresh lakehouse
    convention), REFRESH (folds only the two DML commits' CDF), then a
    SELECT served FROM THE MV under its registered name.

    Self-asserting equality twin: the refreshed MV must match the
    direct aggregate of the source's final snapshot. The oracle
    recomputes the final relation declaratively, so the value hash
    proves parse → dispatch → incremental fold end to end.

    100 TB: CREATE costs one full aggregate; every REFRESH is O(CDF of
    the lag window) + a key-pruned merge into the small aggregate
    table — the SQL front-end adds a regex parse, nothing else."""
    from .sources import txlog as _txlog
    from .txsql import TxSqlSession

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 5 < 2)
        .select("event_id", "event_type", "value")
    )
    root = os.path.join(_fresh_dir("mv_sql", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, base, stat_cols=["value"])
    ss = TxSqlSession(spark).register("ev", t)
    ss.sql(
        "CREATE MATERIALIZED VIEW ev_mv AS "
        "SELECT event_type, SUM(value) AS value_cents "
        "FROM ev GROUP BY event_type"
    )
    ss.sql("DELETE FROM ev WHERE value BETWEEN 40 AND 60")
    ss.sql("UPDATE ev SET value = value + 5 WHERE value BETWEEN 0 AND 10")
    ss.sql("REFRESH MATERIALIZED VIEW ev_mv")
    out = ss.sql(
        "SELECT event_type, n_rows, value_cents FROM ev_mv "
        "ORDER BY event_type"
    )
    direct = (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("value_cents"),
        )
    )
    if (
        out.exceptAll(direct).limit(1).count()
        or direct.exceptAll(out).limit(1).count()
    ):
        raise ValueError("SQL-refreshed MV diverged from direct aggregate")
    return out


@query(
    "txlog_bloom_lookup",
    """
    SELECT event_id, user_id, event_type,
           floor(value * 100 + 0.5) / 100.0 AS val,
           TRUE AS bloom_pruned_ok
    FROM events
    WHERE event_id = (SELECT CAST(floor(max(event_id) / 2.0) AS BIGINT)
                      FROM events)
    """,
)
def txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM-FILTER point-lookup pruning on the transaction-log
    format (``TxTable.build_bloom_index`` — the public Parquet
    column-index / Delta bloom-index design). The table is loaded in
    four appends chunked by ``user_id % 4``, so every file's
    ``event_id`` [min, max] spans nearly the full key range —
    min/max stats CANNOT prune a point lookup here (the adversarial
    layout for range stats, and the normal one for any high-cardinality
    key not clustered on). The bloom index answers per-file "is this
    exact value possibly here", so the equality scan opens only the
    file(s) actually holding the key.

    Self-asserting (the zorder_pruning_stats discipline): raises unless
    the bloom pruned at least one range-surviving file AND the lookup
    read strictly fewer files than the table holds; the row content is
    value-hash-checked against the relational oracle, which also pins
    NO FALSE NEGATIVE (a dropped true row changes the hash).

    100 TB: the index is O(bitmap) log metadata per file, built
    executor-side in one column-only scan per build; the probe is
    O(files) driver arithmetic + ONE file read instead of a full-table
    equality scan. Blooms key by physical column id, so they survive
    renames (tests/test_txlog_bloom.py)."""
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = os.path.join(_fresh_dir("txlog_bloom", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("user_id") % 4 == 0),
        stat_cols=["event_id", "user_id", "value"],
    )
    for chunk in (1, 2, 3):
        t.append(ev.filter(F.col("user_id") % 4 == chunk))
    t.build_bloom_index("event_id", fpp=0.001)
    probe = int(
        ev.agg(F.floor(F.max("event_id") / 2.0).cast("bigint")).first()[0]
    )
    df, st = t.scan({"event_id": (probe, probe)})
    if not (
        st["files_bloom_pruned"] >= 1
        and st["files_read"] < st["files_total"]
    ):
        raise AssertionError(
            f"bloom pruning ineffective: read {st['files_read']}/"
            f"{st['files_total']} files ({st['files_bloom_pruned']} "
            "bloom-pruned) for a point lookup on an unclustered key"
        )
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        quantize(F.col("value"), "val"),
        F.lit(True).alias("bloom_pruned_ok"),
    )


@query(
    "txlog_clone_branch",
    """
    WITH base AS (
      SELECT event_type, value FROM events WHERE user_id % 3 = 0
    ),
    src_now AS (
      SELECT * FROM base
      WHERE NOT (value BETWEEN 0 AND 15)
        AND NOT (value BETWEEN 90 AND 100)
    ),
    clone_now AS (
      SELECT * FROM base
      WHERE NOT (value BETWEEN 0 AND 15)
        AND NOT (value BETWEEN 30 AND 60)
      UNION ALL
      SELECT event_type, value FROM events
      WHERE user_id % 3 = 1 AND event_type = 'purchase'
    )
    SELECT 'source' AS branch, event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           floor(sum(value) * 100 + 0.5) / 100.0 AS sum_value
    FROM src_now GROUP BY event_type
    UNION ALL
    SELECT 'clone', event_type,
           CAST(count(*) AS BIGINT),
           floor(sum(value) * 100 + 0.5) / 100.0
    FROM clone_now GROUP BY event_type
    """,
)
def txlog_clone_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE as a zero-copy dev/test branch
    (``TxTable.clone_to`` — the public Delta CLONE design): the clone's
    v0 references the source's data files by absolute path, copying
    nothing but metadata (plus deleted-rows-sized DV sidecars,
    namespace-translated). Lifecycle under one oracle: source takes a
    merge-on-read DV delete → clone (which CARRIES the DVs) → clone
    diverges (rewrite delete + append) → source diverges the other way
    (another delete) — the final per-type aggregates of BOTH branches
    must match the relational model, so a leak in either direction
    (clone DML bleeding into source files, source DML bleeding into
    the clone's borrowed snapshot) fails the value-hash.

    Self-asserting: raises unless the freshly-cloned table holds ZERO
    data files of its own (the zero-copy fact) while reading the full
    source row count through the borrowed references.

    100 TB: cloning a 100 TB table is ONE metadata commit — the
    branch-for-experiment workflow costs nothing until the branch
    actually rewrites data, and then only what it touches (its DML
    stages under its own root, progressively localizing)."""
    import glob as _glob

    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    src_root = os.path.join(_fresh_dir("txclone_src", sf_dir), "tbl")
    src = _txlog.TxTable.create(
        spark,
        src_root,
        ev.filter(F.col("user_id") % 3 == 0).select(
            "event_id", "event_type", "value"
        ),
        stat_cols=["event_id", "value"],
    )
    src.delete_where("value", 0.0, 15.0, mode="dv")
    n_src = src.read().count()

    clone_root = os.path.join(_fresh_dir("txclone_dst", sf_dir), "tbl")
    clone = src.clone_to(clone_root)
    own = {
        os.path.relpath(p, clone_root)
        for p in _glob.glob(
            os.path.join(clone_root, "data", "**", "*.parquet"),
            recursive=True,
        )
    }
    _, _, _, clone_dvs = clone._state_at(clone.version())
    sidecars = {p for e in clone_dvs.values() for p in e["paths"]}
    if own - sidecars:
        raise AssertionError(
            f"clone copied data files: {sorted(own - sidecars)[:3]} — "
            "only namespace-translated DV sidecars may be staged"
        )
    if clone.read().count() != n_src:
        raise AssertionError("clone does not read like its source")

    clone.delete_where("value", 30.0, 60.0)
    clone.append(
        ev.filter(
            (F.col("user_id") % 3 == 1)
            & (F.col("event_type") == "purchase")
        ).select("event_id", "event_type", "value")
    )
    src.delete_where("value", 90.0, 100.0)
    if src.read().count() >= n_src:
        raise AssertionError("source delete did not apply")

    out = []
    for branch, t in (("source", src), ("clone", clone)):
        out.append(
            t.read()
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                quantize(F.sum("value"), "sum_value"),
            )
            .select(
                F.lit(branch).alias("branch"),
                "event_type",
                "n_rows",
                "sum_value",
            )
        )
    return out[0].unionByName(out[1])


@query(
    "txlog_replace_where",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 6 = 1
    ),
    after_dv AS (
      SELECT * FROM base WHERE NOT (value >= 0.0 AND value <= 5.0)
    ),
    kept AS (
      SELECT * FROM after_dv WHERE NOT (value >= 10.0 AND value <= 20.0)
    ),
    final AS (
      SELECT * FROM kept
      UNION ALL
      SELECT * FROM (VALUES (9300001, 3, 'click', 12.5),
                            (9300002, 4, 'purchase', 15.75),
                            (9300003, 5, 'view', 19.0))
        AS t(event_id, user_id, event_type, value)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS value_cents
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic predicate overwrite (sources/txlog.py:replace_where, r8 —
    the public Delta ``replaceWhere`` / dynamic-partition-overwrite
    pattern; the reference's consumer re-lands a day's slice per run,
    kafka_consumer_s3.py:86-118, with NO replacement semantics — a
    re-run duplicates the day). Lifecycle: create → merge-on-read DV
    delete (so the keep side must respect live deletion vectors) →
    REPLACE the value slice [10, 20] with a corrected 3-row load.
    Self-asserting: an out-of-slice incoming row refuses loudly
    (nothing commits), the swap is ONE commit, and RE-RUNNING the same
    load leaves the table bit-identical (the idempotent daily batch —
    the property append-based re-loads structurally cannot have). The
    driver-checked observable is the final per-type aggregate: the
    slice's disappearance AND the corrected rows ride the value-hash.

    100 TB: cost is O(files overlapping the slice) — stats-pruned like
    delete_where, so a one-day replace of a date-clustered table
    touches one day's files; the SQL surface is
    ``INSERT INTO t REPLACE WHERE … VALUES …`` (txsql)."""
    from .sources import txlog as _txlog

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 6 == 1)
        .select("event_id", "user_id", "event_type", "value")
    )
    root = os.path.join(_fresh_dir("txlog_replace", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, base)
    t.delete_where("value", 0.0, 5.0, mode="dv")
    load = local_frame(
        spark,
        [
            (9300001, 3, "click", 12.5),
            (9300002, 4, "purchase", 15.75),
            (9300003, 5, "view", 19.0),
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    v_pre = t.version()
    try:
        t.replace_where(
            "value",
            10.0,
            20.0,
            local_frame(
            spark,
                [(9300009, 9, "error", 500.0)],
                "event_id long, user_id long, event_type string, value double",
            ),
        )
        raise RuntimeError("out-of-slice row must refuse")
    except RuntimeError:
        raise
    except Exception:
        pass  # the documented refusal
    if t.version() != v_pre:
        raise RuntimeError("refused replace must commit nothing")
    v1 = t.replace_where("value", 10.0, 20.0, load)
    if v1 != v_pre + 1:
        raise RuntimeError("replace must be ONE commit")
    first = t.read()
    t.replace_where("value", 10.0, 20.0, load)  # the idempotent re-run
    again = t.read()
    if (
        again.exceptAll(first).limit(1).count()
        or first.exceptAll(again).limit(1).count()
    ):
        raise RuntimeError("re-running the same load must be idempotent")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "scd2_dimension_history",
    """
    WITH base AS (
      SELECT user_id, floor(sum(value) * 100 + 0.5) / 100.0 AS score
      FROM events WHERE user_id % 3 = 0 GROUP BY user_id
    ),
    ev AS (
      SELECT user_id, score, CAST(0 AS BIGINT) AS v, 1 AS ins FROM base
      UNION ALL
      SELECT user_id, score + 1000.0, CAST(1 AS BIGINT), 1
      FROM base WHERE user_id % 6 = 0
      UNION ALL
      SELECT * FROM (VALUES (CAST(9000001 AS BIGINT), 11.5, CAST(1 AS BIGINT), 1),
                            (9000002, 22.25, 1, 1),
                            (9000001, NULL, 2, 0),
                            (9000001, 99.0, 3, 1))
        AS t(user_id, score, v, ins)
    ),
    seq AS (
      SELECT user_id, score, v, ins,
             lead(v) OVER (PARTITION BY user_id ORDER BY v) AS next_v
      FROM ev
    )
    SELECT user_id, score, v AS valid_from, next_v AS valid_to,
           next_v IS NULL AS is_current
    FROM seq WHERE ins = 1
    ORDER BY user_id, valid_from
    """,
)
def scd2_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 dimension from the change feed (scd.py, r8 — the
    public DLT "APPLY CHANGES … STORED AS SCD TYPE 2" surface; the
    reference keeps current state only, silver_processor.py). Source
    lifecycle: per-user score table → keyed merge (updates + 2 new
    users) → delete (tombstone) → re-insert (rebirth). TWO incremental
    applies (one mid-history, one at head) maintain the dimension;
    the oracle assembles the intervals from the LOGICAL events alone —
    so rewrite churn leaking through the CDF netting (a merge re-emits
    every neighbor row in a rewritten file) would mint phantom
    intervals and fail the value-hash. Self-asserting: a replayed
    apply is exactly-once (None, no commit) and current() is row-equal
    to the source's live rows.

    100 TB: the apply reads O(changed files) of feed and touches only
    the CURRENT rows of CHANGED keys in the target (broadcast
    semi-join); per-key lead() windows, never a global sort. The
    snapshot-diff alternative scans the full dimension twice per
    sync."""
    from .scd import Scd2Dimension
    from .sources import txlog as _txlog

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") % 3 == 0)
        .groupBy("user_id")
        .agg(quantize(F.sum("value"), "score"))
    )
    root = _fresh_dir("scd2_dim", sf_dir)
    src = _txlog.TxTable.create(spark, os.path.join(root, "src"), base)
    updates = (
        base.filter(F.col("user_id") % 6 == 0)
        .select("user_id", (F.col("score") + 1000.0).alias("score"))
        .unionByName(
            local_frame(
            spark,
                [(9000001, 11.5), (9000002, 22.25)],
                "user_id long, score double",
            )
        )
    )
    src.merge_upsert(updates, "user_id")  # v1
    dim = Scd2Dimension.create(
        spark, src, os.path.join(root, "dim"), "user_id", "user_score"
    )
    if dim.apply() != 1:  # first window: full history so far
        raise RuntimeError("first apply must reflect source v1")
    src.delete_where("user_id", 9000001, 9000001)  # v2 tombstone
    src.merge_upsert(
        local_frame(spark, [(9000001, 99.0)], "user_id long, score double"),
        "user_id",
    )  # v3 rebirth
    if dim.apply() != 3:  # second window: incremental
        raise RuntimeError("second apply must reflect source v3")
    if dim.apply() is not None:
        raise RuntimeError("replayed apply must be exactly-once (None)")
    cur = dim.current().select("user_id", "score")
    live = src.read().select("user_id", "score")
    # multiset equality in ONE action (two exceptAll probes paid two
    # sequential shuffle jobs for the same answer — r11, guide §1.2):
    # signed per-row counts sum to 0 everywhere iff cur ≡ live
    diff = (
        cur.withColumn("__s", F.lit(1))
        .unionByName(live.withColumn("__s", F.lit(-1)))
        .groupBy("user_id", "score")
        .agg(F.sum("__s").alias("__d"))
        .filter(F.col("__d") != 0)
    )
    if diff.limit(1).count():
        raise RuntimeError("current() != source live rows")
    return dim.read().orderBy("user_id", "valid_from")


@query(
    "wap_publish_flow",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 9 = 0
    ),
    final AS (
      SELECT * FROM base
      UNION ALL
      SELECT * FROM (VALUES (9500001, 1, 'click', 50.5),
                            (9500002, 2, 'view', 60.25),
                            (9600001, 3, 'purchase', 70.0))
        AS t(event_id, user_id, event_type, value)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS value_cents
    FROM final GROUP BY event_type ORDER BY event_type
    """,
)
def wap_publish_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH (wap.py, r8 — the public Iceberg/Nessie
    staging pattern, composed from this format's own primitives:
    shallow clone + CDF + exactly-once watermarked append). Lifecycle:
    cut a zero-copy branch → land a batch containing a bad row → AUDIT
    on the branch (quarantine-delete the bad row — the branch is a
    full table, every operator works) → publish the net survivors →
    land + publish a second batch incrementally. Self-asserting: the
    source shows NOTHING before the first publish (staging isolation),
    a replayed publish commits nothing (exactly-once), and a branch
    that retracts inherited base rows REFUSES to publish with the
    source untouched. The driver-checked observable is the final
    source aggregate: base + both batches minus the quarantined row.

    100 TB: branch open is one metadata commit (zero copy); publish
    reads O(branch delta) and appends O(net rows); the production
    table is never rewritten and never exposes unaudited data."""
    from .sources import txlog as _txlog
    from .wap import WapBranch

    base = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id") % 9 == 0)
        .select("event_id", "user_id", "event_type", "value")
    )
    root = _fresh_dir("wap_flow", sf_dir)
    src = _txlog.TxTable.create(spark, os.path.join(root, "src"), base)
    wap = WapBranch.open(src, os.path.join(root, "branch"))
    ddl = "event_id long, user_id long, event_type string, value double"
    wap.branch.append(
        local_frame(
            spark,
            [
                (9500001, 1, "click", 50.5),
                (9500002, 2, "view", 60.25),
                (9500009, 9, "error", 6666.0),  # the audit's catch
            ],
            ddl,
        )
    )
    n_before = src.read().count()
    if n_before != base.count():
        raise RuntimeError("staging leaked into the source before publish")
    wap.branch.delete_where("value", 6666.0, 6666.0)  # audit quarantine
    if wap.publish() is None:
        raise RuntimeError("first publish must commit")
    v = src.version()
    if wap.publish() is not None or src.version() != v:
        raise RuntimeError("replayed publish must be exactly-once")
    wap.branch.append(
        local_frame(spark, [(9600001, 3, "purchase", 70.0)], ddl)
    )
    if wap.publish() is None:
        raise RuntimeError("incremental publish must commit")
    # a branch that retracts inherited base data cannot publish
    wap.branch.delete_where("event_id", 0, 100)
    try:
        wap.publish()
        raise RuntimeError("base-row retraction must refuse to publish")
    except ValueError:
        pass  # the documented refusal; source untouched
    return (
        src.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "txlog_auto_maintain",
    """
    WITH base AS (
      SELECT * FROM events
      WHERE event_id % 2 = 0 OR event_id % 10 IN (1, 3, 5)
    ),
    kept AS (
      SELECT * FROM base
      WHERE NOT coalesce(value BETWEEN 5.0 AND 15.0, FALSE)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM kept GROUP BY event_type ORDER BY event_type
    """,
)
def txlog_auto_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance POLICY lifecycle (Delta auto-optimize shape): build
    a table with deliberate debt — a multi-file create plus three tiny
    appends (small-file debt) and a merge-on-read DV delete (vector
    debt) — then ONE `auto_maintain()` call reads the O(files)
    maintenance_advice gauge and executes the verbs it names
    (optimize + purge_deletes). Self-asserting: both verbs must run,
    the DV debt must hit zero, the advice gauge must come back clean,
    and the log-metadata row count (num_records is additive across
    rewrites — no scan) must be invariant across maintenance. The
    final table state aggregates against the relational oracle, so a
    maintenance verb that corrupted ANY row fails the value-hash, not
    just the asserts.

    Scale: the decision layer is driver metadata only; the execution
    layer rewrites exactly the advised files (small ones + DV
    carriers), never the table. A 100 TB table with one cold small
    file and one hot vector rewrites two files."""
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir)
    root = os.path.join(_fresh_dir("txmaint", sf_dir), "tbl")
    t = _txlog.TxTable.create(
        spark,
        root,
        ev.filter(F.col("event_id") % 2 == 0),
        stat_cols=["event_id", "value"],
    )
    for m in (1, 3, 5):  # three tiny appends -> small-file debt
        t.append(ev.filter(F.col("event_id") % 10 == m).coalesce(1))
    t.delete_where("value", 5.0, 15.0, mode="dv")  # -> DV debt
    if sum(t.dv_stats().values()) == 0:
        raise RuntimeError("setup failed: expected DV debt")
    recs_before = sum(
        a["num_records"] for a in t.snapshot_adds()
    ) - sum(t.dv_stats().values())
    report = t.auto_maintain(retention_sec=3600.0)
    for verb in ("optimize", "purge_deletes"):
        if verb not in report["executed"]:
            raise RuntimeError(f"advice named {verb} but it did not run")
    if sum(t.dv_stats().values()) != 0:
        raise RuntimeError("DV debt survived auto_maintain")
    after = t.maintenance_advice(retention_sec=3600.0)
    if after["dv_debt_rows"] != 0 or after["n_small_files"] > 1:
        raise RuntimeError(f"gauge still dirty after maintain: {after}")
    recs_after = sum(a["num_records"] for a in t.snapshot_adds())
    if recs_after != recs_before:
        raise RuntimeError(
            f"maintenance changed the row multiset: "
            f"{recs_before} -> {recs_after}"
        )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "bm25_index_search",
    __import__(
        "data_mastery_pipeline_spark.queries_ops", fromlist=["_bm25_sql"]
    )._bm25_sql(doc_filter="doc_id NOT BETWEEN 100 AND 299"),
)
def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the INCREMENTAL inverted index (search.py) —
    the Lucene postings + delete-set design on the repo's own table
    format — through a full index lifecycle: stage 2/3 of the corpus
    into a txlog source → build (CDF backfill) → append the remaining
    third → refresh (O(new docs): only the late batch tokenizes) →
    DELETE a doc range → refresh (tombstones only, postings untouched)
    → query. The oracle recomputes BM25 relationally over the final
    live corpus, so the value-hash proves the served scores — netting,
    generations, tombstone filtering and all. Self-asserting on top:
    (a) the index-served top-20 must EQUAL the full-scan BM25 (shared
    bm25_score expression tree — bit-identical doubles) computed
    directly on the source table; (b) the term probe must open fewer
    postings files than exist (the term-clustered min/max stats are
    the index — no probe, no point).

    Scale: a query reads only the probed term's postings files plus
    the tiny doclens/tombstone relations; a refresh tokenizes only the
    CDF window. Neither ever re-reads the corpus — that is the entire
    argument for serving from an index at 100 TB."""
    from . import search as searchmod
    from .functions import text as textfn
    from .queries_ops import _BM25_TERMS
    from .sources import txlog as _txlog

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = _fresh_dir("searchidx", sf_dir)
    src = _txlog.TxTable.create(
        spark,
        os.path.join(base, "src"),
        docs.filter(F.col("doc_id") % 3 != 0),
        stat_cols=["doc_id"],
    )
    idx = searchmod.SearchIndex.create(
        spark, src, os.path.join(base, "idx")
    )
    idx.refresh()  # backfill
    src.append(docs.filter(F.col("doc_id") % 3 == 0))  # late batch
    idx.refresh()  # incremental: only the new third tokenizes
    src.delete_where("doc_id", 100, 299)
    if idx.refresh() is None:
        raise RuntimeError("delete window must advance the index")
    if idx.refresh() is not None:
        raise RuntimeError("replayed refresh must be a no-op")

    terms = list(_BM25_TERMS)
    served = idx.query(terms, k=20)

    # (a) index-served == full-scan BM25 on the identical live corpus
    toks = textfn.tokens("text")
    d = src.read().select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[
            # NB: a second lambda param would make PySpark's HOF pass
            # the array INDEX as arg 2 — one-arg lambda only; F.filter
            # is invoked inside the comprehension so t binds eagerly
            F.size(F.filter(toks, lambda x: x == F.lit(t)))
            .cast("double")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = d.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    any_tf = sum(F.col(f"tf{i}") for i in range(len(terms)))
    scanned = (
        d.crossJoin(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", searchmod.bm25_score(terms).alias("raw_score"))
        .orderBy(F.col("raw_score").desc(), "doc_id")
        .limit(20)
    )
    a = [(r["doc_id"], r["raw_score"]) for r in served.collect()]
    b = [(r["doc_id"], r["raw_score"]) for r in scanned.collect()]
    if a != b:
        raise RuntimeError(f"index-served != scan-served BM25: {a} {b}")

    # (b) the probe must actually prune postings files
    _, pstats = idx.postings.scan({"term": (terms[0], terms[0])})
    if not pstats["files_read"] < pstats["files_total"]:
        raise RuntimeError(f"term probe did not prune: {pstats}")

    return served.select(
        "doc_id", quantize(F.col("raw_score"), "score", decimals=6)
    )


@query(
    "catalog_consistent_reads",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_a,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_b
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def catalog_consistent_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE snapshot consistency (catalog.py — the Nessie/Unity
    catalog-commit design): two member tables hold the same event
    slice; maintenance appends the second half to A, then to B, then
    PUBLISHES one catalog commit. Self-asserting at every seam: with
    A's table log already advanced, catalog readers still see the OLD
    consistent pair (equal row counts — the single-table-format gap
    this closes); only the publish flips both together; catalog time
    travel re-reads the previous pair. Final answer joins per-type
    counts from A with per-type cents from B through catalog reads —
    a partial-publish leak would desynchronize n vs cents against the
    relational oracle.

    Scale: the catalog log carries O(tables) bytes per publish (one
    hard-link put-if-absent — txlog's commit discipline one level up);
    table data never moves on this path."""
    from .catalog import TableCatalog
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    even, odd = (
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
    )
    base = _fresh_dir("catalog", sf_dir)
    ta = _txlog.TxTable.create(spark, os.path.join(base, "a"), even)
    tb = _txlog.TxTable.create(spark, os.path.join(base, "b"), even)
    cat = TableCatalog(spark, os.path.join(base, "cat"))
    cat.register("a", ta).register("b", tb)
    v0 = cat.publish()

    ta.append(odd)  # A's table log advances...
    a_cat, b_cat = cat.read("a").count(), cat.read("b").count()
    if a_cat != b_cat:
        raise RuntimeError(
            f"catalog pair desynchronized mid-flight: {a_cat} vs {b_cat}"
        )
    if ta.read().count() == a_cat:
        raise RuntimeError("table log did not advance — test is vacuous")
    tb.append(odd)
    v1 = cat.publish()
    if cat.read("a").count() != cat.read("b").count():
        raise RuntimeError("published pair desynchronized")
    # catalog time travel still reads the old consistent pair
    if cat.read("a", catalog_version=v0).count() != a_cat:
        raise RuntimeError("catalog time travel broke")

    a_agg = (
        cat.read("a")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_a"))
    )
    b_agg = (
        cat.read("b")
        .groupBy("event_type")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents_b")
        )
    )
    return a_agg.join(b_agg, "event_type").orderBy("event_type")


@query(
    "cbo_broadcast_enrichment",
    """
    WITH ev AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    dim AS (
      SELECT event_type,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(count(cents) AS BIGINT) AS c
      FROM ev GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN e.cents * d.c > d.s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_avg,
           floor((CAST(d.s AS DOUBLE) / d.c) * 100 + 0.5) / 100.0
             AS avg_value
    FROM ev e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.s, d.c
    ORDER BY e.event_type
    """,
)
def cbo_broadcast_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE→CBO loop wired into a real query path (r9 verdict
    task 5 — previously only the ANALYZE verb and tests touched the
    stats catalog). Lifecycle: create a txlog table from events →
    ``auto_maintain()`` auto-ANALYZEs it into the table's own
    StatsCatalog (``<root>/_stats``, stamped with the analyzed
    version) → a DERIVED dim (groupBy event_type over the txlog read)
    joins the fact through ``cbo.stats_informed_join`` with its
    cardinality estimated FROM THE CATALOG
    (``cbo.derived_stats_for_agg``: output rows = NDV(event_type),
    width from observed column widths) — the broadcast decision static
    planning cannot make (Catalyst sizes an aggregate by its CHILD)
    and AQE only makes after paying both shuffle map stages. Plan
    pinned in tests/test_cbo.py::test_registered_query_broadcasts_from_catalog_stats.

    Self-asserting lifecycle: the maintenance cycle must report the
    ANALYZE ran, the stamped stats version must match the table
    version, a second cycle must SKIP the re-ANALYZE (stats are
    fresh), and the catalog's NDV estimate must be small enough that
    the informed join actually chose broadcast.

    Exactness: the above-average comparison is pure integer arithmetic
    (cents·count > sum_cents) — no float summation-order divergence
    between engines can flip a boundary row; only the reported average
    itself is quantized. Stats are HLL-approximate (the 100 TB path) —
    they steer the PLAN, never the values, so the oracle is unaffected.

    100 TB: ANALYZE is one map-side-combined pass riding maintenance;
    the dim aggregate shuffles ~NDV rows; the fact side never
    shuffles for the join (broadcast), which is the entire point."""
    from . import cbo
    from .sources import txlog as _txlog

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    root = os.path.join(_fresh_dir("txcbo", sf_dir), "tbl")
    t = _txlog.TxTable.create(spark, root, ev, stat_cols=["cents"])
    report = t.auto_maintain(retention_sec=3600.0)
    if "analyze" not in report["executed"]:
        raise RuntimeError(f"auto_maintain skipped ANALYZE: {report}")
    if t.stats_version() != t.version():
        raise RuntimeError("stats version stamp out of step with table")
    again = t.auto_maintain(retention_sec=3600.0)
    if "analyze" in again["executed"]:
        raise RuntimeError("fresh stats were re-ANALYZEd (wasted pass)")
    stats = t.table_stats()
    dim_stats = cbo.derived_stats_for_agg(stats, ["event_type"], n_agg_cols=2)
    if dim_stats.estimated_bytes() > 1 << 20:
        raise RuntimeError(
            f"catalog NDV estimate too large to broadcast: {dim_stats}"
        )
    fact = t.read()
    dim = fact.groupBy("event_type").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("cents").cast("bigint").alias("c"),
    )
    joined = cbo.stats_informed_join(fact, dim, "event_type", right_stats=dim_stats)
    return (
        joined.groupBy("event_type", "s", "c")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("cents") * F.col("c") > F.col("s"), 1).otherwise(0)
            ).cast("bigint").alias("n_above_avg"),
        )
        .select(
            "event_type",
            "n_events",
            "n_above_avg",
            quantize(F.col("s").cast("double") / F.col("c"), "avg_value", 2),
        )
        .orderBy("event_type")
    )


@query(
    "cbo_star_urgent",
    """
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
                 AND o_orderpriority = '1-URGENT'
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def cbo_star_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CBO loop extended into the JOIN LIBRARY (r10 verdict task
    5): urgent-order revenue by region through
    ``operators.joins.star_join(stats=...)``, whose broadcast decision
    for the ORDERS side comes from catalog stats + the System-R
    selectivity estimate rather than Catalyst's static plan size.

    The decision static planning cannot make: with
    spark.sql.cbo.enabled=false (the default), a Filter node keeps its
    CHILD's sizeInBytes (measured at sf0.01: the 1/5 priority cut
    leaves the estimate at 151 KB), so under a 100 KB broadcast
    threshold the static plan sort-merge-joins lineitem⋈orders — both
    map stages shuffle before AQE can rescue it. The catalog knows
    NDV(o_orderpriority) = 5, so ``cbo.filtered_stats`` prices the
    urgent slice at ~73 KB → ``star_join`` promotes orders to
    broadcast and the FACT SIDE NEVER SHUFFLES. Plan pinned in
    tests/test_cbo.py::test_star_join_consults_catalog_stats (which
    also pins the inverse protection: a cataloged over-threshold
    dimension is DEMOTED from the static broadcast hint). At larger
    scale factors the same math turns the promotion back off — the
    estimate, not the plan shape, is what the catalog contributes.

    Exactness: revenue summed as per-item integer cents (floor of the
    identically-ordered float product on both engines) — stats steer
    the PLAN, never the values.

    100 TB: ANALYZE is one map-side-combined pass (HLL NDVs); the
    catalog read is O(1); when the filtered orders slice outgrows the
    threshold the join falls back to the shuffle plan automatically."""
    from . import cbo
    from .operators import joins

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders_proj = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = load_table(spark, "region", sf_dir).select(
        "r_regionkey", "r_name"
    )
    cat = cbo.StatsCatalog(os.path.join(_fresh_dir("cbostar", sf_dir), "stats"))
    base_stats = cat.analyze("orders", orders_proj)  # HLL NDVs (100 TB path)
    cust_stats = cat.analyze("customer", customer)
    urgent_stats = cbo.filtered_stats(
        base_stats, eq_filters=["o_orderpriority"]
    )
    # self-asserting: the selectivity leg must have priced the 1/NDV
    # equality cut (≈ rows/5), or the informed decision is meaningless
    if not (0 < urgent_stats.row_count <= base_stats.row_count // 4):
        raise RuntimeError(
            f"filtered_stats did not apply the priority cut: "
            f"{urgent_stats.row_count} of {base_stats.row_count}"
        )
    urgent = orders_proj.filter(F.col("o_orderpriority") == "1-URGENT")
    joined = joins.star_join(
        li,
        urgent,
        customer,
        nation,
        region,
        stats={"orders": urgent_stats, "customer": cust_stats},
        threshold_bytes=100 << 10,
    )
    return (
        joined.groupBy("r_name")
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("r_name")
    )


@query(
    "jsonl_quarantine_roundtrip",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '__quarantined__', 3, NULL
    """,
)
def jsonl_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LINES corpus round trip with parser-level quarantine — the
    dominant LLM-corpus interchange format (documents metadata →
    ``.jsonl.gz`` shards via ``to_json(struct(*))`` → splittable-text
    machinery with gzip codec → PERMISSIVE ``from_json`` read with
    full-row ``_corrupt_record`` capture). Three corrupt lines are
    injected (truncated object, type-mismatched doc_id, non-JSON) and
    must land in a '__quarantined__' bucket — counted, never dropped,
    measures nulled (the csv_quarantine contract at the JSON
    boundary; sources/formats.py::read_jsonl_quarantined documents why
    text+from_json beats the JSON file source: the file source's
    quarantine verdict is projection-relative).

    Gzip leg honesty: each ``.jsonl.gz`` shard is a non-splittable
    read unit — shard count = write parallelism must be sized to the
    cluster; at 100 TB prefer zstd/uncompressed-parquet landing zones
    and treat jsonl.gz as the INGEST boundary it is. Integer-only
    measures (n_chars) make the round trip byte-exact with no float
    parity caveats."""
    from pyspark.sql import types as T

    from .sources import formats

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = _fresh_dir("jsonlq", sf_dir)
    formats.write_jsonl(docs, path, compression="gzip")
    bad = local_frame(
        spark,
        [
            ('{"doc_id": 3, "lang"',),
            ('{"doc_id":"not_a_long","lang":"de","source":"web","n_chars":5}',),
            ("not json at all",),
        ],
        "value string",
    )
    bad.coalesce(1).write.mode("append").option("compression", "gzip").text(path)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    parsed = formats.read_jsonl_quarantined(spark, path, schema)
    corrupt = F.col(formats.CORRUPT_COL).isNotNull()
    label = F.when(corrupt, F.lit("__quarantined__")).otherwise(F.col("lang"))
    trusted = F.when(~corrupt, F.col("n_chars"))
    return parsed.groupBy(label.alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.sum(trusted).cast("bigint").alias("sum_chars"),
    )
