"""The benchmark workloads, ``corpus`` and ``medallion``. Each is a
single closed-loop client: it sends its next request only after the
previous one returned.

A workload exposes

- ``generate()``: build the seeded inputs (pure, repeatable);
- ``start()``: untimed fixtures (tables, oracles);
- ``round_ops(r)``: the ops of round ``r``, each an :class:`Op` whose
  ``run`` is timed and whose ``check`` runs after the clock stops;
- ``finish()``: end-of-run checks, returned as extra ops;
- ``install_trace(tracer)`` / ``layer_metrics(...)``: the traced run's
  wrappers and per-layer numbers.

The program sees only the generated input files and the public entry
points ``corpus_pipeline.run_corpus_pipeline``,
``registry.QUERIES["wire_to_serving_daily"]`` and
``sources.txlog.TxTable``.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import statistics
import subprocess
import tempfile
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np

import inputs

# stage counts that may only shrink along the corpus pipeline
CORPUS_STAGES = ("raw", "quality_gate", "exact_dedup", "near_dedup", "decontaminated")
CORPUS_STAGE_SPANS = ("quality_gate", "exact_dedup", "near_dedup", "decontam", "pack_write")


@dataclass
class Op:
    cls: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


def _rows_key(rows, floats: int = 6):
    """Order-insensitive normal form of a result: None → "NULL",
    floats rounded, rows sorted."""
    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return round(v, floats)
        return v

    return sorted(tuple(norm(v) for v in r) for r in rows)


def _close(a, b, tol: float = 0.0100001) -> bool:
    """Equal rows, floats within one cent (both engines quantize sums
    to cents; a sum landing on a half-cent may round either way)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x == "NULL" or y == "NULL" or abs(x - y) > tol:
                    return False
            elif x != y:
                return False
    return True


class Workload:
    name = ""
    items_per_round = 0  # what ``items_per_s`` counts: documents or events

    def __init__(self, spark, work: str, seed: int, smoke: bool, corrupt: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.smoke, self.corrupt = smoke, corrupt
        self.in_dir = os.path.join(work, "in")

    def start(self) -> None:
        pass

    def before_round(self, r: int) -> None:
        pass

    def finish(self) -> list[Op]:
        return []

    def install_trace(self, tracer) -> None:
        pass

    def layer_metrics(self, tracer, rounds: list[list[int]]) -> dict:
        """Per-layer numbers per round; ``rounds`` holds each traced
        round's op ids."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# corpus: repeated passes of the LLM-corpus pipeline
# ---------------------------------------------------------------------------


def _train_checksum(path: str) -> str:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    rows = _rows_key(zip(*(table.column(c).to_pylist() for c in sorted(table.column_names))))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class Corpus(Workload):
    name = "corpus"

    BASE_DOCS, SMOKE_BASE_DOCS, REPLICAS = 250, 125, 4

    def generate(self) -> dict:
        base = self.SMOKE_BASE_DOCS if self.smoke else self.BASE_DOCS
        docs = inputs.amplify_documents(
            inputs.base_documents(base, self.seed), self.REPLICAS, self.seed
        )
        inputs.write_table(inputs.documents_table(docs), self.in_dir, "documents")
        self.n_docs = self.items_per_round = len(docs)
        self.reference: dict | None = None
        return {"documents": self.n_docs, "replicas": self.REPLICAS}

    def round_ops(self, r: int) -> list[Op]:
        from data_mastery_pipeline_spark import corpus_pipeline

        out_dir = os.path.join(self.work, "out")

        def run():
            return corpus_pipeline.run_corpus_pipeline(self.spark, self.in_dir, out_dir)

        return [Op("pass", run, self._check)]

    def _check(self, res) -> bool:
        got = {"stage_rows": dict(res.stage_rows), "train": _train_checksum(res.train_path)}
        if self.reference is None:
            # the cold pass: raw = input docs, every stage count no
            # larger than the one before
            rows = got["stage_rows"]
            counts = [rows[s] for s in CORPUS_STAGES]
            self.reference = got
            if self.corrupt:
                self.reference = dict(got, train="corrupted")
            return rows["raw"] == self.n_docs and all(
                a >= b for a, b in zip(counts, counts[1:])
            )
        return got == self.reference

    def install_trace(self, tracer) -> None:
        from data_mastery_pipeline_spark import corpus_pipeline
        from data_mastery_pipeline_spark.dedup import components, minhash

        stages = iter(())

        def stage_cut(*args, **kwargs):
            with tracer.span("checkpointing.truncate_lineage"):
                out = orig_cut(*args, **kwargs)
            tracer.add("checkpointing.calls", 1)
            tracer.end()  # close the stage this cut materialized
            tracer.begin(f"corpus_pipeline.{next(stages, 'after_last_cut')}")
            return out

        orig_cut = corpus_pipeline.truncate_lineage
        tracer.patch(corpus_pipeline, "truncate_lineage", stage_cut)
        count_cut = lambda a, k, out: tracer.add("checkpointing.calls", 1)  # noqa: E731
        tracer.wrap(minhash, "truncate_lineage", "checkpointing.truncate_lineage", count_cut)
        tracer.wrap(components, "truncate_lineage", "checkpointing.truncate_lineage", count_cut)
        tracer.wrap(minhash, "verified_near_dups", "dedup.verified_near_dups")

        def cc_stats(a, k, out):
            tracer.add("dedup.cc_rounds", len(components.LAST_RUN_STATS))
            tracer.add(
                "dedup.cc_edges",
                sum(s.get("edges_after", 0) + s.get("finish_edges", 0) for s in components.LAST_RUN_STATS),
            )

        tracer.wrap(components, "connected_components", "dedup.connected_components", cc_stats)
        tracer.wrap(corpus_pipeline, "load_table", "tables.load_table",
                    lambda a, k, out: tracer.add("tables.load_calls", 1))

        # each pass opens its first stage span; each cut closes one and
        # opens the next; the pass's end closes the last (pack + write)
        orig_run = corpus_pipeline.run_corpus_pipeline

        def traced_run(*args, **kwargs):
            nonlocal stages
            stages = iter(CORPUS_STAGE_SPANS[1:])
            tracer.begin(f"corpus_pipeline.{CORPUS_STAGE_SPANS[0]}")
            try:
                return orig_run(*args, **kwargs)
            finally:
                tracer.end()

        tracer.patch(corpus_pipeline, "run_corpus_pipeline", traced_run)

    def layer_metrics(self, tracer, rounds: list[list[int]]) -> dict:
        spans = [tracer.round_summary(ids)["span_s"] for ids in rounds]
        mean = lambda key: statistics.fmean(s.get(key, 0.0) for s in spans)  # noqa: E731
        mean_count = lambda key: statistics.fmean(tracer.round_count(key, ids) for ids in rounds)  # noqa: E731
        out = {f"corpus_pipeline.{st}_s": mean(f"corpus_pipeline.{st}") for st in CORPUS_STAGE_SPANS}
        out.update(
            {
                "checkpointing.calls": mean_count("checkpointing.calls"),
                "dedup.near_dups_s": mean("dedup.verified_near_dups"),
                "dedup.components_s": mean("dedup.connected_components"),
                "dedup.cc_rounds": mean_count("dedup.cc_rounds"),
                "dedup.cc_edges": mean_count("dedup.cc_edges"),
            }
        )
        return out


class PostgresFixture:
    """The serving database the medallion query writes to. The query
    itself connects to ``pgserving.LOCAL_PORT``, database ``serving``.
    A server already listening there is used as it is and left running.
    Otherwise one is started for this run with its data directory inside
    the run's work directory (or, when the ``postgres`` user cannot
    reach that directory, a private temporary one), and stopped and
    removed by :meth:`stop`."""

    def __init__(self, work: str):
        self.work = work
        self.datadir: str | None = None
        self.home: str | None = None

    @staticmethod
    def _as_postgres(cmd: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            ["su", "postgres", "-c", cmd], capture_output=True, text=True, timeout=120
        )

    @staticmethod
    def _connect(database: str):
        from data_mastery_pipeline_spark.sources import pgserving, pgwire

        return pgwire.PGConnection(port=pgserving.LOCAL_PORT, database=database)

    @staticmethod
    def _ensure_db(conn) -> None:
        dbs = [r[0] for r in conn.query("SELECT datname FROM pg_database").rows]
        if "serving" not in dbs:
            conn.execute("CREATE DATABASE serving")

    def ensure(self) -> None:
        from data_mastery_pipeline_spark.sources import pgserving

        try:
            with self._connect("postgres") as conn:
                self._ensure_db(conn)
            return
        except OSError:
            pass
        home = os.path.join(self.work, "pg")
        os.makedirs(home, exist_ok=True)
        subprocess.run(["chown", "postgres", home], check=True)
        if self._as_postgres(f"test -w {shlex.quote(home)}").returncode != 0:
            home = tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp")
            subprocess.run(["chown", "postgres", home], check=True)
        self.home = home
        self.datadir = os.path.join(home, "data")
        q = shlex.quote(self.datadir)
        for cmd in (
            f"initdb -D {q}",
            f"pg_ctl -D {q} -o '-p {pgserving.LOCAL_PORT} -k {q}' -l {q}/server.log -w start",
        ):
            done = self._as_postgres(cmd)
            if done.returncode != 0:
                self.stop()
                raise RuntimeError(f"postgres fixture: {cmd!r} failed: {done.stderr[-500:]}")
        with self._connect("postgres") as conn:
            self._ensure_db(conn)

    def stop(self) -> None:
        if self.datadir is not None:
            self._as_postgres(f"pg_ctl -D {shlex.quote(self.datadir)} -m fast -w stop")
            self.datadir = None
        if self.home is not None:
            shutil.rmtree(self.home, ignore_errors=True)
            self.home = None


# ---------------------------------------------------------------------------
# serving cycle: Kafka wire → gold → PostgreSQL serving
# ---------------------------------------------------------------------------


class WireServing(Workload):
    """One ``wire_to_serving_daily`` cycle per round."""

    name = "wire"

    EVENTS, SMOKE_EVENTS = 10_000, 1_000
    QUERY = "wire_to_serving_daily"

    def generate(self) -> dict:
        n = self.SMOKE_EVENTS if self.smoke else self.EVENTS
        path = inputs.write_table(inputs.events_table(n, self.seed), self.in_dir, "events")
        from data_mastery_pipeline_spark.registry import ORACLE

        import data_mastery_pipeline_spark.queries_src  # noqa: F401  (registers the query)

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
            rel = con.execute(ORACLE[self.QUERY])
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
        finally:
            con.close()
        self.columns = cols
        self.expected = _rows_key(rows)
        if self.corrupt:
            first = list(self.expected[0])
            first[cols.index("n_events")] += 1
            self.expected[0] = tuple(first)
        self.items_per_round = n
        return {"events": n, "gold_rows": len(rows)}

    def start(self) -> None:
        from data_mastery_pipeline_spark.registry import QUERIES

        self.pg = PostgresFixture(self.work)
        self.pg.ensure()
        self._query = QUERIES[self.QUERY]

    def close(self) -> None:
        if getattr(self, "pg", None) is not None:
            self.pg.stop()

    def round_ops(self, r: int) -> list[Op]:
        def run():
            return self._collect(self._query(self.spark, self.in_dir))

        return [Op("cycle", run, self._check)]

    def _collect(self, df):
        return df.select(*self.columns).collect()

    def _check(self, rows) -> bool:
        return _close(_rows_key(rows), self.expected)

    def install_trace(self, tracer) -> None:
        import time

        from data_mastery_pipeline_spark.sources import pgserving
        from data_mastery_pipeline_spark.streaming import kafkawire

        broker = kafkawire.ensure_local_broker()
        orig_dispatch = broker._dispatch

        def dispatch(req):
            start = time.time()
            resp = orig_dispatch(req)
            tracer.interval("kafkawire", start, time.time(), len(req) + len(resp))
            return resp

        tracer.patch(broker, "_dispatch", dispatch)
        tracer.wrap(pgserving, "write_serving_table", "pgserving.write_serving_table")
        tracer.wrap(pgserving, "read_serving_table", "pgserving.read_serving_table")
        from data_mastery_pipeline_spark import queries_src

        tracer.wrap(queries_src, "load_table", "tables.load_table",
                    lambda a, k, out: tracer.add("tables.load_calls", 1))
        orig_collect = self._collect

        def collect(df):
            # the read-back action: runs the range-sliced PG read
            with tracer.span("pgserving.read_back"):
                return orig_collect(df)

        tracer.patch(self, "_collect", collect)
        tracer.wrap(self, "_query", f"queries_src.{self.QUERY}")

    def layer_metrics(self, tracer, rounds: list[list[int]]) -> dict:
        from tracing import union_length

        spans = [tracer.round_summary(ids)["span_s"] for ids in rounds]
        mean = lambda *keys: statistics.fmean(sum(s.get(k, 0.0) for k in keys) for s in spans)  # noqa: E731
        mean_count = lambda key: statistics.fmean(tracer.round_count(key, ids) for ids in rounds)  # noqa: E731
        return {
            "kafkawire.requests": mean_count("kafkawire.requests"),
            "kafkawire.mb": mean_count("kafkawire.bytes") / 2**20,
            "kafkawire.broker_busy_s": statistics.fmean(
                union_length([iv for i in ids for iv in tracer.intervals.get(("kafkawire", i), [])])
                for ids in rounds
            ),
            "pgserving.write_s": mean("pgserving.write_serving_table"),
            "pgserving.read_s": mean("pgserving.read_serving_table", "pgserving.read_back"),
        }


# ---------------------------------------------------------------------------
# lake table: seeded reads and writes against one transaction-log table
# ---------------------------------------------------------------------------

ROLLUP_SQL = """
    SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS s
    FROM t GROUP BY 1, 2
"""


class LakeTable(Workload):
    """Every round restores the table to its base version (a
    metadata-only commit, untimed), then sends append, merge, delete,
    scan, rollup and change-feed requests with seeded payloads. The
    restore keeps the table's state stationary: every round starts from
    the same files. A DuckDB table replays the same requests and checks
    every read and, at the end, the final snapshot."""

    name = "lake"

    EVENTS, SMOKE_EVENTS = 100_000, 1_000
    BATCH, MERGE_WINDOW, DELETE_KEYS, SCAN_KEYS = 500, 1_000, 50, 1_000
    BASE_FILES = 8
    ID_STRIDE = 2  # base ids are even: odd ids inside a merge window are inserts

    def generate(self) -> dict:
        n = self.SMOKE_EVENTS if self.smoke else self.EVENTS
        table = inputs.events_table(n, self.seed, stride=self.ID_STRIDE, permute=False)
        self.base_path = inputs.write_table(table, self.in_dir, "events")
        self.max_id = self.ID_STRIDE * (n - 1)
        return {"events": n}

    def start(self) -> None:
        from data_mastery_pipeline_spark.sources.txlog import TxTable
        from data_mastery_pipeline_spark.tables import load_table

        base = load_table(self.spark, "events", self.in_dir).repartitionByRange(
            self.BASE_FILES, "event_id"
        )
        self.schema = base.schema
        self.root = os.path.join(self.work, "table")
        self.table = TxTable.create(self.spark, self.root, base)
        self.base_version = self.table.version()
        base_adds = self.table.snapshot_adds(self.base_version)
        self.bytes_per_row = sum(a["size"] for a in base_adds) / sum(a["num_records"] for a in base_adds)
        self.db = duckdb.connect()
        self.db.execute(f"CREATE TABLE base AS SELECT * FROM read_parquet('{self.base_path}')")
        self.written_rows = self.added_bytes = 0
        self.scan_shares: list[float] = []
        self.files_live: list[int] = []

    def before_round(self, r: int) -> None:
        if self.table.version() != self.base_version:
            self.table.restore(self.base_version)
        self.db.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM base")
        self.counts = [self._model_count()]
        self.version_seen = self.table.version()

    def _model_count(self) -> int:
        return self.db.execute("SELECT count(*) FROM t").fetchone()[0]

    def round_ops(self, r: int) -> list[Op]:
        from pyspark.sql import functions as F

        rng = np.random.default_rng([self.seed, 4, r])
        t, spark, schema = self.table, self.spark, self.schema
        span = self.max_id - self.MERGE_WINDOW
        append_pdf = inputs.events_table(
            self.BATCH, self.seed * 1_000 + r, first_id=self.max_id + 1, permute=False
        ).to_pandas()
        lo = int(rng.integers(0, span))
        keys = np.sort(rng.choice(np.arange(lo, lo + self.MERGE_WINDOW), self.BATCH, replace=False))
        merge_pdf = inputs.events_table(self.BATCH, self.seed * 1_000 + r, permute=False).to_pandas()
        merge_pdf["event_id"] = keys
        del_lo = int(rng.integers(0, span))
        del_hi = del_lo + self.ID_STRIDE * self.DELETE_KEYS - 1
        scan_lo = int(rng.integers(0, span))
        scan_hi = scan_lo + self.ID_STRIDE * self.SCAN_KEYS - 1

        def committed(apply_model, user_rows):
            def check(v) -> bool:
                before, self.version_seen = self.version_seen, v
                self._record_write(before, v, user_rows)
                apply_model()
                self.counts.append(self._model_count())
                return v == before + 1

            return check

        def model_append():
            self.db.register("p", append_pdf)
            self.db.execute("INSERT INTO t SELECT * FROM p")
            self.db.unregister("p")

        def model_merge():
            self.db.register("p", merge_pdf)
            self.db.execute("DELETE FROM t WHERE event_id IN (SELECT event_id FROM p)")
            self.db.execute("INSERT INTO t SELECT * FROM p")
            self.db.unregister("p")

        def model_delete():
            self.db.execute(f"DELETE FROM t WHERE event_id BETWEEN {del_lo} AND {del_hi}")

        def run_scan():
            df, stats = t.scan({"event_id": (scan_lo, scan_hi)})
            row = df.agg(F.count("*"), F.sum("value")).collect()[0]
            return (row[0], row[1]), stats

        def check_scan(res) -> bool:
            (n, s), stats = res
            self.scan_shares.append(stats["files_read"] / max(stats["files_total"], 1))
            en, es = self.db.execute(
                f"SELECT count(*), sum(value) FROM t WHERE event_id BETWEEN {scan_lo} AND {scan_hi}"
            ).fetchone()
            if self.corrupt:
                en += 1
            return n == en and abs((s or 0.0) - (es or 0.0)) < 1e-6 * max(1.0, abs(es or 0.0))

        def run_rollup():
            return (
                t.read()
                .groupBy(F.to_date("ts").alias("day"), "event_type")
                .agg(F.count("*"), F.floor(F.sum("value") * 100 + 0.5) / 100)
                .collect()
            )

        def check_rollup(rows) -> bool:
            return _close(_rows_key(rows), _rows_key(self.db.execute(ROLLUP_SQL).fetchall()))

        def run_cdf():
            v = t.version()
            rows = t.changes(v - 3, v).groupBy("_change_type").count().collect()
            return {r[0]: r[1] for r in rows}

        def check_cdf(feed) -> bool:
            # applying the feed to snapshot(v-3) gives snapshot(v)
            self.files_live.append(len(t.snapshot_adds()))
            net = feed.get("insert", 0) - feed.get("delete", 0)
            return net == self.counts[-1] - self.counts[-4]

        return [
            Op("append", lambda: t.append(spark.createDataFrame(append_pdf, schema).coalesce(1)),
               committed(model_append, self.BATCH)),
            Op("merge", lambda: t.merge_upsert(spark.createDataFrame(merge_pdf, schema), "event_id"),
               committed(model_merge, self.BATCH)),
            Op("delete", lambda: t.delete_where("event_id", del_lo, del_hi, mode="dv"),
               committed(model_delete, 0)),
            Op("scan", run_scan, check_scan),
            Op("rollup", run_rollup, check_rollup),
            Op("cdf", run_cdf, check_cdf),
        ]

    def _record_write(self, before: int, after: int, user_rows: int) -> None:
        if not user_rows:
            return
        old = {a["path"] for a in self.table.snapshot_adds(before)}
        self.added_bytes += sum(a["size"] for a in self.table.snapshot_adds(after) if a["path"] not in old)
        self.written_rows += user_rows

    def finish(self) -> list[Op]:
        cols = [f.name for f in self.schema.fields]

        def run():
            return self.table.read().select(*cols).toPandas()

        def check(pdf) -> bool:
            # multiset equality: nothing missing, nothing extra
            self.db.register("got", pdf)
            try:
                extra, missing = (
                    self.db.execute(
                        f"SELECT count(*) FROM (SELECT {', '.join(cols)} FROM {a} "
                        f"EXCEPT ALL SELECT {', '.join(cols)} FROM {b})"
                    ).fetchone()[0]
                    for a, b in (("got", "t"), ("t", "got"))
                )
            finally:
                self.db.unregister("got")
            return extra == 0 and missing == 0

        return [Op("final_snapshot", run, check)]

    def install_trace(self, tracer) -> None:
        from data_mastery_pipeline_spark.sources.txlog import TxTable

        for attr in ("append", "merge_upsert", "delete_where", "scan", "read", "changes",
                     "restore", "_state_at", "_write_stage", "_commit"):
            if hasattr(TxTable, attr):
                tracer.wrap(TxTable, attr, f"txlog.{attr}")

    def layer_metrics(self, tracer, rounds: list[list[int]]) -> dict:
        return {
            "txlog.versions": float(self.table.version()),
            "txlog.files_live": statistics.fmean(self.files_live) if self.files_live else 0.0,
            "txlog.write_amp": self.added_bytes / max(self.written_rows * self.bytes_per_row, 1.0),
            "txlog.files_read_share": statistics.fmean(self.scan_shares) if self.scan_shares else 0.0,
        }

    def close(self) -> None:
        if getattr(self, "db", None) is not None:
            self.db.close()


class Medallion(Workload):
    """The reference's Medallion ETL with its lake table. Each round runs
    one Kafka-wire → gold → PostgreSQL serving cycle, then the lake
    table's six requests. ``items_per_s`` counts the cycle's events."""

    name = "medallion"

    def __init__(self, spark, work: str, seed: int, smoke: bool, corrupt: bool):
        super().__init__(spark, work, seed, smoke, corrupt)
        self.parts = [
            cls(spark, os.path.join(work, cls.name), seed, smoke, corrupt)
            for cls in (WireServing, LakeTable)
        ]

    def generate(self) -> dict:
        info = {f"{p.name}.{k}": v for p in self.parts for k, v in p.generate().items()}
        self.items_per_round = self.parts[0].items_per_round
        return info

    def start(self) -> None:
        for p in self.parts:
            p.start()

    def before_round(self, r: int) -> None:
        for p in self.parts:
            p.before_round(r)

    def round_ops(self, r: int) -> list[Op]:
        return [op for p in self.parts for op in p.round_ops(r)]

    def finish(self) -> list[Op]:
        return [op for p in self.parts for op in p.finish()]

    def install_trace(self, tracer) -> None:
        for p in self.parts:
            p.install_trace(tracer)

    def layer_metrics(self, tracer, rounds: list[list[int]]) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics(tracer, rounds).items()}

    def close(self) -> None:
        for p in self.parts:
            p.close()


WORKLOADS = {w.name: w for w in (Corpus, Medallion)}
