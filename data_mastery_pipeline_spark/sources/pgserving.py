"""Live PostgreSQL serving source/sink via the Spark Python Data Source
API (SURVEY §2.A S12/S13, now against a REAL database).

The reference loads Gold tables into Postgres with `df.write.jdbc` and
reads them back for quality checks (gold_loader.py:265-271,298-304,
335-341). This container ships a PostgreSQL server but no JDBC jar, so
the live path runs on the repo's own wire-protocol client (pgwire.py)
mounted behind Spark's Python Data Source API — the same executor-side
architecture as the JDBC connector:

  - READ: the table scans in ``num_partitions`` parallel range slices of
    ``partition_column`` (the JDBC partitioned-read contract, including
    its NULL-to-first-slice and unbounded edge slices); each Spark task
    opens one connection and streams its slice.
  - WRITE: each task COPYs (bulk path) or upserts (INSERT .. ON CONFLICT
    DO UPDATE, the gold_loader idempotency contract backed by the
    serving key's UNIQUE constraint, sql/schema.sql:86) its partition.
    Connection count == task count, so callers bound it with
    ``num_partitions`` exactly like Spark's JDBC sink.

Delivery: plain ``append`` duplicates rows if a task retries —
effectively-once needs ``upsert_keys`` (task retries then re-apply the
same keyed rows). A transactional upgrade would stage per-task COPYs
into temp tables and merge on commit; keyed upsert covers the
reference's contract without it.
"""

from __future__ import annotations

import subprocess
import time
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import pgwire

try:  # Spark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover
    HAVE_DATASOURCE_API = False


_PG_TO_SPARK = {
    pgwire.BOOL: T.BooleanType(),
    pgwire.INT2: T.IntegerType(),
    pgwire.INT4: T.IntegerType(),
    pgwire.INT8: T.LongType(),
    pgwire.FLOAT4: T.FloatType(),
    pgwire.FLOAT8: T.DoubleType(),
    pgwire.NUMERIC: T.DoubleType(),  # serving reads are metric reads
    pgwire.TIMESTAMP: T.TimestampType(),
    pgwire.TIMESTAMPTZ: T.TimestampType(),
    pgwire.DATE: T.DateType(),
}


def _spark_to_pg(dt: T.DataType) -> str:
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, (T.IntegerType, T.ShortType)):
        return "integer"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "text"
    raise TypeError(f"no serving-table mapping for Spark type {dt}")


@dataclass
class _ConnOpts:
    host: str
    port: int
    user: str
    database: str

    def connect(self) -> pgwire.PGConnection:
        return pgwire.PGConnection(
            host=self.host, port=self.port, user=self.user, database=self.database
        )


def _conn_opts(options) -> _ConnOpts:
    return _ConnOpts(
        host=options.get("host", "127.0.0.1"),
        port=int(options.get("port", 5432)),
        user=options.get("user", "postgres"),
        database=options.get("database", "postgres"),
    )


if HAVE_DATASOURCE_API:

    class _RangePartition(InputPartition):
        def __init__(self, where: str | None):
            self.where = where

    class PGServingReader(DataSourceReader):
        """Range-sliced parallel scan (the JDBC partitioned-read shape)."""

        def __init__(self, schema: T.StructType, options):
            self.schema_ = schema
            self.opts = _conn_opts(options)
            self.table = options["table"]
            self.pc = options.get("partition_column")
            self.lo = options.get("lower_bound")
            self.hi = options.get("upper_bound")
            self.n = int(options.get("num_partitions", 4))

        def partitions(self):
            if not self.pc:
                return [_RangePartition(None)]
            lo, hi, n = int(self.lo), int(self.hi), self.n
            if n <= 1 or hi <= lo:
                return [_RangePartition(None)]
            step = (hi - lo) / n
            cuts = [int(lo + step * i) for i in range(1, n)]
            parts = []
            prev: int | None = None
            for c in cuts + [None]:
                if prev is None and c is not None:
                    # first slice absorbs below-range and NULLs (JDBC contract)
                    parts.append(
                        _RangePartition(f"({self.pc} < {c} OR {self.pc} IS NULL)")
                    )
                elif c is None:
                    parts.append(_RangePartition(f"{self.pc} >= {prev}"))
                else:
                    parts.append(
                        _RangePartition(f"{self.pc} >= {prev} AND {self.pc} < {c}")
                    )
                prev = c
            return parts

        def read(self, partition: _RangePartition) -> Iterator[tuple]:
            cols = ", ".join(f.name for f in self.schema_.fields)
            sql = f"SELECT {cols} FROM {self.table}"
            if partition.where:
                sql += f" WHERE {partition.where}"
            with self.opts.connect() as conn:
                # streaming: O(row) executor memory, not O(slice) —
                # the generator drains fully inside the with-block
                yield from conn.query_iter(sql)

    @dataclass
    class _WriteDone(WriterCommitMessage):
        rows: int = 0

    class PGServingWriter(DataSourceWriter):
        """Per-task COPY (bulk) or keyed upsert (idempotent) load."""

        def __init__(self, schema: T.StructType, options):
            self.opts = _conn_opts(options)
            self.table = options["table"]
            self.columns = [f.name for f in schema.fields]
            keys = options.get("upsert_keys", "")
            self.upsert_keys = [k.strip() for k in keys.split(",") if k.strip()]
            self.batchsize = int(options.get("batchsize", 1000))

        def write(self, rows: Iterator) -> _WriteDone:
            with self.opts.connect() as conn:
                if not self.upsert_keys:
                    n = conn.copy_rows(
                        self.table, self.columns, (tuple(r) for r in rows)
                    )
                    return _WriteDone(n)
                updates = [c for c in self.columns if c not in self.upsert_keys]
                set_sql = ", ".join(f"{c} = excluded.{c}" for c in updates)
                conflict = (
                    f"ON CONFLICT ({', '.join(self.upsert_keys)}) DO UPDATE SET "
                    + set_sql
                    if updates
                    else f"ON CONFLICT ({', '.join(self.upsert_keys)}) DO NOTHING"
                )
                head = f"INSERT INTO {self.table} ({', '.join(self.columns)}) VALUES "
                # Postgres rejects ON CONFLICT DO UPDATE when one
                # statement touches the same key twice ("cannot affect
                # row a second time", 21000) — exactly the duplicate
                # replay an at-least-once upstream produces. Dedup each
                # statement's rows on the upsert keys, LAST occurrence
                # wins (statement order preserves arrival order), so
                # the idempotent-load contract holds on the input that
                # motivates it (review r6).
                ki = [self.columns.index(k) for k in self.upsert_keys]
                n = 0
                batch: dict[tuple, str] = {}
                for r in rows:
                    key = tuple(r[i] for i in ki)
                    rendered = (
                        "(" + ", ".join(pgwire.quote_literal(v) for v in r) + ")"
                    )
                    batch.pop(key, None)  # re-insert → moves to the end
                    batch[key] = rendered
                    if len(batch) >= self.batchsize:
                        conn.execute(head + ", ".join(batch.values()) + " " + conflict)
                        n += len(batch)
                        batch = {}
                if batch:
                    conn.execute(head + ", ".join(batch.values()) + " " + conflict)
                    n += len(batch)
                return _WriteDone(n)

        def commit(self, messages) -> None:
            return None

        def abort(self, messages) -> None:  # pragma: no cover
            return None

    class PGServingDataSource(DataSource):
        """``spark.read.format("pg_serving")`` / ``df.write.format(...)``.

        Options: host, port, user, database, table; read-side
        partition_column/lower_bound/upper_bound/num_partitions; write-
        side upsert_keys (comma-separated → idempotent keyed load),
        batchsize.
        """

        @classmethod
        def name(cls) -> str:
            return "pg_serving"

        def schema(self):
            # One control-plane round trip (exactly what JDBC does at
            # planning): LIMIT 0 yields RowDescription type OIDs.
            opts = _conn_opts(self.options)
            with opts.connect() as conn:
                res = conn.query(f"SELECT * FROM {self.options['table']} LIMIT 0")
            return T.StructType(
                [
                    T.StructField(c, _PG_TO_SPARK.get(oid, T.StringType()), True)
                    for c, oid in zip(res.columns, res.typoids)
                ]
            )

        def reader(self, schema: T.StructType):
            return PGServingReader(schema, self.options)

        def writer(self, schema: T.StructType, overwrite: bool):
            if overwrite:
                raise ValueError(
                    "pg_serving supports append/upsert only; TRUNCATE the "
                    "serving table explicitly if you mean overwrite"
                )
            return PGServingWriter(schema, self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(PGServingDataSource)


def read_serving_table(
    spark: SparkSession,
    table: str,
    *,
    host: str = "127.0.0.1",
    port: int = 5432,
    user: str = "postgres",
    database: str = "postgres",
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    reader = (
        spark.read.format("pg_serving")
        .option("host", host)
        .option("port", str(port))
        .option("user", user)
        .option("database", database)
        .option("table", table)
    )
    if partition_column is not None:
        reader = (
            reader.option("partition_column", partition_column)
            .option("lower_bound", str(lower_bound))
            .option("upper_bound", str(upper_bound))
            .option("num_partitions", str(num_partitions))
        )
    return reader.load()


def write_serving_table(
    df: DataFrame,
    table: str,
    *,
    host: str = "127.0.0.1",
    port: int = 5432,
    user: str = "postgres",
    database: str = "postgres",
    upsert_keys: Sequence[str] = (),
    batchsize: int = 1000,
    num_partitions: int = 8,
) -> None:
    """Connection-bounded serving load (``num_partitions`` caps
    concurrent DB connections — the JDBC sink's knob, same reason)."""
    (
        df.coalesce(num_partitions)
        .write.format("pg_serving")
        .mode("append")
        .option("host", host)
        .option("port", str(port))
        .option("user", user)
        .option("database", database)
        .option("table", table)
        .option("upsert_keys", ",".join(upsert_keys))
        .option("batchsize", str(batchsize))
        .save()
    )


def ensure_serving_table(
    conn: pgwire.PGConnection,
    table: str,
    schema: T.StructType,
    key_cols: Sequence[str] = (),
) -> None:
    """CREATE TABLE IF NOT EXISTS from the Spark schema, with the serving
    key's UNIQUE constraint (the reference's idempotency backstop,
    sql/schema.sql:86)."""
    cols = ", ".join(f"{f.name} {_spark_to_pg(f.dataType)}" for f in schema.fields)
    ddl = f"CREATE TABLE IF NOT EXISTS {table} ({cols}"
    if key_cols:
        ddl += f", UNIQUE ({', '.join(key_cols)})"
    ddl += ")"
    conn.execute(ddl)


# --- container-local server harness ---------------------------------------

LOCAL_PORT = 55432
_LOCAL_DATA_DIR = "/tmp/pgdata"


def ensure_local_server(
    port: int = LOCAL_PORT, database: str = "serving"
) -> bool:
    """Start (once) the container-local PostgreSQL for integration tests
    and the contract query; True if a server is reachable. A production
    deployment points host/port at its real serving DB and never calls
    this."""
    try:
        with pgwire.PGConnection(port=port, database=database):
            return True
    except OSError:
        pass
    except pgwire.PGError:
        pass

    def _pg(cmd: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            ["su", "postgres", "-c", cmd],
            cwd="/tmp",
            capture_output=True,
            text=True,
            timeout=60,
        )

    try:
        subprocess.run(
            ["mkdir", "-p", _LOCAL_DATA_DIR], capture_output=True, timeout=10
        )
        subprocess.run(
            ["chown", "postgres:postgres", _LOCAL_DATA_DIR],
            capture_output=True,
            timeout=10,
        )
        _pg(f"test -f {_LOCAL_DATA_DIR}/PG_VERSION || initdb -D {_LOCAL_DATA_DIR}")
        _pg(
            f"pg_ctl -D {_LOCAL_DATA_DIR} -o '-p {port} -k /tmp' "
            f"-l /tmp/pgserving.log start"
        )
        for _ in range(20):
            try:
                with pgwire.PGConnection(port=port, database="postgres") as c:
                    dbs = [r[0] for r in c.query("SELECT datname FROM pg_database").rows]
                    if database not in dbs:
                        c.execute(f"CREATE DATABASE {database}")
                    return True
            except (OSError, pgwire.PGError):
                time.sleep(0.25)
    except (OSError, subprocess.SubprocessError):
        return False
    return False
