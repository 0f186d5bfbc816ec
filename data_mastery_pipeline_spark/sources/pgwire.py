"""Minimal PostgreSQL v3 wire-protocol client — stdlib sockets only.

The container ships a live PostgreSQL server but neither a JDBC driver
jar nor a Python client package, so the live serving-DB path (the
reference's gold_loader.py:265-271,298-304 Postgres load + read-back)
is driven through this from-scratch client. It implements the public
frontend/backend protocol (PostgreSQL docs, "Frontend/Backend
Protocol", protocol version 3.0):

  - startup + trust authentication (AuthenticationOk only — this is a
    loopback harness client, not a credential manager; SCRAM/MD5 raise),
  - the Simple Query cycle: Query → RowDescription / DataRow* /
    CommandComplete → ReadyForQuery, text-format values,
  - COPY FROM STDIN (text format) for bulk loads — the fast path a real
    serving load uses instead of row INSERTs.

Executor-side by design: every Spark task opens its own short-lived
connection (pickling a socket is impossible and sharing one would
serialize the cluster through it). Connection count is therefore
bounded by the task count — the caller controls it with
coalesce/numPartitions exactly like Spark's JDBC sink.
"""

from __future__ import annotations

import socket
import struct
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass
from datetime import date, datetime, timezone

# --- PG type OIDs (pg_type.dat — stable public catalog numbers) -----------
BOOL, INT2, INT4, INT8 = 16, 21, 23, 20
FLOAT4, FLOAT8, NUMERIC = 700, 701, 1700
TEXT, VARCHAR, BPCHAR = 25, 1043, 1042
TIMESTAMP, TIMESTAMPTZ, DATE = 1114, 1184, 1082


class PGError(RuntimeError):
    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        super().__init__(
            f"{fields.get('S', 'ERROR')} {fields.get('C', '')}: "
            f"{fields.get('M', 'unknown')}"
        )


@dataclass
class PGResult:
    columns: list[str]
    typoids: list[int]
    rows: list[tuple]
    tag: str  # CommandComplete tag, e.g. "SELECT 5" / "INSERT 0 3"


def _parse_value(text: str | None, typoid: int):
    if text is None:
        return None
    if typoid in (INT2, INT4, INT8):
        return int(text)
    if typoid in (FLOAT4, FLOAT8, NUMERIC):
        return float(text)
    if typoid == BOOL:
        return text == "t"
    if typoid in (TIMESTAMP, TIMESTAMPTZ):
        # fromisoformat (py>=3.11) handles every offset form Postgres
        # renders (+00, -05, +05:30) — the old literal '+00' strip
        # crashed mid-protocol on any non-UTC server TimeZone (review
        # r6). TZ-aware values normalize to UTC wall time (the
        # connection also pins TimeZone=UTC at startup, belt+braces).
        dt = datetime.fromisoformat(text.replace(" ", "T", 1))
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
        return dt
    if typoid == DATE:
        return date.fromisoformat(text)
    return text


def quote_literal(v) -> str:
    """SQL literal for the INSERT path. Strings double their quotes
    (standard_conforming_strings=on is the server default, so no
    backslash escaping); datetimes render as ISO literals."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if v != v:  # NaN: repr() would emit the bare token `nan`
            return "'NaN'::float8"
        if v in (float("inf"), float("-inf")):
            return f"'{'-' if v < 0 else ''}Infinity'::float8"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _copy_field(v) -> str:
    """COPY text-format field: \\N for NULL, backslash-escape the
    delimiter/newline/backslash (COPY docs, text format)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    s = str(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


class PGConnection:
    """One TCP connection speaking the simple-query protocol."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 5432,
        user: str = "postgres",
        database: str = "postgres",
        connect_timeout: float = 10.0,
    ):
        self._sock = socket.create_connection((host, port), timeout=connect_timeout)
        self._buf = b""
        params = (
            f"user\x00{user}\x00database\x00{database}\x00"
            "options\x00-c TimeZone=UTC\x00\x00"
        ).encode()
        body = struct.pack("!i", 196608) + params  # protocol 3.0
        self._sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._await_ready(startup=True)
        # the connect timeout must NOT become the statement timeout: a
        # >10 s query would raise mid-protocol and desync the
        # connection (review r6); after the handshake, block
        self._sock.settimeout(None)

    # -- framing -----------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        mtype = self._recv_exact(1)
        (length,) = struct.unpack("!i", self._recv_exact(4))
        return mtype, self._recv_exact(length - 4)

    @staticmethod
    def _error_fields(payload: bytes) -> dict[str, str]:
        fields = {}
        for part in payload.split(b"\x00"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return fields

    def _await_ready(self, startup: bool = False) -> None:
        while True:
            mtype, payload = self._read_message()
            if mtype == b"Z":  # ReadyForQuery
                return
            if mtype == b"E":
                raise PGError(self._error_fields(payload))
            if mtype == b"R" and startup:
                (code,) = struct.unpack("!i", payload[:4])
                if code != 0:  # trust-only client (loopback harness)
                    raise PGError(
                        {"M": f"unsupported auth method {code}; configure trust"}
                    )
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N' Notice: skip

    # -- simple query ------------------------------------------------------
    def execute(self, sql: str) -> list[PGResult]:
        """Run one or more ';'-separated statements; one PGResult per
        statement (SELECTs carry rows, DML carries just the tag)."""
        body = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        results: list[PGResult] = []
        cols: list[str] = []
        oids: list[int] = []
        rows: list[tuple] = []
        error: PGError | None = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"T":  # RowDescription
                cols, oids, rows = [], [], []
                (nf,) = struct.unpack("!h", payload[:2])
                off = 2
                for _ in range(nf):
                    end = payload.index(b"\x00", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1
                    _tbl, _att, typoid, _len, _mod, _fmt = struct.unpack(
                        "!ihihih", payload[off : off + 18]
                    )
                    oids.append(typoid)
                    off += 18
            elif mtype == b"D":  # DataRow
                (nf,) = struct.unpack("!h", payload[:2])
                off = 2
                vals = []
                for i in range(nf):
                    (vlen,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if vlen == -1:
                        vals.append(None)
                    else:
                        vals.append(
                            _parse_value(payload[off : off + vlen].decode(), oids[i])
                        )
                        off += vlen
                rows.append(tuple(vals))
            elif mtype == b"C":  # CommandComplete
                tag = payload.rstrip(b"\x00").decode()
                results.append(PGResult(cols, oids, rows, tag))
                cols, oids, rows = [], [], []
            elif mtype == b"E":
                error = PGError(self._error_fields(payload))
            elif mtype == b"Z":  # ReadyForQuery — cycle done
                if error is not None:
                    raise error
                return results
            elif mtype == b"I":  # EmptyQueryResponse
                results.append(PGResult([], [], [], ""))
            # 'N' Notice / 'S' ParameterStatus: skip

    def query(self, sql: str) -> PGResult:
        """Single-statement convenience: last result."""
        return self.execute(sql)[-1]

    def query_iter(self, sql: str):
        """Single-SELECT STREAMING variant: yield each DataRow tuple as
        it is parsed off the socket instead of materializing the whole
        result list — executor memory stays O(row), not O(slice)
        (review r6: the DataSource read path buffered entire range
        slices). The generator MUST be fully consumed (or the
        connection closed) before the connection is reused: rows are
        interleaved with the protocol cycle."""
        body = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        oids: list[int] = []
        error: PGError | None = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"T":  # RowDescription
                oids = []
                (nf,) = struct.unpack("!h", payload[:2])
                off = 2
                for _ in range(nf):
                    end = payload.index(b"\x00", off)
                    off = end + 1
                    _tbl, _att, typoid, _len, _mod, _fmt = struct.unpack(
                        "!ihihih", payload[off : off + 18]
                    )
                    oids.append(typoid)
                    off += 18
            elif mtype == b"D":  # DataRow
                (nf,) = struct.unpack("!h", payload[:2])
                off = 2
                vals = []
                for i in range(nf):
                    (vlen,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if vlen == -1:
                        vals.append(None)
                    else:
                        vals.append(
                            _parse_value(payload[off : off + vlen].decode(), oids[i])
                        )
                        off += vlen
                yield tuple(vals)
            elif mtype == b"E":
                error = PGError(self._error_fields(payload))
            elif mtype == b"Z":  # ReadyForQuery — cycle done
                if error is not None:
                    raise error
                return
            # 'C' CommandComplete / 'N' / 'S' / 'I': skip

    # -- COPY bulk load ----------------------------------------------------
    def copy_rows(
        self, table: str, columns: Sequence[str], rows: Iterable[Sequence]
    ) -> int:
        """``COPY table (cols) FROM STDIN`` in text format — one command
        for the whole batch (the bulk path; multirow INSERT pays parse +
        plan per statement). Returns rows copied."""
        col_list = ", ".join(columns)
        sql = f"COPY {table} ({col_list}) FROM STDIN".encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(sql) + 4) + sql)
        # expect CopyInResponse ('G'); error → drain to ready and raise
        while True:
            mtype, payload = self._read_message()
            if mtype == b"G":
                break
            if mtype == b"E":
                err = PGError(self._error_fields(payload))
                self._await_ready()
                raise err
        n = 0
        chunk: list[bytes] = []
        for row in rows:
            chunk.append(("\t".join(_copy_field(v) for v in row) + "\n").encode())
            n += 1
            if len(chunk) >= 1000:
                self._send_copy_data(b"".join(chunk))
                chunk = []
        if chunk:
            self._send_copy_data(b"".join(chunk))
        self._sock.sendall(b"c" + struct.pack("!i", 4))  # CopyDone
        error = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"E":
                error = PGError(self._error_fields(payload))
            elif mtype == b"Z":
                if error is not None:
                    raise error
                return n

    def _send_copy_data(self, data: bytes) -> None:
        self._sock.sendall(b"d" + struct.pack("!i", len(data) + 4) + data)

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))  # Terminate
        except OSError:
            pass
        self._sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
