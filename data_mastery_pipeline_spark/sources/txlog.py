"""Transactional table format — an append-only JSON action log with
put-if-absent commits, optimistic concurrency, file-level statistics,
snapshot isolation, and time travel, built from the PUBLIC Delta Lake
protocol design (Armbrust et al., "Delta Lake: High-Performance ACID
Table Storage over Cloud Object Stores", VLDB 2020) the way
``pgwire``/``kafkawire``/``avrofmt`` were built from their public specs.

Why this exists next to :mod:`versioned` and :mod:`manifest`:

- ``versioned.py`` snapshots the WHOLE table per version — a 100 TB
  table cannot be rewritten to append one day of data. Here a commit is
  O(changed files): an append adds files, a delete rewrites only the
  files whose statistics overlap the predicate.
- ``versioned.py`` is single-writer (last pointer swing wins). Here
  concurrent writers are safe: the committer that loses the
  put-if-absent race re-reads the interleaved commits and either
  retries (blind append — always serializable) or raises
  :class:`ConflictError` (its read snapshot was invalidated).
- ``manifest.py`` rebuilds its stats relation by re-scanning data.
  Here every commit carries per-file min/max/null-count harvested from
  the parquet FOOTERS of exactly the files it wrote — the statistics
  ride the log, so a needle query prunes files without any data scan.

Layout::

    root/
      _txlog/00000000000000000000.json        one file per commit version
      _txlog/00000000000000000012.ckpt.json   log checkpoint (full state)
      data/<txn-uuid>/part-*.parquet          immutable data files

Actions are JSON objects, one per line of a commit file:

    {"meta":     {"schema_json": …, "stat_cols": […],
                  "constraints": {name: sql}, "column_mapping": {…}}}
    {"remove":   {"path": …}}
    {"add":      {"path": "data/…/part-….parquet", "size": …,
                  "num_records": …, "stats": {col: [min, max, n_null]}}}
    {"dv":       {"paths": [sidecar …], "files": {path: n_deleted},
                  "num_deleted": …}}
    {"txn":      {"app_id": …, "batch_id": …}}
    {"bloomidx": {"path": …, "col": …, "m": …, "k": …, "bits": …}}
    {"commit":   {"op": …, "read_version": …,
                  "predicate": {col: [lo, hi]} | null,
                  "txn": "<uuid>", "ts": …}}

``meta`` replaces the table metadata (``constraints`` and
``column_mapping`` only once set); ``dv`` is a deletion vector, a
parquet sidecar of ``(path, pos)`` rows; ``txn`` is a streaming
writer's exactly-once watermark; ``bloomidx`` is an advisory per-file
bloom filter. The op names are ``create``, ``clone``, ``append``,
``txn_mark``, ``delete``, ``delete_dv``, ``update``, ``update_dv``,
``replace``, ``merge``, ``optimize`` (compaction and
``purge_deletes``), ``restore``, ``alter`` (every metadata change) and
``bloomidx``.

Commit protocol (the crux): data files are staged under a fresh
``data/<txn-uuid>/`` dir first (invisible — readers only see files the
log references), then the commit file is published with PUT-IF-ABSENT
on ``_txlog/<version>.json``. On a POSIX filesystem that primitive is
``os.link`` (hard-link creation fails atomically with EEXIST — no
TOCTOU window, unlike exists-then-rename). On HDFS it would be
``create(overwrite=false)`` (atomic namenode op), and on S3 a
coordination service (Delta's own LogStore requirement — S3 PUT has no
if-absent); this module implements the local/POSIX store and keeps the
primitive isolated in :meth:`TxTable._put_if_absent` so a DFS port
swaps one method, mirroring Delta's pluggable LogStore.

Conflict rules (optimistic concurrency, checked by the loser of the
race, over the commits interleaved since its snapshot):

- A txn's GUARDED files are the files it removes plus its DV targets
  (the files its deletion vector deletes rows from).
- ``append``/``txn_mark``/``bloomidx`` guard nothing and never conflict
  with DATA commits — a blind add commutes with anything; the committer
  silently retries at the next version. (``create`` must own version
  0: any visible commit is a ConflictError.)
- Every op conflicts when an interleaved commit (a) removed a guarded
  file, or (b) committed a deletion vector on a guarded file (write-
  write on the same rows, or positions into a dead file). So
  ``optimize`` conflicts only here: concurrent appends are fine
  (compaction of old files commutes with new data), concurrent removal
  of, or DV on, a compaction input is not.
- ``delete``/``delete_dv``/``update``/``update_dv``/``replace``/
  ``merge`` also conflict when (c) an interleaved commit added a file
  whose stats overlap this txn's predicate (the rewrite was computed
  against a snapshot that no longer covers the predicate).
- ``restore`` conflicts with ANY interleaved remove, dv or add: its
  file diff was computed against one snapshot.
- METADATA commits (every ``alter``) serialize against everything: any
  txn that planned under the old schema — appends included — fails
  with ConflictError and must re-plan, and two concurrent alters
  collide (the public formats' metadata-update rule).

No hive partition dirs: file-level statistics subsume partition pruning
(a predicate on ANY stat column skips files, not just the one blessed
partition key) — the direction the public table formats themselves are
taking (Delta liquid clustering / Iceberg hidden partitioning). Use
:func:`TxTable.optimize` with ``cluster_by`` to keep stats selective.

Reference parity: the reference has no transactional storage at all —
its silver overwrite (silver_processor.py:144-146) is destructive and
single-writer. This module is extension surface (SURVEY §2.A "beyond
parity"), the storage-layer capstone of versioned/manifest/layout.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_VERSION_RE = re.compile(r"^(\d{20})\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.ckpt\.json$")


class ConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's snapshot."""


class VersionExpiredError(LookupError):
    """The requested version's log entries were expired (log truncation
    past the newest checkpoint ≤ that version)."""


class _AlreadyCommitted(Exception):
    """Internal: a stream batch's txn watermark was found already
    committed — the replayed attempt must become a no-op, not an
    error (caught by append_stream_batch)."""


def _stat_value(v):
    """Footer stat → JSON-safe scalar. Only int/float/str columns carry
    stats (timestamps/binary/nested are skipped at harvest — their
    files read as 'no stats' and are never pruned, conservatively)."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _file_stats(abspath: str, stat_cols: list[str]) -> tuple[int, dict]:
    """(num_records, {col: [min, max, n_null]}) from the parquet FOOTER
    only — metadata read, no data scan. A column missing min/max stats
    in ANY row group is omitted (conservative: the file then overlaps
    every predicate). Leaf chunks are resolved by PATH, not top-level
    field index (the tables.py lesson: chunk order is leaf order).
    String stats may be writer-TRUNCATED; both Spark's and Arrow's
    parquet writers keep truncated values VALID bounds (max is padded
    upward), so pruning on them stays sound — the same assumption every
    stats-reading planner makes of conforming writers."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(abspath).metadata
    pqs = meta.schema
    out: dict[str, list] = {}
    leaf_of = {pqs.column(i).path: i for i in range(len(pqs))}
    for col in stat_cols:
        idx = leaf_of.get(col)
        if idx is None:
            continue
        mn = mx = None
        nulls = 0
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _stat_value(st.min), _stat_value(st.max)
            if isinstance(lo, (int, float, str)) is False:
                ok = False  # non-orderable-in-JSON type (timestamps etc.)
                break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            nulls += st.null_count or 0
        if ok and mn is not None:
            out[col] = [mn, mx, nulls]
    return meta.num_rows, out


def _overlaps(stats: dict, col: str, lo, hi) -> bool:
    """File-vs-predicate overlap; missing stats are kept conservatively
    (same contract as manifest._overlaps)."""
    s = stats.get(col)
    if s is None:
        return True
    mn, mx, _ = s
    return mx >= lo and mn <= hi


def _between(col: str, lo, hi):
    """``col BETWEEN lo AND hi`` with NULL never matching (ANSI DML:
    a NULL predicate value neither deletes nor updates nor replaces)."""
    return F.coalesce(
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)), F.lit(False)
    )


class _Snapshot(NamedTuple):
    """One replayed version with its schema and column mapping decoded
    (:meth:`TxTable._snapshot`) — the planning state a verb reads."""

    version: int
    meta: dict
    live: dict
    dvs: dict
    schema: T.StructType
    mapping: dict | None

    def overlapping(self, col: str, lo, hi) -> tuple[str, list[str]]:
        """(physical name of ``col``, sorted live files whose log stats
        overlap ``col ∈ [lo, hi]``) — the only files a range verb over
        ``col`` reads or rewrites."""
        pcol = (self.mapping or {}).get(col, col)
        return pcol, sorted(
            p for p, a in self.live.items() if _overlaps(a["stats"], pcol, lo, hi)
        )


class TxTable:
    """Handle on a transaction-logged table. One handle per logical
    writer; every read/write resolves the CURRENT log state (handles
    hold no snapshot cache, so two handles on one root model two
    concurrent writers faithfully — the unit tests do exactly that)."""

    CHECKPOINT_INTERVAL = 10
    MAX_COMMIT_RETRIES = 50
    # internal column names the DV anti-join and the change feed append;
    # a data column with one of these names would be silently clobbered
    # (the bloomjoin ADVICE class of bug) — rejected at create/alter
    RESERVED_COLS = frozenset(
        {"__rel", "__pos", "_change_type", "_commit_version"}
    )

    @classmethod
    def _check_reserved(cls, names) -> None:
        clash = sorted(set(names) & cls.RESERVED_COLS)
        if clash:
            raise ValueError(
                f"column names {clash} are reserved by the table format "
                "(DV join keys / change-feed columns)"
            )

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        if not os.path.isdir(self._log_root()):
            raise FileNotFoundError(
                f"no transaction log at {root!r} — TxTable.create() first"
            )

    # -- construction -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        stat_cols: list[str] | None = None,
    ) -> "TxTable":
        """Version 0: schema + initial data in one atomic commit.
        ``stat_cols`` picks the columns whose footer min/max travel in
        the log (int/float/string only — the pruning index)."""
        cls._check_reserved(df.schema.fieldNames())
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        self = object.__new__(cls)
        self.spark, self.root = spark, root
        if self._latest_version() >= 0:
            raise ConflictError(f"table already exists at {root!r}")
        stat_cols = list(
            stat_cols
            if stat_cols is not None
            else [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName()
                in ("integer", "long", "double", "float", "string")
            ]
        )
        meta = {
            "schema_json": df.schema.json(),
            "stat_cols": stat_cols,
        }
        adds = self._write_stage(df, stat_cols)
        self._commit("create", adds, [], None, read_version=-1, meta=meta)
        return self

    @classmethod
    def _headless(cls, root: str) -> "TxTable":
        """Log-only handle (no SparkSession): replay and metadata
        methods work; DataFrame reads/writes do not. The streaming
        source uses this — its DataSource object must resolve schema
        and plan micro-batches from the log alone, on the driver,
        before any session-bound DataFrame exists."""
        self = object.__new__(cls)
        self.spark, self.root = None, root
        if not os.path.isdir(self._log_root()):
            raise FileNotFoundError(
                f"no transaction log at {root!r} — TxTable.create() first"
            )
        return self

    # -- paths / log store ------------------------------------------------

    def _log_root(self) -> str:
        return os.path.join(self.root, _LOG_DIR)

    def _log_path(self, version: int) -> str:
        return os.path.join(self._log_root(), f"{version:020d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._log_root(), f"{version:020d}.ckpt.json")

    def _list_log(self) -> tuple[list[int], list[int]]:
        """(commit versions, checkpoint versions), each ascending."""
        vs, cs = [], []
        for name in os.listdir(self._log_root()):
            m = _VERSION_RE.match(name)
            if m:
                vs.append(int(m.group(1)))
                continue
            m = _CKPT_RE.match(name)
            if m:
                cs.append(int(m.group(1)))
        return sorted(vs), sorted(cs)

    def _latest_version(self) -> int:
        vs, cs = self._list_log()
        candidates = vs + cs
        return max(candidates) if candidates else -1

    def _put_if_absent(self, payload: str, final: str) -> bool:
        """POSIX put-if-absent: write a temp file, then hard-link it to
        the final name — ``os.link`` fails with EEXIST atomically in the
        kernel, so exactly ONE concurrent committer wins a version (no
        exists()-then-rename TOCTOU). The DFS ports live here: HDFS →
        ``FileSystem.create(path, overwrite=false)``; S3 → an external
        coordination store (public Delta LogStore requirement)."""
        tmp = os.path.join(self._log_root(), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    # -- log replay -------------------------------------------------------

    def _parse_commit(self, version: int) -> list[dict]:
        path = self._log_path(version)
        try:
            with open(path, encoding="utf-8") as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            # listed a moment ago, gone now: a concurrent expire()
            # truncated history under this replay — same contract as
            # arriving after the truncation
            raise VersionExpiredError(
                f"version {version} of {self.root!r} was expired while "
                "being read"
            ) from None

    @staticmethod
    def _apply_action(
        action: dict, meta: dict, live: dict, txns: dict, dvs: dict
    ) -> dict:
        """One log action applied to replay state (shared by
        :meth:`_state_at` and the CDF's forward walk). Returns the
        (possibly replaced) ``meta``. A ``remove`` also retires the
        removed file's deletion-vector entries — the rewrite read the
        file WITH its DVs applied, so the deletions are materialized in
        the replacement files and the vectors are dead state."""
        if "meta" in action:
            return action["meta"]
        if "add" in action:
            live[action["add"]["path"]] = action["add"]
        elif "remove" in action:
            gone = action["remove"]["path"]
            live.pop(gone, None)
            for dv_key in list(dvs):
                files = dvs[dv_key]["files"]
                files.pop(gone, None)
                if not files:
                    del dvs[dv_key]
        elif "dv" in action:
            d = action["dv"]
            dvs[d["paths"][0]] = {
                "paths": list(d["paths"]),
                "files": dict(d["files"]),
            }
        elif "txn" in action:
            t = action["txn"]
            txns[t["app_id"]] = max(t["batch_id"], txns.get(t["app_id"], -1))
        elif "bloomidx" in action:
            # advisory per-file bloom filter (see build_bloom_index):
            # attaches to the LIVE add entry, so checkpoints carry it
            # for free and a removed file's bloom dies with the entry.
            # A bloom for a path not live at this point in the replay
            # (concurrently removed, or restore re-added the pre-bloom
            # entry) is dropped — pruning metadata, never correctness.
            b = action["bloomidx"]
            entry = live.get(b["path"])
            if entry is not None:
                entry.setdefault("blooms", {})[b["col"]] = {
                    "m": b["m"],
                    "k": b["k"],
                    "bits": b["bits"],
                }
        return meta

    def _state_at(self, version: int) -> tuple[dict, dict, dict, dict]:
        """Replay → (meta, {rel_path: add_entry}, {app_id: last_batch},
        {dv_key: {"paths": [...], "files": {rel_path: n_deleted}}})
        at ``version``. Starts from the newest checkpoint ≤ version when
        one exists; raises :class:`VersionExpiredError` if the needed
        commit files were expired past the available checkpoints. The
        third element is the streaming-writer watermark map (``txn``
        actions — see :meth:`append_stream_batch`); the fourth the live
        deletion vectors (see :meth:`delete_where` ``mode="dv"``)."""
        vs, cs = self._list_log()
        base = max((c for c in cs if c <= version), default=None)
        meta: dict = {}
        live: dict[str, dict] = {}
        txns: dict[str, int] = {}
        dvs: dict[str, dict] = {}
        start = 0
        if base is not None:
            with open(self._ckpt_path(base), encoding="utf-8") as f:
                ck = json.load(f)
            meta = ck["meta"]
            live = {a["path"]: a for a in ck["adds"]}
            txns = dict(ck.get("txns", {}))
            dvs = {
                k: {"paths": list(e["paths"]), "files": dict(e["files"])}
                for k, e in ck.get("dvs", {}).items()
            }
            start = base + 1
        have = set(vs)
        for v in range(start, version + 1):
            if v not in have:
                raise VersionExpiredError(
                    f"version {v} of {self.root!r} has been expired "
                    f"(newest usable checkpoint: {base})"
                )
            for action in self._parse_commit(v):
                meta = self._apply_action(action, meta, live, txns, dvs)
        if not meta:
            raise VersionExpiredError(f"no metadata replayable at v{version}")
        return meta, live, txns, dvs

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        """:meth:`_state_at` of ``version`` (default: the latest), with
        the schema and column mapping decoded once."""
        v = self.version() if version is None else version
        meta, live, _, dvs = self._state_at(v)
        return _Snapshot(
            v, meta, live, dvs, self._schema(meta), self._col_mapping(meta)
        )

    @staticmethod
    def _schema(meta: dict) -> T.StructType:
        """The logical schema a ``meta`` action records."""
        return T.StructType.fromJson(json.loads(meta["schema_json"]))

    @staticmethod
    def _op(actions: list[dict]) -> str:
        """The op name of one parsed commit."""
        return next((a["commit"]["op"] for a in actions if "commit" in a), "?")

    def version(self) -> int:
        v = self._latest_version()
        if v < 0:
            raise FileNotFoundError(f"empty transaction log at {self.root!r}")
        return v

    def schema(self) -> T.StructType:
        return self._snapshot().schema

    def snapshot_adds(self, version: int | None = None) -> list[dict]:
        """The live file entries (path/size/num_records/stats) at a
        version — the log-as-manifest view, O(files), no data scan."""
        v = self.version() if version is None else version
        _, live, _, _ = self._state_at(v)
        return sorted(live.values(), key=lambda a: a["path"])

    def history(self) -> list[dict]:
        """Per-commit audit rows (version, op, n_adds, n_removes, txn);
        expired versions are omitted."""
        vs, _ = self._list_log()
        out = []
        for v in vs:
            actions = self._parse_commit(v)
            info = next((a["commit"] for a in actions if "commit" in a), {})
            out.append(
                {
                    "version": v,
                    "op": info.get("op", "?"),
                    "n_adds": sum("add" in a for a in actions),
                    "n_removes": sum("remove" in a for a in actions),
                    "txn": info.get("txn", ""),
                }
            )
        return out

    def version_at_timestamp(self, ts: float) -> int:
        """Latest version whose commit time is ≤ ``ts`` (unix seconds or
        a datetime) — the timestamp→version half of time travel. Commit
        times come from the in-log ``ts`` field, with the log file's
        mtime as the fallback for pre-field commits (the public
        formats' own fallback). Raises if ``ts`` precedes the oldest
        replayable commit."""
        if hasattr(ts, "timestamp"):
            ts = ts.timestamp()
        vs, _ = self._list_log()
        best = None
        prev_ct = float("-inf")
        for v in vs:
            actions = self._parse_commit(v)
            ct = next(
                (
                    a["commit"].get("ts")
                    for a in actions
                    if "commit" in a and a["commit"].get("ts") is not None
                ),
                None,
            )
            if ct is None:
                ct = os.path.getmtime(self._log_path(v))
            # monotonize: a wall-clock regression (NTP step) must not
            # make version ordering and time ordering disagree — clamp
            # to the running max, the public in-commit-timestamp rule
            ct = max(ct, prev_ct)
            prev_ct = ct
            if ct <= ts:
                best = v
        if best is None:
            raise VersionExpiredError(
                f"no commit of {self.root!r} at or before timestamp {ts}"
            )
        return best

    def files_df(self) -> DataFrame:
        """The live file manifest as a queryable DataFrame (the public
        formats' ``.files`` metadata table): path, size, rows, per-stat
        min/max/null-count, plus rows deleted by live vectors. Built
        from O(files) driver metadata — no data scan."""
        dvd = self.dv_stats()
        rows = [
            (
                a["path"],
                a["size"],
                a["num_records"],
                {c: str(v[0]) for c, v in a["stats"].items()},
                {c: str(v[1]) for c, v in a["stats"].items()},
                {c: int(v[2]) for c, v in a["stats"].items()},
                dvd.get(a["path"], 0),
            )
            for a in self.snapshot_adds()
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, size bigint, num_records bigint, "
            "min_values map<string,string>, max_values map<string,string>, "
            "null_counts map<string,bigint>, dv_deleted bigint",
        )

    def history_df(self) -> DataFrame:
        """:meth:`history` as a queryable DataFrame (the public formats'
        ``DESCRIBE HISTORY``)."""
        rows = [
            (h["version"], h["op"], h["n_adds"], h["n_removes"], h["txn"])
            for h in self.history()
        ]
        return self.spark.createDataFrame(
            rows,
            "version bigint, op string, n_adds int, n_removes int, "
            "txn string",
        )

    # -- column mapping ---------------------------------------------------
    #
    # RENAME/DROP COLUMN are metadata-only (the public Delta
    # column-mapping / Iceberg field-id design): every column carries a
    # stable id and a PHYSICAL name (the name inside the parquet
    # files), and the logical schema maps onto physicals at read time.
    # Physical names never change once written — a rename changes only
    # the logical side, so every historical file, the CDF, restore,
    # and time travel keep reading correctly across it. A drop retires
    # the physical name; re-adding a column with a dropped name binds
    # a FRESH physical (``c<id>_<name>``), so the old data can never
    # resurrect (old files lack the new physical → NULL-fill).
    # Tables created before this feature have no ``column_mapping``
    # meta → identity mapping, bit-identical behavior.

    @staticmethod
    def _col_mapping(meta: dict) -> dict[str, str] | None:
        """logical name → physical name; None = identity (unmapped)."""
        cm = meta.get("column_mapping")
        if not cm:
            return None
        return {c["name"]: c["physical"] for c in cm["columns"]}

    @staticmethod
    def _phys_struct(
        schema: T.StructType, mapping: dict[str, str] | None
    ) -> T.StructType:
        if not mapping:
            return schema
        return T.StructType(
            [
                T.StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )

    @staticmethod
    def _ensure_mapping(meta: dict) -> dict:
        """Materialize the identity mapping on first RENAME/DROP (ids
        in field order); no-op if mapping already exists."""
        if meta.get("column_mapping"):
            return meta
        schema = TxTable._schema(meta)
        meta = dict(meta)
        meta["column_mapping"] = {
            "columns": [
                {"id": i, "name": f.name, "physical": f.name}
                for i, f in enumerate(schema.fields)
            ],
            "next_id": len(schema.fields),
            "retired": [],
        }
        return meta

    def _to_phys(self, meta: dict, cols) -> list[str]:
        """Map logical column names → physical (identity if unmapped)."""
        m = self._col_mapping(meta) or {}
        return [m.get(c, c) for c in cols]

    # -- reads ------------------------------------------------------------

    _DV_SCHEMA = "path string, pos bigint"

    def _rel_path_col(self):
        """Expression turning ``_metadata.file_path`` (``file:`` +
        abspath) into the log-relative path — a fixed-offset substring,
        computed per row JVM-side (no UDF). The offset is exact because
        every scanned file lives under ``self.root`` — except files a
        SHALLOW CLONE references by ABSOLUTE path (:meth:`clone_to`),
        whose log identity is that absolute path: those strip only the
        ``file:`` scheme, so the computed identity equals the log path
        in both cases and every path-keyed mechanism (DV write + read
        anti-join, restrict filters, bloom build) stays consistent on
        mixed local/foreign scans."""
        prefix = "file:" + os.path.abspath(self.root) + "/"
        fp = F.col("_metadata.file_path")
        return F.when(
            fp.startswith(prefix),
            F.expr(f"substring(_metadata.file_path, {len(prefix) + 1})"),
        ).otherwise(F.expr("substring(_metadata.file_path, 6)"))

    def _read_dv(self, paths) -> DataFrame:
        """The ``(path, pos)`` rows of the given DV sidecar files."""
        return self.spark.read.schema(self._DV_SCHEMA).parquet(
            *[os.path.join(self.root, p) for p in paths]
        )

    def _dv_frame(self, dvs: dict, rels) -> DataFrame | None:
        """The rows of the vectors in ``dvs`` that delete from ``rels`` —
        one scan over just the sidecars that touch them (one sidecar can
        span many data files, hence the path filter). None when no
        vector touches ``rels``."""
        rels = set(rels)
        paths = sorted(
            p
            for e in dvs.values()
            if not rels.isdisjoint(e["files"])
            for p in e["paths"]
        )
        if not paths:
            return None
        return self._read_dv(paths).filter(F.col("path").isin(sorted(rels)))

    def _scan_files(self, schema, mapping, rels, *extra) -> DataFrame:
        """``rels`` read under the enforced PHYSICAL schema and projected
        to LOGICAL names (``mapping``; identity when None), plus
        ``extra`` columns."""
        m = mapping or {}
        return (
            self.spark.read.schema(self._phys_struct(schema, mapping))
            .parquet(*[os.path.join(self.root, r) for r in sorted(rels)])
            .select(
                *[F.col(m.get(f.name, f.name)).alias(f.name) for f in schema.fields],
                *extra,
            )
        )

    def _positions(
        self, schema, mapping, rels, dv=None, how: str = "left_anti"
    ) -> DataFrame:
        """The positional scan: :meth:`_scan_files` plus each row's
        ``__rel`` (log path) and ``__pos`` (its physical ordinal in the
        file) — the ``(file, row_index)`` key every deletion vector is
        written in. ``dv``, a ``(path, pos)`` relation, is joined on
        that key with ``how``: ``left_anti`` keeps the rows it has not
        deleted, ``left_semi`` only the rows it deleted."""
        df = self._scan_files(
            schema,
            mapping,
            rels,
            self._rel_path_col().alias("__rel"),
            F.col("_metadata.row_index").cast("bigint").alias("__pos"),
        )
        if dv is None:
            return df
        return df.join(
            dv.select(F.col("path").alias("__rel"), F.col("pos").alias("__pos")),
            ["__rel", "__pos"],
            how,
        )

    def _read_files(
        self,
        schema: T.StructType,
        rels: list[str],
        dvs: dict,
        mapping: dict[str, str] | None = None,
    ) -> DataFrame:
        """Scan ``rels`` under the enforced PHYSICAL schema, apply
        deletion vectors (rows whose ``(file, row_index)`` appear in a
        live DV are anti-joined away), then project physical → logical
        names (``mapping``; identity when None). A plain scan when no
        vector touches ``rels``. The DV side is tiny relative to the
        scan (deleted rows only), so Catalyst/AQE plans a broadcast
        anti-join — the merge-on-read cost is one broadcast probe per
        row, no shuffle of the table side."""
        if not rels:
            return self.spark.createDataFrame([], schema)
        dv = self._dv_frame(dvs, rels)
        if dv is None:
            return self._scan_files(schema, mapping, rels)
        return self._positions(schema, mapping, rels, dv).select(
            *schema.fieldNames()
        )

    def read(
        self, version: int | None = None, as_of=None
    ) -> DataFrame:
        """Snapshot-isolated read: the file list is fixed by the log at
        resolve time, so a concurrent commit (or even a vacuum of
        now-unreferenced files) cannot change what this scan sees.
        ``version`` → time travel by version; ``as_of`` (unix seconds
        or datetime) → time travel by timestamp, resolved through
        :meth:`version_at_timestamp`. Deletion vectors live at the
        target version are applied (merge-on-read: see
        :meth:`delete_where` ``mode="dv"``)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_at_timestamp(as_of)
        s = self._snapshot(version)
        return self._read_files(s.schema, sorted(s.live), s.dvs, s.mapping)

    def scan(self, preds: dict) -> tuple[DataFrame, dict]:
        """Stats-pruned read: ``{col: (lo, hi)}`` conjunctive ranges.
        Files whose log-carried [min, max] miss any range are never
        opened — the planner is O(files) driver work on log metadata
        (the same coordinator-artifact contract as manifest.py, minus
        its build scan). Residual row filters are re-applied; the
        result is exact, pruning is only a file-count optimization."""
        s = self._snapshot()
        meta, live, schema = s.meta, s.live, s.schema
        # stats are keyed by PHYSICAL name (stable across renames, so
        # pre-rename files keep pruning) — translate the predicates
        phys_preds = dict(
            zip(self._to_phys(meta, preds.keys()), preds.values())
        )
        keep = [
            a
            for a in live.values()
            if all(
                _overlaps(a["stats"], c, lo, hi)
                for c, (lo, hi) in phys_preds.items()
            )
        ]
        # bloom file skipping for EQUALITY predicates (lo == hi) on
        # indexed columns: hash the probe value ONCE with the exact
        # build-side JVM expressions (xxhash64 over the declared type),
        # then test each surviving file's bitmap driver-side — O(files)
        # metadata work, no false negatives (build_bloom_index)
        eq_targets = [
            (c, pc)
            for (c, (lo, hi)), pc in zip(
                preds.items(), self._to_phys(meta, preds.keys())
            )
            if lo == hi and any(pc in a.get("blooms", {}) for a in keep)
        ]
        bloom_pruned = 0
        if eq_targets:
            exprs = []
            for c, pc in eq_targets:
                lit = F.lit(preds[c][0]).cast(schema[c].dataType)
                exprs.append(F.xxhash64(lit).alias(f"h1_{pc}"))
                exprs.append(
                    F.xxhash64(lit, F.lit(self._BLOOM_SALT)).alias(f"h2_{pc}")
                )
            h = self.spark.range(1).select(*exprs).first()
            survived = []
            for a in keep:
                hit = all(
                    self._bloom_maybe_contains(
                        a["blooms"][pc], h[f"h1_{pc}"], h[f"h2_{pc}"]
                    )
                    for _, pc in eq_targets
                    if pc in a.get("blooms", {})
                )
                if hit:
                    survived.append(a)
                else:
                    bloom_pruned += 1
            keep = survived
        stats = {
            "files_total": len(live),
            "files_read": len(keep),
            "files_bloom_pruned": bloom_pruned,
        }
        df = self._read_files(
            schema, [a["path"] for a in keep], s.dvs, s.mapping
        )
        for c, (lo, hi) in preds.items():
            df = df.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
        return df, stats

    def changes(
        self, start_version: int = -1, end_version: int | None = None
    ) -> DataFrame:
        """CHANGE DATA FEED over the half-open version range
        ``(start_version, end_version]`` — the incremental-read half of
        the format (the exactly-once sink is the other). Every row a
        commit in range ADDED arrives with ``_change_type='insert'``,
        every row it REMOVED with ``_change_type='delete'``, each
        stamped ``_commit_version``; ``start_version=-1`` feeds from
        the table's creation.

        Semantics are a RETRACTION FEED at file granularity (the
        public Delta CDF fallback when no cdc files were written —
        "compute changes from add/remove actions"): a delete/merge
        rewrite emits the rewritten files' rows as deletes plus the
        surviving rows as inserts, so an update is delete+insert of the
        same key. The contract consumers rely on (pinned in tests):
        applying the feed to snapshot(start) as signed multisets —
        +insert, −delete — reproduces snapshot(end) EXACTLY.
        ``optimize`` commits are excluded (pure reorganization: their
        removes and adds carry identical row multisets — the
        dataChange=false rule).

        Readability window: the feed needs the commit files (expired
        history raises :class:`VersionExpiredError`) AND the removed
        data files (a vacuum past its retention after an expire()
        surfaces as a loud read error — the same CDF-retention caveat
        the public formats document).

        Deletion vectors: a ``delete_dv`` commit emits exactly its
        newly-deleted rows (the referenced files semi-joined with that
        commit's DV sidecar) as deletes; a rewrite commit's delete side
        is the removed files AS VISIBLE at the prior version (raw rows
        minus the DV state before the commit) — so replay equality
        holds across any mix of copy-on-write and merge-on-read.

        100 TB: the feed reads O(changed files) in range — never the
        table; the plan unions one pruned scan per (commit, side), so a
        feed over a bounded commit window is bounded work. Rows are
        read under the END schema (pre-alter files NULL-fill added
        columns, the add-column trick), so one feed spans schema
        evolution."""
        end = self.version() if end_version is None else end_version
        if end_version is not None and end_version > self.version():
            raise ValueError(
                f"end_version {end_version} beyond latest {self.version()}"
            )
        if start_version > end:
            raise ValueError(f"empty range: ({start_version}, {end}]")
        s = self._snapshot(end)
        cols = s.schema.fieldNames()
        parts: list[DataFrame] = []
        for v, kind, rels, dvs in self._feed(start_version, end):
            if kind == "dv_delete":
                df = self._positions(
                    s.schema, s.mapping, rels, self._dv_frame(dvs, rels), "left_semi"
                )
            else:
                df = self._read_files(s.schema, rels, dvs, s.mapping)
            parts.append(
                df.select(*cols)
                .withColumn(
                    "_change_type", F.lit("insert" if kind == "insert" else "delete")
                )
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        if not parts:
            out_schema = T.StructType(
                list(s.schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.LongType(), False),
                ]
            )
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _feed(self, start: int, end: int):
        """The change feed's commit walk over ``(start, end]``, shared by
        :meth:`changes` and the streaming CDC source. For every commit
        but ``optimize`` (dataChange=false) it yields ``(version, kind,
        rels, dvs)`` slices in feed order — deletes first: within one
        version the retraction applies before the re-insert (ordering
        is cosmetic — multiset replay is order-free — but keeps the
        feed readable):

        - ``delete``: the files the commit removed, with ``dvs`` the
          vectors live just BEFORE it — the rows it removed as visible;
        - ``dv_delete``: the files one ``dv`` action deletes from, with
          ``dvs`` holding only that action — the rows it newly deleted;
        - ``insert``: the files the commit added (``dvs`` empty).

        The DV state walks forward with the feed, so a consumer uses
        each slice before asking for the next. The start state is
        needed ONLY when the range removes files — an append/dv-only
        range feeds even after the history BEFORE ``start`` was expired
        (each dv action is self-contained)."""
        commits = {
            v: self._parse_commit(v) for v in range(start + 1, end + 1)
        }  # raises VersionExpiredError if the range itself is gone
        live, txns, dvs = {}, {}, {}
        if start >= 0:
            try:
                _m, live, txns, dvs = self._state_at(start)
            except VersionExpiredError:
                for v, actions in commits.items():
                    if self._op(actions) != "optimize" and any(
                        "remove" in a for a in actions
                    ):
                        raise VersionExpiredError(
                            f"feed over ({start}, {end}] contains a "
                            f"rewrite at v{v} whose delete side needs the "
                            f"deletion-vector state at v{start}, "
                            "which has been expired"
                        ) from None
        for v, actions in commits.items():
            if self._op(actions) != "optimize":
                removes = [a["remove"]["path"] for a in actions if "remove" in a]
                if removes:
                    yield v, "delete", removes, dvs
                for a in actions:
                    if "dv" in a:
                        d = a["dv"]
                        yield v, "dv_delete", sorted(d["files"]), {d["paths"][0]: d}
                adds = [a["add"]["path"] for a in actions if "add" in a]
                if adds:
                    yield v, "insert", adds, {}
            for action in actions:
                self._apply_action(action, {}, live, txns, dvs)

    # -- write path -------------------------------------------------------

    def _write_stage(
        self,
        df: DataFrame,
        stat_cols: list[str],
        mapping: dict[str, str] | None = None,
    ) -> list[dict]:
        """Stage ``df`` as immutable parquet under data/<txn>/ and
        harvest add-entries (size + footer stats). Staged files are
        invisible until a commit references them; a crashed writer
        leaves an unreferenced dir that vacuum() reaps.

        ``mapping`` (column mapping active): ``df`` arrives with
        LOGICAL names; the files are written — and their stats keyed —
        under the PHYSICAL names, so data and stats stay valid across
        later renames."""
        if mapping:
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
            stat_cols = [mapping.get(c, c) for c in stat_cols]
        txn = uuid.uuid4().hex
        rel_dir = os.path.join(_DATA_DIR, txn)
        out_dir = os.path.join(self.root, rel_dir)
        df.write.mode("errorifexists").parquet(out_dir)
        adds = []
        for name in sorted(os.listdir(out_dir)):
            if not name.endswith(".parquet"):
                continue
            abspath = os.path.join(out_dir, name)
            num, stats = _file_stats(abspath, stat_cols)
            if num == 0:
                continue  # zero-record part file: never referenced,
                # vacuum reaps it with the rest of an orphaned stage
            adds.append(
                {
                    "path": os.path.join(rel_dir, name),
                    "size": os.path.getsize(abspath),
                    "num_records": num,
                    "stats": stats,
                }
            )
        return adds

    def _check_conflicts(
        self,
        op: str,
        removes: list[str],
        predicate: dict | None,
        read_version: int,
        latest: int,
        dv_targets: tuple | list = (),
    ) -> None:
        """``dv_targets``: files this txn logically deletes rows from
        via a deletion vector. They guard like removes — an interleaved
        remove of one means our positions reference a dead file (the
        delete would be silently lost), and an interleaved rewrite that
        read the file WITHOUT our (uncommitted) vectors would resurrect
        the rows. Symmetrically, an interleaved ``dv`` on a file this
        txn removes or also DV-deletes conflicts: our rewrite was
        computed without their deletions / double-delete accounting."""
        our_removes = set(removes)
        guarded = our_removes | set(dv_targets)
        for v in range(read_version + 1, latest + 1):
            actions = self._parse_commit(v)
            their_op = self._op(actions)
            for a in actions:
                if "meta" in a:
                    # metadata serializes against EVERYTHING: any txn
                    # that planned (staged files, computed a rewrite)
                    # under the old schema must not commit over the new
                    # one — re-plan against the current snapshot (the
                    # public formats' rule for metadata updates)
                    raise ConflictError(
                        f"v{v} ({their_op}) changed table metadata under "
                        f"this {op} transaction — re-run against the new "
                        "schema"
                    )
                if "remove" in a and (
                    a["remove"]["path"] in guarded or op == "restore"
                ):
                    # restore conflicts with ANY interleaved remove,
                    # mirroring the dv rule below: its file diff keeps
                    # live_v ∩ live_now untouched, so a remove-only
                    # commit (rewrite-mode delete that fully empties a
                    # file: removes, no adds, no dv) on a kept file
                    # would silently survive the restore and the table
                    # would not read like the target version (ADVICE r7)
                    raise ConflictError(
                        f"v{v} ({their_op}) removed {a['remove']['path']!r}, "
                        f"which this {op} transaction also rewrites "
                        "or restores over"
                    )
                if "dv" in a and (
                    guarded & set(a["dv"]["files"]) or op == "restore"
                ):
                    # restore conflicts with ANY interleaved dv commit,
                    # not just on files it rewrites: its snapshot diff
                    # was computed against the pre-dv state, so a dv on
                    # an untouched file would silently survive the
                    # restore and the table would not read like the
                    # target version (review r7)
                    clash = sorted(
                        (guarded & set(a["dv"]["files"]))
                        or a["dv"]["files"]
                    )
                    raise ConflictError(
                        f"v{v} ({their_op}) committed deletion vectors on "
                        f"{clash!r}, which this {op} transaction also "
                        "rewrites, deletes from, or restores over"
                    )
                if "add" in a and op in (
                    "delete",
                    "delete_dv",
                    "merge",
                    "update",
                    "update_dv",
                    # replace rewrites "everything inside the slice": an
                    # interleaved add overlapping the predicate would be
                    # silently half-replaced
                    "replace",
                    # restore computes its file diff against a snapshot:
                    # an interleaved append's rows would silently
                    # survive the restore (predicate None → any add
                    # conflicts, the serializable choice)
                    "restore",
                ):
                    if predicate is None or any(
                        _overlaps(a["add"].get("stats", {}), c, lo, hi)
                        for c, (lo, hi) in predicate.items()
                    ):
                        raise ConflictError(
                            f"v{v} ({their_op}) added {a['add']['path']!r} "
                            f"overlapping this {op}'s predicate — the "
                            "rewrite was computed against a stale snapshot"
                        )

    def _commit(
        self,
        op: str,
        adds: list[dict],
        removes: list[str],
        predicate: dict | None,
        read_version: int,
        meta: dict | None = None,
        stream_txn: tuple[str, int] | None = None,
        dv: dict | None = None,
        dv_targets: tuple | list = (),
        extras: list[dict] | None = None,
    ) -> int:
        """Optimistic-concurrency commit loop: conflict-check against
        everything committed since ``read_version``, then put-if-absent
        the next version; a lost race re-checks and retries (see module
        docstring for the per-op rules). ``stream_txn=(app_id,
        batch_id)`` rides a ``txn`` watermark action with the commit and
        aborts with :class:`_AlreadyCommitted` if an interleaved commit
        carries the same app at an equal-or-newer batch — the
        put-if-absent race is what serializes two replays of one
        micro-batch, so the check INSIDE the loop is the guarantee, not
        the caller's pre-check."""
        lines = []
        if meta is not None:
            lines.append(json.dumps({"meta": meta}))
        for rel in removes:
            lines.append(json.dumps({"remove": {"path": rel}}))
        for a in adds:
            lines.append(json.dumps({"add": a}))
        if dv is not None:
            for entry in dv if isinstance(dv, list) else [dv]:
                lines.append(json.dumps({"dv": entry}))
        if stream_txn is not None:
            lines.append(
                json.dumps(
                    {"txn": {"app_id": stream_txn[0], "batch_id": stream_txn[1]}}
                )
            )
        for x in extras or []:
            lines.append(json.dumps(x))
        lines.append(
            json.dumps(
                {
                    "commit": {
                        "op": op,
                        "read_version": read_version,
                        "predicate": {
                            c: [lo, hi] for c, (lo, hi) in predicate.items()
                        }
                        if predicate
                        else None,
                        "txn": uuid.uuid4().hex,
                        # commit wall time: read(as_of=...) resolves
                        # timestamps to versions through this (in-log,
                        # so expire/copy can't skew it the way file
                        # mtime — the public formats' fallback — can)
                        "ts": time.time(),
                    }
                }
            )
        )
        payload = "\n".join(lines) + "\n"
        for _ in range(self.MAX_COMMIT_RETRIES):
            latest = self._latest_version()
            if latest > read_version:
                if op == "create":
                    # a create must own version 0 outright — any visible
                    # commit means another creator won
                    raise ConflictError(
                        f"concurrent create at {self.root!r} (version 0 taken)"
                    )
                if stream_txn is not None:
                    app_id, batch_id = stream_txn
                    for v in range(read_version + 1, latest + 1):
                        for a in self._parse_commit(v):
                            if (
                                "txn" in a
                                and a["txn"]["app_id"] == app_id
                                and a["txn"]["batch_id"] >= batch_id
                            ):
                                raise _AlreadyCommitted(app_id, batch_id, v)
                self._check_conflicts(
                    op, removes, predicate, read_version, latest, dv_targets
                )
            v = latest + 1
            if self._put_if_absent(payload, self._log_path(v)):
                if v > 0 and v % self.CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(v)
                return v
        raise ConflictError(
            f"commit contention: lost {self.MAX_COMMIT_RETRIES} races at "
            f"{self.root!r}"
        )

    def _write_checkpoint(self, version: int) -> None:
        """Full-state checkpoint so replay is O(commits since last
        checkpoint), not O(table age). Readers prefer the newest
        checkpoint ≤ their target. JSON here (file count is O(10³) in
        this deployment); at O(10⁵)+ files the same state goes in a
        parquet checkpoint, as the public formats do. Failure-safe:
        best-effort (a missing checkpoint only slows replay), but an
        EXISTING one is never half-visible (tmp + atomic rename)."""
        meta, live, txns, dvs = self._state_at(version)
        payload = json.dumps(
            {
                "version": version,
                "meta": meta,
                "adds": sorted(live.values(), key=lambda a: a["path"]),
                "txns": txns,
                "dvs": dvs,
            }
        )
        tmp = os.path.join(self._log_root(), f".ckpt-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
        os.replace(tmp, self._ckpt_path(version))

    # -- transactions -----------------------------------------------------

    def append(self, df: DataFrame) -> int:
        """Blind append: retries through any number of interleaved DATA
        commits (an interleaved metadata change — alter_add_column —
        raises instead: the staged files carry the old schema).
        O(new files) — the whole point vs versioned.py's whole-table
        snapshots."""
        meta, _, _, _ = self._state_at(self.version())
        adds = self._write_stage(
            self._conform(df, meta),
            meta["stat_cols"],
            self._col_mapping(meta),
        )
        return self._commit("append", adds, [], None, read_version=self.version())

    def last_stream_batch(self, app_id: str) -> int | None:
        """Highest batch_id this streaming app has committed (its txn
        watermark), or None — resumes read it to skip replayed work."""
        _, _, txns, _ = self._state_at(self.version())
        return txns.get(app_id)

    def append_stream_batch(
        self, df: DataFrame, app_id: str, batch_id: int
    ) -> int | None:
        """EXACTLY-ONCE streaming append for a ``foreachBatch`` sink:
        the commit carries a ``txn`` watermark ``(app_id, batch_id)``,
        and a REPLAYED batch (Structured Streaming re-runs the last
        batch after any restart — its delivery to foreachBatch is
        at-least-once) becomes a no-op instead of a duplicate. Returns
        the committed version, or None if this batch was already in.

        The guarantee does not rest on the cheap pre-check here: two
        concurrent attempts of one batch both pass it, but the log's
        put-if-absent serializes them and the loser's in-loop watermark
        re-check (see :meth:`_commit`) aborts — the same
        reader-invisible staged files a crashed writer leaves, reaped
        by vacuum. This is the public Delta idempotent-sink design
        (txn/SetTransaction actions) composed with the repo's
        offsets-after-write discipline (S8): the sink dedupes on
        batch_id, so the WAL replay after a crash-before-checkpoint
        cannot double-append."""
        last = self.last_stream_batch(app_id)
        if last is not None and batch_id <= last:
            return None
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        adds = self._write_stage(
            self._conform(df, meta),
            meta["stat_cols"],
            self._col_mapping(meta),
        )
        try:
            return self._commit(
                "append",
                adds,
                [],
                None,
                read_version=rv,
                stream_txn=(app_id, batch_id),
            )
        except _AlreadyCommitted:
            return None

    def mark_stream_batch(self, app_id: str, batch_id: int) -> int | None:
        """Advance a streaming txn watermark with NO data change — the
        empty-micro-batch commit. A read-modify-write sink whose batch
        folds to zero effective rows still needs its (app, batch)
        recorded, or the consumer can never declare itself caught up
        (:meth:`merge_upsert` calls this for an empty ``stream_txn``
        merge).
        Returns the commit version, or None when the watermark is
        already at or past ``batch_id`` (the replay no-op)."""
        last = self.last_stream_batch(app_id)
        if last is not None and batch_id <= last:
            return None
        try:
            return self._commit(
                "txn_mark",
                [],
                [],
                None,
                read_version=self.version(),
                stream_txn=(app_id, batch_id),
            )
        except _AlreadyCommitted:
            return None

    def foreach_batch_sink(self, app_id: str):
        """``writeStream.foreachBatch(table.foreach_batch_sink("app"))``
        — binds :meth:`append_stream_batch` to the sink signature."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.append_stream_batch(batch_df, app_id, batch_id)

        return _sink

    def delete_where(self, col: str, lo, hi, mode: str = "rewrite") -> int:
        """Delete rows with ``col BETWEEN lo AND hi`` (NULLs never
        match, both here and in ANSI SQL — the keep-filter coalesces
        the NULL predicate to keep). Only files whose stats overlap the
        range are touched: the blast radius is O(matching files), and
        untouched files are not even opened (the erasure-module
        discipline, now transactional).

        ``mode="rewrite"`` (copy-on-write): matching files are rewritten
        without the matched rows — reads stay pure scans, but deleting
        one row from a 1 GB file costs a 1 GB rewrite.

        ``mode="dv"`` (merge-on-read, the public Delta/Iceberg deletion
        -vector design): the matched rows' ``(file, row_index)`` pairs
        are written as a small DV sidecar and committed as a ``dv``
        action — no data file is rewritten, so the delete costs
        O(matched rows), not O(touched file bytes). Readers anti-join
        the (broadcast-small) DV relation; a later rewrite of a DV'd
        file (optimize / rewrite-delete / merge) reads it with DVs
        applied and retires them, materializing the deletions — the
        read-amplification debt is paid once, by compaction. Either
        mode: already-deleted rows never double-count (the DV path
        subtracts live DVs before staging), and GDPR-style erasure
        wants ``rewrite`` (DVs leave the bytes in place)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be rewrite|dv, got {mode!r}")
        s = self._snapshot()
        pcol, hit = s.overlapping(col, lo, hi)
        if not hit:
            return s.version
        matched = _between(col, lo, hi)
        if mode == "dv":
            return self._commit_dv("delete_dv", s, hit, matched, {pcol: (lo, hi)})
        keep = self._read_files(s.schema, hit, s.dvs, s.mapping).filter(~matched)
        adds = self._write_stage(keep, s.meta["stat_cols"], s.mapping)
        return self._commit(
            "delete", adds, hit, {pcol: (lo, hi)}, read_version=s.version
        )

    def _commit_dv(
        self,
        op: str,
        s: _Snapshot,
        rels: list[str],
        matched,
        predicate: dict,
        assign=None,
    ) -> int:
        """The merge-on-read commit of ``delete_where`` and
        ``update_where`` ``mode="dv"``: the ``(path, pos)`` pairs of the
        VISIBLE rows of ``rels`` that ``matched`` selects are staged as a
        sidecar and committed as ONE ``dv`` action. ``assign`` (update)
        maps those rows to their new values, staged as data files of
        the same commit; a delete stages none. Positions a live vector
        already covers are subtracted first — re-deleting a range is a
        no-op (no commit), and per-file ``n_deleted`` stays exact."""
        from ..checkpointing import release, truncate_lineage

        hit = self._positions(
            s.schema, s.mapping, rels, self._dv_frame(s.dvs, rels)
        ).filter(matched)
        if assign is not None:
            # one evaluation feeds both stages; matched-row positions are
            # O(matched rows) = data-sized in the worst case → serialized
            hit = truncate_lineage(hit, footprint="data")
        try:
            entries = self._write_stage(
                hit.select(F.col("__rel").alias("path"), F.col("__pos").alias("pos")),
                [],
            )
            if not entries:
                return s.version  # nothing newly deleted; orphan stage → vacuum
            adds = (
                []
                if assign is None
                else self._write_stage(assign(hit), s.meta["stat_cols"], s.mapping)
            )
        finally:
            if assign is not None:
                release(hit)
        dv_paths = sorted(e["path"] for e in entries)
        # bounded: one row per touched FILE (driver metadata, like adds)
        counts = self._read_dv(dv_paths).groupBy("path").count().collect()
        files = {r["path"]: r["count"] for r in counts}
        return self._commit(
            op,
            adds,
            [],
            predicate,
            read_version=s.version,
            dv={
                "paths": dv_paths,
                "files": files,
                "num_deleted": sum(files.values()),
            },
            dv_targets=sorted(files),
        )

    def update_where(
        self,
        col: str,
        lo,
        hi,
        assignments: dict,
        mode: str = "rewrite",
    ) -> int:
        """UPDATE rows with ``col BETWEEN lo AND hi``: each assignment
        ``{column: Column-expression | SQL string}`` is applied to the
        matched rows (NULL predicate values never match — ANSI UPDATE
        semantics). Completes the DML triangle next to
        :meth:`delete_where` and :meth:`merge_upsert`.

        ``mode="rewrite"`` (copy-on-write): the stat-overlapping files
        are rewritten with the assignments applied in place.

        ``mode="dv"`` (merge-on-read): ONE commit carries a deletion
        vector retiring the matched rows' old positions PLUS new data
        files holding their updated values — an update of k rows costs
        O(k) written rows and zero rewrites of untouched neighbors (the
        public formats' DV-backed UPDATE). Readers see old-minus-DV
        plus the new files atomically; the CDF emits the old values as
        deletes and the new as inserts under one commit version.

        100 TB: updating 0.1% of rows scattered over 10k files writes
        ~0.1% of the data either way the rows land, but rewrite mode
        would copy all 10k files; dv mode touches none of them."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"mode must be rewrite|dv, got {mode!r}")
        s = self._snapshot()
        cols = s.schema.fieldNames()
        bad = sorted(set(assignments) - set(cols))
        if bad:
            raise ValueError(f"unknown update columns {bad} (have {sorted(cols)})")
        exprs = {
            k: (F.expr(v) if isinstance(v, str) else v)
            for k, v in assignments.items()
        }
        pcol, hit = s.overlapping(col, lo, hi)
        if not hit:
            return s.version
        matched = _between(col, lo, hi)

        def _assigned(df: DataFrame, cond) -> DataFrame:
            # ONE projection: every assignment reads the ORIGINAL row
            # (sequential withColumn would feed assignment k+1 the
            # already-updated column k — SQL UPDATE reads old values)
            out = df.withColumns(
                {
                    k: F.when(cond, e).otherwise(F.col(k))
                    for k, e in exprs.items()
                }
            )
            return self._conform(out.select(*cols), s.meta)

        if mode == "dv":
            # positions of the matched VISIBLE rows become a deletion
            # vector; their updated values become new data files — both
            # under one atomic commit
            return self._commit_dv(
                "update_dv",
                s,
                hit,
                matched,
                {pcol: (lo, hi)},
                lambda rows: _assigned(rows, F.lit(True)),
            )
        src = self._read_files(s.schema, hit, s.dvs, s.mapping)
        adds = self._write_stage(
            _assigned(src, matched), s.meta["stat_cols"], s.mapping
        )
        return self._commit(
            "update", adds, hit, {pcol: (lo, hi)}, read_version=s.version
        )

    def dv_stats(self) -> dict[str, int]:
        """{data rel path: rows deleted by live deletion vectors} — the
        merge-on-read debt per file (what compaction would pay off)."""
        _, _, _, dvs = self._state_at(self.version())
        out: dict[str, int] = {}
        for e in dvs.values():
            for p, n in e["files"].items():
                out[p] = out.get(p, 0) + n
        return out

    def replace_where(self, col: str, lo, hi, df: DataFrame) -> int:
        """Atomic predicate overwrite — the public Delta ``replaceWhere``
        / dynamic-partition-overwrite pattern (the reference's daily
        re-load shape: `kafka_consumer_s3.py` re-lands a day's slice
        per run). ONE commit deletes every row with ``col BETWEEN lo
        AND hi`` and inserts ``df``; readers see the swap atomically
        (snapshot isolation), and re-running the same load replaces the
        slice again instead of duplicating it — the idempotent daily
        batch.

        Every INCOMING row must satisfy the predicate, enforced with a
        conditional ``raise_error`` riding the staging write (zero
        extra passes, the CHECK-constraint mechanism): a row outside
        the replaced slice would survive the NEXT replace of the same
        slice and silently break the re-load idempotence this op exists
        for — Delta refuses the same way. A NULL predicate value on an
        incoming row refuses too (it is not inside any slice); NULL
        values already in the table are KEPT, like ``delete_where``
        (ANSI: NULL never matches).

        Concurrency: ``replace`` joins the delete/merge conflict class
        — interleaved adds overlapping the predicate, or removes/DVs on
        rewritten files, raise :class:`ConflictError`. CDF: the commit's
        remove/add actions feed :meth:`changes` generically (old slice
        rows as deletes — DV-adjusted — new rows as inserts).

        100 TB: cost is O(files overlapping the slice) — with
        date-clustered layout (ingest order or ``optimize(cluster_by)``)
        a one-day replace touches one day's files, never the table."""
        s = self._snapshot()
        pcol, hit = s.overlapping(col, lo, hi)
        inside = _between(col, lo, hi)
        incoming = self._conform(df, s.meta)
        first = incoming.schema.fields[0]
        msg = (
            f"replace_where: incoming row outside "
            f"{col!r} BETWEEN {lo!r} AND {hi!r}"
        )
        new_data = incoming.withColumn(
            first.name,
            F.when(
                ~inside, F.raise_error(F.lit(msg)).cast(first.dataType)
            ).otherwise(F.col(first.name)),
        )
        if hit:
            keep = self._read_files(s.schema, hit, s.dvs, s.mapping)
            new_data = keep.filter(~inside).unionByName(new_data)
        adds = self._write_stage(new_data, s.meta["stat_cols"], s.mapping)
        if not adds and not hit:
            return s.version  # empty slice replaced with nothing — no commit
        return self._commit(
            "replace", adds, hit, {pcol: (lo, hi)}, read_version=s.version
        )

    def merge_upsert(
        self,
        updates: DataFrame,
        key: str,
        stream_txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Keyed upsert: rows of ``updates`` replace same-key rows and
        insert otherwise. ``key`` must be a stat column: the updates'
        [min, max] key range prunes the candidate files, so only files
        that could hold a matched key are rewritten — a merge into a
        100 TB table touches O(files overlapping the update key range).

        Preconditions enforced loudly: unique, non-null UPDATE keys
        (at-least-once upstreams dedupe first — the idempotent-append
        contract; a NULL update key can never match anything and would
        silently re-insert on every replay). NULL keys already IN the
        table follow standard SQL MERGE semantics: never matched,
        preserved verbatim through any rewrite (the anti-join keeps
        them — pinned by test).

        ``stream_txn=(app_id, batch_id)``: EXACTLY-ONCE streaming merge
        — the same txn-watermark discipline as
        :meth:`append_stream_batch` (the replay check lives inside the
        commit loop; a replayed batch returns None). This is what makes
        READ-MODIFY-WRITE sinks (incremental view maintenance over the
        change feed — streaming/ivm.py) safe under Structured
        Streaming's at-least-once foreachBatch delivery: applying a
        delta twice would corrupt the aggregate, so the watermark, not
        idempotence, carries the guarantee.

        Empty batches: with no update rows, a plain merge commits
        nothing and returns the current version; a ``stream_txn``
        merge still records its watermark with a data-free commit
        (:meth:`mark_stream_batch`, whose result it returns), so a
        sink whose batch folds to zero rows is never left stale. The
        row count is observed on the job that materializes ``updates``,
        so an empty merge starts that one Spark job and no other."""
        if stream_txn is not None:
            last = self.last_stream_batch(stream_txn[0])
            if last is not None and stream_txn[1] <= last:
                return None
        s = self._snapshot()
        if key not in s.meta["stat_cols"]:
            raise ValueError(
                f"merge key {key!r} is not a stat column {s.meta['stat_cols']} "
                "— keyed merges need the key range index"
            )
        # ONE evaluation of the (possibly expensive) updates pipeline —
        # it feeds three consumers (duplicate-key probe, anti-join build,
        # the rewrite union); without the cut each would re-execute it.
        # The key bounds and counts ride that job as an Observation.
        from ..checkpointing import release, truncate_lineage

        obs = Observation()
        # the update relation is data-sized in general → serialized
        updates = truncate_lineage(
            self._conform(updates, s.meta).observe(
                obs,
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                F.count(key).alias("n_key"),
            ),
            footprint="data",
        )
        try:
            bounds = obs.get
            if bounds["n"] == 0:
                if stream_txn is None:
                    return s.version
                return self.mark_stream_batch(*stream_txn)
            if bounds["n_key"] != bounds["n"]:
                raise ValueError("merge_upsert: NULL update keys")
            if updates.agg(F.countDistinct(key)).collect()[0][0] != bounds["n"]:
                raise ValueError(
                    "merge_upsert: duplicate update keys — dedupe (e.g. "
                    "operators.cleaning.dedup_latest) before merging"
                )
            lo, hi = bounds["lo"], bounds["hi"]
            if not isinstance(lo, (int, float, str)):
                # temporal/other non-JSON key bounds: record ISO forms
                # (ISO order == temporal order, so the logged range
                # stays a sound conflict-detection interval). File
                # stats skip these types at harvest anyway, so hit
                # detection below is already conservative-all.
                lo, hi = str(lo), str(hi)
            # a file with NO key stats (e.g. all-NULL key column —
            # parquet writes no min/max) cannot be proven disjoint;
            # rewriting it is CORRECT either way (the anti-join only
            # replaces matched keys), the stats merely bound the IO —
            # so it joins the rewrite set conservatively, same contract
            # as _overlaps
            pkey, hit = s.overlapping(key, lo, hi)
            new_data = updates
            if hit:
                # DVs applied: the rewrite must not resurrect rows a
                # merge-on-read delete already removed
                survivors = self._read_files(
                    s.schema, hit, s.dvs, s.mapping
                ).join(F.broadcast(updates.select(key)), key, "left_anti")
                new_data = survivors.unionByName(updates)
            adds = self._write_stage(new_data, s.meta["stat_cols"], s.mapping)
        finally:
            release(updates)  # staged parquet is durable; free the blocks
        try:
            return self._commit(
                "merge",
                adds,
                hit,
                {pkey: (lo, hi)},
                read_version=s.version,
                stream_txn=stream_txn,
            )
        except _AlreadyCommitted:
            return None

    def optimize(
        self,
        small_file_bytes: int = 64 * 1024 * 1024,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: str | None = None,
        zorder_by: list | None = None,
    ) -> int:
        """Compact files smaller than ``small_file_bytes`` into
        ~``target_file_bytes`` outputs; ``cluster_by`` range-partitions
        + sorts the rewrite so the new files' stats are tight on that
        column (1-D OPTIMIZE-cluster); ``zorder_by`` (2-3 columns)
        clusters on the equi-depth Morton interleave instead —
        ``OPTIMIZE ZORDER BY``, making EVERY named dimension's
        log-carried file stats partially selective at once (the
        sources/layout.py curve, now feeding :meth:`scan`'s pruning
        index). Pure rewrite: the commit removes the inputs and adds
        their compaction, so a concurrent append is untouched and a
        concurrent remove of an input conflicts."""
        if cluster_by is not None and zorder_by is not None:
            raise ValueError("pass cluster_by OR zorder_by, not both")
        s = self._snapshot()
        small = sorted(p for p, a in s.live.items() if a["size"] < small_file_bytes)
        if len(small) < 2:
            return s.version
        # DVs applied: compaction MATERIALIZES merge-on-read deletions
        # (the rewrite drops DV'd rows; the remove actions then retire
        # the vectors in replay) — the public formats' "purge" behavior.
        # Still dataChange=false: the VISIBLE row multiset is unchanged.
        src = self._read_files(s.schema, small, s.dvs, s.mapping)
        n_out = max(
            1, math.ceil(sum(s.live[p]["size"] for p in small) / target_file_bytes)
        )
        if zorder_by is not None:
            from . import layout as _layout

            src = (
                _layout.with_zvalue(src, list(zorder_by))
                .repartitionByRange(n_out, _layout.Z_COL)
                .sortWithinPartitions(_layout.Z_COL)
                .drop(_layout.Z_COL)
            )
        elif cluster_by is not None:
            src = src.repartitionByRange(n_out, cluster_by).sortWithinPartitions(
                cluster_by
            )
        else:
            src = src.coalesce(n_out)
        adds = self._write_stage(src, s.meta["stat_cols"], s.mapping)
        return self._commit("optimize", adds, small, None, read_version=s.version)

    def purge_deletes(
        self,
        min_dv_rows: int = 1,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Materialize merge-on-read deletions: rewrite every live file
        carrying ≥ ``min_dv_rows`` deletion-vector rows (dropping the
        DV'd rows), regardless of file size — the half of DV debt
        :meth:`optimize` does not reach (it only selects SMALL files,
        so a large file with a heavy vector stays merge-on-read
        forever). Same commit shape as optimize: remove inputs + add
        rewrites, visible row multiset unchanged (dataChange=false →
        invisible to the change feed), concurrent appends untouched,
        concurrent removes of an input conflict."""
        s = self._snapshot()
        targets = sorted(
            p for p, n in self.dv_stats().items() if n >= min_dv_rows and p in s.live
        )
        if not targets:
            return s.version
        src = self._read_files(s.schema, targets, s.dvs, s.mapping)
        n_out = max(
            1, math.ceil(sum(s.live[p]["size"] for p in targets) / target_file_bytes)
        )
        adds = self._write_stage(
            src.coalesce(n_out), s.meta["stat_cols"], s.mapping
        )
        return self._commit(
            "optimize", adds, targets, None, read_version=s.version
        )

    def auto_maintain(
        self,
        small_file_bytes: int = 32 << 20,
        retention_sec: float = 3600.0,
        min_dv_rows: int = 1,
        analyze: bool = True,
    ) -> dict:
        """The policy loop over :meth:`maintenance_advice`: EXECUTE
        whatever the advice names (Delta auto-optimize shape — the
        scheduler calls one verb instead of polling the gauge and
        dispatching by hand). Small files → :meth:`optimize`; DV debt
        → :meth:`purge_deletes`; reclaimable orphans → :meth:`vacuum`.
        Returns the advice that triggered, the verbs run, and the
        resulting version. Decisions come from O(files) driver
        metadata; only the rewrites the advice justifies touch data.

        ``analyze=True`` closes the ANALYZE→CBO loop as part of the
        same maintenance cycle (r9 verdict task 5): one extra
        map-side-combined aggregate pass refreshes the table's
        :class:`cbo.StatsCatalog` entry (``<root>/_stats``) whenever
        the table version moved since the last ANALYZE — so catalog
        stats ride maintenance instead of taxing every write, and
        :func:`cbo.stats_informed_join` consumers always see stats no
        older than one maintenance cycle."""
        advice = self.maintenance_advice(
            small_file_bytes=small_file_bytes, retention_sec=retention_sec
        )
        executed: list[str] = []
        if advice["n_small_files"] > 1:
            self.optimize(small_file_bytes=small_file_bytes)
            executed.append("optimize")
        if advice["dv_debt_rows"] >= min_dv_rows:
            self.purge_deletes(min_dv_rows=min_dv_rows)
            executed.append("purge_deletes")
        if advice["n_vacuum_orphans"] > 0:
            self.vacuum(retention_sec)
            executed.append("vacuum")
        if analyze and self.stats_version() != self.version():
            self.analyze_table()
            executed.append("analyze")
        return {
            "advice": advice,
            "executed": executed,
            "version": self.version(),
        }

    # -- ANALYZE → CBO loop -------------------------------------------------

    _STATS_DIR = "_stats"
    _STATS_NAME = "table"

    def stats_catalog(self):
        """The table's own :class:`cbo.StatsCatalog`, rooted at
        ``<root>/_stats`` — stats live WITH the data (vacuum never
        walks outside ``_data``, so they are safe from reaping)."""
        from ..cbo import StatsCatalog

        return StatsCatalog(os.path.join(self.root, self._STATS_DIR))

    def analyze_table(self, exact: bool = False):
        """ANALYZE the current snapshot into the table's catalog (one
        aggregate pass: count / NDV / nulls / widths — cbo.analyze)
        and stamp the analyzed table version next to it, so stale
        stats are detectable. Returns the TableStats."""
        cat = self.stats_catalog()
        stats = cat.analyze(self._STATS_NAME, self.read(), exact=exact)
        # atomic stamp (same tmp+replace discipline as StatsCatalog.put):
        # a crash mid-write must not leave a truncated version.json that
        # breaks every later stats_version()/auto_maintain call
        final = os.path.join(self.root, self._STATS_DIR, "version.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version()}, fh)
        os.replace(tmp, final)
        return stats

    def table_stats(self):
        """Catalog stats from the last ANALYZE, or None. Callers can
        compare :meth:`stats_version` with :meth:`version` to judge
        staleness (the auto_maintain hook keeps them in step)."""
        return self.stats_catalog().get(self._STATS_NAME)

    def stats_version(self) -> int | None:
        """Table version the stored stats were computed at (None if
        never analyzed)."""
        p = os.path.join(self.root, self._STATS_DIR, "version.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return int(json.load(fh)["version"])

    _BLOOM_SALT = "__txbloom2__"

    def build_bloom_index(self, col: str, fpp: float = 0.01) -> int:
        """Per-file BLOOM FILTER index on ``col`` — point-lookup file
        skipping past what ``[min, max]`` stats can do (the public
        Parquet column-index / Delta bloom-index design). Range stats
        prune only when files are VALUE-CLUSTERED on the column; for a
        high-cardinality key spread across time-ordered files every
        range overlaps every probe, and an equality lookup reads the
        whole table. The bloom answers "is this exact value possibly in
        this file" with fpp false-positive rate and NO false negatives.

        Mechanics: one commit of advisory ``bloomidx`` actions, one per
        live file missing a bloom on the column. Bits build EXECUTOR-
        side in ONE job — scan only the indexed physical column of the
        un-indexed files, hash twice JVM-side (``xxhash64(v)`` /
        ``xxhash64(v, salt)``), then one ``applyInPandas`` group per
        file packs Kirsch-Mitzenmacher double-hashed positions
        (pos_i = h1 + i·h2 mod 2⁶⁴ mod m) into a numpy bitmap: O(rows)
        where the file lives, O(bitmap) back to the log. Sizing:
        m = ⌈−n·ln fpp / ln²2⌉ bits (byte-rounded, floor 64),
        k = max(1, round(m/n · ln 2)).

        Soundness notes: DV-deleted rows are INCLUDED (bits hash the
        physical content — false positives only); a file predating an
        ``alter_add_column`` reads all-NULL and gets an empty bloom,
        which correctly prunes it for every non-null probe; blooms key
        by PHYSICAL column name, so they survive renames and can never
        serve a dropped-then-re-added column; rewrites (optimize/
        update/merge) produce new paths with no bloom — unindexed until
        the next build, conservative. The commit conflicts with nothing
        but metadata changes (a concurrently removed file's bloom is
        dropped at replay — see ``_apply_action``). Files with every
        value NULL (or no rows) form no group and get an explicit empty
        bloom so they are not re-scanned by the next build."""
        import base64
        import math

        if not 0.0 < fpp < 0.5:
            raise ValueError(f"build_bloom_index: fpp out of (0, 0.5): {fpp}")
        rv = self.version()
        meta, live, _, _ = self._state_at(rv)
        phys = self._to_phys(meta, [col])[0]
        schema = self._schema(meta)
        field = next((x for x in schema.fields if x.name == col), None)
        if field is None:
            raise ValueError(
                f"build_bloom_index: no column {col!r} in {schema.fieldNames()}"
            )
        todo = sorted(
            a["path"]
            for a in live.values()
            if phys not in a.get("blooms", {})
        )
        if not todo:
            return rv
        src = self.spark.read.schema(
            T.StructType([T.StructField(phys, field.dataType, True)])
        ).parquet(*[os.path.join(self.root, r) for r in todo])
        hashed = (
            src.select(self._rel_path_col().alias("__rel"), F.col(phys).alias("__v"))
            .filter(F.col("__v").isNotNull())
            .select(
                "__rel",
                F.xxhash64("__v").alias("h1"),
                F.xxhash64("__v", F.lit(self._BLOOM_SALT)).alias("h2"),
            )
        )
        fpp_f = float(fpp)

        def _pack(pdf):
            import base64 as b64
            import math as m_

            import numpy as np
            import pandas as pd

            n = len(pdf)
            m = max(64, int(m_.ceil(-n * m_.log(fpp_f) / (m_.log(2) ** 2))))
            m = ((m + 7) // 8) * 8
            k = max(1, round(m / n * m_.log(2)))
            h1 = pdf["h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.int64).view(np.uint64)
            bits = np.zeros(m // 8, dtype=np.uint8)
            for i in range(k):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
                )
            return pd.DataFrame(
                {
                    "path": [pdf["__rel"].iloc[0]],
                    "m": [m],
                    "k": [k],
                    "bits": [b64.b64encode(bits.tobytes()).decode("ascii")],
                }
            )

        packed = hashed.groupBy("__rel").applyInPandas(
            _pack, "path string, m int, k int, bits string"
        ).collect()
        extras = [
            {
                "bloomidx": {
                    "path": r["path"],
                    "col": phys,
                    "m": r["m"],
                    "k": r["k"],
                    "bits": r["bits"],
                }
            }
            for r in packed
        ]
        built = {r["path"] for r in packed}
        empty = base64.b64encode(b"\0" * 8).decode("ascii")
        for rel in todo:
            if rel not in built:
                extras.append(
                    {
                        "bloomidx": {
                            "path": rel,
                            "col": phys,
                            "m": 64,
                            "k": 1,
                            "bits": empty,
                        }
                    }
                )
        return self._commit(
            "bloomidx", [], [], None, read_version=rv, extras=extras
        )

    @staticmethod
    def _bloom_maybe_contains(bloom: dict, h1: int, h2: int) -> bool:
        """Driver-side membership probe mirroring ``_pack``'s position
        arithmetic exactly (uint64 wraparound, mod m, LSB-first bits)."""
        import base64

        bits = base64.b64decode(bloom["bits"])
        m, k = bloom["m"], bloom["k"]
        u1 = h1 & 0xFFFFFFFFFFFFFFFF
        u2 = h2 & 0xFFFFFFFFFFFFFFFF
        for i in range(k):
            idx = ((u1 + i * u2) & 0xFFFFFFFFFFFFFFFF) % m
            if not (bits[idx >> 3] >> (idx & 7)) & 1:
                return False
        return True

    def alter_add_column(self, name: str, ddl_type: str) -> int:
        """Schema evolution as a metadata transaction: append a NULLABLE
        column (``ddl_type`` e.g. ``"double"``). Existing files are NOT
        rewritten — an enforced-schema read fills the missing column
        with NULL for pre-alter files, the same trick Delta/Iceberg use
        for add-column. The commit carries only a new ``meta`` action,
        and metadata serializes against EVERYTHING: any concurrent txn
        that planned under the old schema gets a ConflictError (see
        :meth:`_check_conflicts`), and two concurrent alters conflict
        with each other. If the new column's type is stats-eligible it
        joins ``stat_cols`` — old files simply have no stats for it and
        overlap every predicate (conservative, correct).

        RENAME/DROP live on column mapping (:meth:`alter_rename_column`
        / :meth:`alter_drop_column`); retyping a column stays a
        migration job, not a one-line alter."""
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        schema = self._schema(meta)
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        self._check_reserved([name])
        dt = T.StructType.fromDDL(f"`{name}` {ddl_type}").fields[0].dataType
        new_schema = T.StructType(
            list(schema.fields) + [T.StructField(name, dt, True)]
        )
        stat_cols = list(meta["stat_cols"])
        if dt.typeName() in ("integer", "long", "double", "float", "string"):
            stat_cols.append(name)
        new_meta = {
            **meta,  # constraints / column mapping survive the alter
            "schema_json": new_schema.json(),
            "stat_cols": stat_cols,
        }
        if meta.get("column_mapping"):
            cm = {
                k: (list(v) if isinstance(v, list) else v)
                for k, v in meta["column_mapping"].items()
            }
            cm["columns"] = [dict(c) for c in meta["column_mapping"]["columns"]]
            cid = cm["next_id"]
            taken = {c["physical"] for c in cm["columns"]} | set(
                cm["retired"]
            )
            # a re-added name must NOT rebind a retired physical — old
            # files would resurrect the dropped column's data
            physical = name if name not in taken else f"c{cid}_{name}"
            cm["columns"].append(
                {"id": cid, "name": name, "physical": physical}
            )
            cm["next_id"] = cid + 1
            new_meta["column_mapping"] = cm
        return self._commit(
            "alter", [], [], None, read_version=rv, meta=new_meta
        )

    def _constraints_referencing(self, meta: dict, name: str) -> list[str]:
        """CHECK constraints whose expression mentions ``name`` as a
        word — renames/drops refuse rather than silently breaking the
        stored expression (the honest subset of Delta's behavior, which
        rewrites expressions)."""
        pat = re.compile(rf"\b{re.escape(name)}\b")
        return sorted(
            cname
            for cname, expr in meta.get("constraints", {}).items()
            if pat.search(expr)
        )

    def alter_rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as a METADATA-ONLY transaction (public Delta
        column-mapping / Iceberg field-id design): the column's stable
        id keeps pointing at the SAME physical parquet name, only the
        logical name changes — zero files rewritten, and reads, CDF,
        restore, and time travel all keep working across the rename
        (pre-rename files are read by physical name; each historical
        version reads under ITS OWN logical schema). Stats survive too:
        they are keyed by physical name. Constraints that reference the
        old name make the rename refuse loudly (drop/re-add them)."""
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        schema = self._schema(meta)
        if old not in schema.fieldNames():
            raise ValueError(
                f"no column {old!r} (have {schema.fieldNames()})"
            )
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        self._check_reserved([new])
        refs = self._constraints_referencing(meta, old)
        if refs:
            raise ValueError(
                f"constraints {refs} reference {old!r} — drop them, "
                "rename, then re-add under the new name"
            )
        meta = self._ensure_mapping(meta)
        cm = {
            "columns": [dict(c) for c in meta["column_mapping"]["columns"]],
            "next_id": meta["column_mapping"]["next_id"],
            "retired": list(meta["column_mapping"]["retired"]),
        }
        for c in cm["columns"]:
            if c["name"] == old:
                c["name"] = new  # physical untouched: that's the point
        new_schema = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        stat_cols = [new if c == old else c for c in meta["stat_cols"]]
        new_meta = {
            **meta,
            "schema_json": new_schema.json(),
            "stat_cols": stat_cols,
            "column_mapping": cm,
        }
        return self._commit(
            "alter", [], [], None, read_version=rv, meta=new_meta
        )

    def alter_drop_column(self, name: str) -> int:
        """DROP COLUMN as a METADATA-ONLY transaction: the logical
        schema loses the field and its physical name is RETIRED — no
        file is rewritten (the bytes stay until the files churn through
        later rewrites/vacuum, the public formats' documented
        trade-off; a GDPR-grade purge is a rewrite job, not an alter).
        A later ADD COLUMN with the same name binds a FRESH physical,
        so the dropped data can never resurrect. Time travel to a
        pre-drop version still reads the column (that version's meta
        maps it). Refuses while a CHECK constraint references the
        column, and refuses to drop the last column."""
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        schema = self._schema(meta)
        if name not in schema.fieldNames():
            raise ValueError(
                f"no column {name!r} (have {schema.fieldNames()})"
            )
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        refs = self._constraints_referencing(meta, name)
        if refs:
            raise ValueError(
                f"constraints {refs} reference {name!r} — drop them first"
            )
        meta = self._ensure_mapping(meta)
        cols = [dict(c) for c in meta["column_mapping"]["columns"]]
        retired = list(meta["column_mapping"]["retired"])
        retired += [c["physical"] for c in cols if c["name"] == name]
        cm = {
            "columns": [c for c in cols if c["name"] != name],
            "next_id": meta["column_mapping"]["next_id"],
            "retired": retired,
        }
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        stat_cols = [c for c in meta["stat_cols"] if c != name]
        new_meta = {
            **meta,
            "schema_json": new_schema.json(),
            "stat_cols": stat_cols,
            "column_mapping": cm,
        }
        return self._commit(
            "alter", [], [], None, read_version=rv, meta=new_meta
        )

    def add_constraint(self, name: str, expr: str) -> int:
        """CHECK constraint as a metadata transaction (the public
        Delta ``ADD CONSTRAINT`` design): ``expr`` is a SQL boolean
        over the table's columns; a row VIOLATES when the expression
        evaluates to FALSE (NULL passes — ANSI CHECK semantics). The
        existing table must already satisfy it (one validation scan,
        here and in the public formats); from then on every write path
        (append, streaming append, merge, update) enforces it ROW-WISE
        inside the staging write itself — a conditional raise_error
        rides the first output column, so enforcement costs zero extra
        passes and a violating batch fails before anything commits.
        Metadata serializes against everything: concurrent writers that
        planned without the constraint get ConflictError and re-plan
        under it."""
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        cons = dict(meta.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        n_bad = (
            self.read(version=rv)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .count()
        )
        if n_bad:
            raise ValueError(
                f"constraint {name!r}: {n_bad} existing rows violate "
                f"{expr!r} — clean the data first"
            )
        new_meta = {**meta, "constraints": {**cons, name: expr}}
        return self._commit("alter", [], [], None, read_version=rv, meta=new_meta)

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata commit)."""
        rv = self.version()
        meta, _, _, _ = self._state_at(rv)
        cons = dict(meta.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no constraint {name!r} (have {sorted(cons)})")
        del cons[name]
        new_meta = {**meta, "constraints": cons}
        return self._commit("alter", [], [], None, read_version=rv, meta=new_meta)

    # -- maintenance ------------------------------------------------------

    def vacuum(
        self, retention_sec: float = 3600.0, dry_run: bool = False
    ) -> list[str]:
        """Delete data files referenced by NO replayable log version
        (crashed-writer stages, files whose every referencing version
        was expired) once older than ``retention_sec`` — the age gate
        keeps an IN-FLIGHT writer's staged-but-not-yet-committed files
        safe, exactly Delta's vacuum contract. Never touches anything
        any surviving log version references, so time travel over the
        retained history stays intact. Returns removed rel paths.

        ``dry_run=True`` (the public VACUUM DRY RUN surface) reports
        exactly what a real run would reclaim right now — nothing is
        unlinked, no dir is reaped — so operators can audit the blast
        radius before committing to it."""
        vs, cs = self._list_log()
        referenced: set[str] = set()
        for c in cs:
            with open(self._ckpt_path(c), encoding="utf-8") as f:
                ck = json.load(f)
            referenced.update(a["path"] for a in ck["adds"])
            for e in ck.get("dvs", {}).values():
                referenced.update(e["paths"])
        for v in vs:
            for a in self._parse_commit(v):
                if "add" in a:
                    referenced.add(a["add"]["path"])
                elif "dv" in a:
                    # DV sidecars are data files too: reaping one that
                    # any replayable version references would corrupt
                    # reads (rows would resurrect)
                    referenced.update(a["dv"]["paths"])
        removed = []
        emptied_dirs: set[str] = set()
        data_root = os.path.join(self.root, _DATA_DIR)
        now = time.time()
        for dirpath, _dirs, files in os.walk(data_root):
            for name in files:
                if not name.endswith(".parquet"):
                    continue  # _SUCCESS etc. ride with their txn dir below
                abspath = os.path.join(dirpath, name)
                rel = os.path.relpath(abspath, self.root)
                if rel in referenced:
                    continue
                if now - os.path.getmtime(abspath) < retention_sec:
                    continue
                if dry_run:
                    removed.append(rel)
                    continue
                os.unlink(abspath)
                removed.append(rel)
                emptied_dirs.add(dirpath)
        if dry_run:
            return sorted(removed)
        # a txn dir left with no parquet files (fully-vacuumed orphan
        # stage) goes entirely, marker files included — when either
        # (a) THIS run's unlink pass emptied it (its parquet was
        # already past retention, so the stage is provably dead — the
        # unlinks themselves bump the dir's mtime, which must not
        # restart the clock: review r7), or (b) the dir and everything
        # in it are past retention_sec. A concurrent writer's
        # just-created staging dir (committer scaffolding present, no
        # part file flushed yet) survives both gates.
        import shutil

        if os.path.isdir(data_root):
            for name in os.listdir(data_root):
                d = os.path.join(data_root, name)
                if not os.path.isdir(d):
                    continue
                has_parquet = any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(d)
                    for f in fs
                )
                if has_parquet:
                    continue
                just_emptied = any(
                    dp == d or dp.startswith(d + os.sep)
                    for dp in emptied_dirs
                )
                mtimes = [os.path.getmtime(d)] + [
                    os.path.getmtime(os.path.join(dp, f))
                    for dp, _, fs in os.walk(d)
                    for f in fs
                ]
                if just_emptied or now - max(mtimes) >= retention_sec:
                    shutil.rmtree(d)
        return sorted(removed)

    def maintenance_advice(
        self,
        small_file_bytes: int = 32 << 20,
        retention_sec: float = 3600.0,
    ) -> dict:
        """Ops gauge: what maintenance would pay off right now —
        derived ENTIRELY from driver-side log metadata plus one data-dir
        listing (the vacuum dry-run); no table scan. Returns counters
        (live files, small files under ``small_file_bytes``, dv-debt
        rows and the files carrying them, vacuum-reclaimable orphans)
        plus an ``actions`` list naming the verb to run (optimize /
        vacuum) — the policy loop a deployment's scheduler would poll.

        100 TB: everything here is O(files) metadata the log already
        holds; the decision to compact is made WITHOUT reading data,
        and each recommended verb carries its own bounded blast radius
        (optimize's small-file selector, vacuum's retention gate)."""
        _, live, _, _ = self._state_at(self.version())
        sizes = [a["size"] for a in live.values()]
        small = [s for s in sizes if s < small_file_bytes]
        debt = self.dv_stats()
        orphans = self.vacuum(retention_sec, dry_run=True)
        actions = []
        if len(small) > 1:
            actions.append(
                f"optimize: compact {len(small)} files under "
                f"{small_file_bytes} bytes"
            )
        if debt:
            actions.append(
                f"optimize: materialize {sum(debt.values())} dv-deleted "
                f"rows across {len(debt)} files"
            )
        if orphans:
            actions.append(
                f"vacuum: {len(orphans)} unreferenced data files "
                "reclaimable"
            )
        return {
            "n_live_files": len(sizes),
            "n_small_files": len(small),
            "dv_debt_rows": sum(debt.values()),
            "dv_debt_files": len(debt),
            "n_vacuum_orphans": len(orphans),
            "actions": actions,
        }

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION — the public time-travel restore:
        a METADATA-ONLY commit whose remove/add/dv actions diff the
        current snapshot against ``version``'s, so the table's NEXT
        version reads exactly like the old one while history stays
        intact (a restore is an ordinary forward commit — you can
        restore the restore). No data file is copied or rewritten.

        Preconditions raised loudly: the target version must still be
        replayable (not expired) and every file it references must
        still exist (a vacuum past its retention after an expire may
        have reaped them — the same caveat the CDF documents).

        Deletion vectors: when DV state differs between the two
        snapshots the diff degenerates to full remove+re-add (a remove
        retires a file's vectors during replay, so re-adding the file
        plus re-emitting ``version``'s dv actions reconstructs its
        state exactly); CDF replay stays exact because the same-path
        remove+add pairs cancel as signed multisets. Schema and
        constraints restore with the data when they changed (the
        restored snapshot must read under ITS schema).

        Concurrency: serializes against everything — concurrent
        removes of our re-referenced files and concurrent appends both
        conflict (an interleaved append's rows surviving a restore
        would violate snapshot semantics). Streaming watermarks (txn
        actions) are deliberately NOT restored: exactly-once replay
        guards must survive a restore, or a re-delivered batch would
        double-apply."""
        rv = self.version()
        if version == rv:
            return rv
        meta_v, live_v, _, dvs_v = self._state_at(version)
        meta_now, live_now, _, dvs_now = self._state_at(rv)
        needed = set(live_v) | {
            p for e in dvs_v.values() for p in e["paths"]
        }
        missing = sorted(
            p
            for p in needed
            if not os.path.exists(os.path.join(self.root, p))
        )
        if missing:
            raise FileNotFoundError(
                f"restore to v{version} needs vacuumed-away files "
                f"{missing[:3]}{'…' if len(missing) > 3 else ''} — "
                "the version is outside the vacuum retention"
            )
        if dvs_v != dvs_now:
            removes = sorted(live_now)
            adds = [live_v[p] for p in sorted(live_v)]
        else:
            removes = sorted(set(live_now) - set(live_v))
            adds = [
                live_v[p] for p in sorted(set(live_v) - set(live_now))
            ]
        dv_actions = [
            {"paths": list(e["paths"]), "files": dict(e["files"])}
            for _, e in sorted(dvs_v.items())
        ] if dvs_v != dvs_now else []
        return self._commit(
            "restore",
            adds,
            removes,
            None,
            read_version=rv,
            meta=meta_v if meta_v != meta_now else None,
            dv=dv_actions or None,
        )

    def clone_to(
        self, dest_root: str, version: int | None = None
    ) -> "TxTable":
        """SHALLOW CLONE (the public Delta ``CLONE`` design): a NEW
        table at ``dest_root`` whose v0 references THIS table's data
        files at ``version`` — zero data copied, one metadata commit.
        The clone is a full peer afterwards: its own log, its own
        history, fully writable; its DML rewrites land under its own
        root, progressively localizing whatever it touches, while
        untouched data keeps reading from the source files.

        Mechanics: cloned add entries (and deletion-vector sidecar
        references — clones CARRY the source's live DVs) switch to
        ABSOLUTE paths. ``os.path.join(root, p)`` passes absolutes
        through, and ``_rel_path_col`` returns the absolute identity
        for foreign files, so every path-keyed mechanism — DV write and
        read anti-join, scan restricts, bloom builds, rewrite removes —
        works unchanged on mixed local/foreign tables. Blooms ride the
        cloned entries (same file content, same bits — sound).

        The one shared-fate caveat, same as the public formats': the
        clone borrows the source's PHYSICAL files, so a ``vacuum`` on
        the source after the source itself stops referencing them (its
        own rewrite + history expiry) can delete files the clone still
        reads. Cloning is a branch, not a backup; ``optimize`` on the
        clone localizes (copies) everything it still shares when
        isolation is needed. A clone's own vacuum never touches foreign
        files (it walks only its own data dir)."""
        v = self.version() if version is None else version
        meta, live, _, dvs = self._state_at(v)
        os.makedirs(os.path.join(dest_root, _LOG_DIR), exist_ok=True)
        clone = object.__new__(type(self))
        clone.spark, clone.root = self.spark, dest_root
        if clone._latest_version() >= 0:
            raise ConflictError(f"table already exists at {dest_root!r}")

        def _abs(rel: str) -> str:
            return os.path.abspath(os.path.join(self.root, rel))

        adds = []
        for a in sorted(live.values(), key=lambda a: a["path"]):
            b = dict(a)
            b["path"] = _abs(a["path"])
            adds.append(b)
        dv_action = None
        if dvs:
            # live DVs come along, but their sidecar ROWS carry the
            # SOURCE's path identities — rewrite them into the clone's
            # namespace (absolute) and stage fresh sidecars under the
            # clone root. Sidecars are deleted-rows-sized: this is the
            # one bounded copy a shallow clone performs.
            files: dict[str, int] = {}
            for e in dvs.values():
                for k, n in e["files"].items():
                    ak = _abs(k)
                    files[ak] = files.get(ak, 0) + n
            old = sorted({p for e in dvs.values() for p in e["paths"]})
            kv: list = []
            seen: set = set()
            for e in dvs.values():
                for k in e["files"]:
                    if k not in seen:
                        seen.add(k)
                        kv += [F.lit(k), F.lit(_abs(k))]
            pmap = F.create_map(*kv)
            rows = (
                self._read_dv(old)
                .select(pmap[F.col("path")].alias("path"), "pos")
                .filter(F.col("path").isNotNull())
            )
            entries = clone._write_stage(rows, [])
            if entries:
                dv_action = {
                    "paths": sorted(e["path"] for e in entries),
                    "files": files,
                    "num_deleted": sum(files.values()),
                }
        clone._commit(
            "clone",
            adds,
            [],
            None,
            read_version=-1,
            meta=dict(meta),
            dv=dv_action,
        )
        return clone

    def expire(self, keep_last: int) -> list[int]:
        """Truncate log history: checkpoint the current version, then
        drop commit files older than the newest ``keep_last`` versions.
        Time travel to an expired version raises
        :class:`VersionExpiredError`; the expired versions' exclusive
        files become vacuum-eligible. Returns expired versions."""
        latest = self.version()
        if not os.path.exists(self._ckpt_path(latest)):
            self._write_checkpoint(latest)
        cutoff = latest - keep_last + 1
        vs, _ = self._list_log()
        dropped = [v for v in vs if v < cutoff]
        for v in dropped:
            os.unlink(self._log_path(v))
        return dropped

    # -- helpers ----------------------------------------------------------

    def _conform(self, df: DataFrame, meta: dict) -> DataFrame:
        """Align an incoming frame to the table schema: same column SET
        required (loud on drift — the schemas.py discipline), order
        normalized, exact-type equality enforced (no silent casts: a
        double arriving for a long column is drift, not data)."""
        schema = self._schema(meta)
        want = {f.name: f.dataType for f in schema.fields}
        have = {f.name: f.dataType for f in df.schema.fields}
        if set(want) != set(have):
            raise ValueError(
                f"schema drift: table columns {sorted(want)} vs incoming "
                f"{sorted(have)}"
            )
        for name, dt in want.items():
            if have[name] != dt:
                raise ValueError(
                    f"schema drift on {name!r}: table {dt.simpleString()} "
                    f"vs incoming {have[name].simpleString()}"
                )
        out = df.select(*[f.name for f in schema.fields])
        cons = meta.get("constraints", {})
        if cons:
            # row-wise CHECK enforcement INSIDE the write: a violation
            # (expr FALSE; NULL passes — ANSI CHECK) raises during the
            # staging job via a conditional raise_error riding the
            # first column — zero extra scans, nothing commits.
            bad = None
            for n, e in sorted(cons.items()):
                b = ~F.coalesce(F.expr(e), F.lit(True))
                bad = b if bad is None else (bad | b)
            first = schema.fields[0]
            msg = "txlog CHECK constraint violated: " + "; ".join(
                f"{n} ({e})" for n, e in sorted(cons.items())
            )
            out = out.withColumn(
                first.name,
                F.when(
                    bad, F.raise_error(F.lit(msg)).cast(first.dataType)
                ).otherwise(F.col(first.name)),
            )
        return out


# ------------------------------------------------------- streaming source

try:  # Spark >= 4.0 Python DataSource API
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    HAVE_DATASOURCE_API = True
except ImportError:  # pragma: no cover
    HAVE_DATASOURCE_API = False


if HAVE_DATASOURCE_API:

    class _FeedSlice(InputPartition):
        """One committed data file of one log version — the streaming
        input-partition unit. The executor task needs only the path
        (no log access): the driver already resolved version → files.
        At 100 TB file-granularity is the right unit for a CHANGE
        stream (commits add many bounded files); an avrofmt-style
        row-group split would only help pathological one-huge-file
        commits.

        CDC mode adds ``kind``/``rel``/``dv_paths``: ``insert`` (whole
        file), ``delete`` (file's rows MINUS the sidecar positions —
        what a rewrite removed as visible), ``dv_delete`` (ONLY the
        sidecar positions — what a dv commit newly deleted).
        ``dv_paths`` are the sidecar files to consult; the executor
        filters them to ``rel`` (one sidecar relation spans many data
        files)."""

        def __init__(
            self,
            path: str,
            version: int,
            kind: str = "insert",
            rel: str = "",
            dv_paths: tuple = (),
        ):
            self.path, self.version = path, version
            self.kind, self.rel, self.dv_paths = kind, rel, tuple(dv_paths)

    class TxLogStreamReader(DataSourceStreamReader):
        """Streaming read of a transaction-logged table: micro-batch
        offsets ARE log versions (`{"version": v}`), each batch the
        files committed in ``(start, end]`` — the public "streaming
        from a Delta table" design. Offsets live in Spark's checkpoint
        (offsets-after-write, S8), so restart resumes exactly after
        the last committed version, and composing with
        ``TxTable.foreach_batch_sink`` gives exactly-once
        table-to-table pipelines (dedup on the sink's txn watermark).

        Append-only contract: a delete/merge commit in range raises by
        default — a consumer that has already emitted rows cannot
        retract them (``on_change='fail'``). Opt-outs mirror the
        public source options: ``'skip'`` ignores rewrite commits
        wholesale (Delta ``ignoreDeletes``-shaped), ``'redeliver'``
        re-emits the rewrite's ADDED files (Delta ``ignoreChanges``:
        at-least-once re-delivery of surviving rows; downstream must
        key-dedupe). ``optimize`` commits are always skipped
        (dataChange=false). ``starting_version`` (default -1 = table
        creation) bounds the first batch."""

        def __init__(self, root: str, options):
            self.root = root
            self.on_change = options.get("on_change", "fail")
            if self.on_change not in ("fail", "skip", "redeliver"):
                raise ValueError(
                    f"on_change must be fail|skip|redeliver, got "
                    f"{self.on_change!r}"
                )
            self.mode = options.get("mode", "append")
            if self.mode not in ("append", "cdf"):
                raise ValueError(
                    f"mode must be append|cdf, got {self.mode!r}"
                )
            self.starting = int(options.get("starting_version", "-1"))

        def initialOffset(self) -> dict:
            return {"version": self.starting}

        def latestOffset(self) -> dict:
            t = TxTable._headless(self.root)
            return {"version": max(t._latest_version(), self.starting)}

        def partitions(self, start: dict, end: dict):
            if self.mode == "cdf":
                return self._cdf_partitions(start, end)
            t = TxTable._headless(self.root)
            out: list[_FeedSlice] = []
            for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
                actions = t._parse_commit(v)
                op = t._op(actions)
                if op == "optimize":
                    continue
                if any("remove" in a or "dv" in a for a in actions):
                    # a deletion-vector commit is a logical delete too:
                    # an append-only consumer cannot retract its rows
                    if self.on_change == "fail":
                        raise ValueError(
                            f"txlog stream: non-append commit "
                            f"(op={op!r}) at version {v} — set "
                            "on_change='skip' or 'redeliver' to proceed"
                        )
                    if self.on_change == "skip":
                        continue
                out.extend(
                    _FeedSlice(os.path.join(self.root, a["add"]["path"]), v)
                    for a in actions
                    if "add" in a
                )
            return out

        def _cdf_partitions(self, start: dict, end: dict):
            """STREAMING CDC: the batch carries insert AND delete rows
            (same retraction semantics as TxTable.changes, same replay
            guarantee) — planned entirely from driver-side log metadata
            by the commit walk the batch CDF uses (``TxTable._feed``),
            one slice per file; each slice ships the sidecar paths its
            executor task must consult (no executor log access)."""
            t = TxTable._headless(self.root)
            return [
                _FeedSlice(
                    os.path.join(self.root, rel),
                    v,
                    kind,
                    rel,
                    tuple(
                        os.path.join(self.root, p)
                        for e in dvs.values()
                        if rel in e["files"]
                        for p in e["paths"]
                    ),
                )
                for v, kind, rels, dvs in t._feed(
                    int(start["version"]), int(end["version"])
                )
                for rel in rels
            ]

        def read(self, partition: _FeedSlice):
            # Executor-side: one parquet file → Arrow batches, conformed
            # to the ENFORCED stream schema (pre-alter files NULL-fill
            # added columns — the add-column trick, Arrow edition). CDC
            # slices additionally select rows by sidecar positions
            # (pyarrow row order IS _metadata.row_index — the physical
            # ordinal both sides key on) and append the change columns.
            import pyarrow as pa
            import pyarrow.parquet as pq

            target: pa.Schema = self._arrow_schema
            data_fields = [
                f
                for f in target
                if f.name not in ("_change_type", "_commit_version")
            ]
            tbl = pq.read_table(partition.path)
            if partition.kind != "insert" and partition.dv_paths:
                import numpy as np

                chunks = [
                    pq.read_table(
                        dv,
                        columns=["pos"],
                        filters=[("path", "==", partition.rel)],
                    )
                    .column("pos")
                    .to_numpy(zero_copy_only=False)
                    for dv in partition.dv_paths
                ]
                pos = np.unique(np.concatenate(chunks)) if chunks else np.array([], dtype=np.int64)
                if partition.kind == "dv_delete":
                    idx = pos
                else:  # delete: the rows still VISIBLE before the rewrite
                    # vectorized complement — a per-row Python loop would
                    # dominate on production-size (10⁶-row) files
                    idx = np.setdiff1d(
                        np.arange(tbl.num_rows, dtype=np.int64), pos,
                        assume_unique=True,
                    )
                tbl = tbl.take(pa.array(idx, type=pa.int64()))
            elif partition.kind == "dv_delete":
                tbl = tbl.slice(0, 0)  # defensive: dv slice needs sidecars
            cols = []
            phys_map = getattr(self, "_phys_map", {}) or {}
            for field in data_fields:
                phys = phys_map.get(field.name, field.name)
                if phys in tbl.column_names:
                    cols.append(tbl.column(phys).cast(field.type))
                else:
                    cols.append(pa.nulls(tbl.num_rows, field.type))
            out = pa.table(cols, schema=pa.schema(data_fields))
            if len(data_fields) != len(target):  # cdf mode
                ctype = (
                    "insert" if partition.kind == "insert" else "delete"
                )
                out = out.append_column(
                    "_change_type",
                    pa.array([ctype] * out.num_rows, type=pa.string()),
                ).append_column(
                    "_commit_version",
                    pa.array(
                        [partition.version] * out.num_rows, type=pa.int64()
                    ),
                )
                out = out.cast(target)
            yield from out.to_batches(max_chunksize=1 << 16)

        def commit(self, end: dict) -> None:
            return None

    class TxLogFeedDataSource(DataSource):
        """``spark.readStream.format("txlog_feed").option("root", …)``
        — schema is resolved from the log at planning time (latest
        metadata; mid-stream ALTERs keep working because files are
        conformed to the planned schema, and a RESTARTED stream picks
        the widened schema up)."""

        @classmethod
        def name(cls) -> str:
            return "txlog_feed"

        def schema(self):
            t = TxTable._headless(self.options["root"])
            schema = t._snapshot().schema
            if self.options.get("mode", "append") == "cdf":
                # streaming CDC: the batch CDF's exact row shape
                schema = T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField("_change_type", T.StringType(), False),
                        T.StructField(
                            "_commit_version", T.LongType(), False
                        ),
                    ]
                )
            return schema

        def streamReader(self, schema):
            from pyspark.sql.pandas.types import to_arrow_schema

            r = TxLogStreamReader(self.options["root"], self.options)
            # resolved ONCE on the driver; the executor-side read()
            # conforms every file to exactly this Arrow schema, looking
            # parquet columns up by PHYSICAL name (column mapping)
            r._arrow_schema = to_arrow_schema(schema)
            t = TxTable._headless(self.options["root"])
            r._phys_map = t._snapshot().mapping or {}
            return r


def register(spark) -> None:
    """Register ``txlog_feed`` on this session (overwrite-by-name —
    re-registering is harmless, same contract as kafkawire.register)."""
    spark.dataSource.register(TxLogFeedDataSource)
