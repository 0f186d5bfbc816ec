"""Tracing for the per-layer run: spans recorded from outside the
program, plus deltas read from Spark's own status stores.

Spans are recorded by wrapping a layer's entry point under the name its
caller looks it up by (``setattr(module, "fn", wrapper)``), so the
program itself is never edited. Every span carries a name, start, end,
parent span and op id. Spans stay in memory; :meth:`Tracer.dump` writes
them out once, at the end. Only the traced run installs wrappers; the
timed runs never do.

:class:`SparkStatus` reads the SQL status store (executions, plan-graph
metrics) and the core status store (jobs, stages, storage). Each read
first drains the listener bus: right after an action returns, its last
execution may not have its completion time recorded yet.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder with wrappers installed on the program's
    module attributes. Uses wall-clock ``time.time()`` so spans line up
    with the epoch-millisecond times of Spark's status store."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, int | None], float] = {}
        self.intervals: dict[tuple[str, int | None], list[tuple[float, float]]] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._op: int | None = None
        self._op_sid: int | None = None
        self._lock = threading.Lock()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[tuple]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        """Open a span under the innermost open span of this thread."""
        stack = self._stack()
        parent = stack[-1][0] if stack else self._op_sid
        sid = next(self._ids)
        stack.append((sid, name, time.time(), parent, self._op))
        return sid

    def end(self) -> None:
        sid, name, start, parent, op = self._stack().pop()
        self.spans.append(Span(sid, name, start, time.time(), parent, op))

    @contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end()

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one timed op; spans opened on any thread while
        it runs (broker threads included) belong to it."""
        sid = next(self._ids)
        self._op, self._op_sid = op_id, sid
        start = time.time()
        try:
            yield sid
        finally:
            self.spans.append(Span(sid, name, start, time.time(), None, op_id))
            self._op = self._op_sid = None

    def add(self, key: str, value: float) -> None:
        """Add to a per-op counter."""
        with self._lock:
            k = (key, self._op)
            self.counts[k] = self.counts.get(k, 0.0) + value

    def count(self, key: str, op_id: int) -> float:
        return self.counts.get((key, op_id), 0.0)

    def interval(self, key: str, start: float, end: float, nbytes: int = 0) -> None:
        """Record a busy interval of a server thread (no span: the
        broker serves thousands of requests per op)."""
        with self._lock:
            self.intervals.setdefault((key, self._op), []).append((start, end))
        self.add(f"{key}.requests", 1)
        self.add(f"{key}.bytes", nbytes)

    def attach(self, name: str, intervals, op_id: int, op_sid: int) -> None:
        """Attach externally timed intervals (Spark SQL executions) to
        op ``op_id``, each under the deepest span containing its start."""
        spans = [s for s in self.spans if s.op == op_id and s.sid != op_sid]
        parent_of = {s.sid: s.parent for s in spans}

        def depth(sid):
            d = 0
            while sid is not None and sid != op_sid:
                d, sid = d + 1, parent_of.get(sid)
            return d

        depths = {s.sid: depth(s.sid) for s in spans}
        for start, end in intervals:
            parent, best = op_sid, 0
            for s in spans:
                if s.start <= start <= s.end and depths[s.sid] > best:
                    parent, best = s.sid, depths[s.sid]
            self.spans.append(Span(next(self._ids), name, start, end, parent, op_id))

    # -- wrappers ---------------------------------------------------------

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr``; :meth:`unwrap_all` puts the original back."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_call(args, kwargs, result)`` may record counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        wrapper.__wrapped__ = orig
        self.patch(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reduction --------------------------------------------------------

    def op_summary(self, op_id: int) -> dict:
        """Per-op span durations by name, self time by layer, and the
        share of the op's wall its child spans cover."""
        spans = [s for s in self.spans if s.op == op_id]
        root = next(s for s in spans if s.parent is None and s.name.startswith("op."))
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        by_name: dict[str, float] = {}
        self_by_layer: dict[str, float] = {}
        for s in spans:
            if s is root:
                continue
            dur = s.end - s.start
            by_name[s.name] = by_name.get(s.name, 0.0) + dur
            kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
            own = dur - union_length([k for k in kids if k[1] > k[0]])
            self_by_layer[s.layer] = self_by_layer.get(s.layer, 0.0) + own
        wall = root.end - root.start
        covered = union_length(
            [(max(c.start, root.start), min(c.end, root.end)) for c in children.get(root.sid, [])]
        )
        return {
            "wall_s": wall,
            "span_s": by_name,
            "self_s": self_by_layer,
            "coverage": covered / wall if wall > 0 else 0.0,
            "uncovered_s": wall - covered,
        }

    def round_summary(self, op_ids: list[int]) -> dict:
        """:meth:`op_summary` summed over the ops of one round."""
        out = {"wall_s": 0.0, "covered_s": 0.0, "span_s": {}, "self_s": {}}
        for i in op_ids:
            s = self.op_summary(i)
            out["wall_s"] += s["wall_s"]
            out["covered_s"] += s["wall_s"] - s["uncovered_s"]
            for key in ("span_s", "self_s"):
                for k, v in s[key].items():
                    out[key][k] = out[key].get(k, 0.0) + v
        out["coverage"] = out["covered_s"] / out["wall_s"] if out["wall_s"] else 0.0
        out["uncovered_s"] = out["wall_s"] - out["covered_s"]
        return out

    def round_count(self, key: str, op_ids: list[int]) -> float:
        return sum(self.count(key, i) for i in op_ids)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [s.__dict__ for s in self.spans],
                    "counts": {f"{k}@op{o}": v for (k, o), v in self.counts.items()},
                    "intervals": {f"{k}@op{o}": v for (k, o), v in self.intervals.items()},
                },
                f,
            )


# plan-graph nodes whose "number of output rows" cross the Python
# datasource boundary (kafka_wire / pg_serving reads, datasource writes)
PYDS_NODE_PREFIXES = ("BatchScan kafka_wire", "BatchScan pg_serving", "AppendData")


class SparkStatus:
    """Per-op deltas from Spark's SQL and core status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.jsc.statusStore()
        # pyspark 4.1's stageList takes five arguments; the fourth is
        # the quantile list, whose default Scala exposes as a method
        self._quantiles = getattr(self.app, "stageList$default$4")()
        self.drain()
        self.last_exec = self._max_execution_id()
        self.last_stage = self._max_stage_id()
        self.last_job = self._max_job_id()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        it = self.sql.executionsList(int(n) - 1, 1).iterator()
        last = -1
        while it.hasNext():
            last = max(last, int(it.next().executionId()))
        # executionsList is ordered by id; probe forward in case the
        # count lags the ids (retention drops old executions)
        while self._execution(last + 1) is not None:
            last += 1
        return last

    def _execution(self, eid: int):
        opt = self.sql.execution(eid)
        return opt.get() if opt.isDefined() else None

    @staticmethod
    def _newest_first(seq, key):
        """Elements of a Scala Seq from the newest end, as Python objects
        fetched one py4j call at a time (the store retains up to a
        thousand; an op adds a few)."""
        n = seq.size()
        if n == 0:
            return
        descending = n == 1 or key(seq.apply(0)) > key(seq.apply(n - 1))
        for i in range(n) if descending else range(n - 1, -1, -1):
            yield seq.apply(i)

    def _stages_after(self, last: int) -> list:
        out = []
        sl = self.app.stageList(None, False, False, self._quantiles, None)
        for s in self._newest_first(sl, lambda s: int(s.stageId())):
            if int(s.stageId()) <= last:
                break
            out.append(s)
        return out

    def _max_stage_id(self) -> int:
        return max((int(s.stageId()) for s in self._stages_after(-1)), default=-1)

    def _max_job_id(self) -> int:
        jl = self.app.jobsList(None)
        n = jl.size()
        if n == 0:
            return -1
        return max(int(jl.apply(0).jobId()), int(jl.apply(n - 1).jobId()))

    def storage_mb(self) -> float:
        rl = self.app.rddList(True)
        total = 0
        for i in range(rl.size()):
            r = rl.apply(i)
            total += int(r.memoryUsed()) + int(r.diskUsed())
        return total / 2**20

    def delta(self, op_end: float) -> dict:
        """Everything that ran since the previous call."""
        self.drain()
        execs = []
        eid = self.last_exec + 1
        while True:
            e = self._execution(eid)
            if e is None:
                break
            execs.append(e)
            eid += 1
        self.last_exec = eid - 1
        intervals, pyds_rows = [], 0
        for e in execs:
            start = int(e.submissionTime()) / 1000
            comp = e.completionTime()
            end = int(comp.get().getTime()) / 1000 if comp.isDefined() else op_end
            intervals.append((start, end))
            pyds_rows += self._pyds_rows(int(e.executionId()))
        new_stages = self._stages_after(self.last_stage)
        if new_stages:
            self.last_stage = max(int(s.stageId()) for s in new_stages)
        max_job = self._max_job_id()
        jobs = max(0, max_job - self.last_job)
        self.last_job = max(self.last_job, max_job)
        return {
            "sql_execs": len(execs),
            "exec_intervals": intervals,
            "jobs": jobs,
            "tasks": sum(int(s.numCompleteTasks()) for s in new_stages),
            "executor_cpu_s": sum(int(s.executorCpuTime()) for s in new_stages) / 1e9,
            "gc_s": sum(int(s.jvmGcTime()) for s in new_stages) / 1e3,
            "input_mb": sum(int(s.inputBytes()) for s in new_stages) / 2**20,
            "shuffle_write_mb": sum(int(s.shuffleWriteBytes()) for s in new_stages) / 2**20,
            "spill_mb": sum(int(s.diskBytesSpilled()) for s in new_stages) / 2**20,
            "pyds_rows": pyds_rows,
        }

    def _pyds_rows(self, eid: int) -> int:
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes()
        rows = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith(PYDS_NODE_PREFIXES):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                    rows += int(str(values.apply(m.accumulatorId())).replace(",", ""))
        return rows
