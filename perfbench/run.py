#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one single-client closed
loop on ``local[<cpus>]``:

1. set-up: pin the environment, start the session, generate the seeded
   inputs (three times; the median counts), start fixtures, run the
   cold round and one warm round;
2. the timed window: whole rounds until ``--seconds`` have passed;
   every op's output is checked after its clock stops;
3. ``--trace 1``: instead of 2, a window of twice ``--seconds`` whose
   rounds alternate between traced (span wrappers installed, Spark's
   status stores read after every op) and untraced, for the per-layer
   metrics and the tracing overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer ones with ``--trace 1``). The line before it records the
pinned environment and the load average at start and end. Spans and
per-op details go to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

# warm rounds after the cold one. The JVM keeps speeding up for minutes
# (NOTES.md, "Warm-up curve"), so no affordable warm-up reaches a
# plateau; the time budget goes to the timed window instead, and every
# run times the same stretch of the curve.
WARM_ROUNDS = 1
GENERATE_REPEATS = 3

E2E = {
    "setup_s": "s",
    "round_p50_ms": "ms",
    "items_per_s": "items/s",
}

SELF_LAYERS = ("corpus_pipeline", "checkpointing", "dedup", "tables", "queries_src",
               "pgserving", "txlog", "spark")
TXLOG_CLASSES = ("append", "merge", "delete", "scan", "rollup", "cdf")

PER_LAYER = {
    "driver.peak_rss_mb": "MB",
    "spark.sql_execs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.exec_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.storage_mb": "MB",
    "spark.pyds_rows": "count",
    "session.start_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "corpus_pipeline.quality_gate_s": "s",
    "corpus_pipeline.exact_dedup_s": "s",
    "corpus_pipeline.near_dedup_s": "s",
    "corpus_pipeline.decontam_s": "s",
    "corpus_pipeline.pack_write_s": "s",
    "checkpointing.calls": "count",
    "dedup.near_dups_s": "s",
    "dedup.components_s": "s",
    "dedup.cc_rounds": "count",
    "dedup.cc_edges": "count",
    "kafkawire.requests": "count",
    "kafkawire.mb": "MB",
    "kafkawire.broker_busy_s": "s",
    "pgserving.write_s": "s",
    "pgserving.read_s": "s",
    **{f"txlog.{c}_ms": "ms" for c in TXLOG_CLASSES},
    "txlog.write_p50_ms": "ms",
    "txlog.write_p90_ms": "ms",
    "txlog.read_p50_ms": "ms",
    "txlog.read_p90_ms": "ms",
    "txlog.versions": "count",
    "txlog.files_live": "count",
    "txlog.write_amp": "ratio",
    "txlog.files_read_share": "share",
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "trace.coverage": "share",
    "trace.uncovered_s": "s",
    "trace.overhead_pct": "%",
}


@dataclass
class Sample:
    cls: str
    op_id: int
    latency_s: float | None  # None: the op raised
    ok: bool


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def pin_environment(work: str) -> dict:
    """CPUs = usable cores, driver heap well below host RAM, every
    scratch directory inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return {**env, "host_mem_gb": round(mem_gb, 1)}


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, wl, tracer=None, status=None):
        self.wl, self.tracer, self.status = wl, tracer, status
        self.round = 0
        self.op_id = 0
        self.spark_deltas: dict[int, dict] = {}

    def run_op(self, op) -> Sample:
        self.op_id += 1
        op_id, tracer = self.op_id, self.tracer
        latency, sid = None, None
        try:
            if tracer is not None:
                self.status.delta(time.time())  # drop work done between ops
                with tracer.op(op_id, f"op.{op.cls}") as sid:
                    t = time.perf_counter()
                    out = op.run()
                    latency = time.perf_counter() - t
            else:
                t = time.perf_counter()
                out = op.run()
                latency = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            return Sample(op.cls, op_id, None, False)
        if tracer is not None:
            d = self.status.delta(time.time())
            tracer.attach("spark.sql_exec", d["exec_intervals"], op_id, sid)
            self.spark_deltas[op_id] = d
        try:
            ok = bool(op.check(out))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"check failed: {self.wl.name} op {op_id} ({op.cls})", file=sys.stderr)
        return Sample(op.cls, op_id, latency, ok)

    def run_round(self, max_ops: int | None = None) -> list[Sample]:
        self.wl.before_round(self.round)
        ops = self.wl.round_ops(self.round)
        self.round += 1
        return [self.run_op(op) for op in ops[:max_ops]]

    def window(self, seconds: float, max_ops: int | None = None) -> tuple[list[list[Sample]], float]:
        """Whole rounds until ``seconds`` have passed (or ``max_ops``
        ops have run)."""
        rounds: list[list[Sample]] = []
        start = time.perf_counter()
        done = 0
        while time.perf_counter() - start < seconds:
            rounds.append(self.run_round(None if max_ops is None else max_ops - done))
            done += len(rounds[-1])
            if max_ops is not None and done >= max_ops:
                break
        return rounds, time.perf_counter() - start


def alternate(runner: Runner, wl, tracer, status, seconds: float, max_ops: int | None):
    """The traced run's window: rounds alternate between traced (span
    wrappers installed, status stores read after every op) and untraced,
    so both halves sit on the same stretch of the warm-up curve and
    their difference is the tracing overhead."""
    plain: list[list[Sample]] = []
    traced: list[list[Sample]] = []
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        wl.install_trace(tracer)
        runner.tracer, runner.status = tracer, status
        try:
            traced.append(runner.run_round(max_ops))
        finally:
            tracer.unwrap_all()
            runner.tracer = runner.status = None
        if max_ops is not None:
            break
        plain.append(runner.run_round())
    return plain, traced, time.perf_counter() - start


def round_time(samples: list[Sample]) -> float:
    return sum(s.latency_s or 0.0 for s in samples)


def e2e_metrics(rounds: list[list[Sample]], setup_s: float, items_per_round: int) -> dict:
    """Median wall of a whole round (its ops' latencies summed; a round
    with a failed op is left out) and the items a round carries per
    second at that median."""
    walls = [round_time(r) for r in rounds if r and all(s.ok for s in r)]
    p50 = percentile(walls, 50)
    return {
        "setup_s": setup_s,
        "round_p50_ms": p50 * 1e3,
        "items_per_s": items_per_round / p50 if p50 else 0.0,
    }


def layer_metrics(wl, runner: Runner, tracer, status, traced, untraced, session_s) -> dict:
    """Per-layer metrics per round of the traced window (``traced``),
    request latencies per class, and the tracing overhead against the
    untraced window (``untraced``) of the same run."""
    from tracing import union_length

    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session_s
    rounds = [[s.op_id for s in r] for r in traced if r and all(s.latency_s is not None for s in r)]
    if not rounds:
        return out
    summaries = [tracer.round_summary(ids) for ids in rounds]

    def mean(xs):
        return statistics.fmean(list(xs))

    def spark_sum(ids, key):
        return sum(runner.spark_deltas[i][key] for i in ids)

    busy = [sum(union_length(runner.spark_deltas[i]["exec_intervals"]) for i in ids) for ids in rounds]
    for key in ("sql_execs", "jobs", "tasks", "executor_cpu_s", "gc_s", "input_mb",
                "shuffle_write_mb", "spill_mb", "pyds_rows"):
        out[f"spark.{key}"] = mean(spark_sum(ids, key) for ids in rounds)
    out["spark.exec_busy_s"] = mean(busy)
    out["spark.driver_gap_s"] = mean(s["wall_s"] - b for s, b in zip(summaries, busy))
    out["spark.storage_mb"] = status.storage_mb()
    out["tables.load_calls"] = mean(tracer.round_count("tables.load_calls", ids) for ids in rounds)
    out["tables.load_s"] = mean(s["span_s"].get("tables.load_table", 0.0) for s in summaries)
    for layer in SELF_LAYERS:
        out[f"{layer}.self_s"] = mean(s["self_s"].get(layer, 0.0) for s in summaries)
    out["trace.coverage"] = mean(s["coverage"] for s in summaries)
    out["trace.uncovered_s"] = mean(s["uncovered_s"] for s in summaries)

    by_cls: dict[str, list[float]] = {}
    for r in traced:
        for s in r:
            if s.latency_s is not None:
                by_cls.setdefault(s.cls, []).append(s.latency_s * 1e3)
    for c in TXLOG_CLASSES:
        if c in by_cls:
            out[f"txlog.{c}_ms"] = percentile(by_cls[c], 50)
    for kind, classes in (("write", ("append", "merge", "delete")), ("read", ("scan", "rollup", "cdf"))):
        lat = [x for c in classes for x in by_cls.get(c, [])]
        if lat:
            out[f"txlog.{kind}_p50_ms"] = percentile(lat, 50)
            out[f"txlog.{kind}_p90_ms"] = percentile(lat, 90)

    plain = [round_time(r) for r in untraced if r]
    if plain:
        out["trace.overhead_pct"] = (mean(s["wall_s"] for s in summaries) / mean(plain) - 1) * 100
    out.update(wl.layer_metrics(tracer, rounds))
    return out


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001-sized inputs, no warm-up, one timed op")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="perturb one expected value (the checks must then fail)")
    args = p.parse_args(argv)

    root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(root, "results")
    os.makedirs(results, exist_ok=True)
    env = pin_environment(work)
    env["loadavg_start"] = os.getloadavg()

    import data_mastery_pipeline_spark  # noqa: F401  (fails fast without the program)
    from data_mastery_pipeline_spark.session import get_spark

    spark = wl = None
    try:
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke, args.corrupt_expected)

        gen_s = []
        for _ in range(1 if args.smoke else GENERATE_REPEATS):
            t = time.perf_counter()
            inputs_info = wl.generate()
            gen_s.append(time.perf_counter() - t)
        wl.start()

        runner = Runner(wl)
        attempted = failed = 0

        def tally(samples):
            nonlocal attempted, failed
            attempted += len(samples)
            failed += sum(not s.ok for s in samples)

        cold = runner.run_round()
        tally(cold)
        curve = [round_time(cold)]
        for _ in range(0 if args.smoke else WARM_ROUNDS):
            warm = runner.run_round()
            tally(warm)
            curve.append(round_time(warm))
        setup_s = time.perf_counter() - T0 - sum(gen_s) + statistics.median(gen_s)

        max_ops = 1 if args.smoke else None
        if not args.trace:
            rounds, window_s = runner.window(args.seconds, max_ops)
            traced_rounds = []
        else:
            from tracing import SparkStatus, Tracer

            tracer, status = Tracer(), SparkStatus(spark)
            rounds, traced_rounds, window_s = alternate(runner, wl, tracer, status,
                                                        2 * args.seconds, max_ops)
        samples = [s for r in rounds for s in r]
        traced = [s for r in traced_rounds for s in r]
        tally(samples + traced)
        detail = {"inputs": inputs_info, "warm_curve_s": curve, "window_s": window_s,
                  "session_s": session_s, "generate_s": gen_s,
                  "samples": [s.__dict__ for s in samples]}
        if not args.trace:
            metrics = e2e_metrics(rounds, setup_s, wl.items_per_round)
        else:
            metrics = layer_metrics(wl, runner, tracer, status, traced_rounds, rounds, session_s)
            jpid = jvm_pid()
            metrics["driver.peak_rss_mb"] = (rss_mb(jpid) if jpid else 0.0) + (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            )
            detail["traced_samples"] = [s.__dict__ for s in traced]
            detail["per_op"] = {s.op_id: tracer.op_summary(s.op_id) for s in traced
                                if s.latency_s is not None}

        final = [runner.run_op(op) for op in wl.finish()]
        tally(final)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    env["loadavg_end"] = os.getloadavg()
    names = PER_LAYER if args.trace else E2E
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in names.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = {"env": env, **detail, "result": result}
    if args.trace:
        tracer.dump(os.path.join(results, f"{tag}.spans.json"), {"env": env})
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(out, f, default=str)
    print(json.dumps({"env": env, "inputs": inputs_info, "warm_curve_s": curve}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
