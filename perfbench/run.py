"""Benchmark entry point.

    python3 perfbench/run.py --workload <adhoc_tpch|mv_churn|kafka_upsert>
        --seed <n> --seconds <s> --trace <0|1> [--sf <scale>]

Run from the repository root. Prints one report line (every end-to-end
metric with unit and sample count, the environment stamp and, with
``--trace 1``, every per-layer metric and the tracing overhead), then, as
the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.stats import summary  # noqa: E402

WORKLOADS = ("adhoc_tpch", "mv_churn", "kafka_upsert")
SETUP_REPS = 3

# metric name -> unit, for the end-to-end metrics of every workload
END_TO_END = {
    "setup_s": "s", "throughput_ops_s": "1/s",
    "latency_p50_s": "s", "latency_p90_s": "s",
    "read_p50_s": "s", "read_p90_s": "s",
    "failed_ratio": "ratio", "peak_rss_mb": "MB",
}


class Context:
    """What a workload gets: the engine, its scratch directories, the seed
    and run length, and the recorders for set-up, operations and tracing."""

    def __init__(self, spark, dirs, seed: int, seconds: float,
                 tracer=None, sf: float | None = None):
        self.spark = spark
        self.dirs = dirs
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sf = sf
        self.log = harness.OpLog()
        self.setup_samples: list[float] = []
        self.latencies: list[float] | None = None
        self.reads: list[float] | None = None
        self.throughput: tuple[float, float] | None = None  # (count, s)
        self.layers: dict[str, tuple[float, str]] = {}  # workload gauges
        self.errors: list[str] = []
        self.jvm_before: dict | None = None
        self.jvm_after: dict | None = None
        self._t0: float | None = None
        self.timed_wall_s: float | None = None
        self._born = time.perf_counter()
        self.phases: dict[str, float] = {}   # phase -> seconds since start

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.perf_counter() - self._born

    def repeat_setup(self, make, discard, reps: int = SETUP_REPS):
        """Run ``make(i)`` ``reps`` times, timing each; all but the last
        result are passed to ``discard``. Returns the last."""
        out = None
        for i in range(reps):
            if out is not None:
                discard(out)
            t0 = time.perf_counter()
            out = make(i)
            self.setup_samples.append(time.perf_counter() - t0)
        self.mark("setup_done")
        return out

    def start_timed(self) -> None:
        if self.tracer is not None:
            self.jvm_before = jvm_stats(self.spark, reset_peak=True)
        self.mark("timed_start")
        self._t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def time_up(self) -> bool:
        return self.elapsed() >= self.seconds

    def whole_units(self, unit) -> int:
        """Run ``unit()`` repeatedly while another run of it is expected
        to end within the run length, and at least once, so every run
        measures whole units of the same mix. Returns the count."""
        n = 0
        while True:
            t0 = time.perf_counter()
            unit(n)
            n += 1
            if self.elapsed() + (time.perf_counter() - t0) > self.seconds:
                return n

    def stop_timed(self) -> None:
        self.timed_wall_s = self.elapsed()
        if self.tracer is not None:
            self.jvm_after = jvm_stats(self.spark)

    def op(self, kind: str, fn, *args, wire: bool = True,
           timed: bool = True) -> harness.Op:
        """One operation; an exception marks it failed. Untimed (warm-up)
        operations are checked and counted but not traced or timed."""
        op_id = len(self.log.ops)
        tracing = self.tracer is not None and timed
        if tracing:
            self.tracer.begin_op(op_id)
        t0 = time.perf_counter()
        value, error = None, None
        try:
            value = fn(*args)
        except Exception as ex:  # noqa: BLE001 - counted, run continues
            error = f"{kind}: {type(ex).__name__}: {str(ex)[:300]}"
        t1 = time.perf_counter()
        if tracing:
            self.tracer.end_op()
        op = self.log.add(kind, t0, t1, error is None, error)
        op.value, op.wire, op.timed = value, wire, timed
        if error:
            self.errors.append(error)
        return op

    def mismatch(self, op: harness.Op, why: str) -> None:
        op.ok = False
        op.error = why
        self.errors.append(why)


def jvm_stats(spark, reset_peak: bool = False) -> dict:
    """Cumulative GC seconds and peak heap use (MB) from the JVM's
    management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(max(b.getCollectionTime(), 0)
             for b in mf.getGarbageCollectorMXBeans()) / 1000.0
    heap = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().name()) != "HEAP":
            continue
        if reset_peak:
            pool.resetPeakUsage()
        heap += pool.getPeakUsage().getUsed() / 2**20
    return {"gc_s": gc, "heap_peak_mb": heap}


def _metric(value, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def end_to_end(ctx: Context, peak_rss: float, n_rss: int) -> dict:
    lat = summary(ctx.latencies or [])
    out = {
        "setup_s": _metric(statistics.median(ctx.setup_samples),
                           "s", len(ctx.setup_samples)),
        "latency_p50_s": _metric(lat["p50"], "s", lat["n"]),
        "latency_p90_s": _metric(lat["p90"], "s", lat["n"]),
    }
    count, secs = ctx.throughput
    out["throughput_ops_s"] = _metric(count / secs if secs else None,
                                      "1/s", int(count))
    if ctx.reads is not None:
        rd = summary(ctx.reads)
        out["read_p50_s"] = _metric(rd["p50"], "s", rd["n"])
        out["read_p90_s"] = _metric(rd["p90"], "s", rd["n"])
    else:
        out["read_p50_s"] = _metric(None, "s", 0)
        out["read_p90_s"] = _metric(None, "s", 0)
    attempted = len(ctx.log.ops)
    out["failed_ratio"] = _metric(
        ctx.log.failed() / attempted if attempted else None, "ratio",
        attempted)
    out["peak_rss_mb"] = _metric(peak_rss, "MB", n_rss)
    return {k: out[k] for k in END_TO_END}


def per_layer(ctx: Context) -> dict:
    """Per-layer metrics of a traced run: times and counts per timed
    operation, compactions per run, gauges as the workload sampled them."""
    tr = ctx.tracer
    ops = ctx.log.ops
    timed = [i for i, o in enumerate(ops) if o.timed]
    n = max(len(timed), 1)
    selfs = tr.self_times()

    def s(name):
        return selfs.get(name, (0.0, 0))

    out = {
        "plans.parse_s": (s("plans.parse")[0] / n, "s"),
        "plans.rewrite_s": (s("plans.rewrite")[0] / n, "s"),
        "plans.execute_self_s": (s("plans.execute")[0] / n, "s"),
        "plans.pgwire_self_s": (sum(
            (ops[i].end - ops[i].start) - tr.root_time(i)
            for i in timed if ops[i].wire) / n, "s"),
        "spark.analyze_s": (s("spark.analyze")[0] / n, "s"),
        "spark.optimize_s": (s("spark.optimize")[0] / n, "s"),
        "spark.execute_s": (s("spark.execute")[0] / n, "s"),
        "spark.jobs": (sum(tr.jobs.values()) / n, "count"),
        "spark.tasks": (sum(tr.tasks.values()) / n, "count"),
        "py4j.roundtrips": (sum(tr.py4j_calls.values()) / n, "count"),
        "py4j.wait_s": (sum(tr.py4j_wait.values()) / n, "s"),
        "ckpt.breaks": (s("ckpt.break")[1] / n, "count"),
        "ckpt.break_s": (s("ckpt.break")[0] / n, "s"),
        "catalog.register_table_s": (s("catalog.register_table")[0] / n,
                                     "s"),
        "streaming.on_batch_calls": (s("streaming.on_batch")[1] / n,
                                     "count"),
        "streaming.on_batch_s": (s("streaming.on_batch")[0] / n, "s"),
        "streaming.compactions": (float(len(tr.compactions)), "count"),
        "streaming.compaction_s": (sum(d for _, d in tr.compactions), "s"),
        "sources.tick_s": (s("sources.tick")[0] / n, "s"),
        "sources.poll_s": (s("sources.poll")[0] / n, "s"),
        "jvm.gc_s": ((ctx.jvm_after["gc_s"] - ctx.jvm_before["gc_s"]) / n,
                     "s"),
        "jvm.heap_used_peak_mb": (ctx.jvm_after["heap_peak_mb"], "MB"),
    }
    out.update(ctx.layers)
    return {k: _metric(v, u, len(timed)) for k, (v, u) in sorted(out.items())}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's scale factor")
    return p.parse_args(argv)


def load_bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args) -> tuple[dict, dict]:
    """Run one workload; returns (report, result line)."""
    if not os.path.isdir(os.path.join(ROOT, "materialize_spark")):
        raise SystemExit("perfbench: the materialize_spark package is not "
                         f"in {ROOT}; run from a full checkout")
    t_run = time.perf_counter()
    stamp = harness.env_stamp()
    dirs = harness.RunDirs(ROOT)
    harness.configure_env(ROOT, dirs)
    import importlib
    module = importlib.import_module(
        "perfbench." + {"adhoc_tpch": "adhoc", "mv_churn": "churn",
                        "kafka_upsert": "kafka"}[args.workload])
    spark = None
    tracer = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(dirs)
        stamp["engine_start_s"] = time.perf_counter() - t0
        rss = harness.RssSampler(
            [os.getpid(), harness.jvm_pid(spark)]).start()
        if args.trace:
            from perfbench.tracing import Tracer
            tracer = Tracer()
            tracer.install(spark)
        ctx = Context(spark, dirs, args.seed, args.seconds, tracer, args.sf)
        info = module.run(ctx)
        rss.stop()
        e2e = end_to_end(ctx, rss.peak(), len(rss.samples))
        layers = per_layer(ctx) if tracer is not None else None
        if tracer is not None:
            tracer.uninstall()
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"),
                        exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench", "traces",
                f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        dirs.remove()
    attempted = len(ctx.log.ops)
    failed = ctx.log.failed()
    stamp["timed_wall_s"] = ctx.timed_wall_s
    stamp["phases_s"] = ctx.phases
    stamp["run_wall_s"] = time.perf_counter() - t_run
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": stamp,
        "info": info, "end_to_end": e2e, "errors": ctx.errors[:5],
    }
    if layers is not None:
        report["per_layer"] = layers
        report["tracing_overhead"] = overhead(args, e2e)
    else:
        save_untraced(args, e2e)
    spec = load_bench_spec()
    names = [m["name"] for m in
             spec["per_layer" if args.trace else "end_to_end"]]
    source = layers if args.trace else e2e
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": source[k]["value"],
                        "unit": source[k]["unit"]} for k in names},
    }
    return report, result


def _results_path(args) -> str:
    d = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(d, exist_ok=True)
    sf = "" if args.sf is None else f"-sf{args.sf:g}"
    return os.path.join(d, f"{args.workload}-seed{args.seed}"
                           f"-{args.seconds:g}s{sf}-untraced.json")


def save_untraced(args, e2e: dict) -> None:
    with open(_results_path(args), "w") as f:
        json.dump(e2e, f)


def overhead(args, traced: dict) -> dict | None:
    """Traced end-to-end result minus the untraced one of the same
    workload, seed, run length and scale (None until such an untraced run
    has been made in this checkout)."""
    try:
        with open(_results_path(args)) as f:
            base = json.load(f)
    except OSError:
        return None
    out = {}
    for k, m in traced.items():
        b = base.get(k, {}).get("value")
        if m["value"] is not None and b is not None:
            out[k] = {"value": m["value"] - b, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    report, result = run(args)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
