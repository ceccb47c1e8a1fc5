"""Benchmark of dragnet-spark's verbs: ``dn scan`` / ``dn build`` /
``dn query`` over generated NDJSON (and, traced, the job-heavy registry
entries).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The seed fixes the generated inputs
(cached under ``.perfbench/`` by seed and size, outside every metric).
One Spark session on ``local[<cores>]`` serves the whole run. Every
answer is checked; the run exits 1 if any check fails.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds BENCHMARK.json's
``end_to_end`` metrics with ``--trace 0`` and its ``per_layer``
metrics with ``--trace 1``. The line before it is the run's context
(cores, master, parallelism, seed, input sizes, pyspark version and
the workload's metrics under the names of the verbs they time); both
are appended to ``.perfbench/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "1g"
# call_tail_s: the nearest-rank percentile of the run's calls
TAIL = 0.75


def _vm_hwm_mb(pid: int | str) -> float:
    with open("/proc/%s/status" % pid) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for pid %s" % pid)


def _environment(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a bounded driver heap keeps the JVM small on a shared host; making
    # it whole and touched at launch keeps its peak RSS from depending on
    # when the collector ran, so peak_rss_mb moves with off-heap and
    # Python memory (heap use shows in spark.gc_s)
    os.environ["DRAGNET_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options '-Xms%s -XX:+AlwaysPreTouch' pyspark-shell" % DRIVER_MEM)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData")))


def start_session():
    """Start Spark the way ``dn`` does, then restart the session on the
    running JVM ``SETUPS`` times. Returns (spark, cold start seconds,
    session set-up seconds of each restart)."""
    from dragnet_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="dn")
    spark.range(1).count()
    cold = time.perf_counter() - t0
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark.stop()
        spark = get_spark(app_name="dn")
        spark.range(1).count()
        setups.append(time.perf_counter() - t0)
    return spark, cold, setups


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


class Loop:
    """Attempts, failures and timings of one closed loop."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.calls: list[float] = []
        self.batches: list[float] = []

    def run_round(self, ops, tracer=None) -> None:
        total = batch = 0.0
        has_batch = False
        for op in ops:
            t0 = time.perf_counter()
            try:
                dt, ok = op.run(tracer)
            except Exception:  # a failed call is counted, and the loop goes on
                traceback.print_exc()
                dt, ok = time.perf_counter() - t0, False
            self.attempted += 1
            if not ok:
                self.failed += 1
                print("perfbench: %s failed or answered wrong" % op.label,
                      file=sys.stderr)
            total += dt
            if op.batch:
                batch += dt
                has_batch = True
            else:
                self.calls.append(dt)
        self.batches.append(batch if has_batch else total)

    def run_for(self, wl, seconds: float, min_rounds: int, tracer=None) -> "Loop":
        t0 = time.perf_counter()
        while True:
            self.run_round(wl.round(), tracer)
            if (len(self.batches) >= min_rounds
                    and time.perf_counter() - t0 >= seconds):
                return self


def verb_metrics(name: str, wl, loop: Loop) -> dict:
    """The workload's end-to-end numbers under the names of the verbs
    they time, for the context line."""
    import workloads as W

    p50, tail, batch = median(loop.calls), W.percentile(loop.calls, TAIL), median(loop.batches)
    if name == "ndjson_scan":
        return {"scan_rec_per_s": wl.tallies.valid * len(W.SCAN_MIX) / batch,
                "window_p50_s": p50, "window_tail_s": tail}
    return {"build_s": batch, "query_p50_s": p50, "query_tail_s": tail,
            "index_bytes_per_raw_byte": wl.context()["index_bytes_per_raw_byte"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dragnet_spark", "cli.py")):
        print("perfbench: no dragnet_spark package in %s" % ROOT, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench")
    cores = len(os.sched_getaffinity(0))
    _environment(work, cores)
    sys.path.insert(1, ROOT)
    import pyspark
    import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error("unknown workload %r (one of %s)" % (args.workload, ", ".join(W.WORKLOADS)))
    wl = W.WORKLOADS[args.workload](work, args.seed)
    wl.prepare()

    spark, cold_s, setups = start_session()
    try:
        wl.configure(spark)
        warm = Loop()
        warm.run_round(wl.warm_up())
        # a traced run reports no end-to-end metric; its untraced loop
        # is only the base of the tracing overhead, so one round will do
        rounds = 1 if args.trace else wl.min_rounds
        loop = Loop().run_for(wl, args.seconds, rounds)
        per_layer = {}
        if args.trace:
            tracer = W.Tracer(spark, cores)
            traced = Loop().run_for(wl, args.seconds, rounds, tracer)
            probed = Loop()
            for op in wl.probes(tracer):
                probed.run_round([op], tracer)
            per_layer = W.summarize(tracer)
            per_layer["session.cold_start_s"] = cold_s
            per_layer["trace.overhead_frac"] = median(traced.calls) / median(loop.calls) - 1
            loops = (warm, loop, traced, probed)
        else:
            loops = (warm, loop)
        rss = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self")
        sc = spark.sparkContext
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "pyspark": pyspark.__version__, "session_cold_start_s": cold_s,
            "calls": len(loop.calls), "batches": len(loop.batches),
            "call_tail_percentile": TAIL, **wl.context(),
            **verb_metrics(args.workload, wl, loop),
        }
    finally:
        stop_session(spark)
    if args.trace and args.workload == "ndjson_scan":
        probe = subprocess.run(
            [sys.executable, os.path.join(HERE, "rss_250k.py"), str(args.seed)],
            capture_output=True, text=True, timeout=150)
        context["rss_250k_count_scan"] = {
            **json.loads(probe.stdout.splitlines()[-1]), "reference_kb": 90_000}

    attempted = sum(x.attempted for x in loops)
    failed = sum(x.failed for x in loops)
    context["failed_frac"] = failed / attempted
    e2e = {"setup_s": median(setups), "peak_rss_mb": rss,
           "call_p50_s": median(loop.calls),
           "call_tail_s": W.percentile(loop.calls, TAIL),
           "batch_s": median(loop.batches)}
    if args.trace:  # a layer the workload never calls reads 0
        metrics = {m["name"]: {"value": per_layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(work, "results.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
