#!/usr/bin/env python3
"""sparkcrawl benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_wide --seed 0 --seconds 20 --trace 0

Run from the repository root.  A run builds its inputs from ``--seed`` in
a fresh directory of its own (removed at exit), starts a local Spark
session on every core, runs a fixed warm-up, then measures the workload for
``--seconds`` seconds and checks every output against a reference computed
outside the timed window.  The last line on stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it holds diagnostics (host-speed readings, run shape).  Logs go to
stderr.  See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import atexit  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WORKLOADS = ("crawl_wide", "web_analytics")
HOST_LOOP_N = 6_000_000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times() -> list:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_speed_s() -> float:
    """Wall of a fixed single-core pure-Python loop (about 1 s): a
    diagnostic of host speed, never used to adjust a metric."""
    t = time.perf_counter()
    h = 0
    for i in range(HOST_LOOP_N):
        h = (h * 1315423911 + i) & 0xFFFFFFFFFFFF
    return time.perf_counter() - t


class Context:
    """Per-run state: the run directory and the Spark session."""

    def __init__(self, rundir: str):
        self.rundir = rundir
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.rundir, name)


def isolate(rundir: str) -> None:
    """Point every scratch location of this process, its JVM and its
    Python workers into ``rundir``, and pin native thread pools to 1."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(rundir, sub))
    tmp = os.path.join(rundir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "spark-local")
    # every JVM the launcher starts: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the repo root, not this directory, resolves imports (so module names
    # here never shadow the standard library's)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]


def start_spark(rundir: str, trace: bool, aqe: bool):
    from pyspark.sql import SparkSession
    cores = len(os.sched_getaffinity(0))   # what `nproc` counts
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("sparkcrawl-perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(max(2 * cores, 16)))
         .config("spark.sql.adaptive.enabled", str(aqe).lower())
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(rundir, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(rundir, "warehouse")))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.join(rundir, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", choices=("bench", "tiny"), default="bench",
                    help="input size: bench (benchmark runs), tiny (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkcrawl")):
        log(f"no sparkcrawl package under {ROOT}: run from a full checkout")
        return 2

    cpu_before = cpu_times()
    speed_before = host_speed_s()
    os.makedirs(RUNS_DIR, exist_ok=True)
    rundir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-",
                              dir=RUNS_DIR)
    atexit.register(shutil.rmtree, rundir, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    isolate(rundir)

    from perfbench import spans, workloads
    tracing = bool(args.trace)
    tracer = spans.Tracer()
    if tracing:
        tracer.install()

    ctx = Context(rundir)
    t = time.perf_counter()
    # crawl rounds run with AQE off (the engine's measured rule); the query
    # suite runs with it on, as bench.py configures it
    analytics = args.workload == "web_analytics"
    ctx.spark = start_spark(rundir, tracing, aqe=analytics)
    setup = {"setup.session_s": time.perf_counter() - t}
    try:
        shape = (workloads.ANALYTICS if analytics else workloads.CRAWL)[args.shape]
        if analytics:
            setup.update(workloads.setup_analytics(ctx, shape))
        else:
            setup.update(workloads.setup_crawl(ctx, shape))
        # process start to the first timed operation, less the host-speed
        # reading (a diagnostic, not set-up work)
        setup_s = time.perf_counter() - T_START - speed_before
        log(f"setup {setup_s:.2f}s {setup}")

        if analytics:
            res = workloads.measure_analytics(ctx, shape, args.seed, args.seconds)
        else:
            res = workloads.measure_crawl(ctx, shape, args.seed, args.seconds)
        rss = jvm_peak_rss_mb(ctx.spark)
        kernels = workloads.kernel_rates() if tracing else {}
    finally:
        stop_spark(ctx.spark)

    items_per_s, round_p50 = res["items_per_s"], res["round_p50_s"]
    if tracing:
        layers = tracer.layer_metrics(res["t_lo"], res["t_hi"],
                                     res.get("summaries", []),
                                     res.get("workdirs", []))
        layers.update(spans.spark_metrics(
            spans.read_event_log(ctx.path("eventlog")), res["t_lo"],
            res["t_hi"], tracer.round_windows(res["t_lo"], res["t_hi"])))
        layers.update(workloads.query_metrics(res.get("spans", [])))
        layers.update(kernels)
        layers.update(setup)
        layers["trace.items_per_s"] = items_per_s
        layers["jvm_peak_rss_mb"] = rss
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {
            "items_per_s": {"value": items_per_s, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_p50_s": {"value": round_p50, "unit": "s"},
        }
    diag = dict(res["diag"], workload=args.workload, seed=args.seed,
                trace=args.trace, window_s=res["t_hi"] - res["t_lo"],
                setup_parts=setup, jvm_peak_rss_mb=rss,
                host_speed_s={"before": speed_before, "after": host_speed_s()},
                # share of the host's CPU time taken by other guests
                cpu_steal_pct=steal_pct(cpu_before, cpu_times()))
    print(json.dumps({"diagnostics": diag}), flush=True)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}), flush=True)
    return 0


def steal_pct(before: list, after: list) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
