"""End-to-end and per-layer benchmark of great_expectations_spark.

    python3 perfbench/run.py --workload suite_lineitem --seed 1 --seconds 30 --trace 0

Run it from the root of a source checkout. Each run is one fresh process with
its own local[4] JVM: it starts the session, generates the inputs from
``--seed``, runs one cold operation, warms up, then measures a closed loop
with one client for ``--seconds`` (and at least ``MIN_OPS`` operations).
Every operation's result is checked against ``expected.json``. The last line
of standard output is one JSON object; ``--trace 0`` reports the end-to-end
metrics and ``--trace 1`` the per-layer ones, from a run with Spark's event
log on and timing proxies around the public calls.

The JVM runs with the C1 compiler only and serial GC (see ``_session``),
which no user of the library does: a JVM-side gain measured here must be
checked again under the default tiered JIT before it is claimed.

Everything the run writes goes to ``.perfbench_work/<pid>`` in the checkout,
which is removed at exit. On every way out, SIGTERM included, the run stops
the JVM and the Python workers and waits for each to end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
# With the default tiered JIT the JVM took about 20 operations to settle,
# more than a run's time budget holds; with the C1-only JIT (see _session)
# each workload settles within its own ``warmup_ops`` untimed operations.
# 21 samples is the least for which the tail percentile (10 samples beyond
# it) is at or above the median.
MIN_OPS = 21
TAIL_BEYOND = 10
# Stop measuring at this process age whatever the sample count, so the run
# ends within its 180 s limit.
DEADLINE_S = 150.0


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM of spark-submit would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def _session(work: str, event_log: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # a fixed heap well under the host's RAM, which has no swap
        "spark.driver.memory": "2g",
        # C1 only: steady within a few operations instead of ~20,
        # at the price of weaker JIT code than a real caller's JVM runs.
        # Serial GC with a fixed young generation: peak RSS and CPU time
        # then repeat from run to run (G1's adaptive sizing moved peak RSS
        # by a quarter between runs of the same workload).
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms2g -Xmn256m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
    }
    if event_log:
        os.makedirs(conf["spark.eventLog.dir"])
    b = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_op(w, i: int) -> tuple[float, list[str]]:
    """Latency of operation ``i`` and what its check found wrong."""
    t0 = time.perf_counter()
    try:
        result = w.op(i)
    except Exception as e:  # a failed operation is counted, not fatal
        return time.perf_counter() - t0, [f"raised {type(e).__name__}: {e}"]
    dt = time.perf_counter() - t0
    return dt, w.check(result)


def _tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with TAIL_BEYOND samples above it."""
    s = sorted(lat)
    k = len(s) - TAIL_BEYOND  # 1-based rank of the tail sample
    return 100.0 * k / len(s), s[k - 1]


E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _measure(args, work: str, expected: dict) -> dict:
    """Set up, warm up and measure one workload; returns the raw figures."""
    from perfbench import procstats, tracing
    from perfbench.workloads import WORKLOADS

    r: dict = {"problems": [], "failed": 0, "attempted": 0}

    def run_op(i: int) -> float:
        dt, errs = _run_op(w, i)
        r["failed"] += bool(errs)
        r["attempted"] += 1
        r["problems"] += errs
        return dt

    spark = tracer = None
    try:
        spark = _session(work, event_log=bool(args.trace))
        setup = {"setup.session_s": procstats.process_age_s()}
        w = WORKLOADS[args.workload](spark, work, args.seed, expected)
        t0 = time.perf_counter()
        w.setup()
        setup["setup.input_s"] = time.perf_counter() - t0
        setup["setup.cold_op_s"] = run_op(0)
        r["setup_s"] = procstats.process_age_s()
        r["setup"] = setup

        warm_t0 = time.perf_counter()
        for i in range(1, w.warmup_ops + 1):
            run_op(i)
        r["warm"] = (w.warmup_ops, time.perf_counter() - warm_t0)

        if args.trace:
            tracer = tracing.Tracer(spark)
        lat, traced, plain, compile_times = [], [], [], []
        load = procstats.HostLoad()
        cpu0 = procstats.tree_cpu_s()
        t_start = time.perf_counter()
        i = w.warmup_ops
        while procstats.process_age_s() < DEADLINE_S:
            if len(lat) >= MIN_OPS and time.perf_counter() - t_start >= args.seconds:
                break
            i += 1
            # the traced run interleaves traced and untraced operations, so
            # the difference of their medians is the tracing overhead
            if tracer is not None and i % 2 == 0:
                with tracer.op(i):
                    dt = run_op(i)
                traced.append(dt)
                compile_times.append(tracing.compile_s(w, i))
            else:
                dt = run_op(i)
                plain.append(dt)
            lat.append(dt)
        r["window_s"] = time.perf_counter() - t_start
        r["cpu_s"] = procstats.tree_cpu_s() - cpu0
        r["host"] = load.external_cores()
        r["peak_rss_mb"] = procstats.tree_peak_rss_mb()
        r["lat"], r["rows"] = lat, w.rows
    finally:
        if tracer is not None:
            tracer.close()
        if spark is not None:
            spark.stop()
    if args.trace:
        layers, varying = tracing.layer_metrics(
            tracer.ops, tracing.spark_per_op(os.path.join(work, "events")), compile_times
        )
        layers.update(setup)
        r["layers"] = layers
        r["overhead"] = (median(traced) - median(plain), len(traced), len(plain))
        if varying:
            r["problems"].append(f"exact counts varied between operations: {varying}")
    return r


def _stop_processes() -> None:
    """Stop the Spark context and the JVM, and wait until it and every
    Python worker have ended, so no process of the run outlives it."""
    from pyspark import SparkContext

    from perfbench import procstats

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                proc = getattr(gateway, "proc", None)
                if proc is not None and proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin ends
        left = procstats.end_all()
        if left:
            print(f"perfbench: processes {left} survived SIGKILL", file=sys.stderr)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "great_expectations_spark", "__init__.py")):
        print(f"perfbench: no great_expectations_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import procstats

    args = _parse(argv)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    # a SIGTERM unwinds through the finally below instead of killing the
    # run with its JVM still up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    procstats.adopt_orphans()
    _environment(work)
    try:
        r = _measure(args, work, expected)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    lat, problems = r["lat"], r["problems"]
    n = len(lat)
    if n < MIN_OPS:
        problems.append(f"only {n} operations measured before the deadline, {MIN_OPS} needed")
    tail_pct, tail = _tail(lat) if n > TAIL_BEYOND else (100.0, max(lat))
    p50 = median(lat)
    if tail < p50:
        problems.append("latency_tail_s < latency_p50_s")
    e2e = {
        "setup_s": r["setup_s"],
        "latency_p50_s": p50,
        "latency_tail_s": tail,
        "rows_per_s": r["rows"] * n / r["window_s"],
        "cpu_s_per_op": r["cpu_s"] / n,
        "peak_rss_mb": r["peak_rss_mb"],
    }

    half = max(n // 2, 1)
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} local[{CORES}]")
    print(f"  warm-up: {r['warm'][0]} ops in {r['warm'][1]:.1f} s; measured: {n} ops in {r['window_s']:.1f} s")
    print(f"  tail: p{tail_pct:.1f} over {n} samples, {TAIL_BEYOND} beyond it")
    print(f"  drift: second-half median / first-half median = {median(lat[half:] or lat) / median(lat[:half]):.3f}")
    print("  host: {:.2f} busy cores outside this process tree, {:.2f} stolen, during the window".format(*r["host"]))
    print("  setup: " + ", ".join(f"{k.split('.')[1]} {v:.2f} s" for k, v in r["setup"].items()))
    print(f"  failed_share: {r['failed']}/{r['attempted']} = {r['failed'] / r['attempted']:.3f}")
    for p in problems[:10]:
        print(f"  PROBLEM: {p}")
    for k, v in e2e.items():
        print(f"  {k:<30} {v:>14.4f} {E2E_UNITS[k]}")
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if args.trace:
        from perfbench.tracing import UNITS

        # the event log is on for the whole run, so its cost is not in this
        # figure: compare latency_p50_s with a --trace 0 run of the same seed
        print("  tracing overhead without the event log: traced - untraced latency_p50_s = {:+.4f} s "
              "({} traced, {} untraced ops)".format(*r["overhead"]))
        for k, v in r["layers"].items():
            print(f"  {k:<30} {v:>14.4f} {UNITS[k]}")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in r["layers"].items()}
    print(json.dumps({"correct": not problems, "attempted": r["attempted"], "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
