"""Layered benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload ingest_day --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. A run is one process holding one
``local[nproc]`` SparkSession, driven closed-loop: the next op starts when
the previous one returns. Order of a run:

1. set-up: process start until ``get_spark()`` has finished a trivial job
   (``setup_s``, wall seconds);
2. input generation from ``--seed`` (not timed);
3. the first op, cold (``first_op_cpu_s``);
4. ops for ``--seconds``, and at least ``WARM_OPS`` of them
   (``op_cpu_s``);
5. the correctness check (not timed), then Spark is stopped.

An op's cost is the CPU seconds (user + system) that this process, the
driver JVM and the Python workers spend on it, read from ``/proc``. The
kernel does not charge a process for time the hypervisor gives to other
guests, so on a shared host this stays put where wall time swings with the
neighbours' load. ``op_cpu_s`` is the mean over the first ``WARM_OPS``
ops after the cold one. The JVM is still compiling hot code during them,
and on a slow host that work lands one op later; a sum over a fixed count
of ops keeps it, where the cost of any single op moves with it. Wall times
(``first_op_s``, and ``op_s_p50`` over every op after the cold one), the
host's CPU steal per op, ``rows_per_s``, ``error_rate`` and
``peak_rss_mb`` are printed and kept in the record.

Every op counts toward ``attempted``; an op that raises, or whose output
fails a check, counts toward ``failed`` (``error_rate`` is their ratio).
``peak_rss_mb`` is the peak memory (summed PSS) of this process, the
driver JVM and the Python workers over steps 3-4.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns Spark's
monitoring REST API on, alternates traced and untraced ops, and prints the
per-layer metrics plus the tracing overhead (traced minus untraced op
median). On ``ingest_day`` it then makes one traced op into ``JdbcSink``
(the ``jdbc.*`` metrics).

The last stdout line is the result JSON; the line before it,
``record {...}``, holds the run's environment, host-load evidence and raw
samples.
"""

import time

T0 = time.perf_counter()  # process start, as near as Python gets to it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_from_s3_to_postgresql_template_spark"

DRIVER_MEM = "4g"  # fits a 15 GB host next to other tenants
CALIB_ITERS = 5_000_000
WARM_OPS = 4  # ops after the cold one that op_cpu_s averages; their cost still falls
SELF_SUM_TOLERANCE = 0.02  # |sum of span self times / op wall - 1| on each traced op


def pin_environment(work: str) -> dict[str, str]:
    """Set the variables the engine and its Python workers read; return
    them for the record."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # workers import the engine; they start outside the checkout root
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files (and Derby's log) inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    return conf


def start_spark(work: str, traced: bool):
    sys.path.insert(0, ROOT)
    from etl_from_s3_to_postgresql_template_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(work, traced))
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over all CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibrate() -> float:
    """Fixed single-core busy loop; its seconds show how fast the host ran."""
    t = time.perf_counter()
    x = 0
    for i in range(CALIB_ITERS):
        x += i
    return time.perf_counter() - t


def timed_op(wl, tracer=None) -> tuple[float, float, float, bool]:
    """Run one op; return its wall seconds, the CPU seconds of this process
    tree, the host's CPU steal seconds during it, and whether it passed."""
    import counters

    cpu, steal = counters.tree_cpu_s(os.getpid()), cpu_steal_s()
    t = time.perf_counter()
    try:
        ok = wl.run_op(tracer)
    except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        wl.failures.append(f"op {getattr(wl, 'ops', '?')}: {traceback.format_exc(limit=1).strip()}")
        ok = False
    wall = time.perf_counter() - t
    cpu, steal = counters.tree_cpu_s(os.getpid()) - cpu, cpu_steal_s() - steal
    wl.after_op()
    return wall, cpu, steal, ok


def run(args, work: str) -> int:
    import counters
    import layers
    import workloads
    from spans import Tracer

    pinned = pin_environment(work)
    load_start = os.getloadavg()
    steal_start = cpu_steal_s()
    spark = start_spark(work, traced=bool(args.trace))
    setup = time.perf_counter() - T0
    calib = calibrate()
    sc = spark.sparkContext
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
    wl.prepare()
    tracer = Tracer(lambda: counters.max_job_id(sc)) if args.trace else None

    walls: list[float] = []  # every op after the first
    cpus: list[float] = []
    steals: list[float] = []
    untraced: list[float] = []
    traced_ops: list[tuple[float, list]] = []  # (wall, spans) per traced op
    with counters.RssSampler(os.getpid()) as rss:
        first, first_cpu, first_steal, ok = timed_op(wl)
        attempted, failed = 1, int(not ok)
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(walls) < WARM_OPS:
            # the traced run alternates traced and untraced ops in the order
            # T U U T, so that ops still speeding up weigh on both sides alike
            use = tracer if tracer is not None and len(walls) % 4 in (0, 3) else None
            wall, cpu, steal, ok = timed_op(wl, use)
            attempted, failed = attempted + 1, failed + (not ok)
            walls.append(wall)
            cpus.append(cpu)
            steals.append(steal)
            if use is None:
                untraced.append(wall)
            else:
                traced_ops.append((wall, use.take()))
        peak_rss_mb = rss.peak_bytes / counters.MB

    if not wl.check():
        failed += 1  # the last op's output is wrong
    layer = {}
    if tracer is not None:
        layer, bad = layers.per_layer(sc, traced_ops, untraced, SELF_SUM_TOLERANCE)
        wl.failures += bad
        failed += len(bad)
        jdbc: dict[str, float] = {}
        if isinstance(wl, workloads.Ingest):
            jdbc, bad = workloads.jdbc_op(spark, work, args.seed, lambda: counters.max_job_id(sc))
            wl.failures += bad
            attempted, failed = attempted + 1, failed + bool(bad)
        layer |= layers.jdbc_layer(jdbc)
    load_end_run = os.getloadavg()
    stop_spark(spark)

    e2e = {
        "setup_s": (setup, "s", 1),
        "first_op_cpu_s": (first_cpu, "s", 1),
        "op_cpu_s": (statistics.fmean(cpus[:WARM_OPS]), "s", WARM_OPS),
    }
    # printed, not in the result: wall times swing with the host's CPU steal
    # by more than any bound allows, error_rate is 0 when all is well
    # (``failed``/``attempted`` carry it), rows_per_s exists on the ingest
    # workload only, and peak_rss_mb swings too much from run to run to hold
    # a bound (GC timing decides how far the JVM heap grows)
    extra = {
        "first_op_s": (first, "s", 1),
        "op_s_p50": (statistics.median(walls), "s", len(walls)),
        "op_steal_s_p50": (statistics.median(steals), "s", len(steals)),
        "error_rate": (failed / attempted, "ratio", attempted),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }
    if wl.rows_per_op:
        extra["rows_per_s"] = (wl.rows_per_op * len(walls) / sum(walls), "rows/s", len(walls))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} seconds {args.seconds}")
    for name, (value, unit, n) in (e2e | extra).items():
        print(f"  {name:<14} {value:14.4f} {unit:<7} n={n}")
    for name, (value, unit) in layer.items():
        print(f"  {name:<52} {value:14.4f} {unit}")
    for f in wl.failures:
        print(f"  FAILED {f}")
    record = {
        "env": pinned,
        "driver_conf": spark_conf(work, bool(args.trace)),
        "loadavg_start": load_start,
        "loadavg_end": load_end_run,
        "calib_loop_sec": calib,
        "cpu_steal_s": cpu_steal_s() - steal_start,
        "calib_iterations": CALIB_ITERS,
        "setup_s": setup,
        "first_op_s": first,
        "first_op_cpu_s": first_cpu,
        "first_op_steal_s": first_steal,
        "op_samples": walls,
        "op_cpu_samples": cpus,
        "op_steal_samples": steals,
        "peak_rss_mb": peak_rss_mb,
        "rows_per_op": wl.rows_per_op,
        "rows_only_checked": getattr(wl, "rows_only", []),
        "error_rate": failed / attempted,
        "self_sum_tolerance": SELF_SUM_TOLERANCE,
        "failures": wl.failures,
        "run_s": time.perf_counter() - T0,
    }
    print("record " + json.dumps(record))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "pipeline.py")):
        print(f"perfbench: engine package {PKG}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
