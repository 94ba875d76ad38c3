#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one fresh Spark JVM.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository.  The run

1. starts Spark on ``--master`` with its local dirs, temp files, catalog
   and inputs under ``.perfbench_work/`` in the checkout (removed at exit);
2. generates the workload's inputs and references from ``--seed``, then
   builds its catalog under a fresh root;
3. runs the workload's fixed, untimed warm-up of ``WARMUP_OPS`` ops, then
   a full garbage collection, and reads the heap still in use: the memory
   the run retains after the same work in every run;
4. runs the op sequence with one client for ``--seconds`` seconds, then on
   to the end of the workload's op pattern period, so that every run
   measures whole periods of the same mix; it checks every op's output;
5. prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
   of a traced run (``--trace 1``) as the last line of stdout, and a detail
   line (op count, warm-up, tail percentile) on stderr.

It exits with status 2, printing no result, when the engine package is not
in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import sys
import time
import traceback

os.environ["TZ"] = "UTC"
time.tzset()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import measure  # noqa: E402
import workloads  # noqa: E402

# Untimed warm-up ops per workload.  levelling.py suggests, from the curves
# in levelling.json, the first op from which no later pattern period runs
# more than 15% faster.  For dedup_pipeline that is used as it is; for
# search_mix, whose latency keeps falling slowly for minutes, the time
# budget of a run caps it at three periods, which run each corpus query
# once.  The README gives how far the window sits above the curves' last
# level.
WARMUP_OPS = {"search_mix": 36, "dedup_pipeline": 6}
DRIVER_MEMORY = "1g"
PACKAGE = "elasticsearch_hadoop_spark"


def start_spark(master: str, work: str):
    """A fresh Spark session whose local dirs and temp files live in ``work``."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # no hsperfdata files in the system temp dir from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # wins over spark.local.dir
    from elasticsearch_hadoop_spark.session import get_spark

    cores = master.removeprefix("local[").removesuffix("]")
    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=int(cores) if cores.isdigit() else None,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def live_heap_mb(spark) -> float:
    """Heap the driver JVM still uses after a full collection, in MB.
    Python's collection first drops the JVM objects only Python still
    references; the pause lets Spark's context cleaner release the
    shuffles, broadcasts and RDDs the first JVM collection found
    unreachable, and the second collection frees them."""
    gc.collect()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def run_op(wl, op) -> tuple[float, bool]:
    """Run and check one op: its latency in ms and whether its output is
    right.  An op that raises, or whose output cannot be checked, failed."""
    t0 = time.perf_counter()
    try:
        result = wl.run(op)
    except Exception:
        traceback.print_exc()
        return (time.perf_counter() - t0) * 1000.0, False
    ms = (time.perf_counter() - t0) * 1000.0
    try:
        return ms, bool(wl.check(op, result))
    except Exception:
        traceback.print_exc()
        return ms, False


def measure_run(args, work: str) -> dict:
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    t0 = time.perf_counter()
    spark = start_spark(args.master, work)
    spark_s = time.perf_counter() - t0
    try:
        if tracer:
            tracer.attach(spark)
        wl = workloads.WORKLOADS[args.workload](args.seed)
        t0 = time.perf_counter()
        wl.prepare(spark, os.path.join(work, "inputs"))
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.build(os.path.join(work, "catalog"))
        build_s = time.perf_counter() - t0
        if tracer:
            tracer.pause()

        seq = wl.ops()
        warm_n = WARMUP_OPS[args.workload] if args.warmup is None else args.warmup
        if warm_n % wl.period:
            raise ValueError(f"warm-up of {warm_n} ops is not whole periods of {wl.period}")
        t0 = time.perf_counter()
        failed_warm = sum(not run_op(wl, op)[1] for op in itertools.islice(seq, warm_n))
        warm_s = time.perf_counter() - t0
        # read at a fixed op count, not after the timed window: the JVM keeps
        # blocks of every op, so a faster engine running more ops in the
        # window would otherwise read as a memory regression.  The peak
        # resident set is only reported: it follows the collector's heap
        # sizing more than the workload (see the README)
        rss_mb = measure.jvm_hwm_mb(jvm_pid(spark)) + measure.self_hwm_mb()
        heap_mb = live_heap_mb(spark)

        lat_ms: list[float] = []
        kinds: list[str] = []
        failed = 0
        if tracer:
            tracer.start_window()
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(lat_ms) % wl.period:
            op = next(seq)
            if tracer:
                tracer.begin_op(len(lat_ms))
            ms, ok = run_op(wl, op)
            if tracer:
                tracer.end_op()
            lat_ms.append(ms)
            kinds.append(op.kind)
            failed += not ok
        busy_s = time.perf_counter() - start
        rss_window_mb = measure.jvm_hwm_mb(jvm_pid(spark)) + measure.self_hwm_mb()

        n = len(lat_ms)
        if tracer:
            metrics = tracer.metrics(wl, lat_ms)
        else:
            metrics = {
                "setup_s": {"value": spark_s + prepare_s + build_s + warm_s, "unit": "s"},
                "op_p50_ms": {"value": measure.percentile(lat_ms, 50), "unit": "ms"},
                "ops_per_s": {"value": n / busy_s, "unit": "1/s"},
                "heap_live_mb": {"value": heap_mb, "unit": "MB"},
            }
        # only for --detail (it costs a second); after the traced metrics,
        # whose GC time and storage it would change
        heap_window_mb = live_heap_mb(spark) if args.detail else None
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": n,
            "docs_per_op": wl.docs_per_op,
            "warmup_ops": warm_n,
            "spark_start_s": spark_s,
            "prepare_s": prepare_s,
            "build_s": build_s,
            "warmup_s": warm_s,
            "rss_after_warmup_mb": rss_mb,
            "rss_after_window_mb": rss_window_mb,
            "heap_live_after_window_mb": heap_window_mb,
            "highest_supported_percentile": measure.highest_supported(n),
            "op_p90_ms": measure.percentile(lat_ms, 90) if measure.supported(n, 90) else None,
            "latencies_ms": lat_ms,
            "kinds": kinds,
        }
        return {
            "detail": detail,
            "result": {
                "correct": failed == 0 and failed_warm == 0,
                "attempted": n,
                "failed": failed,
                "metrics": metrics,
            },
        }
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--warmup", type=int, default=None, help="warm-up ops (default: WARMUP_OPS)")
    ap.add_argument("--detail", default=None, help="also write the run's detail, with every op latency, as JSON here")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        out = measure_run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    detail = out["detail"]
    if args.detail:
        with open(args.detail, "w") as f:
            json.dump(detail, f)
    brief = {k: v for k, v in detail.items() if k not in ("latencies_ms", "kinds")}
    print(json.dumps(brief), file=sys.stderr)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
