"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One Python process drives Spark
``local[k]`` (k = min(4, cores)) through one closed-loop client: the
next operation starts only after the previous one returned. Inputs come
from ``--seed`` (perfbench/gen.py); every result is checked against the
DuckDB oracle after the timed loop. The last line of standard output is
the result object; the line before it is the full record (input
properties, every workload metric with its unit, error rate, host
contention). Exits 1 when any operation failed or returned wrong rows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import HostSampler, SparkTrace, descendants  # noqa: E402

WORKLOADS = ("dashboard", "curate")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mib": "MiB",
}

PER_LAYER = {
    "dsl.parse_ms": "ms",
    "database.to_df_ms": "ms",
    "database.plan_reuse_ratio": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.job_wall_ms": "ms",
    "spark.collect_ms": "ms",
    "sql.scan_rows": "count",
    "sql.scan_files": "count",
    "sql.rows_per_result": "ratio",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "tag_index.series_selected": "count",
    "tag_index.index_path_ratio": "ratio",
    "ingest.write_batch_s": "s",
    "ingest.files_written": "count",
    "ingest.bytes_written": "B",
    "ingest.series_new": "count",
    "maintenance.bytes_rewritten_per_live_byte": "ratio",
    "maintenance.files_before": "count",
    "maintenance.files_after": "count",
    "dedup.exact_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.bloom_against_s": "s",
    "dedup.paragraph_s": "s",
    "text.quality_s": "s",
    "dedup.bloom_fp_estimate": "ratio",
    "dedup.removed_per_planted": "ratio",
    "host.steal_s": "s",
    "host.cpu_pressure_s": "s",
    "host.rss_jvm_mib": "MiB",
    "host.rss_python_mib": "MiB",
    "trace.op_p50_ms": "ms",
    "trace.self_ms": "ms",
}

# units of the workload metrics in the full record
RECORD_UNITS = {
    "setup_s": "s", "query_p50_ms": "ms", "query_tail_ms": "ms",
    "queries_per_s": "1/s", "ingest_points_per_s": "1/s", "compact_s": "s",
    "docs_per_s": "1/s", "peak_rss_mib": "MiB", "bytes_per_point": "B",
    "error_rate": "ratio", "pass_p50_ms": "ms",
    "refresh_p50_ms": "ms", "loop_steal_s": "s", "loop_cpu_pressure_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """The session the benchmark drives; every file Spark, the JVM and
    Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # glibc's per-thread malloc arenas make resident memory depend on
    # which threads happened to allocate; two arenas keep it to the work
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # single-file inputs would otherwise scan as one task
    os.environ["TALNA_MIN_SCAN_TASKS"] = str(cores)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark"))
        # a fixed heap layout: G1 sizes its generations from GC pause
        # times, so peak memory followed host contention from run to run
        # (1.2-1.7 GiB for the same work); the serial collector with a
        # fixed young generation touches pages as the work needs them
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:+UseSerialGC -Xms2g -Xmn256m")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the same committer and listing settings as bench.py
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops the session, the JVM and the Python workers, and waits
    until each has ended."""
    from pyspark import SparkContext

    procs = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import talna_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.curate import curate

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = min(4, os.cpu_count() or 1)
    host = HostSampler().start()
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, work=work,
            session_s=time.perf_counter() - t0,
            tracer=SparkTrace(spark) if args.trace else None, host=host,
        )
        run = {"dashboard": workloads.dashboard, "curate": curate}[args.workload]
        res = run(ctx)
    finally:
        host.stop()
        workloads.log("stopping")
        stop_spark(spark)
        workloads.log("stopped")
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    res.e2e["peak_rss_mib"] = host.peak_mib
    rec = res.record
    rec.update(
        peak_rss_mib=host.peak_mib,
        error_rate=res.failed / max(1, res.attempted),
        host={"steal_s": host.steal_s, "cpu_pressure_s": host.cpu_pressure_s,
              "rss_jvm_mib": host.peak_jvm_mib,
              "rss_python_mib": host.peak_python_mib},
    )
    if args.trace:
        res.layers.update({
            "host.steal_s": host.steal_s,
            "host.cpu_pressure_s": host.cpu_pressure_s,
            "host.rss_jvm_mib": host.peak_jvm_mib,
            "host.rss_python_mib": host.peak_python_mib,
            "trace.op_p50_ms": res.e2e["op_p50_ms"],
            "trace.self_ms": ctx.tracer.self_s * 1e3 / max(1, res.attempted),
        })
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    units = {k: RECORD_UNITS[k] for k in rec if k in RECORD_UNITS}
    print(json.dumps({"record": {"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "k": cores, **rec,
                                 "units": units}}))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
