"""perfbench: end-to-end and per-layer benchmark of the victorialogs_spark
engine.

    python3 perfbench/run.py --workload query_pruned --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it builds nothing and imports the
engine from ``./victorialogs_spark``. Workloads (see workloads.py):

- ``query_pruned``: bulk writes through sources -> streaming append ->
  compaction -> sidecar build, then needle-word, stream-label and
  day-range reads through ``api.run_query`` that prune most files.
- ``serve_mixed``: ``http_server.serve`` over a preloaded table; one
  closed-loop reader runs an unprunable analytics mix (grouped stats,
  top, sort, unpack_json, day buckets) on /select/logsql/query while one
  closed-loop writer posts NDJSON batches to /insert/jsonline.

The engine is pinned from outside: ``SPARK_GRAFT_CPUS`` = the CPUs this
process may use, a driver heap below physical memory, and JIT thresholds
scaled down so the warm-up rounds reach steady state. All scratch data
lives in ``.perfbench_work/`` under the checkout and is removed on exit.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` records
spans around the engine's public calls and Spark's event log, and
reports the per-layer metrics. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's settings and sample counts.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "read_ops_per_s": "1/s",
    "write_p50_ms": "ms",
    "write_rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "session.start_s": "s",
    "logsql.parse_ms": "ms",
    "index.open_ms": "ms",
    "index.files_total": "count",
    "index.files_kept": "count",
    "index.kept_ratio": "ratio",
    "index.build_s": "s",
    "index.sidecar_bytes": "bytes",
    "planner.plan_ms": "ms",
    "api.self_ms": "ms",
    "spark.action_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.files_read": "count",
    "spark.rows_scanned_per_row_returned": "ratio",
    "jvm.gc_ms_per_op": "ms",
    "sources.parse_ms": "ms",
    "streaming.append_ms": "ms",
    "streaming.compact_s": "s",
    "streaming.bytes_written_per_input_byte": "ratio",
    "http_server.requests": "count",
    "http_server.errors": "count",
    "http_server.flushes": "count",
    "http_server.migrations": "count",
    "http_server.compactions": "count",
    "http_server.drain_s": "s",
    "read.residual_ms": "ms",
    "read.traced_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}

# compile hot methods after a tenth of the default invocation counts:
# the JIT transient then ends within the warm-up rounds
JIT_FLAGS = "-XX:CompileThresholdScaling=0.1"


def physical_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_engine(root: str, work: str, traced: bool) -> tuple[dict, dict]:
    """Environment and session settings of the run; returns (spark
    conf, settings to report)."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(2048, physical_mb() // 4)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM spark-submit starts would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import the engine from the checkout too
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{JIT_FLAGS} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    settings = {"nproc": os.cpu_count(), "cpus": cpus,
                "heap_mb": heap_mb, "jvm_flags": JIT_FLAGS}
    return conf, settings


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "victorialogs_spark", "api.py")):
        print("perfbench: run from a checkout root holding victorialogs_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    try:
        conf, settings = pin_engine(root, work, bool(args.trace))
        ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work,
                            T_START, conf)
        try:
            workloads.WORKLOADS[args.workload](ctx)
        finally:
            # a workload that failed midway leaves its session running
            workloads.stop_engine()
        if ctx.spark_windows is not None:
            import spans

            windows, reads, rows_out, gc_ms = ctx.spark_windows
            counters = spans.spark_counters(ctx.path("events"), windows)
            workloads.spark_layers(ctx, counters["read"], reads, rows_out, gc_ms)
            ctx.tracer.dump(os.path.join(root, ".perfbench_spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    values = ctx.layers if args.trace else ctx.metrics
    missing = sorted(set(names) - set(values))
    if not args.trace and missing:
        raise RuntimeError(f"workload did not measure {missing}")
    detail = {
        "workload": args.workload, "seed": args.seed, "settings": settings,
        "failed_ops_ratio": ctx.failed / max(1, ctx.attempted),
        # per-layer metrics of layers this workload never calls read 0
        "not_exercised": missing, **ctx.detail,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": u}
            for n, u in names.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
