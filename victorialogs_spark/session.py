"""SparkSession factory tuned for the engine.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting.
- zstd parquet (mirrors reference's zstd blocks, lib/logstorage/encoding.go:353).
- Arrow enabled for the few pandas-UDF paths (dedup/similarity).
- local mode and shuffle.partitions default to the CPUs this process may
  run on (``SPARK_GRAFT_CPUS`` overrides); a real cluster deployment
  overrides via spark-defaults (AQE coalescing makes the initial number
  mostly irrelevant).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "victorialogs-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long
        # (schema.load_table converts back to a µs timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = driver only; it holds shuffle + broadcast state
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        # FAIR task scheduling: the facade multiplexes reads against
        # ingest flushes on one context and assigns them to separate
        # pools per request thread (http_server._route sets
        # spark.scheduler.pool — FAIR mode alone would be a no-op, since
        # jobs in the single default pool still run FIFO; fair sharing
        # happens across pools). Measured ~neutral on the mixed wave at
        # local[32] (the residual there is CPU contention, not queuing),
        # but on a busy cluster FIFO head-of-line blocking behind a
        # flush is unbounded while cross-pool sharing bounds it at one
        # task wave; no-op for single-query workloads.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    # session-creation-only knobs (event logging for measurement tools,
    # scheduler overrides) that can't be set after getOrCreate
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
