"""Ingestion throughput benchmark: NDJSON lines → parsed, flattened,
stream-keyed log rows (the /insert/jsonline path at scale), measured as
rows/second on local[$SPARK_GRAFT_CPUS].

The reference's headline ingest comparison is its ELK/Loki docker
benchmark (deployment/logs-benchmark); absolute numbers aren't published
in-tree, so this records OUR sustained parse rate as the comparable
figure. The corpus is the sf events table re-serialized as NDJSON and
replicated to ``--lines`` (default 2M) — realistic field mix (timestamp,
message text, numbers, a nested props object) rather than trivial rows.

Measured path = read text → mapInPandas parse/flatten → _time cast →
column promotion → stream-id → noop write (everything materialized,
nothing pruned). Corpus generation (JVM to_json) is NOT in the timing.

Output: one JSON line {"metric": "ingest_rows_per_sec", ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    target_lines = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

    from pyspark.sql import functions as F

    from victorialogs_spark.schema import load_table
    from victorialogs_spark.session import get_spark
    from victorialogs_spark.sources.ndjson import (
        finish_parsed,
        parse_ndjson_lines,
    )

    spark = get_spark("ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")

    workdir = tempfile.mkdtemp(prefix="ingest_bench_")
    corpus = os.path.join(workdir, "corpus")
    try:
        ev = load_table(spark, sf_dir, "events")
        n_src = ev.count()
        copies = max(1, round(target_lines / n_src))
        # corpus: JVM-side JSON serialization of replicated events — each
        # copy gets a distinct event_id so dedup/grouping stays realistic
        doc = F.to_json(
            F.struct(
                F.date_format(
                    "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
                ).alias("_time"),
                F.concat(
                    F.lit("event "),
                    F.col("event_type"),
                    F.lit(" user="),
                    F.col("user_id").cast("string"),
                ).alias("_msg"),
                (F.col("event_id") * copies + F.col("copy")).alias("event_id"),
                F.col("event_type"),
                F.col("user_id"),
                F.col("value"),
                F.col("props"),
            )
        )
        (
            ev.select(
                F.explode(F.sequence(F.lit(1), F.lit(copies))).alias("copy"),
                "*",
            )
            .select(doc.alias("value"))
            .write.mode("overwrite")
            .text(corpus)
        )

        parallelism = spark.sparkContext.defaultParallelism
        # warm the Python worker pool (one trivial Arrow round-trip)
        spark.read.text(corpus).limit(10_000).count()

        from victorialogs_spark.sources.ndjson import ingest_ndjson_jvm

        def run_pandas():
            lines = spark.read.text(corpus).repartition(parallelism)
            return finish_parsed(
                parse_ndjson_lines(lines),
                ["event_type"],
                ["_msg", "event_id", "event_type", "user_id", "value", "props"],
            )

        def run_jvm():
            # schema inference scan INCLUDED in the timing (the honest
            # cold-load cost; supplying a schema removes it)
            return ingest_ndjson_jvm(spark, corpus, stream_fields=["event_type"])

        # the steady-state loader shape: schema known from a prior batch
        # — the (one-time, outside-the-timing) inference below stands in
        # for that prior knowledge, so this row times parse+flatten only
        known_schema = spark.read.json(
            corpus, primitivesAsString=True, mode="DROPMALFORMED"
        ).schema

        def run_jvm_schema():
            return ingest_ndjson_jvm(
                spark, corpus, stream_fields=["event_type"], schema=known_schema
            )

        results = {}
        n_rows = 0
        for name, fn in (
            ("mapInPandas", run_pandas),
            ("jvm", run_jvm),
            ("jvm_schema", run_jvm_schema),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                out = fn()
                out.write.format("noop").mode("overwrite").save()
                best = min(best, time.monotonic() - t0)
            if not n_rows:
                n_rows = out.count()
            results[name] = {
                "rows_per_sec": round(n_rows / best),
                "wall_sec": round(best, 2),
            }
        print(
            json.dumps(
                {
                    "metric": "ingest_rows_per_sec",
                    "value": results["jvm"]["rows_per_sec"],
                    "unit": "rows/sec",
                    "rows": n_rows,
                    "paths": results,
                    "cpus": parallelism,
                    "sf": sf_dir,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
