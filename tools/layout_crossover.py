"""Layout crossover at 100x: does the production layout (day-partitioned
+ compact_day-clustered + sidecar-indexed) BEAT the raw table once the
data is big enough that pruning pays for the layout's file-count
overhead?

At sf0.1 (2 MB, one file) the raw table wins every query: one cached
file beats 150 small files regardless of pruning. The claim that the
layout is the right 100 TB read path has so far rested on files-read
ratios at sf0.1 — this tool measures WALL TIME both ways over the 100x
events table (~60M rows), where a pruned query reads a strict subset of
day directories / sidecar-kept files while an unpruned raw scan reads
everything.

Method: build the 100x events table (scale_soak replication: ids
offset, same 30-day time range so each day holds 100x the rows), build
the layout over it once, run the 9 events headline queries + the 3
pruning-shape queries from bench.py both ways, best-of-3 after one
warm-up, record files read (executed-plan numFiles, after
PartitionFilters). Updates ONLY the "layout crossover" section of
SCALE.md.

Usage: python tools/layout_crossover.py [--factor N] [--fresh]
       [--entries a,b,c]

Each factor gets its own SCALE.md section ("## layout crossover at Nx"):
the 100x table (123 MB) is where the honest negative result lives — the
whole table page-caches and raw full scans are sub-2s, so the layout's
fixed costs (sidecar lookup job, more files, zstd decode) exceed the
scan time saved; larger factors measure where pruning starts to pay.
"""

from __future__ import annotations

import os
import sys
import time

FACTOR = 100
if "--factor" in sys.argv:
    FACTOR = int(sys.argv[sys.argv.index("--factor") + 1])
ONLY = None
if "--entries" in sys.argv:
    ONLY = sys.argv[sys.argv.index("--entries") + 1].split(",")

# the pruning-shape queries bench.py measures at sf0.1 (same text)
PRUNE_QUERIES = {
    "time_2days": "_time:[2024-01-10, 2024-01-12) | stats count() as n",
    "stream_2days": '{event_type="click"}'
    " _time:[2024-01-10, 2024-01-12) | stats count() as n",
    "stream_scan": '{event_type="click"} | stats count() as n',
    # the token-bloom WIN case: a rare, time-localized token (the
    # request-ID / error-signature shape real logs have; the synthetic
    # events' own "k" tokens are uniform over time, so NO token in them
    # is prunable — that is why f_word measures flat). The build injects
    # `needle7x` into ~67 rows of replica #7, all inside 2024-01-15, so
    # the layout's per-file blooms keep only that day's few files while
    # the raw scan (no sidecars) reads everything.
    "rare_word": "needle7x | stats count() as n",
}


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from bench import HEADLINE, files_read
    from victorialogs_spark.api import run_query
    from victorialogs_spark.driver_entry import LOGSQL_TEXT
    from victorialogs_spark.schema import events_as_logs, load_table
    from victorialogs_spark.session import get_spark
    from victorialogs_spark.streaming.ingest import build_log_layout

    spark = get_spark("layout-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    src = "/root/testdata/sf0.1"
    base = f"/tmp/vl_xover{FACTOR}"
    raw_path = f"{base}/events.parquet"
    layout_dir = f"{base}/layout"

    if "--fresh" in sys.argv:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
    if os.path.exists(raw_path) and FACTOR > 7:
        # a table cached by a pre-rare_word run of this tool lacks the
        # needle rows; measuring a zero-row query would make the bloom
        # "win" trivial and dishonest — rebuild from scratch instead
        probe = (
            spark.read.parquet(raw_path)
            .where(F.col("props").contains("needle7x"))
            .limit(1)
            .count()
        )
        if probe == 0:
            import shutil

            print("# cached table pre-dates needle injection; rebuilding",
                  file=sys.stderr)
            shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    if not os.path.exists(raw_path):
        ev = load_table(spark, src, "events", keep_nanos=True)
        # chunked appends: a single union of 1000 branches stalls
        # Catalyst; 50-copy chunks keep analysis O(chunks)
        written = 0
        while written < FACTOR:
            n = min(50, FACTOR - written)
            copies = [
                ev.withColumn(
                    "event_id",
                    F.col("event_id") + F.lit((written + k) * 10_000_000),
                )
                for k in range(n)
            ]
            for k in range(n):
                if written + k != 7:
                    continue
                # rare-token injection (see PRUNE_QUERIES["rare_word"]):
                # one replica, one day, 1-in-50 events of that day
                copies[k] = copies[k].withColumn(
                    "props",
                    F.when(
                        (F.dayofmonth("ts") == 15)
                        & (F.col("event_id") % 50 == 7),
                        F.lit('{"k": 7, "tag": "needle7x"}'),
                    ).otherwise(F.col("props")),
                )
            big = copies[0]
            for c in copies[1:]:
                big = big.unionByName(c)
            # written like any unmanaged ingest target: default
            # partitioning, no day layout, no clustering, no sidecars —
            # the "raw" baseline
            big.write.mode("append" if written else "overwrite").parquet(
                raw_path
            )
            written += n
        print(f"# built raw {FACTOR}x events", file=sys.stderr)

    t0 = time.monotonic()
    if not os.path.exists(layout_dir):
        build_log_layout(
            spark,
            events_as_logs(spark, base),
            layout_dir,
            stream_fields=["_stream_id", "event_type"],
            target_files=5,  # ~one file per event_type stream per day
        )
        print(
            f"# layout built in {time.monotonic() - t0:.1f}s", file=sys.stderr
        )
    else:
        # registration is per-process: a reused on-disk layout still
        # needs its sidecars registered or run_query silently reads
        # WITHOUT sidecar pruning (caught in this tool's first rerun:
        # stream_scan read 120/120 files instead of 30/120)
        from victorialogs_spark.index.bloom import register_bloom_index
        from victorialogs_spark.index.streams import register_stream_index

        register_stream_index(layout_dir, layout_dir + "_stream_index")
        register_bloom_index(layout_dir, layout_dir + "_bloom_index")

    raw_logs = events_as_logs(spark, base)
    raw_files = len(spark.read.parquet(raw_path).inputFiles())
    if FACTOR > 7:
        needles = (
            spark.read.parquet(raw_path)
            .where(F.col("props").contains("needle7x"))
            .count()
        )
        print(f"# needle7x rows in raw table: {needles}", file=sys.stderr)
        assert needles > 0, "rare_word would measure a zero-row query"

    table_files = len(spark.read.parquet(layout_dir).inputFiles())

    queries = {n: LOGSQL_TEXT[n] for n in HEADLINE if n in LOGSQL_TEXT}
    queries.update(PRUNE_QUERIES)
    if FACTOR <= 7:
        # replica #7 (the needle carrier) doesn't exist below factor 8 —
        # measuring rare_word against a needle-less table would record a
        # zero-row query as a fabricated bloom win
        queries.pop("rare_word", None)
        print("# factor <= 7: rare_word skipped (no needle replica)",
              file=sys.stderr)
    if ONLY:
        queries = {n: q for n, q in queries.items() if n in ONLY}

    rows = []
    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    for name, q in queries.items():
        rec = {"name": name}
        for kind, target in (("raw", raw_logs), ("layout", layout_dir)):
            # drop frames cached by previous entries — same protocol as
            # bench.py
            spark.catalog.clearCache()
            best = float("inf")
            for i in range(4):  # first run warms page/plan caches, dropped
                spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
                t0 = time.monotonic()
                df = run_query(spark, target, q)
                df.write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
                if i:
                    best = min(best, dt)
            rec[f"{kind}_sec"] = round(best, 3)
            rec[f"{kind}_files"] = files_read(df)
        rec["speedup"] = round(rec["raw_sec"] / rec["layout_sec"], 2)
        rows.append(rec)
        print(
            f"# {name}: raw {rec['raw_sec']:.2f}s"
            f" ({rec['raw_files']}/{raw_files} files), layout "
            f"{rec['layout_sec']:.2f}s ({rec['speedup']}x), read "
            f"{rec['layout_files']}/{table_files} files",
            file=sys.stderr,
        )

    # ---- rewrite this factor's SCALE.md section
    marker = f"## layout crossover at {FACTOR}x"
    lines = [
        f"{marker} (round 12)",
        "",
        f"Raw = the {FACTOR}x events table as an unmanaged parquet write"
        f" ({raw_files} files, no day partitioning, no clustering, no"
        " sidecars). Layout = `build_log_layout` over the same rows"
        f" ({table_files} files: `_day=` directories, compacted zstd files"
        " clustered (_stream_id, _time), stream-value + token-bloom"
        " sidecars). Wall = best-of-3 hot runs after one discarded"
        " page-cache warm-up; files = executed-plan numFiles (after"
        " PartitionFilters AND sidecar pruning).",
        "",
        "| query | raw s | layout s | speedup | layout files read |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['raw_sec']:.2f} | {r['layout_sec']:.2f} |"
            f" {r['speedup']:.2f}x | {r['layout_files']}/{table_files} |"
        )
    lines.append("")

    scale_path = os.path.join(repo, "SCALE.md")
    text = open(scale_path).read()
    if marker in text:
        head, _, rest = text.partition(marker)
        # drop the old section up to the next "## " heading
        nxt = rest.find("\n## ")
        tail = rest[nxt + 1 :] if nxt >= 0 else ""
        text = head + "\n".join(lines) + "\n" + tail
    else:
        text = text.rstrip() + "\n\n" + "\n".join(lines) + "\n"
    open(scale_path, "w").write(text)
    print(f"# SCALE.md '{marker}' section updated", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
