"""Command-line interface: the engine's equivalent of the reference's HTTP
query surface, as a CLI (this engine is a library — no server needed).

    python -m victorialogs_spark.cli query '<logsql>' --table /path/to/parquet
    python -m victorialogs_spark.cli hits 'error' --table DIR --step 1h
    python -m victorialogs_spark.cli facets '*' --table DIR
    python -m victorialogs_spark.cli field-values app --table DIR
    python -m victorialogs_spark.cli streams --table DIR
    python -m victorialogs_spark.cli tail '*' --table DIR
    python -m victorialogs_spark.cli serve --table DIR --port 9428
    python -m victorialogs_spark.cli curate --table DOCS --out OUT \
        [--heldout HELDOUT] [--require-gopher] [--decontaminate-mode ngram]

``--table`` accepts a parquet path (a log table with _time/_msg columns).
Output is NDJSON on stdout (the /select/logsql wire format). ``serve``
starts the HTTP facade (http_server.py) on the reference's default port.
"""

from __future__ import annotations

import argparse
import json
import sys


def _emit(df, limit: int = 0) -> None:
    it = df.toLocalIterator()
    n = 0
    from victorialogs_spark.endpoints import row_to_wire_dict

    for row in it:
        d = row_to_wire_dict(row)
        sys.stdout.write(json.dumps(d, separators=(",", ":")) + "\n")
        n += 1
        if limit and n >= limit:
            break


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="victorialogs-spark")
    ap.add_argument("command", choices=[
        "query", "hits", "facets", "field-names", "field-values",
        "streams", "stream-ids", "tail", "serve",
        "ingest", "compact", "retention", "curate", "explain", "index",
        "stream-index",
    ])
    ap.add_argument("arg", nargs="?", default="*",
                    help="LogsQL query (or field name for field-values; "
                         "NDJSON path for ingest; day/keep-from for "
                         "compact/retention)")
    ap.add_argument("--table", required=True, help="parquet log-table path")
    ap.add_argument("--step", default="1h")
    ap.add_argument("--limit", type=int, default=0)
    ap.add_argument("--polls", type=int, default=0,
                    help="tail: number of polls (0 = forever)")
    ap.add_argument("--refresh", type=float, default=1.0)
    ap.add_argument("--spill-dir", default="",
                    help="serve: durable dir for flushed ingest parquet "
                         "(default: private temp dir, removed on exit)")
    ap.add_argument("--retention-days", type=int, default=0,
                    help="serve: drop spill-table day partitions older"
                         " than N days at startup and at each flush commit"
                         " (0 = keep forever) — the reference's"
                         " -retentionPeriod watcher")
    ap.add_argument("--port", type=int, default=9428,
                    help="serve: HTTP port (reference default 9428)")
    ap.add_argument("--stream-fields", default="",
                    help="ingest: comma-separated stream label fields")
    ap.add_argument("--target-files", type=int, default=1,
                    help="compact: files per day partition after rewrite")
    ap.add_argument("--type-columns", action="store_true",
                    help="compact: re-encode uniformly-numeric string "
                         "columns as typed parquet")
    ap.add_argument("--out", default="",
                    help="curate/index: output parquet path (required)")
    ap.add_argument("--index", default="",
                    help="query/explain: token-bloom sidecar path "
                         "(built by the index command); prunes scan files "
                         "for word filters. compact: rebuild this sidecar "
                         "after the rewrite")
    ap.add_argument("--stream-index", default="",
                    help="query/explain: stream-value sidecar path "
                         "(built by the stream-index command); prunes scan "
                         "files for {label=...}/_stream_id filters. "
                         "compact: rebuild after the rewrite "
                         "(--stream-fields adds label columns)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--heldout", default="",
                    help="curate: parquet path of a held-out corpus to "
                         "decontaminate against")
    ap.add_argument("--require-gopher", action="store_true",
                    help="curate: apply the full Gopher rule set")
    ap.add_argument("--decontaminate-mode", default="exact",
                    choices=["exact", "ngram"],
                    help="curate: fingerprint or 13-gram-overlap check")
    args = ap.parse_args(argv)

    from victorialogs_spark import endpoints as ep
    from victorialogs_spark.api import run_query
    from victorialogs_spark.session import get_spark

    spark = get_spark("victorialogs-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.command == "ingest":
        from victorialogs_spark.sources.ndjson import ingest_ndjson_jvm
        from victorialogs_spark.streaming.ingest import append_day_partitioned

        sf = [s for s in args.stream_fields.split(",") if s]
        rows = ingest_ndjson_jvm(spark, args.arg, stream_fields=sf or None)
        append_day_partitioned(rows, args.table)
        # count the WRITTEN table, not the ingest plan — re-executing the
        # plan would re-run the whole parse (including inference scan)
        n = spark.read.parquet(args.table).count()
        sys.stderr.write(f"ingested into {args.table} ({n} rows total)\n")
        return 0
    if args.command == "compact":
        from victorialogs_spark.streaming.ingest import compact_day, compact_table

        if args.arg == "*":
            # table-wide: one value-type detection for ALL days, keeping
            # the physical schema uniform across the table
            res = compact_table(
                spark, args.table,
                target_files=args.target_files,
                type_columns=args.type_columns,
            )
            for day, n in res.items():
                sys.stderr.write(f"compacted _day={day} ({n} files before)\n")
        else:
            if args.type_columns:
                sys.stderr.write(
                    "warning: typing a single day can diverge from sibling"
                    " days' schema; prefer compact '*' --type-columns\n"
                )
            n = compact_day(
                spark, args.table, args.arg,
                target_files=args.target_files,
                type_columns=args.type_columns,
            )
            sys.stderr.write(f"compacted _day={args.arg} ({n} files before)\n")
        # compaction rewrites files, so existing sidecars stop pruning
        # (their entries name deleted files; unindexed files always
        # survive — correct but index-less). Passing the sidecar paths
        # rebuilds them over the fresh layout in the same run. An
        # existing sidecar's RECORDED field set wins over defaults so a
        # rebuild never silently changes its semantics; rebuild failures
        # warn, never fail the already-completed compaction.
        if args.index:
            try:
                from victorialogs_spark.index.bloom import (
                    build_token_bloom_index,
                )

                flds = None
                try:
                    prior = spark.read.parquet(args.index)
                    if "fields" in prior.columns:
                        rec = prior.select("fields").first()
                        if rec and rec["fields"]:
                            flds = rec["fields"].split(",")
                except Exception:
                    pass  # no prior sidecar (or pre-fields format)
                build_token_bloom_index(
                    spark, args.table, args.index, fields=flds
                )
                sys.stderr.write(
                    f"rebuilt token-bloom sidecar at {args.index}\n"
                )
            except Exception as e:
                sys.stderr.write(f"warning: bloom rebuild failed: {e}\n")
        if args.stream_index:
            try:
                from victorialogs_spark.index.streams import (
                    build_stream_index,
                )

                prior_fields: list[str] = []
                try:
                    prior = spark.read.parquet(args.stream_index)
                    prior_fields = sorted(
                        r["field"]
                        for r in prior.select("field").distinct().collect()
                    )
                except Exception:
                    pass  # no prior sidecar
                # prior fields UNION the requested ones: the help text
                # promises --stream-fields ADDS label columns, so an
                # existing sidecar must not silently discard them
                # (r14 review finding)
                sf = [s for s in args.stream_fields.split(",") if s]
                flds = sorted(set(prior_fields) | set(sf) | {"_stream_id"})
                build_stream_index(
                    spark, args.table, args.stream_index, fields=flds
                )
                sys.stderr.write(
                    f"rebuilt stream-value sidecar at {args.stream_index}\n"
                )
            except Exception as e:
                sys.stderr.write(f"warning: stream rebuild failed: {e}\n")
        return 0
    if args.command == "curate":
        from victorialogs_spark.datapipe.pipeline import curate_corpus

        if not args.out:
            ap.error("curate requires --out <parquet path>")
        docs = spark.read.parquet(args.table)
        heldout = (
            spark.read.parquet(args.heldout) if args.heldout else None
        )
        curated = curate_corpus(
            docs,
            args.id_col,
            args.text_col,
            heldout=heldout,
            require_gopher=args.require_gopher,
            decontaminate_mode=args.decontaminate_mode,
        )
        curated.write.mode("overwrite").parquet(args.out)
        n_in = docs.count()
        n_out = spark.read.parquet(args.out).count()
        sys.stderr.write(
            f"curated {args.table} ({n_in} docs) -> {args.out} "
            f"({n_out} kept, {n_in - n_out} dropped)\n"
        )
        return 0
    if args.command == "index":
        from victorialogs_spark.index.bloom import build_token_bloom_index

        if not args.out:
            ap.error("index requires --out <sidecar parquet path>")
        # the positional arg defaults to '*' (match-all query); for index
        # it means "default fields", i.e. _msg
        raw = args.arg if args.arg != "*" else "_msg"
        flds = [s for s in raw.split(",") if s]
        build_token_bloom_index(spark, args.table, args.out, fields=flds)
        n = spark.read.parquet(args.out).count()
        sys.stderr.write(
            f"token-bloom sidecar at {args.out} ({n} files indexed);"
            f" pass --index {args.out} to query/explain to prune"
        " scans (registration is per-process)\n"
        )
        return 0
    if args.command == "stream-index":
        from victorialogs_spark.index.streams import build_stream_index

        if not args.out:
            ap.error("stream-index requires --out <sidecar parquet path>")
        raw = args.arg if args.arg != "*" else "_stream_id"
        flds = [s for s in raw.split(",") if s]
        build_stream_index(spark, args.table, args.out, fields=flds)
        n = spark.read.parquet(args.out).select("file").distinct().count()
        sys.stderr.write(
            f"stream-value sidecar at {args.out} ({n} files indexed);"
            f" pass --stream-index {args.out} to query/explain to prune"
            " scans for stream filters (registration is per-process)\n"
        )
        return 0
    if args.command == "retention":
        from victorialogs_spark.streaming.ingest import apply_retention

        if args.arg == "*":
            ap.error("retention requires an explicit keep-from day "
                     "(YYYYMMDD); '*' would silently keep everything")
        dropped = apply_retention(args.table, args.arg)
        sys.stderr.write(f"dropped days: {dropped}\n")
        return 0

    if args.index:
        # register the sidecar for THIS process and route query/explain
        # through the path form, which consults the registry and prunes
        from victorialogs_spark.index.bloom import register_bloom_index

        register_bloom_index(args.table, args.index)
    if args.stream_index:
        from victorialogs_spark.index.streams import register_stream_index

        register_stream_index(args.table, args.stream_index)

    use_path = bool(args.index or args.stream_index) and args.command in (
        "query", "explain")
    # skip the up-front footer/schema read when the path form re-reads it
    df = None if use_path else spark.read.parquet(args.table)
    target = args.table if use_path else df

    if args.command == "query":
        out = run_query(spark, target, args.arg)
        _emit(out, args.limit)
    elif args.command == "explain":
        from victorialogs_spark.logsql.parser import parse_query

        q = parse_query(args.arg)
        sys.stdout.write(f"-- canonical: {q.to_logsql()}\n")
        out = run_query(spark, target, args.arg)
        sys.stdout.write(
            out._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        )
    elif args.command == "hits":
        _emit(ep.hits(spark, df, args.arg, step=args.step), args.limit)
    elif args.command == "facets":
        _emit(ep.facets(spark, df, args.arg), args.limit)
    elif args.command == "field-names":
        _emit(ep.field_names(spark, df), args.limit)
    elif args.command == "field-values":
        _emit(ep.field_values(spark, df, args.arg), args.limit)
    elif args.command == "streams":
        _emit(ep.streams(spark, df), args.limit)
    elif args.command == "stream-ids":
        _emit(ep.stream_ids(spark, df), args.limit)
    elif args.command == "serve":
        from victorialogs_spark.http_server import serve

        srv = serve(spark, df, port=args.port,
                    spill_dir=args.spill_dir or None,
                    retention_days=args.retention_days or None)
        sys.stderr.write(f"listening on http://127.0.0.1:{srv.port}\n")
        try:
            import time as _time

            while True:
                _time.sleep(3600)
        except KeyboardInterrupt:
            srv.stop()
    elif args.command == "tail":
        from victorialogs_spark.streaming.tail import LiveTailer

        tailer = LiveTailer(
            spark,
            lambda: spark.read.parquet(args.table),
            args.arg,
            refresh_interval=args.refresh,
        )
        from victorialogs_spark.endpoints import row_to_wire_dict

        for row in tailer.tail(max_polls=args.polls or None):
            d = row_to_wire_dict(row)
            sys.stdout.write(json.dumps(d, separators=(",", ":")) + "\n")
            sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
