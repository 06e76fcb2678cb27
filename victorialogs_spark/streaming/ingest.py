"""Structured Streaming ingestion: NDJSON drop-dir → day-partitioned
zstd Parquet log table, plus the retention / compaction maintenance jobs
(the Spark equivalents of the reference's per-day partitions + LSM merges,
lib/logstorage/storage.go:50,326 and datadb.go:48-101).

Design:
- micro-batch append (no event-time aggregation): late/backfilled data just
  lands in its correct ``_day`` partition at file level — same semantics as
  the reference, which only clips timestamps to retention (storage.go:20-24);
- retention = dropping whole ``_day=YYYYMMDD`` directories;
- compaction = rewriting a day partition's small files into few big ones
  (what the reference's background part-merging achieves).
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victorialogs_spark.functions.natural import qcol
from victorialogs_spark.schema import with_day_partition, with_stream_id
from victorialogs_spark.sources.ndjson import finish_parsed, parse_ndjson_lines


def start_ndjson_ingest(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    stream_fields: list[str] | None = None,
    promote_keys: list[str] | None = None,
    time_field: str = "_time",
    msg_field: str = "_msg",
    trigger_seconds: float | None = None,
    json_schema=None,
):
    """Start the streaming ingest job: watch ``input_dir`` for NDJSON files,
    append to ``table_dir`` partitioned by ``_day``. Returns the
    StreamingQuery (caller owns stop()).

    promote_keys should be passed explicitly for streaming (sampling needs
    a batch job); if None, each micro-batch infers from itself.

    json_schema (StructType or DDL string): when the payload shape is
    known, micro-batches parse via the JVM ``from_json`` fast path
    (sources/ndjson.parse_json_lines_jvm — no Python workers, ~3× the
    mapInPandas rate); unknown/varying shapes keep the dynamic path."""
    lines = spark.readStream.text(input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if json_schema is not None:
            from victorialogs_spark.sources.ndjson import parse_json_lines_jvm

            out = parse_json_lines_jvm(
                batch_df, json_schema, time_field, msg_field
            )
            out = with_stream_id(
                out, [f for f in stream_fields or [] if f in out.columns]
            )
        else:
            out = finish_parsed(
                parse_ndjson_lines(batch_df, time_field, msg_field),
                stream_fields or [],
                promote_keys,
            )
        append_day_partitioned(out, table_dir)

    writer = lines.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def append_day_partitioned(df: DataFrame, table_dir: str) -> None:
    """Append log rows into the day-partitioned table, clustered
    (_stream_id, _time) within each file — small appended files are
    re-clustered for real at compact_day time, but sorted appends mean
    even un-compacted days prune on stream filters."""
    out = df if "_day" in df.columns else with_day_partition(df)
    sort_cols = [c for c in ("_stream_id", "_time") if c in out.columns]
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    (
        out.write.mode("append")
        .option("compression", "zstd")
        .partitionBy("_day")
        .parquet(table_dir)
    )


def list_days(table_dir: str) -> list[str]:
    root = Path(table_dir)
    return sorted(
        p.name.split("=", 1)[1]
        for p in root.glob("_day=*")
        # a leftover compaction scratch dir ("_day=X.compact" from a
        # killed compact_day) must not surface as a bogus day
        # (r14 review finding)
        if p.is_dir() and not p.name.endswith(".compact")
    )


def apply_retention(
    table_dir: str, keep_days_from: str, skip: set[str] = frozenset()
) -> list[str]:
    """Drop every ``_day`` partition strictly older than ``keep_days_from``
    (YYYYMMDD). Returns the dropped day labels. Mirrors the reference's
    retention watcher deleting whole per-day partitions (storage.go:50).
    ``skip`` holds day labels (bare or ``_day=``-prefixed) whose physical
    deletion the caller defers — days an in-flight compaction is reading."""
    skip_labels = {d.split("=", 1)[-1] for d in skip}
    dropped = []
    for day in list_days(table_dir):
        if day < keep_days_from and day not in skip_labels:
            shutil.rmtree(Path(table_dir) / f"_day={day}")
            dropped.append(day)
    return dropped


def detect_value_types(df: DataFrame) -> dict[str, str]:
    """Write-time value-type detection (the reference tries encodings per
    column block, values_encoder.go:109-127): for each string column whose
    non-empty values ALL parse as a number, return the narrowest Spark type
    ('bigint' before 'double'). Engine-owned columns and the spill map are
    never re-typed. One full aggregation pass over the frame — it must be
    exhaustive, not sampled: a single unparseable value outside a sample
    would silently become NULL in the typed rewrite.

    Empty string ↔ NULL is the lossless part of the mapping (missing ≡
    empty is the engine-wide rule, block.go:69-73); lexical forms are NOT
    preserved ('1.50' reads back as '1.5'), same as the reference's float
    re-encoding."""
    skip = {"_msg", "_time", "_day", "_stream", "_stream_id", "_other", "tenant"}
    cands = [
        name
        for name, dt in df.dtypes
        if dt == "string" and name not in skip
    ]
    if not cands:
        return {}
    sample = df.select(cands)
    aggs = []
    for c in cands:
        q = qcol(c)
        nonempty = q.isNotNull() & (q != "")
        aggs.append(F.count(F.when(nonempty, 1)).alias(f"n_{c}"))
        aggs.append(
            F.count(
                F.when(nonempty & q.try_cast("bigint").isNotNull(), 1)
            ).alias(f"l_{c}")
        )
        aggs.append(
            F.count(
                F.when(nonempty & q.try_cast("double").isNotNull(), 1)
            ).alias(f"d_{c}")
        )
    row = sample.agg(*aggs).collect()[0]
    out: dict[str, str] = {}
    for c in cands:
        n = row[f"n_{c}"]
        if not n:
            continue
        if row[f"l_{c}"] == n:
            out[c] = "bigint"
        elif row[f"d_{c}"] == n:
            out[c] = "double"
    return out


def write_clustered(
    df: DataFrame, path: str, n_files: int, mode: str
) -> None:
    """Write ``df`` to ``path`` as ``n_files`` zstd parquet files with
    rows clustered ``(_stream_id, _time)`` and a parquet bloom filter on
    ``_stream_id``: the one implementation of the compacted-file layout
    the stream sidecar (index/streams.py) prunes through, shared by
    :func:`compact_day` and the HTTP server's day compaction."""
    sort_cols = [c for c in ("_stream_id", "_time") if c in df.columns]
    if sort_cols:
        # hash-partition on the FIRST cluster key (stream id when
        # present): each output file holds a SUBSET of streams, not a
        # round-robin slice of all of them — a round-robin repartition
        # put every stream in every file, so the per-file stream-value
        # sidecar could never prune a compacted day (60/60 files
        # survived a single-stream filter). One hot stream skewing a
        # file is the documented trade — the reference's parts have the
        # same shape (a stream's blocks concentrate in few parts).
        out = df.repartition(
            n_files, qcol(sort_cols[0])
        ).sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n_files)
    writer = out.write.mode(mode).option("compression", "zstd")
    if "_stream_id" in df.columns:
        writer = writer.option(
            "parquet.bloom.filter.enabled#_stream_id", "true"
        )
    writer.parquet(path)


def compact_day(
    spark: SparkSession, table_dir: str, day: str, target_files: int = 1,
    type_columns: bool = False,
    value_types: dict[str, str] | None = None,
) -> int:
    """Rewrite one day partition's files into ``target_files`` zstd files
    (the LSM small-parts → big-part merge, datadb.go:75-82). Returns the
    number of files before compaction.

    Rows are clustered ``(_stream_id, _time)`` within each output file —
    the reference's block layout (every block holds ONE stream's rows in
    time order, block.go:15-24), re-expressed as parquet row-group
    locality (:func:`write_clustered`): stream filters skip row groups
    via column min/max stats and the `_stream_id` bloom filter, and
    `_time` ranges prune within a stream. At 100 TB this clustering is
    what keeps a `{app="x"} _time:5m` query from touching every row
    group of the day.

    type_columns=True additionally re-encodes uniformly-numeric string
    columns typed (values_encoder.go:109-127 parity). IMPORTANT: typing
    a single day can diverge from sibling days' physical schema, which
    breaks cross-day reads — use :func:`compact_table` (one table-wide
    detection, applied to every day) unless only one day exists, and
    re-run it after appending string-typed micro-batches into a typed
    day. ``value_types`` supplies a precomputed detection result."""
    part = Path(table_dir) / f"_day={day}"
    # SNAPSHOT the input file set and read exactly these files: reading
    # the directory would lazily re-list it at write time, and the swap
    # below deletes exactly this snapshot — so a micro-batch file a
    # concurrent appender adds mid-compaction is neither silently
    # destroyed nor double-rewritten (r14 review finding; the previous
    # rmtree of the whole day dir lost concurrent appends outright)
    files = sorted(part.glob("*.parquet"))
    if not files:
        return 0
    if len(files) <= target_files and not type_columns:
        return len(files)
    df = spark.read.parquet(*[str(p) for p in files])
    if type_columns:
        # the reference's per-block value-type specialization at merge
        # time: uniformly-numeric string columns re-encode typed, so
        # numeric range filters push into the parquet scan afterwards
        str_cols = {name for name, dt in df.dtypes if dt == "string"}
        types = (
            {c: t for c, t in value_types.items() if c in str_cols}
            if value_types is not None
            else detect_value_types(df)
        )
        if not types and len(files) <= target_files:
            return len(files)  # already typed + compacted: idempotent no-op
        for col, dt in types.items():
            df = df.withColumn(
                col,
                F.when(qcol(col) == "", None).otherwise(
                    qcol(col).try_cast(dt)
                ),
            )
    tmp = str(part) + ".compact"
    write_clustered(df, tmp, target_files, "overwrite")
    # swap without ever removing the live day dir: move the compacted
    # files IN under unique names, then delete exactly the snapshot.
    # Concurrent appends (files not in the snapshot) survive untouched,
    # and there is no window where the day is missing. A kill between
    # the move-in and the snapshot delete leaves duplicate rows until
    # the operator re-runs with the leftover originals — a far smaller
    # hazard than the previous rmtree+rename, which parked the whole
    # day at "_day=X.compact" and destroyed mid-compaction appends.
    import uuid as _uuid

    token = _uuid.uuid4().hex[:12]
    for i, f in enumerate(sorted(Path(tmp).glob("*.parquet"))):
        os.replace(f, part / f"compact-{token}-{i:05d}.parquet")
    for p in files:
        p.unlink(missing_ok=True)
    shutil.rmtree(tmp)
    return len(files)


def compact_table(
    spark: SparkSession, table_dir: str, target_files: int = 1,
    type_columns: bool = False,
) -> dict[str, int]:
    """Compact every day partition. With type_columns=True, value types
    are detected ONCE over the whole table and the same mapping applies
    to every day, so all days agree on the physical schema (a per-day
    detection could type a column in one day and not another, making
    `spark.read.parquet(table)` fail on the mixed types)."""
    value_types = None
    if type_columns:
        days = list_days(table_dir)
        if not days:
            return {}
        value_types = detect_value_types(spark.read.parquet(table_dir))
    return {
        day: compact_day(
            spark, table_dir, day,
            target_files=target_files,
            type_columns=type_columns,
            value_types=value_types,
        )
        for day in list_days(table_dir)
    }


def build_log_layout(
    spark: SparkSession,
    logs: DataFrame,
    dst: str,
    stream_fields: list[str] | None = None,
    ingest_files_per_day: int = 8,
    target_files: int = 2,
    type_columns: bool = True,
) -> tuple[str, str, str]:
    """One call from a raw log frame to the PRODUCTION layout the engine
    is designed around — at 100 TB the layout IS the query plan
    (the reference's whole read path is pruning,
    storage_search.go:1069-1159):

    1. day-partitioned write (``_day=YYYYMMDD`` directories; several
       files per day first, like micro-batch appends would leave);
    2. :func:`compact_table` — few zstd files per day, rows clustered
       ``(_stream_id, _time)`` so row groups hold one stream's rows in
       time order, numeric string columns re-encoded typed;
    3. stream-value sidecar (index/streams.py) over ``stream_fields``
       and token-bloom sidecar (index/bloom.py) over ``_msg``, both
       REGISTERED so ``api.run_query(spark, dst, query)`` prunes files
       automatically.

    After this, a ``_time`` range prunes whole day directories
    (PartitionFilters in the scan), a ``{label="x"}`` filter prunes
    files through the sidecar before the scan starts, and word filters
    prune through the blooms. Returns (table, stream index, bloom
    index) paths."""
    from victorialogs_spark.index.bloom import (
        build_token_bloom_index,
        register_bloom_index,
    )
    from victorialogs_spark.index.streams import (
        build_stream_index,
        register_stream_index,
    )

    df = logs if "_day" in logs.columns else with_day_partition(logs)
    (
        df.repartition(ingest_files_per_day)
        .write.partitionBy("_day")
        .mode("overwrite")
        .parquet(dst)
    )
    compact_table(
        spark, dst, target_files=target_files, type_columns=type_columns
    )
    sidx = dst.rstrip("/") + "_stream_index"
    bidx = dst.rstrip("/") + "_bloom_index"
    build_stream_index(
        spark, dst, sidx, fields=stream_fields or ["_stream_id"]
    )
    build_token_bloom_index(spark, dst, bidx)
    register_stream_index(dst, sidx)
    register_bloom_index(dst, bidx)
    return dst, sidx, bidx
