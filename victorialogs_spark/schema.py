"""Log-table schema & ingestion.

Data model (SURVEY.md §1): every field is logically a string; `_time` is a
timestamp; `_msg` holds the message; `_stream` / `_stream_id` identify the
log stream (lib/logstorage/stream_id.go:11-21). Physically we keep ONE wide
Parquet table per tenant, partitioned by `_day` — day partitions mirror the
reference's per-day storage partitions (storage.go:326) and give Catalyst
partition pruning for `_time` filters.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RESERVED = ("_time", "_msg", "_stream", "_stream_id", "_day")

DEFAULT_MSG = (
    "missing _msg field; see "
    "https://docs.victoriametrics.com/victorialogs/keyconcepts/#message-field"
)


def normalize_log_df(
    df: DataFrame,
    time_col: str | None = None,
    msg_col: str | None = None,
    stream_fields: list[str] | None = None,
) -> DataFrame:
    """Project an arbitrary DataFrame into the log model: rename/derive
    `_time`, `_msg`, stream columns; cast everything else to string with
    NULL → '' (empty ≡ missing, block.go:69-73)."""
    out = df
    if time_col and time_col in out.columns:
        out = out.withColumnRenamed(time_col, "_time")
    if "_time" in out.columns and dict(out.dtypes)["_time"] != "timestamp":
        out = out.withColumn("_time", F.col("_time").cast("timestamp"))
    if msg_col and msg_col in out.columns and msg_col != "_msg":
        out = out.withColumn("_msg", F.col(msg_col).cast("string"))
    from victorialogs_spark.functions.natural import NUMSRC_KEY, _NUMSRC_TYPES

    for c, t in out.dtypes:
        if c == "_time" or c.startswith("__"):
            # '__'-prefixed columns are engine-internal (e.g. __time_nanos,
            # the raw scan column kept for predicate pushdown) — never
            # string-coerced, never user-visible
            continue
        if t != "string":
            col = F.coalesce(F.col(c).cast("string"), F.lit(""))
            if t in _NUMSRC_TYPES:
                # provenance mark: every value of this string column is ''
                # or the cast of a `t`-typed numeric — natural-order /
                # tryParseNumber consumers collapse to a plain try_cast
                # (functions/natural.numeric_provenance has the proof).
                # Catalyst drops the mark whenever the column is rebuilt
                # from a non-attribute expression, so it never outlives
                # the invariant.
                col = col.alias(c, metadata={NUMSRC_KEY: t})
            out = out.withColumn(c, col)
        else:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit("")))
    if stream_fields:
        out = with_stream_id(out, stream_fields)
    return out


def with_stream_id(df: DataFrame, stream_fields: list[str]) -> DataFrame:
    """Canonical `_stream` string '{k1="v1",...}' over sorted labels plus a
    128-bit-ish `_stream_id` (we use hex(xxhash64) twice — same uniqueness
    story as stream_id.go:17-21, different hash function by design).
    A label ABSENT from a row (NULL/'' — our missing≡empty model) is
    left out of that row's stream entirely, like the reference's
    per-row streamFields capture (log_rows.go; r15 log-rows corpus:
    '{foo="bar"}' vs '{abc="de",foo="bar"}' within one ingest)."""
    labels = sorted(stream_fields)

    def _c(name):  # backticks: dotted label names are plain columns
        return F.col("`" + name.replace("`", "") + "`").cast("string")

    parts = [
        F.when(
            _c(name).isNotNull() & (_c(name) != ""),
            F.concat(F.lit(f'{name}="'), _c(name), F.lit('"')),
        )
        for name in labels
    ]
    stream = F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}"))
    return attach_stream_id(df.withColumn("_stream", stream))


def attach_stream_id(df: DataFrame) -> DataFrame:
    """`_stream_id` from an existing `_stream` column (protocols whose
    stream identity is computed per row at parse time — loki labels,
    OTLP resource attributes — precompute `_stream` and only need the
    hash here)."""
    h1 = F.lower(F.hex(F.xxhash64(F.col("_stream"))))
    h2 = F.lower(F.hex(F.xxhash64(F.col("_stream"), F.lit(1))))
    return df.withColumn("_stream_id", F.concat(h1, h2))


def with_day_partition(df: DataFrame) -> DataFrame:
    return df.withColumn("_day", F.date_format(F.col("_time"), "yyyyMMdd"))


def with_tenant(df: DataFrame, account_id: int = 0, project_id: int = 0) -> DataFrame:
    """Attach the tenant identity column ('<account>:<project>', mirroring
    the reference's TenantID pair, lib/logstorage/tenant_id.go:15-21).
    Physically a partition column: `partitionBy('tenant', '_day')` groups a
    tenant's data exactly like the reference's per-tenant storage paths."""
    return df.withColumn("tenant", F.lit(f"{account_id}:{project_id}"))


def for_tenant(df: DataFrame, account_id: int = 0, project_id: int = 0) -> DataFrame:
    """Restrict a multi-tenant table to one tenant (partition-pruned when
    `tenant` is a partition column)."""
    if "tenant" not in df.columns:
        return df
    return df.where(F.col("tenant") == f"{account_id}:{project_id}")


def ingest_ndjson(
    spark: SparkSession,
    path_or_lines: str | Iterable[str],
    time_field: str | list[str] = "_time",
    msg_field: str | list[str] = "_msg",
    stream_fields: list[str] | None = None,
    ignore_fields: list[str] | None = None,
    extra_fields: dict[str, str] | None = None,
    default_msg_value: str = DEFAULT_MSG,
    decolorize_fields: list[str] | None = None,
) -> DataFrame:
    """NDJSON → log DataFrame applying the reference's ingest transforms
    (_time_field/_msg_field/_stream_fields/ignore_fields/extra_fields,
    app/vlinsert/insertutil/common_params.go:32-100) — the server's
    /insert/jsonline path. Lines are parsed on the driver with the shared
    row transform (sources/ndjson.ndjson_row) into one local relation
    (sources/ndjson.rows_frame): ``_time``, then every key seen, sorted.
    A line that is not a JSON object raises ValueError. For files too big
    for the driver use sources/ndjson.ingest_ndjson_distributed, or
    streaming/ingest.py for a watched directory.
    """
    from victorialogs_spark.sources.ndjson import ndjson_row, rows_frame

    if isinstance(path_or_lines, str):
        path_or_lines = [
            r.value for r in spark.read.text(path_or_lines).collect()
        ]
    rows = []
    for line in path_or_lines:
        flat = ndjson_row(
            line, time_field, msg_field, ignore_fields, extra_fields,
            decolorize_fields,
        )
        if flat is not None:
            rows.append(flat)
    return rows_frame(spark, rows, stream_fields or [], default_msg_value)


# columns stored as parquet TIMESTAMP(NANOS), which Spark's reader rejects
# unless nanosAsLong is set; we read them as long and convert (µs truncation)
_NANO_TS_COLS = {"ts"}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, keep_nanos: bool = False
) -> DataFrame:
    # works on ANY session (incl. the driver's): nanosAsLong is a runtime
    # SQL conf, and nano-long columns are converted back to timestamps.
    # The timezone pin keeps ntz→timestamp casts shift-free on sessions
    # that weren't created by our session factory.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c, t in df.dtypes:
        if c in _NANO_TS_COLS and t == "bigint":
            if keep_nanos:
                # keep the raw nano long under an internal name: time-range
                # predicates compare on it (monotonic), so the range reaches
                # the Parquet scan as a plain long comparison and prunes
                # row groups — the Spark analogue of the reference's block
                # min/max time pruning (lib/logstorage/storage_search.go:
                # 1069-1081). The timestamp_micros() wrapper below would
                # otherwise reduce PushedFilters to IsNotNull.
                df = df.withColumn("__time_nanos", F.col(c))
            df = df.withColumn(c, F.timestamp_micros((F.col(c) / 1000).cast("long")))
        elif t == "timestamp_ntz":
            # ms-resolution parquet timestamps load as NTZ; normalize so
            # unix_micros & co. work uniformly (session tz is UTC)
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def events_as_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic `events` table viewed as a log table: ts → _time,
    props (JSON) → _msg, event_type as a stream label."""
    ev = load_table(spark, sf_dir, "events", keep_nanos=True)
    df = normalize_log_df(ev, time_col="ts", msg_col="props")
    return with_stream_id(df, ["event_type"])
