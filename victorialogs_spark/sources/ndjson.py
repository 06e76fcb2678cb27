"""The shared ingest row path, and distributed NDJSON ingestion.

Every payload format ends in the same two shapes:

- a per-row flat dict of string fields that may carry a raw ``_time``
  string — :func:`ndjson_row` builds it for one NDJSON line, and the
  protocol parsers in sources/protocols.py build it for theirs;
- a ``(_time_raw, fields map<string,string>)`` frame — :func:`parse_payloads`
  runs a row parser over a frame of payloads on executors (Arrow-batched
  ``mapInPandas``), finishing each row with :func:`finish_row`.

:func:`finish_parsed` turns that frame into log rows: event time, a
sampled key promotion to top-level string columns (the "promoted
columns + spill map" model from SURVEY.md §1.2) and the stream id.

``ingest_ndjson_distributed`` (NDJSON files at scale, never materialized
on the driver) and streaming/ingest.start_ndjson_ingest run this path.
A request body is small enough for the driver: :func:`rows_frame` puts
the same parsed rows into one local relation (``schema.ingest_ndjson``
and the server's /insert/* handlers).
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from victorialogs_spark.functions.jsonflat import flatten_json_message
from victorialogs_spark.functions.natural import unix_auto_timestamp
from victorialogs_spark.functions.prefixfilter import match_filters
from victorialogs_spark.functions.text import drop_color_sequences
from victorialogs_spark.schema import (
    DEFAULT_MSG,
    attach_stream_id,
    with_stream_id,
)

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("_time_raw", T.StringType()),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
    ]
)

PROMOTE_SAMPLE_ROWS = 10_000
MAX_PROMOTED_COLS = 2000  # mirrors the reference's per-block column cap


def ndjson_row(
    line: str,
    time_field: str | list[str] = "_time",
    msg_field: str | list[str] = "_msg",
    ignore_fields: list[str] | None = None,
    extra_fields: dict[str, str] | None = None,
    decolorize_fields: list[str] | None = None,
) -> dict[str, str] | None:
    """One NDJSON line → its flat fields, None for a blank line. Applies
    the reference's ingest transforms (_time_field/_msg_field/
    ignore_fields/extra_fields/decolorize_fields,
    insertutil/common_params.go:32-100): json_parser.go flattening
    with the 128-char name rule (functions/jsonflat.flatten_json_message:
    nested keys dot-joined, arrays/numbers/bools kept as their source
    JSON text); ignore/decolorize names are prefix FILTERS ('foo.*' drops
    every foo.-prefixed field) and extra fields re-add after the drop
    (log_rows.go via the r15 log-rows corpus); '' in those lists names
    _msg. _time_field/_msg_field are CANDIDATE LISTS: the first PRESENT
    time field becomes ``_time`` (ExtractTimestampFromFields), the first
    NON-EMPTY msg field renames to ``_msg`` (RenameField) — apptest
    key_concepts corpus (r15). Raises ValueError on a line that is not a
    JSON object."""
    line = line.strip()
    if not line:
        return None
    flat = flatten_json_message(line, 128)
    if flat is None:
        raise ValueError(f"JSON log line must be an object, got {line[:64]!r}")
    if ignore_fields:
        ig = [f or "_msg" for f in ignore_fields]
        flat = {k: v for k, v in flat.items() if not match_filters(ig, k)}
    if decolorize_fields:
        deco = [f or "_msg" for f in decolorize_fields]
        for k in flat:
            if match_filters(deco, k):
                flat[k] = drop_color_sequences(flat[k])
    if extra_fields:
        flat.update(extra_fields)
    for tf in [time_field] if isinstance(time_field, str) else time_field:
        if tf in flat:
            flat["_time"] = flat.pop(tf)
            break
    for mf in [msg_field] if isinstance(msg_field, str) else msg_field:
        if flat.get(mf, "") != "":
            flat["_msg"] = flat.pop(mf)
            break
    return flat


def finish_row(
    flat: dict[str, str], default_msg: str = DEFAULT_MSG
) -> tuple[str, dict[str, str]]:
    """A parsed row → (raw ``_time`` string, fields): ``_time`` is popped
    ('' when absent) and a row without a non-empty ``_msg`` gets the
    default message."""
    t = flat.pop("_time", "")
    if not flat.get("_msg"):
        flat["_msg"] = default_msg
    return t, flat


def payload_frame(
    spark: SparkSession, payloads, binary: bool = False, wholetext: bool = False
) -> DataFrame:
    """A payload source → the one-column frame :func:`parse_payloads`
    reads: a path/glob (text lines, whole files with ``wholetext``, or
    binaryFile ``content`` with ``binary``), a DataFrame (its ``value``
    or ``content`` column), or a list of ``bytes`` payloads."""
    col = "content" if binary else "value"
    if isinstance(payloads, str):
        if binary:
            return spark.read.format("binaryFile").load(payloads).select(col)
        return spark.read.text(payloads, wholetext=wholetext)
    if isinstance(payloads, DataFrame):
        return payloads.select(col)
    return spark.createDataFrame(
        [(bytearray(p),) for p in payloads], "content binary"
    )


def parse_payloads(
    frame: DataFrame,
    parse: Callable[[Any], list[dict]],
    default_msg: str = DEFAULT_MSG,
) -> DataFrame:
    """Payloads → (_time_raw, fields) rows on executors, in Arrow
    batches. ``frame`` holds a ``value`` text column or a binary
    ``content`` column; ``parse`` turns one payload into parsed rows
    (:func:`finish_row` completes each) and :func:`payload_rows` drops a
    payload whose parse raises."""
    col = "content" if "content" in frame.columns else "value"

    def _emit(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            times, fields = [], []
            for payload in pdf[col]:
                for flat in payload_rows(parse, payload):
                    t, flat = finish_row(flat, default_msg)
                    times.append(t)
                    fields.append(flat)
            if times:  # empty frames infer float64 dtype, breaking Arrow maps
                yield pd.DataFrame(
                    {
                        "_time_raw": pd.Series(times, dtype="object"),
                        "fields": pd.Series(fields, dtype="object"),
                    }
                )

    return frame.mapInPandas(_emit, PARSED_SCHEMA)


def payload_rows(parse: Callable[[Any], list[dict]], payload) -> list[dict]:
    """``parse(payload)``, or no rows when it raises: a malformed payload
    is dropped whole and never fails the ingest."""
    try:
        return parse(payload)
    except Exception:  # noqa: BLE001 — any parser error means "malformed"
        return []


def parse_ndjson_lines(
    lines: DataFrame,
    time_field: str | list[str] = "_time",
    msg_field: str | list[str] = "_msg",
    ignore_fields: list[str] | None = None,
    extra_fields: dict[str, str] | None = None,
    default_msg_value: str = DEFAULT_MSG,
    decolorize_fields: list[str] | None = None,
) -> DataFrame:
    """text lines (column ``value``) → (_time_raw, fields map) rows via
    :func:`ndjson_row`; malformed and non-object lines are dropped."""

    def one(line: str) -> list[dict]:
        flat = ndjson_row(
            line, time_field, msg_field, ignore_fields, extra_fields,
            decolorize_fields,
        )
        return [] if flat is None else [flat]

    return parse_payloads(lines, one, default_msg_value)


def event_time(raw: Column, now: Column | None = None) -> Column:
    """A raw ``_time`` string (RFC3339 / unix stamp / empty) → timestamp,
    the ingest time ``now`` (default ``current_timestamp()``) when it is
    missing or unparseable."""
    return F.coalesce(
        # try_*: ANSI mode makes plain to_timestamp THROW on e.g. unix-secs;
        # numeric stamps auto-detect their unit (s/ms/µs/ns, the
        # reference's TryParseUnixTimestamp boundaries — r15)
        F.try_to_timestamp(raw),
        # '0' means "no timestamp" and takes now() like ''/'-'
        # (insertutil parseTimestamp; r15 ingest-timestamp corpus)
        unix_auto_timestamp(F.nullif(raw, F.lit("0"))),
        F.current_timestamp() if now is None else now,
    )


def with_event_time(parsed: DataFrame) -> DataFrame:
    """_time_raw → _time timestamp (:func:`event_time`)."""
    return parsed.withColumn("_time", event_time(F.col("_time_raw"))).drop(
        "_time_raw"
    )


def promote_columns(
    parsed: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Lift field keys to top-level string columns; unsampled keys stay in
    the ``_other`` spill map. ``keys=None`` infers from a bounded sample
    (one O(10k-row) job, not a second full pass)."""
    if keys is None:
        rows = (
            parsed.select("fields")
            .limit(PROMOTE_SAMPLE_ROWS)
            .select(F.explode(F.map_keys("fields")).alias("k"))
            .distinct()
            .limit(MAX_PROMOTED_COLS)
            .collect()
        )
        keys = sorted(r["k"] for r in rows)
    # promote everything except the engine-derived columns (_msg IS a
    # promoted column in the log model)
    keys = [k for k in keys if k not in ("_time", "_day", "_other")]
    cols = [F.col("_time")]
    cols += [
        F.coalesce(F.col("fields")[k], F.lit("")).alias(k) for k in keys
    ]
    spill = (
        F.map_filter(F.col("fields"), lambda k, _: ~k.isin(keys))
        if keys
        else F.col("fields")
    )
    cols.append(spill.alias("_other"))
    return parsed.select(*cols)


def finish_parsed(
    parsed: DataFrame,
    stream_fields: list[str] | None,
    promote_keys: list[str] | None,
) -> DataFrame:
    """(_time_raw, fields) rows → log rows: event time, column promotion,
    stream id. ``stream_fields=None`` keeps a parser-computed per-row
    ``_stream`` (loki labels, OTLP resource attributes) and only hashes
    it; otherwise ``_stream`` is built from the listed fields."""
    return _with_stream(
        promote_columns(with_event_time(parsed), promote_keys), stream_fields
    )


def _with_stream(out: DataFrame, stream_fields: list[str] | None) -> DataFrame:
    if stream_fields is None and "_stream" in out.columns:
        return attach_stream_id(out)
    # every row belongs to a stream — without stream fields it is the
    # empty one "{}" (log_rows.go; r15 key-concepts corpus)
    return with_stream_id(
        out, [f for f in stream_fields or [] if f in out.columns]
    )


# engine-owned names a user field cannot take as a column: a literal
# ``_day`` would hijack the partition column (append_day_partitioned and
# retention would trust data-controlled day labels), ``_other`` is the
# spill map itself
_SPILLED = ("_day", "_other")


def rows_frame(
    spark: SparkSession,
    rows: list[dict[str, str]],
    stream_fields: list[str] | None,
    default_msg: str = DEFAULT_MSG,
) -> DataFrame:
    """Parsed rows (consumed) → log rows, built on the driver for a
    request body. The rows go into one Arrow table, which
    ``createDataFrame`` plans as a LocalRelation: building the frame runs
    no Spark job and starts no Python worker. The optimizer evaluates
    the projections on top (event time, stream id, the server's tenant)
    over those rows while planning, so a read whose filter excludes
    them (another tenant) prunes the frame before any job runs.

    Every key becomes a string column ('' where a row lacks it), sorted
    after ``_time``; only the engine-owned ``_day``/``_other`` keys spill
    into an ``_other`` map, as in :func:`promote_columns`. A missing or
    unparseable ``_time`` takes this call's instant, bound as a literal:
    ``current_timestamp()`` would re-evaluate in every query over the
    never-materialized frame. ``stream_fields`` as in
    :func:`finish_parsed`."""
    import time

    import pyarrow as pa

    now = F.timestamp_micros(F.lit(time.time_ns() // 1000))
    data = [finish_row(flat, default_msg) for flat in rows]
    keys = sorted({k for _, flat in data for k in flat})
    cols = {"_time": pa.array([t for t, _ in data], pa.string())}
    for k in keys:
        if k not in _SPILLED:
            cols[k] = pa.array([f.get(k, "") for _, f in data], pa.string())
    spilled = [k for k in keys if k in _SPILLED]
    if spilled:
        cols["_other"] = pa.array(
            [{k: f[k] for k in spilled if k in f} or None for _, f in data],
            pa.map_(pa.string(), pa.string()),
        )
    df = spark.createDataFrame(pa.table(cols))
    return _with_stream(
        df.withColumn("_time", event_time(F.col("_time"), now)), stream_fields
    )


def _flatten_schema_cols(
    schema: T.StructType, parent: F.Column | None = None, prefix: str = ""
) -> list[tuple[str, F.Column]]:
    """Inferred JSON schema → flat (dot-joined name, string Column) list.
    Structs recurse; arrays/maps re-serialize via to_json; everything else
    is already a string under primitivesAsString."""
    out: list[tuple[str, F.Column]] = []
    for field in schema.fields:
        col = (
            parent.getField(field.name)
            if parent is not None
            else F.col(f"`{field.name}`")
        )
        name = f"{prefix}.{field.name}" if prefix else field.name
        if isinstance(field.dataType, T.StructType):
            out.extend(_flatten_schema_cols(field.dataType, col, name))
        elif isinstance(field.dataType, (T.ArrayType, T.MapType)):
            out.append((name, F.to_json(col)))
        else:
            out.append((name, col.cast("string")))
    return out


def ingest_ndjson_jvm(
    spark: SparkSession,
    path: str,
    time_field: str = "_time",
    msg_field: str = "_msg",
    stream_fields: list[str] | None = None,
    default_msg_value: str = DEFAULT_MSG,
    schema: T.StructType | None = None,
) -> DataFrame:
    """JVM-native NDJSON ingest: ``spark.read.json`` (whole-stage codegen
    Jackson parse, no Python workers) + schema-driven flattening — the
    bulk-load fast path, ~5-10× the mapInPandas path's rows/sec.

    ``schema`` (optional) skips the inference scan entirely — the shape a
    steady-state 100 TB loader runs, where the field layout is known from
    a prior batch or a sampled prefix. Fields must be string-typed to
    match ``primitivesAsString`` inference (use a prior run's
    ``df.schema``); rows carrying fields outside the schema lose them.

    Semantics match :func:`ingest_ndjson_distributed` (jsonflat
    dot-joining, numbers kept as their source text, missing ≡ empty,
    malformed lines dropped) with one divergence inherent to
    schema-driven parsing: arrays re-serialize from the INFERRED type,
    so ``["a", 1]`` and ``[1.50, 2]`` round-trip as ``["a","1"]`` and
    ``["1.50","2"]`` (all-string). Two more come from this twin keeping
    its own tail: a literal ``_time`` on a row without ``time_field``
    spills to ``_other`` instead of becoming the row time, and without
    ``stream_fields`` no ``_stream``/``_stream_id`` columns are added.

    Schema inference is one extra scan of the input; at 100 TB either
    pass a representative sample's schema or accept the scan — both
    beat per-row Python by an order of magnitude.
    """
    raw = spark.read.json(
        path, schema=schema, primitivesAsString=True, mode="DROPMALFORMED"
    )
    out = _flatten_promote_jvm(raw, time_field, msg_field, default_msg_value)
    if stream_fields:
        out = with_stream_id(
            out, [f for f in stream_fields if f in out.columns]
        )
    return out


def parse_json_lines_jvm(
    lines: DataFrame,
    schema: T.StructType | str,
    time_field: str = "_time",
    msg_field: str = "_msg",
    default_msg_value: str = DEFAULT_MSG,
) -> DataFrame:
    """JVM parse of a text-lines DataFrame against a KNOWN schema via
    ``from_json`` — works identically on batch and Structured Streaming
    frames (no extra inference scan, no Python workers). Lines that don't
    parse (from_json → NULL struct) are dropped, like DROPMALFORMED."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    # PERMISSIVE from_json yields an ALL-NULL struct for malformed lines —
    # indistinguishable from a VALID line none of whose fields appear
    # (e.g. '{}', which must still become a default-_msg row). A corrupt-
    # record column separates the two exactly.
    corrupt = "_vl_corrupt"
    while corrupt in schema.fieldNames():
        corrupt += "_"
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    parsed = lines.where(F.trim(F.col("value")) != "").select(
        F.from_json(
            F.col("value"), full,
            {"columnNameOfCorruptRecord": corrupt},
        ).alias("__j")
    )
    parsed = (
        parsed.where(
            F.col("__j").isNotNull()
            & F.col("__j").getField(corrupt).isNull()
        )
        .select("__j.*")
        .drop(corrupt)
    )
    return _flatten_promote_jvm(parsed, time_field, msg_field, default_msg_value)


def _flatten_promote_jvm(
    raw: DataFrame,
    time_field: str,
    msg_field: str,
    default_msg_value: str,
) -> DataFrame:
    """Shared tail of the JVM ingest paths: flatten the struct columns,
    promote up to MAX_PROMOTED_COLS keys, spill the rest to _other."""
    flat = _flatten_schema_cols(raw.schema)
    flat.sort(key=lambda kv: kv[0])
    by_name = dict(flat)
    t_raw = by_name.get(time_field, F.lit(""))
    msg = by_name.get(msg_field, F.lit(""))
    # engine-owned names are never promoted as user columns, matching
    # the pandas path (promote_columns strips "_time"/"_day"/"_other";
    # the msg-field alias overwrites a literal "_msg"). Promoting a
    # literal "_day" was the sharpest hazard: append_day_partitioned
    # would skip deriving the partition column and place rows under
    # data-controlled day labels, which retention then compares
    # lexicographically — wrong partitions AND wrong expiry (r14
    # review finding).
    engine_owned = {time_field, msg_field, "_other", "_time", "_day", "_msg"}
    user_cols = [(k, v) for k, v in flat if k not in engine_owned]
    promoted = user_cols[:MAX_PROMOTED_COLS]
    overflow = user_cols[MAX_PROMOTED_COLS:]
    # engine-named user fields can't be promoted but must not vanish
    # either — they live in the spill map under their own names, same
    # as the mapInPandas path. Exceptions mirroring pandas: the active
    # time source is consumed as _time_raw, and a literal "_msg" under
    # a custom msg_field is overwritten by the alias (dropped).
    spill_names = {"_other", "_time", "_day"} - {time_field, msg_field}
    overflow += [(k, v) for k, v in flat if k in spill_names]
    cols = [t_raw.alias("_time_raw")]
    cols.append(
        F.when(
            F.coalesce(msg, F.lit("")) == "", F.lit(default_msg_value)
        ).otherwise(msg).alias("_msg")
    )
    cols += [F.coalesce(v, F.lit("")).alias(k) for k, v in promoted]
    # keys beyond the promote cap spill into the _other map (never drop
    # data silently); empty map otherwise, matching the pandas path shape
    if overflow:
        spill = F.map_filter(
            F.create_map(
                *[x for k, v in overflow for x in (F.lit(k), v)]
            ),
            lambda _, v: v.isNotNull(),
        )
    else:
        spill = F.expr("cast(map() as map<string,string>)")
    cols.append(spill.alias("_other"))
    return with_event_time(raw.select(*cols))


def ingest_ndjson_distributed(
    spark: SparkSession,
    path: str,
    time_field: str = "_time",
    msg_field: str = "_msg",
    stream_fields: list[str] | None = None,
    ignore_fields: list[str] | None = None,
    extra_fields: dict[str, str] | None = None,
    promote_keys: list[str] | None = None,
) -> DataFrame:
    """NDJSON file(s)/dir → log DataFrame, fully distributed."""
    parsed = parse_ndjson_lines(
        spark.read.text(path), time_field, msg_field, ignore_fields,
        extra_fields,
    )
    return finish_parsed(parsed, stream_fields or [], promote_keys)
