"""Ingestion-protocol parsers: the payload formats of the reference's
/insert/* endpoints (app/vlinsert/*), re-expressed as distributed
DataFrame transforms. Each format contributes only its payload → rows
parser; the shared row path in sources.ndjson does the rest (payload
input, the Arrow batch emitter, the row finisher and the
event-time / column-promotion / stream-id tail).

Covered formats (each a mapInPandas batch parser — executors only):
- Elasticsearch bulk NDJSON  (app/vlinsert/elasticsearch)
- Loki push JSON + protobuf  (app/vlinsert/loki)
- OpenTelemetry OTLP         (app/vlinsert/opentelemetry; protobuf only,
                              like the reference)
- syslog RFC3164/RFC5424     (app/vlinsert/syslog)
- journald export format     (app/vlinsert/journald: MESSAGE +
                              __REALTIME_TIMESTAMP µs)
- Datadog logs JSON          (app/vlinsert/datadog)

Each format has ONE pure per-payload row parser (``es_bulk_rows``,
``loki_json_rows``, ``loki_pb_rows``, ``otlp_pb.decode_logs_data``,
``journald_entries``, ``datadog_rows``). The ``parse_*`` functions run
it over payload files / DataFrames (binary files, ``content``
DataFrames or lists of ``bytes`` for the protobuf formats); the
server's /insert/* handlers (http_server.py) run it on a request body
and build the frame with sources/ndjson.rows_frame. JSON documents
flatten through functions/jsonflat.flatten_json_message.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from victorialogs_spark.functions.jsonflat import flatten_json_message
from victorialogs_spark.sources.ndjson import (
    finish_parsed,
    parse_payloads,
    payload_frame,
)


def stream_label_str(labels: list[tuple[str, str]]) -> str:
    """Canonical per-row `_stream` string from explicit labels (loki
    stream labels, OTLP resource attributes — the reference's
    useDefaultStreamFields path): sorted by name, ''-valued labels
    dropped (absent ≡ empty), same rendering as schema.with_stream_id."""
    parts = [f'{k}="{v}"' for k, v in sorted(dict(labels).items()) if v != ""]
    return "{" + ",".join(parts) + "}"


# ------------------------------------------------------------ elasticsearch

def parse_elasticsearch_bulk(
    spark: SparkSession,
    payloads,
    stream_fields: list[str] | None = None,
    promote_keys: list[str] | None = None,
) -> DataFrame:
    """ES bulk bodies (a path/glob of whole files, or a DataFrame whose
    ``value`` rows are whole bodies) → log rows through
    :func:`es_bulk_rows`. ``@timestamp`` (else ``_time``) is the row
    time and ``_msg`` (else ``message``) the message, as a filebeat-style
    sender configures the server with ``_time_field``/``_msg_field``. A
    malformed body is dropped whole."""
    parsed = parse_payloads(
        payload_frame(spark, payloads, wholetext=True),
        lambda body: es_bulk_rows(
            body, ["@timestamp", "_time"], ["_msg", "message"]
        ),
    )
    return finish_parsed(parsed, stream_fields, promote_keys)


def parse_es_timestamp_ns(s: str) -> int | None:
    """parseElasticsearchTimestamp replica (elasticsearch.go:227): ns, or
    0 for the "substitute ingest time" sentinels ("", "0"), or None on a
    parse failure. Short / non-dash-at-[4] strings take the unix route
    (unit auto-detect); exactly YYYY-MM-DD parses as a date; anything
    else must be a full RFC3339(-with-space) timestamp."""
    if s in ("", "0"):
        return 0
    if len(s) < 10 or s[4] != "-":
        return try_parse_unix_ns(s)
    if len(s) == 10:
        # exactly YYYY-MM-DD parses as a date (strict, like Go
        # time.Parse("2006-01-02"))
        import datetime as _dt

        try:
            d = _dt.datetime.strptime(s, "%Y-%m-%d")
        except ValueError:
            return None
        return int(
            d.replace(tzinfo=_dt.timezone.utc).timestamp()
        ) * 10**9
    from victorialogs_spark.logsql.lexer import try_parse_rfc3339_ns

    return try_parse_rfc3339_ns(s)


def es_bulk_rows(
    body: str,
    time_fields: list[str] | None = None,
    msg_fields: list[str] | None = None,
) -> list[dict]:
    """ES bulk NDJSON → rows, reference-exact (elasticsearch.go
    readBulkRequest/readBulkLine; pinned by the r15 elasticsearch
    corpus). STRICTLY ALTERNATING: every odd line is a command that must
    contain "create" or "index" (substring check, like the reference —
    delete/update are rejected), every even line is a JSON document.
    Any violation raises ValueError, rejecting the whole request. The
    first present time_fields name is consumed as the row time
    (parse_es_timestamp_ns; absent/zero → ingest-time now → _time "");
    the first non-empty msg_fields name is renamed to _msg."""
    time_fields = time_fields if time_fields is not None else ["_time"]
    msg_fields = msg_fields if msg_fields is not None else ["_msg"]
    rows: list[dict] = []
    lines = iter(body.split("\n"))
    while True:
        line = ""
        for line in lines:
            if line:
                break
        if not line:
            return rows  # EOF while skipping blanks
        if '"create"' not in line and '"index"' not in line:
            raise ValueError(
                f'unexpected command {line!r}; expecting "create" or "index"'
            )
        doc = next(lines, None)
        if doc is None:
            raise ValueError(
                'missing log message after the "create" or "index" command'
            )
        if not doc:
            continue  # reference: over-long skipped line — keep parsing
        flat = flatten_json_message(doc)
        if flat is None:
            raise ValueError(f"cannot parse json-encoded log entry: {doc!r}")
        ts_ns = 0
        for tf in time_fields:
            if tf in flat:
                ts_ns = parse_es_timestamp_ns(flat[tf])
                if ts_ns is None:
                    raise ValueError(
                        f"cannot parse timestamp {flat[tf]!r} in field {tf!r}"
                    )
                flat[tf] = ""  # consumed (ExtractTimestampFromFields)
                break
        for mf in msg_fields:  # RenameField: first non-empty match
            if flat.get(mf, "") != "":
                flat["_msg"] = flat.pop(mf)
                break
        flat = {k: v for k, v in flat.items() if v != ""}
        flat["_time"] = unix_frac_seconds(ts_ns, 10**9) if ts_ns else ""
        rows.append(flat)


# ------------------------------------------------------- unix timestamps

_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)


def _try_i64(s: str) -> int | None:
    """Go strconv.ParseInt(s, 10, 64): optional sign + decimal digits only
    (no whitespace, no underscores — Python's int() accepts both)."""
    if not s:
        return None
    body = s[1:] if s[0] in "+-" else s
    if not body or not body.isascii() or not body.isdigit():
        return None
    n = int(s)
    return n if _I64_MIN <= n <= _I64_MAX else None


def _mul_dec_exp(n: int, exp: int) -> int | None:
    # multiplyByDecimalExp: 0 < exp <= 18, int64-overflow-checked
    if exp < 0 or exp > 18:
        return None
    if exp == 0:
        return n
    n *= 10**exp
    return n if _I64_MIN <= n <= _I64_MAX else None


def _frac_unix(int_str: str, frac_str: str) -> int | None:
    # tryParseFractionalNumberForUnixTimestamp: int*10^len(frac) ± frac
    n = _try_i64(int_str)
    if n is None:
        return None
    num = _mul_dec_exp(n, len(frac_str))
    if num is None:
        return None
    frac = _try_i64(frac_str)
    if frac is None:
        return None
    num = num + frac if num >= 0 else num - frac
    return num if _I64_MIN <= num <= _I64_MAX else None


def _unit_to_ns(n: int) -> int:
    # getUnixTimestampNanoseconds: unit auto-detects at int32-count
    # magnitude boundaries (seconds → ms → µs → ns)
    if -(1 << 31) <= n < (1 << 31):
        return n * 10**9
    if -(1 << 31) * 10**3 <= n < (1 << 31) * 10**3:
        return n * 10**6
    if -(1 << 31) * 10**6 <= n < (1 << 31) * 10**6:
        return n * 10**3
    return n


def try_parse_unix_ns(s: str) -> int | None:
    """timeutil.TryParseUnixTimestamp replica: integer / fractional /
    scientific unix timestamp string → nanoseconds with the unit
    (s/ms/µs/ns) auto-detected by magnitude; None when unparseable.
    Pinned by the r15 loki ingest corpus (e.g. "1686026123.62" → ms,
    "147.78369e9" → ms)."""
    e = s.find("e")
    if e < 0:
        e = s.find("E")
    if e >= 0:
        dec_exp = _try_i64(s[e + 1 :])
        if dec_exp is None:
            return None
        mantissa = s[:e]
        dot = mantissa.find(".")
        if dot < 0:
            n = _try_i64(mantissa)
            if n is None:
                return None
            n = _mul_dec_exp(n, dec_exp)
        else:
            frac = mantissa[dot + 1 :]
            if dec_exp < len(frac):
                return None
            n = _frac_unix(mantissa[:dot], frac)
            if n is None:
                return None
            n = _mul_dec_exp(n, dec_exp - len(frac))
        return _unit_to_ns(n) if n is not None else None

    dot = s.find(".")
    if dot < 0:
        n = _try_i64(s)
        return _unit_to_ns(n) if n is not None else None

    frac_str = s[dot + 1 :]
    n = _frac_unix(s[:dot], frac_str)
    if n is None:
        return None
    # pad to a multiple-of-3 decimal exponent so the unit boundaries hold
    exp = len(frac_str)
    while exp % 3 != 0:
        n *= 10
        if not _I64_MIN <= n <= _I64_MAX:
            return None
        exp += 1
    return _unit_to_ns(n)


# --------------------------------------------------------------------- loki


def _loki_row(
    labels: list[tuple[str, str]],
    metadata: list[tuple[str, str]],
    msg: str,
    ts_ns: int,
    msg_fields: list[str] | None,
    parse_message: bool,
) -> dict:
    """Per-entry row assembly shared by the JSON and protobuf paths
    (loki_json.go addMsgField + rows.go RenameField): metadata lands
    before _msg; with parse_message a '{...}' message that parses as a
    JSON object is inlined instead of becoming _msg, and the first
    non-empty msg_fields name among the per-line (non-label) fields is
    renamed to _msg."""
    fields = list(labels) + list(metadata)
    parsed_msg = None
    if parse_message and len(msg) >= 2 and msg[0] == "{" and msg[-1] == "}":
        parsed_msg = flatten_json_message(msg)
    if parsed_msg is not None:
        fields.extend(parsed_msg.items())
        renamed = False
        for want in msg_fields or []:
            if renamed:
                break
            for idx in range(len(labels), len(fields)):
                k, val = fields[idx]
                if k == want and val != "":
                    fields[idx] = ("_msg", val)
                    renamed = True
                    break
    else:
        fields.append(("_msg", msg))
    row = dict(fields)
    # loki's default stream identity is the stream LABELS
    # (loki_json.go useDefaultStreamFields → fields[:commonFieldsLen])
    row["_stream"] = stream_label_str(labels)
    row["_time"] = unix_frac_seconds(ts_ns, 10**9) if ts_ns else ""
    return row


def loki_json_rows(
    body: str,
    msg_fields: list[str] | None = None,
    parse_message: bool = False,
) -> list[dict]:
    """Loki push JSON body → rows, reference-exact
    (app/vlinsert/loki/loki_json.go parseJSONRequest; pinned by the r15
    loki corpus). Raises ValueError on any malformed payload — the
    reference rejects the whole request:

    - every stream needs a `values` array; `stream` labels and
      structured-metadata values must be strings;
    - each values item is [ts, msg] or [ts, msg, {metadata}]; ts is a
      STRING unix timestamp in auto-detected unit (TryParseUnixTimestamp)
      — "" or 0 means ingest-time now;
    - metadata fields land BEFORE _msg;
    - with parse_message, a "{...}" message that parses as a JSON object
      is inlined (ParseLogMessage flattening) instead of becoming _msg,
      and the first non-empty msg_fields name among the per-line fields
      (metadata + parsed) is renamed to _msg (rows.go RenameField)."""
    v = json.loads(body)
    if not isinstance(v, dict) or "streams" not in v:
        raise ValueError("missing `streams` item")
    streams = v["streams"]
    if not isinstance(streams, list):
        raise ValueError("`streams` must be an array")
    rows: list[dict] = []
    for stream in streams:
        if not isinstance(stream, dict):
            raise ValueError("`streams` item must be an object")
        labels: list[tuple[str, str]] = []
        labels_v = stream.get("stream")
        if labels_v is not None:
            if not isinstance(labels_v, dict):
                raise ValueError("`stream` item must be an object")
            for k, val in labels_v.items():
                if not isinstance(val, str):
                    raise ValueError(f"label {k!r} value must be a string")
                labels.append((k, val))
        if "values" not in stream:
            raise ValueError("missing `values` item")
        lines_v = stream["values"]
        if not isinstance(lines_v, list):
            raise ValueError("`values` must be an array")
        for line in lines_v:
            if not isinstance(line, list) or not 2 <= len(line) <= 3:
                raise ValueError("`values` item must be [ts, msg(, metadata)]")
            ts_s, msg = line[0], line[1]
            if not isinstance(ts_s, str):
                raise ValueError("log timestamp must be a string")
            if ts_s == "":
                ts_ns = 0
            else:
                ns = try_parse_unix_ns(ts_s)
                if ns is None:
                    raise ValueError(f"cannot parse log timestamp {ts_s!r}")
                ts_ns = ns
            fields = list(labels)
            if len(line) > 2:
                md = line[2]
                if not isinstance(md, dict):
                    raise ValueError("structured metadata must be an object")
                for k, val in md.items():
                    if not isinstance(val, str):
                        raise ValueError(
                            f"metadata {k!r} value must be a string"
                        )
                    fields.append((k, val))
            if not isinstance(msg, str):
                raise ValueError("log message must be a string")
            rows.append(
                _loki_row(
                    labels,
                    fields[len(labels) :],
                    msg,
                    ts_ns,
                    msg_fields,
                    parse_message,
                )
            )
    return rows


def parse_loki_push(
    spark: SparkSession,
    path_or_lines,
    promote_keys: list[str] | None = None,
    msg_fields: list[str] | None = None,
    parse_message: bool = False,
) -> DataFrame:
    """Loki push payloads (one JSON body per line):
    {"streams": [{"stream": {labels}, "values": [["<ns>", "line"], ...]}]}
    (app/vlinsert/loki/loki_json.go:74-122). Stream labels become fields
    AND the stream identity."""

    def one(line: str) -> list[dict]:
        line = line.strip()
        if not line:
            return []
        return loki_json_rows(line, msg_fields, parse_message)

    parsed = parse_payloads(payload_frame(spark, path_or_lines), one)
    # loki stream labels: promote + use every label as a stream field is
    # caller-specific; default promotes sampled keys only
    return finish_parsed(parsed, None, promote_keys)


def loki_pb_rows(
    data: bytes,
    msg_fields: list[str] | None = None,
    parse_message: bool = False,
) -> list[dict]:
    """Loki PushRequest protobuf body (NOT snappy-wrapped) → rows,
    reference-exact (app/vlinsert/loki/loki_protobuf.go
    parseProtobufRequest; pinned by the r15 loki protobuf corpus).
    Stream labels arrive as a `{name="value", ...}` string
    (parsePromLabels); per-entry metadata/message/renaming semantics are
    shared with the JSON path."""
    from victorialogs_spark.sources.loki_pb import (
        decode_push_request,
        parse_prom_labels,
    )

    rows: list[dict] = []
    for labels_str, entries in decode_push_request(data):
        labels = parse_prom_labels(labels_str) if labels_str else []
        for ts_ns, line, metadata in entries:
            rows.append(
                _loki_row(labels, metadata, line, ts_ns, msg_fields, parse_message)
            )
    return rows


def parse_loki_protobuf(
    spark: SparkSession,
    payloads,
    promote_keys: list[str] | None = None,
    msg_fields: list[str] | None = None,
    parse_message: bool = False,
    snappy: bool = True,
) -> DataFrame:
    """Loki push protobuf — the DEFAULT promtail/Grafana-Agent transport
    (snappy-compressed PushRequest; loki.go:41 routes every non-JSON
    Content-Type here, loki_protobuf.go:44 assumes snappy when no
    Content-Encoding). ``payloads``: a directory/glob of payload files
    (binaryFile — distributed), a DataFrame with a binary ``content``
    column, or a list of ``bytes``. Decoding runs in mapInPandas on
    executors via the dependency-free codecs in sources/loki_pb.py."""
    from victorialogs_spark.sources.loki_pb import snappy_decode

    def one(payload) -> list[dict]:
        raw = bytes(payload)
        if snappy:
            raw = snappy_decode(raw)
        return loki_pb_rows(raw, msg_fields, parse_message)

    parsed = parse_payloads(payload_frame(spark, payloads, binary=True), one)
    return finish_parsed(parsed, None, promote_keys)


# --------------------------------------------------------------------- otlp


def unix_frac_seconds(value: int, scale: int) -> str:
    """Exact decimal-seconds string for an integer unix timestamp at
    1/``scale`` second resolution (truncated to µs — Spark's timestamp
    resolution). A float division here would put the µs digit at the
    double's ~0.24µs ulp and occasionally round it wrong."""
    us = value * (10**6 // scale) if scale <= 10**6 else value // (scale // 10**6)
    return f"{us // 10**6}.{us % 10**6:06d}"


def parse_otlp_protobuf(
    spark: SparkSession,
    payloads,
    promote_keys: list[str] | None = None,
) -> DataFrame:
    """OTLP/protobuf logs — the ONE encoding real exporters send (the
    reference rejects JSON: app/vlinsert/opentelemetry/opentelemetry.go:27).
    ``payloads``: a directory/glob of payload files (read via binaryFile —
    distributed), a DataFrame with a binary ``content`` column, or a list
    of ``bytes`` (driver-side convenience). Decoding runs in mapInPandas on
    executors via the dependency-free wire decoder (sources/otlp_pb.py)."""
    from victorialogs_spark.sources.otlp_pb import decode_logs_data

    parsed = parse_payloads(
        payload_frame(spark, payloads, binary=True),
        lambda payload: decode_logs_data(bytes(payload)),
    )
    return finish_parsed(parsed, None, promote_keys)


# ------------------------------------------------------------------- syslog


def parse_syslog_lines(
    spark: SparkSession,
    path_or_lines,
    promote_keys: list[str] | None = None,
    year: int = 2024,
) -> DataFrame:
    """Raw syslog lines (RFC3164/RFC5424) → log rows via the same regex
    battery as the unpack_syslog pipe; RFC3164 timestamps get ``year``
    (the wire format omits it)."""
    # the reference's ingest stores EVERY parser field, extracting
    # 'timestamp' as _time and renaming 'message' to _msg
    # (app/vlinsert/syslog/syslog.go:555-562); the shared progressive
    # parser (functions/syslogparse.py, syslog_parser.go semantics)
    # replaced this path's regex battery in r15 — partial headers and
    # RFC5424 structured-data params now ingest faithfully
    import time as _time

    from victorialogs_spark.functions.syslogparse import syslog_fields

    now_unix = _time.time()

    def one(line: str) -> list[dict]:
        line = line.rstrip("\n")
        if not line.strip():
            return []
        flat = dict(syslog_fields(line, year, now_unix))
        if not flat:
            return [{"_msg": line}]
        ts = flat.pop("timestamp", "")
        msg = flat.pop("message", "")
        return [{"_time": ts, "_msg": msg, **flat}]

    parsed = parse_payloads(payload_frame(spark, path_or_lines), one)
    # syslog's default stream fields
    # (insertutil.GetCommonParamsForSyslog:125)
    return finish_parsed(
        parsed, ["hostname", "app_name", "proc_id"], promote_keys
    )


# ----------------------------------------------------------------- journald


# journald's default stream fields (journald.go defaultStreamFields)
JOURNALD_STREAM_FIELDS = ["_MACHINE_ID", "_HOSTNAME", "_SYSTEMD_UNIT"]


def parse_journald_export(
    spark: SparkSession,
    path_or_blobs,
    promote_keys: list[str] | None = None,
) -> DataFrame:
    """journald export format: KEY=value lines, blank line between entries;
    MESSAGE → _msg, __REALTIME_TIMESTAMP (µs) → _time
    (app/vlinsert/journald/journald.go:37,66). Reads whole files (entries
    span lines) — one file per task, fine for export-style drops. Also
    accepts a one-column DataFrame of whole export blobs (HTTP bodies)."""
    parsed = parse_payloads(
        payload_frame(spark, path_or_blobs, wholetext=True), journald_entries
    )
    return finish_parsed(parsed, JOURNALD_STREAM_FIELDS, promote_keys)


_JOURNALD_NAME_RE = __import__("re").compile(rb"^[A-Z_][A-Z0-9_]*$")

_JOURNALD_LEVELS = {
    "0": "emerg", "1": "alert", "2": "critical", "3": "error",
    "4": "warning", "5": "notice", "6": "info", "7": "debug",
}


def journald_entries(blob: str) -> list[dict]:
    """Journal Export Format → rows, reference-exact
    (app/vlinsert/journald/journald.go readJournaldLogEntry; pinned by
    the r15 journald corpus):

    - a field is "NAME=value" or binary "NAME\\n<8-byte LE size><data>\\n"
      (data may span newlines); a malformed binary frame aborts the
      stream, keeping the rows already emitted;
    - names are [A-Z_][A-Z0-9_]* and at most 64 BYTES — invalid names
      skip the FIELD (the old parser lowercased and stripped
      underscores, inventing names the reference never stores);
    - __REALTIME_TIMESTAMP (µs) is consumed as the row time (0 or
      unparseable → ingest-time now); MESSAGE becomes _msg; PRIORITY
      also emits level=<keyword> and is kept; "__"-prefixed metadata
      fields drop;
    - an entry flushes on its blank line (or EOF); an entry whose every
      field was skipped emits nothing."""
    data = blob.encode("utf-8", "surrogateescape")
    n = len(data)
    rows: list[dict] = []
    fields: list[tuple[str, str]] = []
    ts_us: int | None = None

    def flush() -> None:
        nonlocal fields, ts_us
        if fields:
            row = dict(fields)
            row["_time"] = (
                unix_frac_seconds(ts_us, 10**6) if ts_us else ""
            )
            rows.append(row)
        fields, ts_us = [], None

    i = 0
    while True:
        if i >= n:
            flush()
            return rows
        j = data.find(b"\n", i)
        line = data[i:j] if j >= 0 else data[i:n]
        i = (j + 1) if j >= 0 else n
        if line == b"":
            flush()
            continue
        eq = line.find(b"=")
        if eq >= 0:
            name_b, value_b = line[:eq], line[eq + 1 :]
        else:
            # binary frame: 8-byte little-endian size, then the payload
            # and a mandatory trailing '\n'
            name_b = line
            if i + 8 > n:
                flush()
                return rows
            size = int.from_bytes(data[i : i + 8], "little")
            i += 8
            if size > n - i or data[i + size : i + size + 1] != b"\n":
                flush()
                return rows
            value_b = data[i : i + size]
            i += size + 1
        if len(name_b) > 64 or not _JOURNALD_NAME_RE.match(name_b):
            continue
        name = name_b.decode("utf-8", "surrogateescape")
        value = value_b.decode("utf-8", "surrogateescape")
        if name == "__REALTIME_TIMESTAMP":
            try:
                ts_us = int(value)
            except ValueError:
                ts_us = None
            continue
        if name == "MESSAGE":
            name = "_msg"
        if name == "PRIORITY":
            fields.append(("level", _JOURNALD_LEVELS.get(value, value)))
        if not name.startswith("__"):
            fields.append((name, value))


# ------------------------------------------------------------------ datadog


def _datadog_msg_fields(v) -> list[tuple[str, str]]:
    """appendMsgFields replica (datadog.go:114): a string message becomes
    _msg; an OBJECT message contributes its "message" (→_msg) and
    "status" string members plus every string member of its "lamdba"
    [sic — the reference's typo] object; other member keys are ignored,
    non-string members of message/status become '' (fastjson
    GetStringBytes nil); any other message type rejects the request."""
    if isinstance(v, str):
        return [("_msg", v)]
    if isinstance(v, dict):
        out: list[tuple[str, str]] = []
        for k, val in v.items():
            if k == "message":
                out.append(("_msg", val if isinstance(val, str) else ""))
            elif k == "status":
                out.append(("status", val if isinstance(val, str) else ""))
            elif k == "lamdba":
                if not isinstance(val, dict):
                    raise ValueError("lambda value must be an object")
                for lk, lv in val.items():
                    if not isinstance(lv, str):
                        raise ValueError(
                            f"lambda label {lk!r} value must be a string"
                        )
                    out.append((lk, lv))
        return out
    raise ValueError(f"unsupported message type {type(v).__name__}")


def datadog_rows(body: str) -> list[dict]:
    """Datadog logs JSON body → rows, reference-exact
    (app/vlinsert/datadog/datadog.go readLogsRequest; pinned by the r15
    datadog corpus). Raises ValueError on malformed payloads — the
    reference rejects the whole request:

    - the body is a JSON ARRAY of record objects; every non-special
      member value must be a string;
    - "timestamp" is an integer in epoch MILLISECONDS; a positive value
      overrides the row time AND every following row's default (the
      reference mutates the shared ts variable) — 0/negative keep it;
    - "ddtags" ("k:v,k2:v2") unpack into fields; empty segments skip; a
      segment without ':' maps to {tag: "no_label_value"} (the
      reference's stated intent — its code then panics on pair[:-1],
      aborting the request; we keep the intended field instead);
    - "message" may be a string or an object (see _datadog_msg_fields)."""
    v = json.loads(body)
    if not isinstance(v, list):
        raise ValueError("cannot extract array from parsed JSON")
    rows: list[dict] = []
    ts_ms: int | None = None  # None = request time ("now")
    for obj in v:
        if not isinstance(obj, dict):
            raise ValueError("could not extract log record")
        fields: list[tuple[str, str]] = []
        for k, val in obj.items():
            if k == "message":
                fields.extend(_datadog_msg_fields(val))
            elif k == "timestamp":
                if not isinstance(val, int) or isinstance(val, bool):
                    raise ValueError(f"failed to parse timestamp {val!r}")
                if val > 0:
                    ts_ms = val
            elif k == "ddtags":
                if not isinstance(val, str):
                    raise ValueError("ddtags value must be a string")
                for pair in val.split(","):
                    if not pair:
                        continue
                    n = pair.find(":")
                    if n < 0:
                        fields.append((pair, "no_label_value"))
                    else:
                        fields.append((pair[:n], pair[n + 1 :]))
            else:
                if not isinstance(val, str):
                    raise ValueError(
                        f"unexpected label value type for {k!r}; want string"
                    )
                fields.append((k, val))
        row = dict(fields)
        row["_time"] = unix_frac_seconds(ts_ms, 10**3) if ts_ms else ""
        rows.append(row)
    return rows


def parse_datadog_logs(
    spark: SparkSession,
    path_or_lines,
    promote_keys: list[str] | None = None,
) -> DataFrame:
    """Datadog logs payloads (one JSON array per line): [{"message": ...,
    "ddtags": "k:v,k2:v2", "hostname": ..., "service": ...}]
    (app/vlinsert/datadog). ddtags unpack into fields."""

    def one(line: str) -> list[dict]:
        line = line.strip()
        if not line:
            return []
        return datadog_rows(line)

    parsed = parse_payloads(payload_frame(spark, path_or_lines), one)
    return finish_parsed(parsed, None, promote_keys)
