"""Tests for the /insert/* protocol payload parsers (sources/protocols.py)."""

import json

from victorialogs_spark.sources.protocols import (
    parse_datadog_logs,
    parse_elasticsearch_bulk,
    parse_journald_export,
    parse_loki_push,
    parse_syslog_lines,
)


def _lines_df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_elasticsearch_bulk(spark):
    """Each ``value`` row is one whole bulk body; a body that breaks the
    command/document alternation is dropped whole."""
    lines = [
        json.dumps({"index": {"_index": "logs"}}),
        json.dumps({"@timestamp": "2024-01-01T00:00:01Z", "message": "hello",
                    "svc": "web", "nested": {"a": 1}}),
        json.dumps({"create": {}}),
        json.dumps({"@timestamp": "2024-01-01T00:00:02Z", "message": "bye", "svc": "db"}),
    ]
    bad = "\n".join([json.dumps({"delete": {}}), json.dumps({"message": "x"})])
    df = parse_elasticsearch_bulk(
        spark, _lines_df(spark, ["\n".join(lines) + "\n", bad]),
        stream_fields=["svc"],
    )
    got = {r["_msg"]: r.asDict() for r in df.collect()}
    assert set(got) == {"hello", "bye"}
    assert got["hello"]["nested.a"] == "1"
    assert got["hello"]["_time"].second == 1
    assert got["hello"]["_stream_id"] != got["bye"]["_stream_id"]


def test_loki_push(spark):
    body = {"streams": [{
        "stream": {"app": "web", "env": "prod"},
        "values": [["1704067201000000000", "line one"],
                   ["1704067202000000000", "line two", {"trace": "t1"}]],
    }]}
    df = parse_loki_push(spark, _lines_df(spark, [json.dumps(body)]))
    rows = {r["_msg"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"line one", "line two"}
    assert rows["line one"]["app"] == "web" and rows["line one"]["env"] == "prod"
    assert rows["line two"]["trace"] == "t1"
    assert rows["line one"]["_time"].isoformat().startswith("2024-01-01T00:00:01")


def test_otlp_protobuf_roundtrip(spark):
    """Wire-format round-trip: encode a LogsData payload, decode it with
    the pure decoder and through the distributed parser."""
    from victorialogs_spark.sources.otlp_pb import decode_logs_data, encode_logs_data

    payload = encode_logs_data(
        {"service.name": "cart"},
        [
            {
                "time_unix_nano": 1704067201000000000,
                "body": "oops",
                "severity": "ERROR",
                "attrs": {"http.status": "500"},
            },
            {"time_unix_nano": 1704067202000000000, "body": "fine"},
        ],
    )
    # pure decoder first (no Spark): both records, resource attrs merged
    rows = decode_logs_data(payload)
    assert len(rows) == 2
    assert rows[0]["_msg"] == "oops" and rows[0]["service.name"] == "cart"
    assert rows[1]["_msg"] == "fine" and rows[1]["service.name"] == "cart"

    from victorialogs_spark.sources.protocols import parse_otlp_protobuf

    df = parse_otlp_protobuf(spark, [payload])
    got = {r["_msg"]: r.asDict() for r in df.collect()}
    assert got["oops"]["service.name"] == "cart"
    assert got["oops"]["severity"] == "ERROR"
    assert got["oops"]["http.status"] == "500"
    assert got["oops"]["_time"].second == 1
    assert got["fine"]["_time"].second == 2


def test_otlp_protobuf_all_value_types(spark):
    """AnyValue oneof coverage: bool/int/double/bytes/array/kvlist decode
    to the reference's FormatString text; false/0/0.0 survive instead of
    collapsing to ''."""
    import struct as st

    from victorialogs_spark.sources import otlp_pb as pb

    def any_field(fnum, raw):
        return pb._len_field(fnum, raw) if isinstance(raw, bytes) else raw

    cases = [
        (pb._len_field(1, b"plain"), "plain"),
        (pb._tag(2, 0) + pb._varint(1), "true"),
        (pb._tag(2, 0) + pb._varint(0), "false"),
        (pb._tag(3, 0) + pb._varint(0), "0"),
        (pb._tag(4, 1) + st.pack("<d", 0.0), "0.0"),
        (pb._tag(3, 0) + pb._varint((1 << 64) - 5), "-5"),  # negative int64
        (pb._tag(4, 1) + st.pack("<d", 2.5), "2.5"),
        # bytes render base64 like the reference's FormatString
        # (pb/helpers.qtpl:62), not hex
        (pb._len_field(7, b"\x01\xff"), "Af8="),
    ]
    for raw, want in cases:
        assert pb._any_value_str(raw) == want, (raw, want)
    # array_value of two strings
    arr = pb._len_field(1, pb._enc_any_string("a")) + pb._len_field(
        1, pb._enc_any_string("b")
    )
    assert pb._any_value_str(pb._len_field(5, arr)) == '["a","b"]'
    # kvlist_value
    kvl = pb._len_field(1, pb._enc_kv("k", "v"))
    assert pb._any_value_str(pb._len_field(6, kvl)) == '{"k":"v"}'


def test_otlp_protobuf_from_files(spark, tmp_path):
    from victorialogs_spark.sources.otlp_pb import encode_logs_data
    from victorialogs_spark.sources.protocols import parse_otlp_protobuf

    for i in range(3):
        payload = encode_logs_data(
            {"host": f"h{i}"},
            [{"time_unix_nano": 1704067200000000000 + i, "body": f"m{i}"}],
        )
        (tmp_path / f"p{i}.bin").write_bytes(payload)
    df = parse_otlp_protobuf(spark, str(tmp_path))
    rows = {r["_msg"]: r["host"] for r in df.collect()}
    assert rows == {"m0": "h0", "m1": "h1", "m2": "h2"}


def test_syslog_lines(spark):
    lines = [
        "<165>1 2024-01-01T00:00:05Z host1 app1 123 ID7 - structured hello",
        "<34>Jan  2 03:04:05 host2 app2[77]: classic message",
        "not really syslog",
    ]
    df = parse_syslog_lines(spark, _lines_df(spark, lines), year=2024)
    rows = {r["_msg"]: r.asDict() for r in df.collect()}
    assert rows["structured hello"]["hostname"] == "host1"
    assert rows["structured hello"]["severity"] == "5"
    assert rows["classic message"]["hostname"] == "host2"
    assert rows["classic message"]["proc_id"] == "77"
    assert rows["classic message"]["_time"].month == 1
    assert "not really syslog" in rows  # fallback: whole line as _msg


def test_journald_export(spark, tmp_path):
    p = tmp_path / "j.export"
    p.write_text(
        "__REALTIME_TIMESTAMP=1704067201000000\nMESSAGE=boot ok\nPRIORITY=6\n"
        "\n"
        "__REALTIME_TIMESTAMP=1704067202000000\nMESSAGE=svc start\n_PID=42\n"
    )
    df = parse_journald_export(spark, str(p))
    rows = {r["_msg"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"boot ok", "svc start"}
    # reference semantics (journald.go): names keep their case, PRIORITY
    # also emits level=<keyword>, single-underscore names are stored
    assert rows["boot ok"]["PRIORITY"] == "6"
    assert rows["boot ok"]["level"] == "info"
    assert rows["svc start"]["_PID"] == "42"
    assert rows["boot ok"]["_time"].isoformat().startswith("2024-01-01T00:00:01")


def test_datadog_logs(spark):
    payload = [{"message": "dd hello", "ddtags": "env:prod,team:core",
                "hostname": "h1", "service": "api"}]
    df = parse_datadog_logs(spark, _lines_df(spark, [json.dumps(payload)]))
    r = df.collect()[0].asDict()
    assert r["_msg"] == "dd hello"
    assert r["env"] == "prod" and r["team"] == "core"
    assert r["hostname"] == "h1" and r["service"] == "api"


def test_syslog_sd_message_with_brackets(spark):
    """Message text containing ']' after structured data must not be
    swallowed by a greedy SD capture."""
    line = '<34>1 2024-01-01T00:00:00Z host app 1 id [sd@1 x="y"] took [5] ms'
    df = parse_syslog_lines(spark, _lines_df(spark, [line]), year=2024)
    r = df.collect()[0].asDict()
    assert r["_msg"] == "took [5] ms"
    assert r["hostname"] == "host"


def test_datadog_epoch_ms_timestamp(spark):
    """Datadog's documented 'timestamp' attribute is epoch MILLISECONDS;
    it must parse to the right instant, not 1000x into the future
    (r14 review finding)."""
    import json

    from victorialogs_spark.sources.protocols import parse_datadog_logs

    line = json.dumps([{"message": "m", "timestamp": 1715000000000}])
    df = parse_datadog_logs(
        spark, spark.createDataFrame([(line,)], "value string")
    )
    row = df.collect()[0]
    assert row["_time"].year == 2024  # 2024-05-06, not year ~56k


def test_rfc3164_non_month_falls_back_to_raw(spark):
    """A capitalized 3-letter token that is not an English month
    (localized syslog) takes the designed raw-_msg fallback instead of
    a KeyError that silently drops the line (r14 review finding)."""
    from victorialogs_spark.sources.protocols import parse_syslog_lines

    lines = spark.createDataFrame(
        [("Okt 12 10:30:00 host app: localized",),
         ("Jan 12 10:30:00 host app[7]: real",)],
        "value string",
    )
    rows = {r["_msg"] for r in parse_syslog_lines(spark, lines).collect()}
    assert "Okt 12 10:30:00 host app: localized" in rows  # raw, not lost
    assert "real" in rows


def test_journald_corpus():
    """app/vlinsert/journald/journald_test.go TestPushJournald_Success
    replayed through journald_entries: binary length-framed values,
    field-name validation (names keep case; [A-Z_][A-Z0-9_]*, <=64
    bytes, __-metadata dropped), PRIORITY->level, entries flushing on
    blank lines only. Expected rows compare with ''-valued fields
    dropped (missing = empty)."""
    import json as _json
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).parent))
    from test_pipe_semantics_corpus import _go_string, _skip_ws

    from victorialogs_spark.sources.protocols import journald_entries

    src = Path(
        "/root/reference/app/vlinsert/journald/journald_test.go"
    ).read_text()
    body = src.split("func TestPushJournald_Success")[1].split("\nfunc ")[0]
    cases = []
    for m in re.finditer(r"\n\tf\(", body):
        i = _skip_ws(body, m.end())
        blob, i = _go_string(body, i)
        i = _skip_ws(body, i)
        assert body[i] == ","
        i = _skip_ws(body, i + 1)
        if body.startswith("nil", i):
            ts_list = []
            i += 3
        else:
            mm = re.match(r"\[\]int64\{([^}]*)\}", body[i:])
            ts_list = [int(x) for x in mm.group(1).split(",") if x.strip()]
            i += mm.end()
        i = _skip_ws(body, i)
        assert body[i] == ","
        want_s, i = _go_string(body, _skip_ws(body, i + 1))
        cases.append((blob, ts_list, want_s))
    assert len(cases) >= 10, f"extraction regressed: {len(cases)}"

    failures = []
    for blob, ts_list, want_s in cases:
        rows = journald_entries(blob)
        def _ns(t: str) -> int:
            sec, _, frac = t.partition(".")
            return int(sec) * 10**9 + int((frac + "000000000")[:9])

        got_ts = [_ns(r["_time"]) if r.get("_time") else None for r in rows]
        got_rows = [
            {k: v for k, v in r.items() if k != "_time" and v != ""}
            for r in rows
        ]
        want_rows = [
            {k: v for k, v in _json.loads(line).items() if v != ""}
            for line in want_s.split("\n")
            if line
        ]
        if got_rows != want_rows or got_ts != ts_list[: len(got_ts)] or len(
            got_ts
        ) != len(ts_list):
            failures.append(
                f"[{blob[:60]!r}] got {got_rows} ts {got_ts}"
                f" want {want_rows} ts {ts_list}"
            )
    assert not failures, "\n".join(failures[:6])


# ------------------------------------------------------- corpus helpers


def _go_args(body: str, i: int) -> tuple[list, int]:
    """Parse a Go call-argument list starting just after 'f(' — strings
    (quoted/backtick, with '+' concatenation), nil, true/false, ints,
    []int64{...}, []string{...}. Returns (args, index past ')')."""
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).parent))
    from test_pipe_semantics_corpus import _go_string, _skip_ws

    args: list = []
    i = _skip_ws(body, i)
    while body[i] != ")":
        c = body[i]
        if c in "\"`":
            s, i = _go_string(body, i)
            i = _skip_ws(body, i)
            while body[i] == "+":  # "a" + "b" concatenation
                i = _skip_ws(body, i + 1)
                s2, i = _go_string(body, i)
                s += s2
                i = _skip_ws(body, i)
            args.append(s)
        elif body.startswith("nil", i):
            args.append(None)
            i += 3
        elif body.startswith("true", i):
            args.append(True)
            i += 4
        elif body.startswith("false", i):
            args.append(False)
            i += 5
        elif body.startswith("[]int64{", i):
            j = body.index("}", i)
            args.append(
                [int(x) for x in body[i + 8 : j].split(",") if x.strip()]
            )
            i = j + 1
        elif body.startswith("[]string{", i):
            j = i + 9
            out = []
            j = _skip_ws(body, j)
            while body[j] != "}":
                s, j = _go_string(body, j)
                out.append(s)
                j = _skip_ws(body, j)
                if body[j] == ",":
                    j = _skip_ws(body, j + 1)
            args.append(out)
            i = j + 1
        else:
            m = re.match(r"-?\d+", body[i:])
            if not m:
                raise ValueError(f"unparseable arg at {i}: {body[i:i+30]!r}")
            args.append(int(m.group()))
            i += m.end()
        i = _skip_ws(body, i)
        if body[i] == ",":
            i = _skip_ws(body, i + 1)
    return args, i + 1


def _extract_f_calls(
    path: str, func: str, skip_unparseable: bool = False
) -> list[list]:
    import re
    from pathlib import Path

    src = Path(path).read_text()
    body = src.split(f"func {func}")[1].split("\nfunc ")[0]
    calls = []
    for m in re.finditer(r"\n\tf\(", body):
        try:
            args, _ = _go_args(body, m.end())
        except ValueError:
            if skip_unparseable:  # f() with variable args, handled by hand
                continue
            raise
        calls.append(args)
    return calls


def _ts_ns(t: str) -> int:
    sec, _, frac = t.partition(".")
    neg = sec.startswith("-")
    ns = abs(int(sec)) * 10**9 + int((frac + "000000000")[:9])
    return -ns if neg else ns


def _want_rows(result: str) -> list[dict]:
    """MarshalFieldsToJSON lines → dicts, ''-valued fields dropped
    (the marshaller skips them)."""
    return [
        {k: v for k, v in json.loads(line).items() if v != ""}
        for line in result.split("\n")
        if line
    ]


def _got_rows(rows: list[dict]) -> tuple[list[dict], list]:
    """''-valued fields drop (marshal parity); the engine-side _stream
    identity drops too — the Go fixtures' TestLogMessageProcessor never
    sees stream fields."""
    got_ts = [_ts_ns(r["_time"]) if r.get("_time") else None for r in rows]
    return [
        {k: v for k, v in r.items() if k not in ("_time", "_stream") and v != ""}
        for r in rows
    ], got_ts


# ------------------------------------------------------- loki corpus


def test_loki_json_corpus():
    """app/vlinsert/loki/loki_json_test.go replayed through
    loki_json_rows: malformed payloads raise; success payloads produce
    the reference's exact rows + timestamps (unit-auto-detected unix
    stamps, metadata-before-_msg, parse_message inlining + msg_fields
    renaming)."""
    import pytest

    from victorialogs_spark.sources.protocols import loki_json_rows

    path = "/root/reference/app/vlinsert/loki/loki_json_test.go"

    bad = _extract_f_calls(path, "TestParseJSONRequest_Failure")
    assert len(bad) >= 15, f"extraction regressed: {len(bad)}"
    for (blob,) in bad:
        with pytest.raises(ValueError):
            loki_json_rows(blob)

    good = _extract_f_calls(path, "TestParseJSONRequest_Success")
    assert len(good) >= 8, f"extraction regressed: {len(good)}"
    failures = []

    def _us(ts_list):  # expectations compare at µs — our _time resolution
        return [t // 1000 if t is not None else None for t in ts_list or []]

    for blob, ts_list, want_s in good:
        rows = loki_json_rows(blob)
        got, got_ts = _got_rows(rows)
        want = _want_rows(want_s or "")
        if got != want or _us(got_ts) != _us(ts_list):
            failures.append(f"[{blob[:60]!r}] got {got} ts {got_ts} want {want}")
    assert not failures, "\n".join(failures[:6])

    pm = _extract_f_calls(path, "TestParseJSONRequest_ParseMessage")
    assert len(pm) >= 1
    for blob, msg_fields, ts_list, want_s in pm:
        rows = loki_json_rows(blob, msg_fields, parse_message=True)
        got, got_ts = _got_rows(rows)
        assert got == _want_rows(want_s), got
        assert _us(got_ts) == _us(ts_list)


def test_snappy_block_codec():
    """Pure-python snappy: literal+copy decode (hand-packed stream:
    varint(14), literal 'abcd', copy-1B offset=4 len=10 — the
    overlapping-copy case), encode/decode roundtrip, malformed raises."""
    import pytest

    from victorialogs_spark.sources.loki_pb import snappy_decode, snappy_encode

    assert snappy_decode(b"\x0e\x0cabcd\x19\x04") == b"abcdabcdabcdab"
    for blob in [b"", b"x", b"hello world" * 100, bytes(range(256)) * 7]:
        assert snappy_decode(snappy_encode(blob)) == blob
    for bad in [b"", b"\x05\x0cab", b"\x02\x19\x04", b"\xff\xff\xff\xff\xff\xff"]:
        with pytest.raises(ValueError):
            snappy_decode(bad)


def test_parse_prom_labels_corpus():
    """loki_protobuf_test.go TestParsePromLabels_{Success,Failure}:
    success cases round-trip through parse_prom_labels + go_quote;
    failure cases raise."""
    import pytest

    from victorialogs_spark.sources.loki_pb import go_quote, parse_prom_labels

    path = "/root/reference/app/vlinsert/loki/loki_protobuf_test.go"
    good = _extract_f_calls(path, "TestParsePromLabels_Success")
    assert len(good) >= 4
    for (s,) in good:
        fields = parse_prom_labels(s)
        rendered = "{" + ", ".join(f"{k}={go_quote(v)}" for k, v in fields) + "}"
        assert rendered == s, f"{s!r} -> {fields} -> {rendered!r}"

    bad = _extract_f_calls(path, "TestParsePromLabels_Failure")
    assert len(bad) >= 9
    for (s,) in bad:
        with pytest.raises(ValueError):
            parse_prom_labels(s)


def _pb_roundtrip(blob: str, msg_fields, parse_message):
    """The Go protobuf test's harness: parse the JSON request, rebuild a
    PushRequest (one stream per row, all non-_msg fields rendered as
    prom labels — testLogMessageProcessor.AddRow), then parse the wire
    bytes with the protobuf path."""
    from victorialogs_spark.sources.loki_pb import encode_push_request, go_quote
    from victorialogs_spark.sources.protocols import loki_json_rows, loki_pb_rows

    rows = loki_json_rows(blob)
    streams = []
    for r in rows:
        labels = "{" + ", ".join(
            f"{k}={go_quote(v)}"
            for k, v in r.items()
            if k not in ("_msg", "_time", "_stream")
        ) + "}"
        ts_ns = _ts_ns(r["_time"]) if r.get("_time") else 0
        streams.append((labels, [(ts_ns, r.get("_msg", ""), [])]))
    data = encode_push_request(streams)
    return len(rows), loki_pb_rows(data, msg_fields, parse_message)


def test_loki_protobuf_corpus():
    """loki_protobuf_test.go TestParseProtobufRequest_{Success,
    ParseMessage} replayed: JSON → rebuilt PushRequest wire →
    loki_pb_rows must reproduce the reference rows + timestamps
    (µs resolution)."""
    path = "/root/reference/app/vlinsert/loki/loki_protobuf_test.go"

    def _us(ts_list):
        return [t // 1000 if t is not None else None for t in ts_list or []]

    good = _extract_f_calls(path, "TestParseProtobufRequest_Success")
    assert len(good) >= 8, f"extraction regressed: {len(good)}"
    failures = []
    for blob, ts_list, want_s in good:
        n_streams, rows = _pb_roundtrip(blob, None, False)
        assert n_streams == len(ts_list or [])
        got, got_ts = _got_rows(rows)
        want = _want_rows(want_s or "")
        if got != want or _us(got_ts) != _us(ts_list):
            failures.append(f"[{blob[:60]!r}] got {got} ts {got_ts} want {want}")
    assert not failures, "\n".join(failures[:6])

    pm = _extract_f_calls(path, "TestParseProtobufRequest_ParseMessage")
    assert len(pm) >= 1
    for blob, msg_fields, ts_list, want_s in pm:
        n_streams, rows = _pb_roundtrip(blob, msg_fields, True)
        assert n_streams == len(ts_list)
        got, got_ts = _got_rows(rows)
        assert got == _want_rows(want_s), got
        assert _us(got_ts) == _us(ts_list)


def test_loki_protobuf_dataframe(spark):
    """parse_loki_protobuf end-to-end: snappy-wrapped PushRequest bytes →
    queryable rows with stream labels + metadata as fields."""
    from victorialogs_spark.sources.loki_pb import encode_push_request, snappy_encode
    from victorialogs_spark.sources.protocols import parse_loki_protobuf

    data = encode_push_request(
        [
            (
                '{app="web", env="prod"}',
                [
                    (1709251200_000000001, "hello from promtail", []),
                    (1709251201_000000002, "second line", [("trace", "t1")]),
                ],
            )
        ]
    )
    df = parse_loki_protobuf(spark, [snappy_encode(data)])
    rows = {r["_msg"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"hello from promtail", "second line"}
    assert rows["hello from promtail"]["app"] == "web"
    assert rows["second line"]["trace"] == "t1"
    assert rows["second line"]["_time"].isoformat().startswith("2024-03-01")


def test_datadog_corpus():
    """app/vlinsert/datadog/datadog_test.go replayed through
    datadog_rows: malformed payloads raise; the success payload produces
    the reference's exact rows (ddtags unpacking incl. leading/trailing
    commas, nested object message), all at request time."""
    import pytest

    from victorialogs_spark.sources.protocols import datadog_rows

    path = "/root/reference/app/vlinsert/datadog/datadog_test.go"

    bad = _extract_f_calls(path, "TestReadLogsRequestFailure")
    assert len(bad) >= 4, f"extraction regressed: {len(bad)}"
    for (blob,) in bad:
        with pytest.raises(ValueError):
            datadog_rows(blob)

    # the success case binds its f() args to variables first:
    #   data := `...`; rowsExpected := N; resultExpected := `...`
    import re
    from pathlib import Path

    body = Path(path).read_text().split("func TestReadLogsRequestSuccess")[1]
    blob = re.search(r"data := `([\s\S]*?)`", body).group(1)
    rows_expected = int(re.search(r"rowsExpected := (\d+)", body).group(1))
    want_s = re.search(r"resultExpected := `([\s\S]*?)`", body).group(1)

    rows = datadog_rows(blob)
    assert len(rows) == rows_expected
    got, got_ts = _got_rows(rows)
    assert got == _want_rows(want_s), got
    # no record carries "timestamp": every row keeps request time
    assert got_ts == [None] * rows_expected


def test_datadog_timestamp_carryover():
    """datadog.go readLogsRequest: a record's positive epoch-ms
    timestamp overrides the shared ts — FOLLOWING records inherit it
    (the reference mutates the loop-outer variable); 0/negative keep
    the current value; non-integers reject the request."""
    import pytest

    from victorialogs_spark.sources.protocols import datadog_rows

    rows = datadog_rows(
        '[{"message":"a"},'
        '{"message":"b","timestamp":1709251200123},'
        '{"message":"c"},'
        '{"message":"d","timestamp":0},'
        '{"message":"e","timestamp":-5}]'
    )
    assert [r["_time"] for r in rows] == [
        "",
        "1709251200.123000",
        "1709251200.123000",
        "1709251200.123000",
        "1709251200.123000",
    ]
    with pytest.raises(ValueError):
        datadog_rows('[{"timestamp":"2024-01-01T00:00:00Z"}]')
    with pytest.raises(ValueError):
        datadog_rows('[{"timestamp":1.5}]')


def test_elasticsearch_bulk_corpus():
    """app/vlinsert/elasticsearch/elasticsearch_test.go replayed through
    es_bulk_rows: malformed bulks (unknown command, missing/unparseable
    document) raise; the success payload produces the reference's exact
    rows + timestamps (multi-candidate time/msg fields, nested flatten,
    RFC3339/space-datetime/unix-unit-auto timestamps)."""
    import re
    from pathlib import Path

    import pytest

    from victorialogs_spark.sources.protocols import es_bulk_rows

    path = "/root/reference/app/vlinsert/elasticsearch/elasticsearch_test.go"

    bad = _extract_f_calls(path, "TestReadBulkRequest_Failure")
    assert len(bad) >= 5, f"extraction regressed: {len(bad)}"
    for (blob,) in bad:
        with pytest.raises(ValueError):
            es_bulk_rows(blob, ["_time"], ["_msg"])

    # success: empty-data literals via f(...), the non-empty one via the
    # data/timeField/... variable bindings (same harness as the Go test:
    # timeFields/msgFields are padded with non-existing names)
    good = _extract_f_calls(
        path, "TestReadBulkRequest_Success", skip_unparseable=True
    )
    assert len(good) >= 3
    for blob, _enc, tf, mf, ts_list, want_s in good:
        rows = es_bulk_rows(
            blob, ["non_existing_foo", tf, "non_existing_bar"],
            ["non_existing_foo", mf, "non_exiting_bar"],
        )
        assert rows == [] and not (ts_list or want_s)

    body = Path(path).read_text().split("func TestReadBulkRequest_Success")[1]
    blob = re.search(r"data := `([\s\S]*?)`", body).group(1)
    tf = re.search(r'timeField := "([^"]*)"', body).group(1)
    mf = re.search(r'msgField := "([^"]*)"', body).group(1)
    ts_list = [
        int(x)
        for x in re.search(r"timestampsExpected := \[\]int64\{([^}]*)\}", body)
        .group(1)
        .split(",")
    ]
    want_s = re.search(r"resultExpected := `([\s\S]*?)`", body).group(1)

    rows = es_bulk_rows(
        blob, ["non_existing_foo", tf, "non_existing_bar"],
        ["non_existing_foo", mf, "non_exiting_bar"],
    )
    got, got_ts = _got_rows(rows)
    assert got == _want_rows(want_s), got
    assert got_ts == [t // 1000 * 1000 for t in ts_list]


# ------------------------------------------------------- otlp corpus


_OTLP_KEYMAP = {"TraceID": "traceId", "SpanID": "spanId",
                "KeyValueList": "kvlistValue", "ArrayValue": "arrayValue"}


def _go_value(s: str, i: int):
    """Parse a Go value from the OTLP test's struct-literal grammar into
    the OTLP/JSON dict shape (pb.AnyValue{StringValue: ptrTo("x")} →
    {"stringValue": "x"} etc.)."""
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).parent))
    from test_pipe_semantics_corpus import _go_string, _skip_ws

    i = _skip_ws(s, i)
    c = s[i]
    if c in '"`':
        v, i = _go_string(s, i)
        i = _skip_ws(s, i)
        while i < len(s) and s[i] == "+":  # "a" + "b" concatenation
            part, i = _go_string(s, _skip_ws(s, i + 1))
            v += part
            i = _skip_ws(s, i)
        return v, i
    if s.startswith("ptrTo", i):
        j = s.index("(", i)
        v, k = _go_value(s, j + 1)
        k = _skip_ws(s, k)
        assert s[k] == ")"
        return v, k + 1
    if c == "&":
        return _go_value(s, i + 1)
    m = re.match(r"-?\d+(\.\d+)?", s[i:])
    if m and (c.isdigit() or c == "-"):
        txt = m.group()
        return (float(txt) if "." in txt else int(txt)), i + m.end()
    # composite: ([] | [able type prefix])...{ ... }
    j = s.index("{", i)
    typename = s[i:j]
    i = _skip_ws(s, j + 1)
    if s[i] == "}":
        return ([] if typename.startswith("[]") else {}), i + 1
    # struct if the next token is `Ident:` (not a nested value)
    mm = re.match(r"(\w+):", s[i:])
    if mm and not typename.startswith("[]"):
        out = {}
        while True:
            mm = re.match(r"(\w+):", s[i:])
            key = mm.group(1)
            v, i = _go_value(s, i + mm.end())
            out[_OTLP_KEYMAP.get(key, key[0].lower() + key[1:])] = v
            i = _skip_ws(s, i)
            if s[i] == ",":
                i = _skip_ws(s, i + 1)
            if s[i] == "}":
                return out, i + 1
    out = []
    while True:
        v, i = _go_value(s, i)
        out.append(v)
        i = _skip_ws(s, i)
        if s[i] == ",":
            i = _skip_ws(s, i + 1)
        if s[i] == "}":
            return out, i + 1


def _enc_otlp_any(v: dict) -> bytes:
    import base64
    import struct as st

    from victorialogs_spark.sources import otlp_pb as pb

    if "stringValue" in v:
        return pb._len_field(1, str(v["stringValue"]).encode())
    if "boolValue" in v:
        return pb._tag(2, 0) + pb._varint(1 if v["boolValue"] else 0)
    if "intValue" in v:
        return pb._tag(3, 0) + pb._varint(int(v["intValue"]) & ((1 << 64) - 1))
    if "doubleValue" in v:
        return pb._tag(4, 1) + st.pack("<d", float(v["doubleValue"]))
    if "arrayValue" in v:
        inner = b"".join(
            pb._len_field(1, _enc_otlp_any(x))
            for x in v["arrayValue"].get("values") or []
        )
        return pb._len_field(5, inner)
    if "kvlistValue" in v:
        inner = b"".join(
            pb._len_field(1, _enc_otlp_kv(kv))
            for kv in v["kvlistValue"].get("values") or []
        )
        return pb._len_field(6, inner)
    if "bytesValue" in v:
        return pb._len_field(7, base64.b64decode(v["bytesValue"]))
    return b""


def _enc_otlp_kv(kv: dict) -> bytes:
    from victorialogs_spark.sources import otlp_pb as pb

    return pb._len_field(1, str(kv.get("key", "")).encode()) + pb._len_field(
        2, _enc_otlp_any(kv.get("value") or {})
    )


def _enc_otlp_record(rec: dict) -> bytes:
    import struct as st

    from victorialogs_spark.sources import otlp_pb as pb

    out = bytearray()
    if rec.get("timeUnixNano"):
        out += pb._tag(1, 1) + st.pack("<Q", int(rec["timeUnixNano"]))
    if rec.get("observedTimeUnixNano"):
        out += pb._tag(11, 1) + st.pack("<Q", int(rec["observedTimeUnixNano"]))
    if rec.get("severityNumber"):
        out += pb._tag(2, 0) + pb._varint(
            int(rec["severityNumber"]) & ((1 << 64) - 1)
        )
    if rec.get("severityText"):
        out += pb._len_field(3, str(rec["severityText"]).encode())
    if "body" in rec:
        out += pb._len_field(5, _enc_otlp_any(rec["body"]))
    for kv in rec.get("attributes") or []:
        out += pb._len_field(6, _enc_otlp_kv(kv))
    if rec.get("traceId"):
        out += pb._len_field(9, bytes.fromhex(rec["traceId"]))
    if rec.get("spanId"):
        out += pb._len_field(10, bytes.fromhex(rec["spanId"]))
    return bytes(out)


def _enc_otlp_payload(resource_logs: list) -> bytes:
    from victorialogs_spark.sources import otlp_pb as pb

    out = bytearray()
    for rl in resource_logs:
        rl_buf = bytearray()
        res = rl.get("resource") or {}
        if res.get("attributes") is not None:
            rl_buf += pb._len_field(
                1,
                b"".join(
                    pb._len_field(1, _enc_otlp_kv(kv))
                    for kv in res["attributes"]
                ),
            )
        for sl in rl.get("scopeLogs") or []:
            sl_buf = b"".join(
                pb._len_field(2, _enc_otlp_record(rec))
                for rec in sl.get("logRecords") or []
            )
            rl_buf += pb._len_field(2, sl_buf)
        out += pb._len_field(1, bytes(rl_buf))
    return bytes(out)


def test_otlp_corpus():
    """app/vlinsert/opentelemetry/opentelemetry_test.go TestPushProtoOk
    replayed through the protobuf decoder: the Go struct literals
    re-encode to wire bytes → decode_logs_data, which must reproduce the
    reference's rows (severity number names, dot-flattened kvlist
    attributes, trace/span ids) and timestamps (observed-time fallback;
    µs resolution)."""
    import re
    from pathlib import Path

    from victorialogs_spark.sources.otlp_pb import decode_logs_data

    body = Path(
        "/root/reference/app/vlinsert/opentelemetry/opentelemetry_test.go"
    ).read_text().split("func TestPushProtoOk")[1].split("\nfunc ")[0]

    import sys
    from pathlib import Path as _P

    sys.path.insert(0, str(_P(__file__).parent))
    from test_pipe_semantics_corpus import _go_string, _skip_ws

    cases = []
    for m in re.finditer(r"\n\tf\(", body):
        rls, i = _go_value(body, m.end())
        i = _skip_ws(body, i)
        assert body[i] == ","
        ts, i = _go_value(body, _skip_ws(body, i + 1))  # []int64{...}
        i = _skip_ws(body, i)
        assert body[i] == ","
        i = _skip_ws(body, i + 1)
        want_s, i = _go_string(body, i)
        i = _skip_ws(body, i)
        while body[i] == "+":  # backtick-concatenated expected strings
            part, i = _go_string(body, _skip_ws(body, i + 1))
            want_s += part
            i = _skip_ws(body, i)
        cases.append((rls, ts, want_s))
    assert len(cases) >= 5, f"extraction regressed: {len(cases)}"

    failures = []
    for rls, ts_list, want_s in cases:
        want = _want_rows(want_s)
        want_ts = [t // 1000 for t in ts_list]

        rows = decode_logs_data(_enc_otlp_payload(rls))
        got, got_ts = _got_rows(rows)
        if got != want or [t // 1000 if t else 0 for t in got_ts] != want_ts:
            failures.append(f"pb: got {got}\n ts {got_ts}\n want {want}")
    assert not failures, "\n\n".join(failures[:4])
