"""/insert/* bodies become driver-side local relations: an insert that
crosses no flush threshold runs no Spark job, its rows read the same
before and after the flush, and each protocol's driver-built rows equal
the distributed (mapInPandas) parser's rows for the same payload. Rows
read back without storage columns, and one JSON document keeps its
numbers' source text through every JSON ingest path and unpack_json.
Also the spill reap: a compacted-away table file outlives every /select
request that took its frame before the compaction committed."""

import json
import threading
import time
import urllib.request

import pytest

from victorialogs_spark import endpoints as ep
from victorialogs_spark.http_server import LogHTTPServer, _State


def _post(srv, path, body: bytes, ctype="application/json"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body, method="POST",
        headers={"Content-Type": ctype},
    )
    return urllib.request.urlopen(req).status


def _query(srv, q="*") -> list[dict]:
    body = urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/select/logsql/query?query="
        + urllib.parse.quote(q)
    ).read()
    return [json.loads(l) for l in body.splitlines()]


def _jobs(spark) -> int:
    # handler threads set no job group
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _lines(day: str, n: int, tag: str) -> bytes:
    return "\n".join(
        json.dumps({"_time": f"{day}T00:00:{i:02d}Z", "_msg": f"{tag} {i}",
                    "app": "life"})
        for i in range(n)
    ).encode()


@pytest.fixture()
def srv(spark, tmp_path):
    s = LogHTTPServer(spark, None, 0, spill_dir=str(tmp_path / "spill")).start()
    yield s
    s.stop()


def test_non_flushing_inserts_run_no_spark_job(spark, srv):
    assert srv.state.wait_idle()
    before = _jobs(spark)
    assert _post(srv, "/insert/jsonline?_stream_fields=app",
                 _lines("2024-01-01", 5, "jl"), "application/x-ndjson") == 200
    bulk = (
        '{"index":{}}\n{"@timestamp":"2024-01-01T00:00:00Z","message":"es"}\n'
    ).encode()
    assert _post(srv, "/insert/elasticsearch/_bulk"
                 "?_time_field=@timestamp&_msg_field=message", bulk) == 200
    assert _jobs(spark) == before
    assert srv.state._writing is False and srv.state._pending_rows == 6
    assert len(_query(srv, "jl OR es")) == 6


def test_timeless_row_keeps_its_time_through_the_flush(spark, srv):
    # a table exists first, so pending rows carry the derived _day the
    # flushed rows read back with
    _post(srv, "/insert/jsonline", _lines("2024-01-01", 2, "old"))
    srv.state.flush_now()
    assert srv.state.wait_idle()
    _post(srv, "/insert/jsonline?_stream_fields=app",
          b'{"_msg":"no time","app":"x"}\n{"_msg":"timed",'
          b'"_time":"2024-01-02T00:00:00Z","app":"x"}')
    pending = sorted(_query(srv, "app:x"), key=lambda r: r["_msg"])
    time.sleep(1.1)
    assert sorted(_query(srv, "app:x"), key=lambda r: r["_msg"]) == pending
    srv.state.flush_now()
    assert srv.state.wait_idle() and srv.state._pending is None
    flushed = sorted(_query(srv, "app:x"), key=lambda r: r["_msg"])
    assert flushed == pending
    assert pending[0]["_msg"] == "no time"
    assert pending[0]["_time"] > "2024-01-02"  # ingest time, bound once


def _wire(df) -> list[dict]:
    rows = [ep.row_to_wire_dict(r) for r in df.collect()]
    return sorted(rows, key=lambda d: json.dumps(d, sort_keys=True))


def test_driver_rows_equal_distributed_parser_rows(spark):
    from victorialogs_spark.sources import protocols as pr
    from victorialogs_spark.sources.loki_pb import (
        encode_push_request,
        snappy_decode,
        snappy_encode,
    )
    from victorialogs_spark.sources.ndjson import rows_frame
    from victorialogs_spark.sources.otlp_pb import (
        decode_logs_data,
        encode_logs_data,
    )

    def text_df(body: str):
        return spark.createDataFrame([(body,)], "value string")

    loki = json.dumps({"streams": [{
        "stream": {"job": "node", "env": ""},
        "values": [["1709251200000000000", "loki one"],
                   ["1709251201000000000", "loki two", {"trace": "t1"}]],
    }]})
    pb = snappy_encode(encode_push_request([(
        '{app="web", env="prod"}',
        [(1709251200_000000001, "pb one", []),
         (1709251201_000000002, "pb two", [("trace", "t2")])],
    )]))
    dd = json.dumps([
        {"message": "dd one", "ddtags": "env:prod,team", "hostname": "h1",
         "timestamp": 1709251200123},
        {"message": {"message": "dd two", "status": "warn"}, "hostname": "h2"},
    ])
    jd = ("MESSAGE=jd one\n__REALTIME_TIMESTAMP=1709251200000000\n"
          "PRIORITY=6\n_HOSTNAME=box\n\nMESSAGE=jd two\n"
          "__REALTIME_TIMESTAMP=1709251201000000\n_SYSTEMD_UNIT=x.service\n")
    otlp = encode_logs_data(
        {"service.name": "svc"},
        [{"time_unix_nano": 1709251200_000000000, "body": "otlp one",
          "severity": "INFO", "attrs": {"k": "v"}}],
    )
    cases = [
        (pr.loki_json_rows(loki), None, pr.parse_loki_push(spark, text_df(loki))),
        (pr.loki_pb_rows(snappy_decode(pb)), None,
         pr.parse_loki_protobuf(spark, [pb])),
        (pr.datadog_rows(dd), None, pr.parse_datadog_logs(spark, text_df(dd))),
        (pr.journald_entries(jd), pr.JOURNALD_STREAM_FIELDS,
         pr.parse_journald_export(spark, text_df(jd))),
        (decode_logs_data(otlp), None, pr.parse_otlp_protobuf(spark, [otlp])),
    ]
    bulk = ('{"index":{}}\n{"@timestamp":"2024-03-01T00:00:00Z",'
            '"message":"es row","svc":"es","deep":{"k":"v"}}\n')
    cases.append((pr.es_bulk_rows(bulk, ["@timestamp"], ["message"]), None,
                  pr.parse_elasticsearch_bulk(spark, text_df(bulk))))
    for rows, stream_fields, want in cases:
        assert rows
        assert _wire(rows_frame(spark, rows, stream_fields)) == _wire(want)


def test_engine_owned_keys_spill_instead_of_becoming_columns(spark):
    from victorialogs_spark.schema import ingest_ndjson

    df = ingest_ndjson(spark, [
        '{"_msg":"a","_day":"garbage","_other":"kept"}', '{"_msg":"b"}'
    ])
    assert "_day" not in df.columns
    got = {r["_msg"]: r["_other"] for r in df.collect()}
    assert got == {"a": {"_day": "garbage", "_other": "kept"}, "b": None}


def test_storage_columns_stay_off_the_wire(spark, srv):
    """Flushed rows read back without the ``_day`` partition column, a
    user ``_day`` spilled into ``_other`` comes back under its own name,
    and a distributed parser's empty spill map adds no field."""
    from victorialogs_spark.sources.protocols import parse_loki_push

    _post(srv, "/insert/jsonline", b'{"_time":"2024-01-01T00:00:00Z",'
          b'"_msg":"plain"}\n{"_time":"2024-01-01T00:00:01Z",'
          b'"_msg":"odd","_day":"garbage"}')
    for phase in ("pending", "flushed"):
        rows = {r["_msg"]: r for r in _query(srv)}
        assert "_day" not in rows["plain"], phase
        assert rows["odd"]["_day"] == "garbage", phase
        assert not any("_other" in r for r in rows.values()), phase
        srv.state.flush_now()
        assert srv.state.wait_idle() and srv.state._pending is None

    body = json.dumps({"streams": [{"stream": {"job": "x"},
                                    "values": [["0", "loki row"]]}]})
    df = parse_loki_push(spark, spark.createDataFrame([(body,)], "value string"))
    assert "_other" in df.columns
    (line,) = ep.query_ndjson(spark, df, "*")
    assert set(json.loads(line)) == {"_time", "_msg", "_stream", "_stream_id", "job"}


def test_one_document_same_values_through_every_json_path(spark, srv):
    """One JSON document keeps its numbers' source text through
    /insert/jsonline, /insert/elasticsearch/_bulk, Loki's parse_message
    and nested unpack_json: the one flattener keeps raw tokens."""
    import sys
    from pathlib import Path

    from victorialogs_spark.api import run_query
    from victorialogs_spark.sources.protocols import parse_loki_push

    sys.path.insert(0, str(Path(__file__).parent))
    from test_engine import make_logs

    doc = '"d":1.20,"e":1e5,"z":-0,"big":1e400,"arr":[1.50,2],"o":{"n":-0.0}'
    want = {"d": "1.20", "e": "1e5", "z": "-0", "big": "1e400",
            "arr": "[1.50,2]", "o.n": "-0.0"}

    def picked(row: dict) -> dict:
        return {k: row.get(k, "") for k in want}

    _post(srv, "/insert/jsonline", ('{"src":"jl",%s}' % doc).encode())
    _post(srv, "/insert/elasticsearch/_bulk",
          ('{"index":{}}\n{"src":"es",%s}\n' % doc).encode())
    assert picked(_query(srv, "src:jl")[0]) == want
    assert picked(_query(srv, "src:es")[0]) == want

    loki = json.dumps({"streams": [{"stream": {"src": "loki"},
                                    "values": [["0", "{%s}" % doc]]}]})
    df = parse_loki_push(spark, spark.createDataFrame([(loki,)], "value string"),
                         parse_message=True)
    assert picked(ep.row_to_wire_dict(df.collect()[0])) == want

    out = run_query(spark, make_logs(spark, [{"_msg": "{%s}" % doc}]),
                    "* | unpack_json from _msg | fields " + ", ".join(want))
    assert picked(out.collect()[0].asDict()) == want


def test_compacted_files_outlive_reads_in_flight(spark, tmp_path, monkeypatch):
    """A /select request holds its frame's table files: a day compaction
    that commits while the response is still being written, and the
    flush after it, must not delete a file that frame scans."""
    monkeypatch.setattr(_State, "FLUSH_ROWS", 10)  # every post flushes
    monkeypatch.setattr(_State, "COMPACT_FILES", 2)
    entered, resume = threading.Event(), threading.Event()
    orig = ep.query_ndjson

    def held(spark, df, q, **kw):
        # a first line goes out; the query runs over the frame the
        # request took once the test resumes it
        yield json.dumps({"_msg": "held"})
        entered.set()
        resume.wait(60)
        yield from orig(spark, df, q, **kw)

    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        st = srv.state
        _post(srv, "/insert/jsonline", _lines("2024-01-01", 12, "a"))
        assert st.wait_idle() and len(st._table_files) == 1
        monkeypatch.setattr(ep, "query_ndjson", held)
        out: dict = {}
        reader = threading.Thread(
            target=lambda: out.update(rows=_query(srv, "a"))
        )
        reader.start()
        assert entered.wait(60)
        monkeypatch.setattr(ep, "query_ndjson", orig)
        first = list(st._table_files)
        # flush + compaction of the day tombstones the first file; the
        # next flush would reap it
        _post(srv, "/insert/jsonline", _lines("2024-01-01", 12, "b"))
        assert st.wait_idle() and first[0] in st._table_tombs
        _post(srv, "/insert/jsonline", _lines("2024-01-02", 12, "c"))
        assert st.wait_idle()
        resume.set()
        reader.join(60)
        assert len(out["rows"]) == 1 + 12
        # once the read is done, the next flush reaps the file
        _post(srv, "/insert/jsonline", _lines("2024-01-03", 12, "d"))
        assert st.wait_idle()
        assert not st._table_tombs and not st._readers
        assert len(_query(srv, "a OR b OR c OR d")) == 48
    finally:
        resume.set()
        srv.stop()
