"""Tests for the /select/logsql/* parity helpers and options() wiring."""

import datetime as dt
import json

import pytest

from victorialogs_spark import endpoints as ep
from victorialogs_spark.api import run_query
from victorialogs_spark.schema import with_stream_id

UTC = dt.timezone.utc
NS = 10**9


@pytest.fixture(scope="module")
def logs(spark):
    rows = []
    for i in range(6):
        rows.append(
            (
                dt.datetime(2024, 1, 1, 0, i // 2, 30 * (i % 2), tzinfo=UTC),
                "error disk" if i % 3 == 0 else "ok",
                "web" if i % 2 == 0 else "db",
            )
        )
    df = spark.createDataFrame(rows, "_time timestamp, _msg string, app string")
    return with_stream_id(df, ["app"])


def test_hits(spark, logs):
    out = ep.hits(spark, logs, "error", step="1m")
    got = {(r["_time"].minute, r["hits"]) for r in out.collect()}
    assert got == {(0, 1), (1, 1)}  # errors at i=0 (min 0) and i=3 (min 1)
    out = ep.hits(spark, logs, "*", step="1m", fields=["app"])
    got = {(r["_time"].minute, r["app"], r["hits"]) for r in out.collect()}
    assert (0, "web", 1) in got and (0, "db", 1) in got


def test_stats_query(spark, logs):
    out = ep.stats_query(
        spark, logs, "* | stats by (app) count() as c, count_uniq(_msg) as u"
    )
    rows = {(r["name"], r["labels"], r["value"]) for r in out.collect()}
    assert ("c", '{"app":"web"}', "3") in rows
    assert ("u", '{"app":"db"}', "2") in rows
    with pytest.raises(ValueError):
        ep.stats_query(spark, logs, "* | fields _msg")


def test_stats_query_range(spark, logs):
    out = ep.stats_query_range(spark, logs, "* | stats by (app) count() as c", step="1m")
    rows = [(r["name"], r["labels"], r["_time"].minute, r["value"]) for r in out.collect()]
    assert ("c", '{"app":"web"}', 0, "1") in rows
    assert ("c", '{"app":"db"}', 2, "1") in rows
    assert len(rows) == 6  # 2 apps × 3 minute buckets


def test_stats_values_render_go_style(spark):
    """stats_query(_range) render floating metrics like Go's FormatFloat
    'f', -1: plain decimal with every digit of the shortest repr at the
    magnitudes Spark's string cast writes in E-notation (below 1e-3,
    from 1e7 up), and integral values without '.0'."""
    from decimal import Decimal

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i, tzinfo=UTC), "m", v)
        for i, v in enumerate(["0.0001", "0.0002", "0.0004", "12345678.5", "3"])
    ]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string, v string")
    q = (
        "v:in(0.0001, 0.0002, 0.0004) | stats avg(v) as small, count() as c"
    )
    [raw] = run_query(spark, df, q).collect()
    small = format(Decimal(repr(raw["small"])), "f")
    assert len(small) > 20  # more fraction digits than decimal(38,18) kept
    want = {("small", small), ("c", "3")}
    got = {(r["name"], r["value"]) for r in ep.stats_query(spark, df, q).collect()}
    assert got == want
    got = {
        (r["name"], r["value"])
        for r in ep.stats_query_range(spark, df, q, step="1h").collect()
    }
    assert got == want
    for q, want in (
        ("* | stats sum(v) as big", {("big", "12345681.5007")}),
        ("v:3 | stats sum(v) as three", {("three", "3")}),
    ):
        got = {(r["name"], r["value"]) for r in ep.stats_query(spark, df, q).collect()}
        assert got == want, q


def test_stream_metadata(spark, logs):
    st = {r["_stream"]: r["hits"] for r in ep.streams(spark, logs).collect()}
    assert st == {'{app="web"}': 3, '{app="db"}': 3}
    sids = ep.stream_ids(spark, logs).collect()
    assert len(sids) == 2 and all(r["hits"] == 3 for r in sids)
    names = {r["name"] for r in ep.stream_field_names(spark, logs).collect()}
    assert names == {"app"}
    vals = {r["value"]: r["hits"] for r in ep.stream_field_values(spark, logs, "app").collect()}
    assert vals == {"web": 3, "db": 3}


def test_field_endpoints(spark, logs):
    names = {r["name"] for r in ep.field_names(spark, logs).collect()}
    assert {"_msg", "app", "_stream"} <= names
    vals = {tuple(r) for r in ep.field_values(spark, logs, "app").collect()}
    assert vals == {("web", 3), ("db", 3)}


def test_query_ndjson(spark, logs):
    lines = list(ep.query_ndjson(spark, logs, "error | fields _msg, app"))
    assert len(lines) == 2
    assert all(json.loads(ln)["_msg"] == "error disk" for ln in lines)


def test_global_time_filter_and_option(spark, logs):
    t0 = int(dt.datetime(2024, 1, 1, 0, 1, tzinfo=UTC).timestamp() * NS)
    # global time filter restricts the main query
    out = run_query(spark, logs, "*", start_ns=t0)
    assert out.count() == 4
    # subquery inherits the global filter...
    q = "app:in(* | fields app)"
    assert run_query(spark, logs, q, start_ns=t0).count() == 4
    # ...unless it opts out (same result here, but must parse & plan)
    q2 = "app:in(options(ignore_global_time_filter=true) * | fields app)"
    assert run_query(spark, logs, q2, start_ns=t0).count() == 4


def test_options_concurrency(spark, logs):
    """options(concurrency=N) parses but leaves the session's shuffle
    width alone: the session conf is shared by every concurrent query."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    q = "* | stats by (app) count() as c"
    got = run_query(
        spark, logs, f"options(concurrency={int(before) + 1}) {q}"
    ).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, run_query(spark, logs, q).collect())
    )


def test_apply_common_args_extra_filters(spark):
    from victorialogs_spark.endpoints import apply_common_args
    from victorialogs_spark.logsql import ast as A
    from victorialogs_spark.logsql.parser import parse_query

    q = apply_common_args(
        parse_query("error"),
        extra_filters='{"host": "h1"}',
        extra_stream_filters='{"env": ["prod", "stage"]}',
    )
    assert isinstance(q.filter, A.FAnd)
    kinds = {type(t) for t in q.filter.children}
    assert A.FExact in kinds and A.FStream in kinds
    ex = next(t for t in q.filter.children if isinstance(t, A.FExact))
    assert (ex.field, ex.value) == ("host", "h1")
    st = next(t for t in q.filter.children if isinstance(t, A.FStream))
    assert st.or_terms[0][0].op == "=~"


def test_apply_common_args_time_range(spark):
    from victorialogs_spark.endpoints import apply_common_args
    from victorialogs_spark.logsql.parser import parse_query

    q = apply_common_args(parse_query("*"), start_ns=10**18, end_ns=2 * 10**18)
    assert q.time_range == (10**18, 2 * 10**18)


def test_stream_endpoints_without_stream_column(spark):
    """Frames without stream metadata (an expired-out store, a preloaded
    table ingested without _stream_fields) answer the stream-metadata
    endpoints with the reference's EMPTY result, not UNRESOLVED_COLUMN
    (found by the r14 retention soak's empty-store audit)."""
    from victorialogs_spark.endpoints import (
        stream_field_names,
        stream_field_values,
        stream_ids,
        streams,
    )

    df = spark.createDataFrame([], "_time timestamp, _msg string")
    assert streams(spark, df, "*").collect() == []
    assert stream_ids(spark, df, "*").collect() == []
    assert stream_field_names(spark, df, "*").collect() == []
    assert stream_field_values(spark, df, "app", "*").collect() == []


def test_extra_filters_corpus():
    """app/vlselect/logsql/logsql_test.go replayed: the JSON-form
    extra_filters/extra_stream_filters desugar to the reference's
    canonical filters (exact / in() / ={} / =~QuoteMeta-alternation,
    empty value lists skipped), and the failure cases (non-object JSON,
    non-string values, pipes in the filter) reject."""
    import re as _re
    from pathlib import Path

    import pytest as _pytest

    from victorialogs_spark.endpoints import _extra_filter_query, apply_common_args
    from victorialogs_spark.logsql.parser import parse_query
    from victorialogs_spark.logsql.printer import print_query

    src = Path(
        "/root/reference/app/vlselect/logsql/logsql_test.go"
    ).read_text()

    import sys

    sys.path.insert(0, str(Path(__file__).parent))
    from test_pipe_semantics_corpus import _go_string, _skip_ws

    def _cases(fn_name):
        body = src.split(f"func {fn_name}")[1].split("\nfunc ")[0]
        out = []
        for m in _re.finditer(r"\n\tf\(", body):
            i = _skip_ws(body, m.end())
            a, i = _go_string(body, i)
            i = _skip_ws(body, i)
            if body[i] == ",":
                b, i = _go_string(body, _skip_ws(body, i + 1))
                out.append((a, b))
            else:
                out.append((a, None))
        return out

    for fn, stream in (
        ("TestParseExtraFilters_Success", False),
        ("TestParseExtraStreamFilters_Success", True),
    ):
        n = 0
        for s, want in _cases(fn):
            if not s:
                continue
            got = _extra_filter_query(s, stream)
            if s.startswith('{"'):
                # JSON form: canonical filters must match the reference's
                assert print_query(parse_query(got)) == print_query(
                    parse_query(want)
                ), (s, got, want)
            else:
                parse_query(got)  # passthrough: must stay parseable
            n += 1
        assert n >= 5, n

    for fn, key in (
        ("TestParseExtraFilters_Failure", "extra_filters"),
        ("TestParseExtraStreamFilters_Failure", "extra_stream_filters"),
    ):
        n = 0
        for s, _ in _cases(fn):
            with _pytest.raises(Exception):
                apply_common_args(parse_query("*"), **{key: s})
            n += 1
        assert n >= 5, n
