"""Golden operator tests: literal rows in → rows out, unordered compare —
the same strategy as the reference's expectPipeResults
(lib/logstorage/pipe_utils_test.go:45-60)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from victorialogs_spark.api import run_query

UTC = dt.timezone.utc


def make_logs(spark, rows, with_time=True):
    """rows: list of dicts of string fields (plus optional _time datetime)."""
    keys = sorted({k for r in rows for k in r if k != "_time"})
    schema_parts = []
    if with_time:
        schema_parts.append("`_time` timestamp")
    schema_parts += [f"`{k}` string" for k in keys]
    data = []
    for i, r in enumerate(rows):
        t = r.get("_time", dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=i))
        row = ([t] if with_time else []) + [r.get(k, "") for k in keys]
        data.append(tuple(row))
    return spark.createDataFrame(data, schema=", ".join(schema_parts))


def rows_set(df, cols=None):
    if cols:
        df = df.select(*cols)
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def logs(spark):
    return make_logs(
        spark,
        [
            {"_msg": "error connection refused", "host": "h1", "code": "500"},
            {"_msg": "error disk full", "host": "h2", "code": "500"},
            {"_msg": "warning high latency", "host": "h1", "code": "200"},
            {"_msg": "info started OK", "host": "h3", "code": "200"},
            {"_msg": "ERROR uppercase", "host": "h2", "code": "404"},
        ],
    )


# --------------------------------------------------------------- filters

def test_word_filter(spark, logs):
    out = run_query(spark, logs, "error")
    assert rows_set(out, ["host"]) == {("h1",), ("h2",)}


def test_word_filter_case_insensitive(spark, logs):
    out = run_query(spark, logs, "i(error)")
    assert out.count() == 3


def test_word_no_substring_match(spark, logs):
    # 'err' is not a full token anywhere
    assert run_query(spark, logs, "err").count() == 0
    assert run_query(spark, logs, "err*").count() == 2


def test_phrase_filter(spark, logs):
    assert run_query(spark, logs, '"connection refused"').count() == 1
    assert run_query(spark, logs, '"connection  refused"').count() == 0


def test_field_filters(spark, logs):
    assert run_query(spark, logs, "host:h1").count() == 2
    assert run_query(spark, logs, "host:=h1").count() == 2
    assert run_query(spark, logs, "host:!=h1").count() == 3
    assert run_query(spark, logs, "code:500 host:h2").count() == 1
    assert run_query(spark, logs, "host:h1 OR host:h3").count() == 3
    assert run_query(spark, logs, "NOT host:h1").count() == 3
    assert run_query(spark, logs, "host:in(h1, h3)").count() == 3
    assert run_query(spark, logs, 'host:~"h[12]"').count() == 4
    assert run_query(spark, logs, "code:>400").count() == 3
    assert run_query(spark, logs, "code:range[200, 404]").count() == 3
    assert run_query(spark, logs, "code:range(200, 404]").count() == 1
    assert run_query(spark, logs, "_msg:len_range(1, 15)").count() == 3
    assert run_query(spark, logs, 'host:string_range(h1, h3)').count() == 4
    assert run_query(spark, logs, "host:exact(h1)").count() == 2
    assert run_query(spark, logs, "host:exact(h*)").count() == 5
    assert run_query(spark, logs, 'seq("error", "full")').count() == 1
    assert run_query(spark, logs, "contains_all(error, disk)").count() == 1
    assert run_query(spark, logs, "contains_any(disk, latency)").count() == 2


def test_missing_field_empty(spark, logs):
    # missing field ≡ empty value
    assert run_query(spark, logs, 'nosuch:""').count() == 5
    assert run_query(spark, logs, "nosuch:*").count() == 0
    assert run_query(spark, logs, 'NOT nosuch:""').count() == 0


def test_time_filter(spark, logs):
    out = run_query(spark, logs, "_time:[2024-01-01T00:00:01, 2024-01-01T00:00:03]")
    assert out.count() == 3


def test_eq_field(spark):
    pass


# --------------------------------------------------------------- pipes

def test_fields_pipe(spark, logs):
    out = run_query(spark, logs, "* | fields host, code")
    assert out.columns == ["host", "code"]


def test_copy_rename_delete(spark, logs):
    out = run_query(spark, logs, "* | copy host as h | rename code as c | delete _msg")
    assert set(out.columns) == {"_time", "host", "h", "c"}


def test_sort_limit(spark, logs):
    out = run_query(spark, logs, "* | sort by (code, host) | limit 2")
    got = [tuple(r) for r in out.select("code", "host").collect()]
    assert got == [("200", "h1"), ("200", "h3")]


def test_sort_desc_rank(spark, logs):
    out = run_query(spark, logs, "* | sort by (code) desc rank as r | limit 1")
    r = out.select("code", "r").collect()[0]
    assert r["code"] == "500" and r["r"] == "1"


def test_sort_natural_numeric(spark):
    sp = make_logs(
        spark._sc._jvm and spark or spark,  # just use spark
        [{"v": "9"}, {"v": "10"}, {"v": "abc"}, {"v": "2"}],
    )
    out = run_query(spark, sp, "* | sort by (v)")
    assert [r["v"] for r in out.collect()] == ["2", "9", "10", "abc"]


def test_first_last(spark, logs):
    out = run_query(spark, logs, "* | first 2 by (code)")
    assert [r["code"] for r in out.collect()] == ["200", "200"]
    out = run_query(spark, logs, "* | last 1 by (code)")
    assert [r["code"] for r in out.collect()] == ["500"]


def test_offset(spark, logs):
    out = run_query(spark, logs, "* | sort by (host) | offset 3")
    assert out.count() == 2


def test_stats_count(spark, logs):
    out = run_query(spark, logs, "* | stats count() as hits")
    assert out.collect()[0]["hits"] == 5


def test_stats_by(spark, logs):
    out = run_query(spark, logs, "* | stats by (host) count() as hits")
    assert rows_set(out) == {("h1", 2), ("h2", 2), ("h3", 1)}


def test_stats_funcs(spark, logs):
    out = run_query(
        spark, logs,
        "* | stats sum(code) as s, avg(code) as a, min(code) as mn, max(code) as mx,"
        " count_uniq(host) as cu",
    )
    r = out.collect()[0]
    assert r["s"] == 1804.0
    assert r["a"] == pytest.approx(360.8)
    assert r["mn"] == "200" and r["mx"] == "500"
    assert r["cu"] == 3


def test_stats_if(spark, logs):
    out = run_query(spark, logs, "* | stats count() if (host:h1) as h1_hits, count() as hits")
    r = out.collect()[0]
    assert r["h1_hits"] == 2 and r["hits"] == 5


def test_stats_count_nonempty(spark):
    df = make_logs(spark, [{"a": "x"}, {"a": ""}, {"a": "y"}])
    out = run_query(spark, df, "* | stats count(a) as c, count_empty(a) as ce")
    r = out.collect()[0]
    assert r["c"] == 2 and r["ce"] == 1


def test_stats_time_bucket(spark):
    rows = [
        {"_time": dt.datetime(2024, 1, 1, 0, 0, 30, tzinfo=UTC), "x": "1"},
        {"_time": dt.datetime(2024, 1, 1, 0, 1, 30, tzinfo=UTC), "x": "2"},
        {"_time": dt.datetime(2024, 1, 1, 0, 1, 45, tzinfo=UTC), "x": "3"},
    ]
    df = make_logs(spark, rows)
    out = run_query(spark, df, "* | stats by (_time:1m) count() as c")
    got = {(r["_time"].strftime("%H:%M:%S"), r["c"]) for r in out.collect()}
    assert got == {("00:00:00", 1), ("00:01:00", 2)}


def test_stats_numeric_bucket(spark):
    df = make_logs(spark, [{"v": "5"}, {"v": "15"}, {"v": "17"}, {"v": "abc"}])
    out = run_query(spark, df, "* | stats by (v:10) count() as c")
    got = rows_set(out)
    # unbucketable values group by THEMSELVES (getBucketedValue returns
    # the value as-is), not by '' — r15 fourth-session dispatch parity
    assert got == {("0", 1), ("10", 2), ("abc", 1)}


def test_uniq_values_and_values(spark, logs):
    out = run_query(spark, logs, "* | stats uniq_values(host) as u")
    assert out.collect()[0]["u"] == '["h1","h2","h3"]'


def test_quantile_median(spark):
    df = make_logs(spark, [{"v": str(i)} for i in range(1, 101)])
    out = run_query(spark, df, "* | stats median(v) as m, quantile(0.9, v) as q")
    r = out.collect()[0]
    # exact reference semantics (stats_quantile.go histogram.quantile):
    # natural-order sort of [1..100], element int(phi*100), as a STRING
    assert r["m"] == "51"
    assert r["q"] == "91"


def test_math_pipe(spark, logs):
    out = run_query(spark, logs, "* | math code * 2 as c2 | fields code, c2")
    got = rows_set(out)
    assert ("500", "1000") in got and ("200", "400") in got


def test_math_default(spark):
    df = make_logs(spark, [{"v": "5"}, {"v": "abc"}])
    out = run_query(spark, df, "* | math v default 0 as d | fields d")
    assert rows_set(out) == {("5",), ("0",)}


def test_extract_pipe(spark):
    df = make_logs(spark, [{"_msg": "ip=1.2.3.4 port=80 x"}, {"_msg": "nothing"}])
    out = run_query(spark, df, '* | extract "ip=<ip> port=<port> " from _msg | fields ip, port')
    assert rows_set(out) == {("1.2.3.4", "80"), ("", "")}


def test_extract_regexp_pipe(spark):
    df = make_logs(spark, [{"_msg": "took 15ms"}])
    out = run_query(spark, df, '* | extract_regexp "took (?P<dur>\\\\d+)ms" from _msg | fields dur')
    assert rows_set(out) == {("15",)}


def test_replace_pipe(spark):
    df = make_logs(spark, [{"_msg": "a-b-c-d"}])
    out = run_query(spark, df, '* | replace ("-", "_") at _msg | fields _msg')
    assert rows_set(out) == {("a_b_c_d",)}
    out = run_query(spark, df, '* | replace ("-", "_") at _msg limit 2 | fields _msg')
    assert rows_set(out) == {("a_b_c-d",)}


def test_replace_regexp_pipe(spark):
    df = make_logs(spark, [{"_msg": "x12y34"}])
    out = run_query(spark, df, '* | replace_regexp ("\\\\d+", "N") at _msg | fields _msg')
    assert rows_set(out) == {("xNyN",)}


def test_format_pipe(spark, logs):
    out = run_query(spark, logs, '* | format "<host>:<code>" as hc | fields hc | uniq (hc)')
    assert ("h1:500",) in rows_set(out)


def test_format_converters(spark):
    df = make_logs(spark, [{"v": "Hello"}])
    out = run_query(spark, df, '* | format "<uc:v>|<lc:v>|<q:v>" as o | fields o')
    assert rows_set(out) == {('HELLO|hello|"Hello"',)}


def test_unpack_json(spark):
    df = make_logs(spark, [{"_msg": '{"a": "1", "b": "x"}'}, {"_msg": '{"a": "2"}'}])
    out = run_query(spark, df, "* | unpack_json from _msg | fields a, b")
    assert rows_set(out) == {("1", "x"), ("2", "")}


def test_unpack_json_nested_flatten(spark):
    """Nested objects flatten recursively with dot-joined keys; arrays
    and raw number tokens keep their source form; nulls emit nothing
    (json_parser.go appendLogFields via functions/jsonflat.py; retired
    the r15 ledgered pipe-corpus divergence). Both the inference path
    and the fields-pushdown path must see the FLATTENED names."""
    df = make_logs(spark, [
        {"_msg": '{"y":{"z":{"a":"b"}},"n":null,"arr":[1, "x"],"d":1.20}'},
        {"_msg": '{"y":"flat"}'},
    ])
    out = run_query(spark, df, "* | unpack_json from _msg | fields y.z.a, y, arr, d, n")
    assert rows_set(out) == {
        ("b", "", '[1,"x"]', "1.20", ""),
        ("", "flat", "", "", ""),
    }
    # fields-pushdown path (explicit fields clause, no inference scan)
    out = run_query(
        spark, df, '* | unpack_json from _msg fields ("y.z.a") | fields "y.z.a"'
    )
    assert rows_set(out) == {("b",), ("",)}


def test_unpack_json_fields_object_valued_name_is_empty(spark):
    """A requested top-level name whose value is an object unpacks to ''
    (its members flatten to dotted names), while a string value that
    merely looks like one is kept. ``map<string,string>`` from_json
    renders both as the same text, which is why unpack_json probes for
    nested rows even when every fields name is a plain top-level one."""
    df = make_logs(spark, [
        {"_msg": '{"y":{"z":1},"x":"a"}'},
        {"_msg": '{"y":"{\\"z\\":1}","x":"b"}'},
    ])
    out = run_query(spark, df, "* | unpack_json from _msg fields (y, x) | fields x, y")
    assert rows_set(out) == {("a", ""), ("b", '{"z":1}')}


def test_jsonflat_scanner_rules():
    """Unit pins for the reference-exact scanner (json_parser.go)."""
    from victorialogs_spark.functions.jsonflat import flatten_json_message as f

    assert f('{"foo":"bar","a":123,"b":["foo","bar"],"x":NaN,"y":{"z":{"a":"b"}}}') == {
        "foo": "bar", "a": "123", "b": '["foo","bar"]', "x": "NaN", "y.z.a": "b",
    }
    assert f('"xxx"') is None and f("NaN") is None and f("{") is None
    assert f("{}") == {}
    # compact array re-render, raw number tokens, empty top key -> _msg
    assert f('{"a":{"b":[1, "x", {"c":2}] },"n":null,"":"m","d":1.20}') == {
        "a.b": '[1,"x",{"c":2}]', "_msg": "m", "d": "1.20",
    }
    # deep-nesting guard: adversarial depth returns None, never crashes
    deep = '{"k":' * 50000 + "1" + "}" * 50000
    assert f(deep) is None


def test_unpack_json_fields_prefix(spark):
    df = make_logs(spark, [{"_msg": '{"a": "1", "b": "x"}'}])
    out = run_query(spark, df, '* | unpack_json from _msg fields (a) result_prefix "p_" | fields p_a')
    assert rows_set(out) == {("1",)}


def test_unpack_json_late_key_beyond_sample_horizon(spark):
    """A key first appearing after any bounded sample window must still
    materialize — distinct-keys inference is exact (the reference
    unpacks per-row with no horizon, pipe_unpack_json.go:15)."""
    n = 200
    rows = [{"_msg": '{"a": "%d"}' % i} for i in range(n)]
    rows.append({"_msg": '{"a": "x", "late": "seen"}'})
    df = make_logs(spark, rows)
    out = run_query(spark, df, "* | unpack_json from _msg | fields a, late")
    got = rows_set(out)
    assert ("x", "seen") in got
    assert ("0", "") in got


def test_unpack_logfmt(spark):
    df = make_logs(spark, [{"_msg": 'level=info msg="hello world" n=5'}])
    out = run_query(spark, df, "* | unpack_logfmt from _msg | fields level, msg, n")
    assert rows_set(out) == {("info", "hello world", "5")}


def test_unpack_words(spark):
    df = make_logs(spark, [{"_msg": "foo bar-baz"}])
    out = run_query(spark, df, "* | unpack_words _msg as w | fields w")
    assert rows_set(out) == {('["foo","bar","baz"]',)}


def test_unroll(spark):
    df = make_logs(spark, [{"tags": '["a","b"]', "id": "1"}])
    out = run_query(spark, df, "* | unroll (tags) | fields id, tags")
    assert rows_set(out) == {("1", "a"), ("1", "b")}


def test_pack_json(spark):
    df = make_logs(spark, [{"a": "1", "b": "2"}])
    out = run_query(spark, df, "* | pack_json as p fields (a, b) | fields p")
    assert rows_set(out) == {('{"a":"1","b":"2"}',)}


def test_len_hash_pipes(spark):
    df = make_logs(spark, [{"v": "abcd"}])
    out = run_query(spark, df, "* | len(v) as l | fields l")
    assert rows_set(out) == {("4",)}
    out = run_query(spark, df, "* | hash(v) as h | fields h")
    [(h,)] = rows_set(out)
    assert h.isdigit()


def test_json_array_len(spark):
    df = make_logs(spark, [{"v": '["a","b","c"]'}, {"v": "zz"}])
    out = run_query(spark, df, "* | json_array_len(v) as n | fields n")
    assert rows_set(out) == {("3",), ("0",)}


def test_uniq_top(spark, logs):
    out = run_query(spark, logs, "* | uniq by (code)")
    assert rows_set(out) == {("200",), ("404",), ("500",)}
    out = run_query(spark, logs, "* | uniq by (code) with hits")
    assert rows_set(out) == {("200", 2), ("404", 1), ("500", 2)}
    out = run_query(spark, logs, "* | top 2 by (code)")
    assert rows_set(out) == {("200", 2), ("500", 2)}


def test_field_values(spark, logs):
    out = run_query(spark, logs, "* | field_values host")
    assert rows_set(out) == {("h1", 2), ("h2", 2), ("h3", 1)}


def test_field_names(spark, logs):
    out = run_query(spark, logs, "* | field_names")
    names = {r["name"] for r in out.collect()}
    assert {"_msg", "host", "code"} <= names


def test_facets(spark, logs):
    out = run_query(spark, logs, "* | facets 2")
    rows = out.collect()
    by_field = {}
    for r in rows:
        by_field.setdefault(r["field_name"], []).append((r["field_value"], r["hits"]))
    assert ("h1", 2) in by_field["host"]


def test_collapse_nums(spark):
    df = make_logs(spark, [{"_msg": "took 15ms id=0xff"}])
    out = run_query(spark, df, "* | collapse_nums at _msg | fields _msg")
    assert rows_set(out) == {("took <N>ms id=<N>",)}


def test_decolorize(spark):
    df = make_logs(spark, [{"_msg": "\x1b[31mred\x1b[0m text"}])
    out = run_query(spark, df, "* | decolorize | fields _msg")
    assert rows_set(out) == {("red text",)}


def test_union(spark, logs):
    out = run_query(spark, logs, "host:h3 | union (host:h2)")
    assert out.count() == 3


def test_join(spark, logs):
    out = run_query(
        spark, logs,
        "* | join by (host) (* | stats by (host) count() as total) | fields host, total",
    )
    got = rows_set(out)
    assert ("h1", 2) in got and ("h3", 1) in got


def test_in_subquery_exec(spark, logs):
    out = run_query(spark, logs, "host:in(code:404 | fields host)")
    assert rows_set(out, ["host"]) == {("h2",)}


def test_sample(spark, logs):
    out = run_query(spark, logs, "* | sample 1")
    assert out.count() == 5


def test_drop_empty_fields(spark):
    df = make_logs(spark, [{"a": "", "b": "x"}, {"a": "", "b": ""}])
    out = run_query(spark, df, "* | drop_empty_fields")
    assert "a" not in out.columns and out.count() == 1


def test_drop_empty_fields_typed_columns_are_values(spark):
    """A non-null number is a value, not an empty field: the row whose
    only non-empty field is numeric stays, and a numeric column that is
    NULL everywhere is dropped like an all-empty string column."""
    df = spark.createDataFrame(
        [("", 5, None), ("x", 6, None)], "a string, n bigint, z double"
    )
    out = run_query(spark, df, "* | drop_empty_fields")
    assert out.columns == ["a", "n"]
    assert rows_set(out) == {("", 5), ("x", 6)}


def test_implicit_filter_pipe_exec(spark, logs):
    out = run_query(spark, logs, "* | fields _msg | error")
    assert out.count() == 2


# ------------------------------------------------- round-2 regression tests

def test_rename_onto_existing(spark, logs):
    out = run_query(spark, logs, "* | rename host as code | fields code")
    # mv overwrites the existing destination column (pipe_rename.go)
    assert out.columns == ["code"]
    assert rows_set(out) == {("h1",), ("h2",), ("h3",)}


def test_uniq_limit_zeroes_hits(spark, logs):
    out = run_query(spark, logs, "* | uniq by (host) with hits limit 2")
    rows = rows_set(out)
    assert len(rows) == 2
    assert all(h == 0 for _, h in rows)  # 3 uniques > limit 2 → hits zeroed
    out = run_query(spark, logs, "* | uniq by (host) with hits limit 10")
    assert rows_set(out) == {("h1", 2), ("h2", 2), ("h3", 1)}


def test_replace_regexp_limit_dollar_refs(spark):
    df = make_logs(spark, [{"_msg": "a1 b2 c3"}])
    out = run_query(
        spark, df, '* | replace_regexp ("([a-z])(\\\\d)", "$2$1") at _msg limit 2 | fields _msg'
    )
    assert rows_set(out) == {("1a 2b c3",)}


def test_day_range_offset_subtracts(spark):
    # 10:00 UTC event; day_range[07:30,08:30] offset 2h must match
    # (filter_day_range.go:122 subtracts the offset)
    df = make_logs(spark, [{"_time": dt.datetime(2024, 1, 1, 10, 0, tzinfo=UTC), "x": "1"}])
    assert run_query(spark, df, "_time:day_range[07:30, 08:30] offset 2h").count() == 1
    assert run_query(spark, df, "_time:day_range[07:30, 08:30]").count() == 0


def test_time_gt_offset_parses(spark):
    df = make_logs(spark, [{"_time": dt.datetime(2024, 1, 1, 10, 0, tzinfo=UTC), "x": "1"}])
    # '_time:>X offset 1h' must apply the offset (shift bounds back),
    # not eat 'offset 1h' as word filters
    out = run_query(spark, df, "_time:>2024-01-01T08:30:00Z offset 1h")
    assert out.count() == 1  # bound shifts to >07:30
    out = run_query(spark, df, "_time:<2024-01-01T11:30:00Z offset 2h")
    assert out.count() == 0  # bound shifts to <09:30, excludes 10:00


def test_cmp_filter_string_fallback(spark, logs):
    # host:>h1 → lexicographic string range (parser.go tryParseFilterGTString)
    assert run_query(spark, logs, "host:>h1").count() == 3
    assert run_query(spark, logs, "host:>=h1").count() == 5
    assert run_query(spark, logs, "host:<h2").count() == 2
    assert run_query(spark, logs, "host:<=h2").count() == 4


def test_sum_multi_field_no_null_poison(spark):
    df = make_logs(spark, [{"a": "1", "b": "x"}, {"a": "2", "b": "y"}])
    out = run_query(spark, df, "* | stats sum(a, b) as s, avg(a, b) as av")
    r = out.collect()[0]
    assert r["s"] == 3.0 and r["av"] == 1.5


def test_histogram_two_level(spark):
    df = make_logs(spark, [{"v": "1"}, {"v": "1"}, {"v": "100"}])
    out = run_query(spark, df, "* | stats histogram(v) as h")
    import json as _json

    buckets = _json.loads(out.collect()[0]["h"])
    assert sum(b["hits"] for b in buckets) == 3
    out = run_query(spark, df, "* | stats count() as c, histogram(v) as h")
    r = out.collect()[0]
    assert r["c"] == 3


def test_in_subquery_multicol_errors(spark, logs):
    with pytest.raises(Exception):
        run_query(spark, logs, "host:in(code:404 | fields host, code)").collect()


def test_stream_context_delimiters(spark):
    rows = []
    for i in range(6):
        rows.append({
            "_time": dt.datetime(2024, 1, 1, 0, 0, i, tzinfo=UTC),
            "_msg": f"line{i}" if i not in (1, 4) else "error",
            "app": "a" if i < 3 else "b",
        })
    df = make_logs(spark, rows)
    from victorialogs_spark.schema import with_stream_id

    df = with_stream_id(df, ["app"])
    out = run_query(spark, df, "error | stream_context before 1 after 1")
    msgs = [r["_msg"] for r in out.collect()]
    assert msgs.count("---") == 2  # one delimiter per group (2 groups)
    assert "line0" in msgs and "line2" in msgs and "line3" in msgs and "line5" in msgs


def test_value_type_sniff(spark):
    df = make_logs(spark, [{"v": "200"}, {"v": "1.5"}, {"v": "abc"},
                           {"v": "10.0.0.1"}, {"v": "2024-01-01T00:00:00Z"}])
    assert run_query(spark, df, "v:value_type(uint8)").count() == 1
    assert run_query(spark, df, "v:value_type(float64)").count() == 2
    assert run_query(spark, df, "v:value_type(ipv4)").count() == 1
    assert run_query(spark, df, "v:value_type(iso8601)").count() == 1


def test_copy_time_column(spark, logs):
    out = run_query(spark, logs, "* | copy _time as t2 | fields _time, t2")
    r = out.collect()[0]
    assert r["t2"] == r["_time"]


def test_natural_sort_property(spark):
    # natural order: numerics numerically first, then strings in
    # LessNatural order (digit runs compare numerically — 's9' < 's10',
    # r15 fourth-session natural_text_key)
    import random

    from test_natural_order import py_natural_key

    rng = random.Random(3)
    vals = [str(rng.randint(0, 10**6)) for _ in range(30)]
    vals += [f"s{rng.randint(0, 99)}" for _ in range(10)]
    vals += [str(rng.uniform(0, 1000)) for _ in range(10)]
    df = make_logs(spark, [{"v": v} for v in vals])
    got = [r["v"] for r in run_query(spark, df, "* | sort by (v)").collect()]

    def key(s):
        try:
            return (0, float(s), py_natural_key(s))
        except ValueError:
            return (1, 0.0, py_natural_key(s))

    assert got == sorted(vals, key=key)


def test_uniq_values_multi_field(spark):
    df = make_logs(spark, [{"a": "x", "b": "y"}, {"a": "y", "b": ""}])
    out = run_query(spark, df, "* | stats uniq_values(a, b) as u, values(a, b) as v")
    r = out.collect()[0]
    assert r["u"] == '["x","y"]'  # union across fields, deduped, sorted
    import json as _json

    assert sorted(_json.loads(r["v"])) == ["", "x", "y", "y"]


def test_format_q_json_escaping(spark):
    df = make_logs(spark, [{"v": 'say "hi"\tnow\\ok'}])
    out = run_query(spark, df, '* | format "<q:v>" as o | fields o')
    [(o,)] = rows_set(out)
    import json as _json

    assert _json.loads(o) == 'say "hi"\tnow\\ok'  # valid JSON round-trip


@pytest.mark.slow  # ~56 s exhaustive math grid
def test_math_precedence_and_unary(spark):
    df = make_logs(spark, [{"a": "2", "b": "3", "c": "4"}])
    out = run_query(
        spark, df,
        "* | math a + b * c as m1, (a + b) * c as m2, -a ^ 2 as m3,"
        " a - -b as m4 | fields m1, m2, m3, m4",
    )
    r = out.collect()[0]
    assert r["m1"] == "14" and r["m2"] == "20"
    assert r["m4"] == "5"


def test_collapse_nums_prettify(spark):
    df = make_logs(spark, [{"_msg": "ip 10.0.0.1 at 12:30:45 on 2024-01-02 id 5"}])
    out = run_query(spark, df, "* | collapse_nums at _msg prettify | fields _msg")
    [(m,)] = rows_set(out)
    assert "<IP4>" in m and "<TIME>" in m and "<DATE>" in m and "<N>" in m


def test_sort_missing_field_and_empty(spark):
    df = make_logs(spark, [{"v": "2"}, {"v": ""}, {"v": "10"}])
    out = run_query(spark, df, "* | sort by (v)")
    # numeric first (2 < 10), then non-numeric ('' sorts as string before?)
    got = [r["v"] for r in out.collect()]
    assert got.index("2") < got.index("10")


def test_extract_skip_empty_results(spark):
    df = make_logs(spark, [{"_msg": "x=1", "f": "keep"}, {"_msg": "none", "f": "keep2"}])
    out = run_query(
        spark, df, '* | extract "x=<f>" from _msg skip_empty_results | fields f'
    )
    assert rows_set(out) == {("1",), ("keep2",)}


def test_first_with_partition(spark, logs):
    out = run_query(spark, logs, "* | first 1 by (code) partition by (host)")
    # one row per host, the lowest code
    got = {(r["host"], r["code"]) for r in out.collect()}
    assert got == {("h1", "200"), ("h2", "404"), ("h3", "200")}


def test_rename_wildcard_prefix(spark):
    df = make_logs(spark, [{"foo.a": "1", "foo.b": "2", "keep": "k"}])
    out = run_query(spark, df, "* | rename foo.* as bar.*")
    assert {"bar.a", "bar.b", "keep"} <= set(out.columns)
    assert "foo.a" not in out.columns
    r = out.first()
    assert (r["bar.a"], r["bar.b"]) == ("1", "2")


def test_copy_wildcard_strip_prefix(spark):
    df = make_logs(spark, [{"foo.a": "1", "foo.b": "2"}])
    out = run_query(spark, df, "* | copy foo.* as *")
    r = out.first()
    assert (r["a"], r["b"]) == ("1", "2")
    assert "foo.a" in out.columns  # copy keeps sources


def test_unpack_words_drop_duplicates(spark):
    df = make_logs(spark, [{"_msg": "a b a c b"}])
    out = run_query(spark, df, "* | unpack_words _msg as w drop_duplicates")
    assert out.first()["w"] == '["a","b","c"]'


def test_ipv4_range_quoted_cidr(spark):
    df = make_logs(spark, [{"ip": "127.1.2.3"}, {"ip": "128.0.0.1"}])
    out = run_query(spark, df, 'ip:ipv4_range("127.0.0.0/8") | fields ip')
    assert rows_set(out) == {("127.1.2.3",)}


def test_pack_json_fields_then_as(spark):
    df = make_logs(spark, [{"foo": "1", "bar": "2", "x": "y"}])
    out = run_query(spark, df, "* | pack_json fields (foo, bar) as baz")
    import json

    assert json.loads(out.first()["baz"]) == {"foo": "1", "bar": "2"}


def test_first_bare_paren_sort(spark, logs):
    out = run_query(spark, logs, "* | first 2 (code desc)")
    got = [r["code"] for r in out.collect()]
    assert got == ["500", "500"] or set(got) == {"500"}


def test_format_duration_converter(spark):
    df = make_logs(
        spark,
        [{"ns": "94608005500000000", "neg": "-90000000000", "half": "500000000",
          "tiny": "1500", "zero": "0", "junk": "hello"}],
    )
    out = run_query(
        spark, df,
        '* | format "<duration:ns>|<duration:neg>|<duration:half>|<duration:tiny>|<duration:zero>|<duration:junk>" as x',
    ).first()["x"]
    assert out == "156w3d5.5s|-1m30s|500ms|1µs500ns|0|hello"


def test_format_duration_seconds_converter(spark):
    df = make_logs(spark, [{"d1": "5m30s", "d2": "1.5h", "d3": "-2m", "junk": "oops"}])
    out = run_query(
        spark, df,
        '* | format "<duration_seconds:d1>|<duration_seconds:d2>|<duration_seconds:d3>|<duration_seconds:junk>" as x',
    ).first()["x"]
    assert out == "330|5400|-120|oops"


def test_format_converter_passthrough_on_bad_input(spark):
    df = make_logs(spark, [{"v": "zz-not-a-number"}])
    out = run_query(
        spark, df,
        '* | format "<hexnumencode:v>|<hexnumdecode:v>|<ipv4:v>|<time:v>|<duration:v>" as x',
    ).first()["x"]
    assert out == "|".join(["zz-not-a-number"] * 5)


def test_format_time_rfc3339nano(spark):
    df = make_logs(spark, [{"s": "1704067200", "ms": "1704067200123"}])
    out = run_query(
        spark, df, '* | format "<time:s> <time:ms>" as x'
    ).first()["x"]
    assert out == "2024-01-01T00:00:00Z 2024-01-01T00:00:00.123Z"


def test_range_filter_excludes_nan(spark):
    """NaN never matches a range (Go: NaN comparisons are false; Spark
    orders NaN above all doubles, which would match open-ended '>x')."""
    df = spark.createDataFrame(
        [("1", "NaN"), ("2", "7"), ("3", "abc")], "id string, v string"
    )
    out = run_query(spark, df, "v:>5 | fields id")
    assert {r["id"] for r in out.collect()} == {"2"}
    out2 = run_query(spark, df, "v:<1e30 | fields id")
    assert {r["id"] for r in out2.collect()} == {"2"}


def test_join_overwrites_same_named_columns(spark):
    """The reference overwrites matched rows' fields with the subquery's
    non-empty values; a duplicate column would be ambiguous in Spark."""
    df = spark.createDataFrame(
        [("a", "old1"), ("b", "old2")], "k string, x string"
    )
    out = run_query(
        spark, df, '* | join by (k) (k:=a | format "new" as x | fields k, x)'
    )
    rows = {r["k"]: r["x"] for r in out.collect()}
    assert rows == {"a": "new", "b": "old2"}  # matched overwritten, left kept


def test_stats_remote_executes_as_stats(spark, logs):
    """stats_remote is the reference's cluster-internal spelling
    (pipe_stats.go:1258-1260); Spark's partial+final hash aggregate IS
    the remote/local split, so a copied cluster query must run and
    return exactly what plain stats returns."""
    a = run_query(spark, logs, "* | stats_remote by (host) count() as c")
    b = run_query(spark, logs, "* | stats by (host) count() as c")
    assert rows_set(a) == rows_set(b)


def test_math_nan_and_overflow_no_ansi_crash(spark, logs):
    """format_number must not throw under ANSI mode on NaN/huge doubles."""
    out = run_query(spark, logs, "* | math value / 0 as inf, 0 * 1e308 * 10 as big"
                    " | fields event_id, inf, big | limit 3")
    assert out.count() == 3  # executes without CAST_OVERFLOW


def test_value_type_typed_column_is_storage_type(spark):
    # typed columns: the Parquet physical type IS the stored type, so the
    # filter is all-or-nothing per column (filter_value_type.go analog)
    df = spark.createDataFrame(
        [(1, 2.5, "abc")], "n long, x double, s string"
    )
    from victorialogs_spark.api import run_query

    assert run_query(spark, df, "n:value_type(int64)").count() == 1
    assert run_query(spark, df, "n:value_type(uint64)").count() == 1
    assert run_query(spark, df, "n:value_type(float64)").count() == 0
    assert run_query(spark, df, "x:value_type(float64)").count() == 1
    assert run_query(spark, df, "x:value_type(int64)").count() == 0
    assert run_query(spark, df, "s:value_type(string)").count() == 1


def test_value_type_dict_reads_parquet_footer_truth(spark, tmp_path):
    """value_type(dict) answers from the footers' per-chunk encodings on
    a parquet-backed table (valueTypeDict analog): a low-cardinality
    column is dict-encoded and matches its non-empty rows; an in-memory
    frame has no storage to introspect and matches nothing."""
    from victorialogs_spark.api import run_query

    path = str(tmp_path / "t.parquet")
    rows = [("a" if i % 2 == 0 else "b", "") for i in range(100)]
    rows[0] = ("a", "x")
    spark.createDataFrame(rows, "k string, e string").write.mode(
        "overwrite"
    ).parquet(path)
    stored = spark.read.parquet(path)
    assert run_query(spark, stored, "k:value_type(dict)").count() == 100
    # empty values ≡ field missing from the block -> excluded
    assert run_query(spark, stored, "e:value_type(dict)").count() == 1
    # no parquet behind an in-memory frame -> nothing to introspect
    mem = spark.createDataFrame(rows, "k string, e string")
    assert run_query(spark, mem, "k:value_type(dict)").count() == 0


def test_value_type_dict_mixed_files_filters_per_file(spark, tmp_path):
    """A table whose files disagree on encoding (one writer dict-encoded,
    another fell back to PLAIN): the verdict is PER FILE — rows from the
    dict-encoded file match, rows from the PLAIN file don't. A sampled
    table-wide verdict misclassified whichever files the sample missed
    (round-6 advice)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from victorialogs_spark.api import run_query

    d = tmp_path / "mix"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array(["a", "b"] * 50)}), str(d / "dict.parquet")
    )
    pq.write_table(
        pa.table({"k": pa.array(["c", "d"] * 50)}),
        str(d / "plain.parquet"),
        use_dictionary=False,
    )
    stored = spark.read.parquet(str(d))
    out = run_query(spark, stored, "k:value_type(dict)").collect()
    assert len(out) == 100
    assert {r["k"] for r in out} == {"a", "b"}
    # per-file attribution needs the filter colocated with the scan:
    # after a stage-breaking operator input_file_name() returns '', so
    # the mixed branch declines loudly (warns, matches nothing) instead
    # of silently failing every row
    import warnings as _warnings

    shuffled = stored.groupBy("k").count().select("k")
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        n = run_query(spark, shuffled, "k:value_type(dict)").count()
    assert n == 0
    assert any("stage-breaking" in str(w.message) for w in rec)


def test_value_type_typed_after_compact_day(spark, tmp_path):
    """After compact_day(type_columns=True) re-encodes a uniformly
    numeric string column, value_type answers from the Parquet physical
    type instead of sniffing — block-encoding truth, not regex."""
    from victorialogs_spark.api import run_query
    from victorialogs_spark.streaming.ingest import compact_day

    tdir = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("7", "x", "2024-01-01")] * 20 + [("8", "y", "2024-01-01")] * 20,
        "n string, s string, _day string",
    )
    df.write.partitionBy("_day").parquet(tdir)
    compact_day(spark, tdir, "2024-01-01", type_columns=True)
    typed = spark.read.parquet(tdir)
    assert dict(typed.dtypes)["n"] == "bigint"
    assert run_query(spark, typed, "n:value_type(int64)").count() == 40
    assert run_query(spark, typed, "n:value_type(uint64)").count() == 40
    # the untyped column stays string; dict truth comes from the footer
    assert run_query(spark, typed, "s:value_type(dict)").count() == 40


def test_value_type_typed_null_and_negative(spark):
    from victorialogs_spark.api import run_query

    df = spark.createDataFrame([(1,), (None,), (-5,)], "n long")
    # NULL rows have no stored value -> never match; negatives are never
    # stored as uint (values_encoder.go picks int64 for signed blocks)
    assert run_query(spark, df, "n:value_type(int64)").count() == 2
    assert run_query(spark, df, "n:value_type(uint64)").count() == 1
    # unmapped typed dtypes fall back to the rendered-value sniff
    dfb = spark.createDataFrame([(True,)], "b boolean")
    assert run_query(spark, dfb, "b:value_type(string)").count() == 1


def test_unpack_json_lenient_rows_keep_their_keys(spark):
    """Key inference must use the SAME parser as extraction: a key
    carried only by lenient-JSON rows (NaN literal — invalid strict
    JSON, parsed by from_json) still materializes."""
    df = make_logs(
        spark,
        [{"_msg": '{"lat": NaN, "msg": "x"}'}, {"_msg": '{"msg": "y"}'}],
    )
    out = run_query(spark, df, "* | unpack_json from _msg | fields msg, lat")
    got = {r[0]: r[1] for r in rows_set(out)}
    assert got["x"] != ""  # the lat key materialized (value rendering aside)
    assert got["y"] == ""


def test_value_type_dict_pyarrow_written_files(spark, tmp_path):
    """pyarrow lists PLAIN for the dictionary page itself of fully
    dict-encoded chunks — the probe must still answer True."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from victorialogs_spark.api import run_query

    path = str(tmp_path / "pa.parquet")
    t = pa.table({"k": pa.array(["a", "b"] * 50)})
    pq.write_table(t, path)
    stored = spark.read.parquet(path)
    assert run_query(spark, stored, "k:value_type(dict)").count() == 100


def test_unpack_fields_pushdown_equivalence(spark):
    """The planner's projection pushdown into unpack key inference
    (planner._pushdown_unpack_keys) must be invisible: the rewritten
    single-parse plan and the inference plan agree on every edge —
    including the one that BLOCKS the rewrite (a kept existing column
    whose name IS a key in some row's payload)."""
    logs = make_logs(
        spark,
        [
            {"_msg": '{"k": "1", "x": "a"}', "app": "u"},
            {"_msg": '{"k": "2"}', "app": "u"},
            {"_msg": "", "app": "u"},
        ],
    )
    # clean probe: no payload contains '"app"' -> rewrite applies, the
    # unpack extracts only k; app passes through untouched, x is never
    # materialized
    out = run_query(spark, logs, "* | unpack_json from _msg | fields app, k")
    assert rows_set(out) == {("u", "1"), ("u", "2"), ("u", "")}

    # dirty probe: one payload carries key "app" -> the rewrite must
    # NOT fire; inference semantics overwrite app from the payload
    # (missing key -> '') exactly as the reference does
    dirty = make_logs(
        spark,
        [
            {"_msg": '{"k": "1", "app": "json"}', "app": "col"},
            {"_msg": '{"k": "2"}', "app": "col"},
        ],
    )
    out = run_query(spark, dirty, "* | unpack_json from _msg | fields app, k")
    assert rows_set(out) == {("json", "1"), ("", "2")}

    # escape-written dirty probe: key "app" serialized as "app" —
    # a literal substring probe would miss it and mis-fire the rewrite;
    # the escape-aware regex must hit and keep inference semantics
    escaped = make_logs(
        spark,
        [
            {"_msg": '{"k": "1", "a\\u0070p": "json"}', "app": "col"},
            {"_msg": '{"k": "2"}', "app": "col"},
        ],
    )
    out = run_query(
        spark, escaped, "* | unpack_json from _msg | fields app, k"
    )
    assert rows_set(out) == {("json", "1"), ("", "2")}

    # no-op skip: every kept name is an existing column provably absent
    # from the payloads -> the whole unpack pipe is skipped
    out = run_query(spark, logs, "* | unpack_json from _msg | fields app")
    assert rows_set(out) == {("u",)}

    # skip_empty_results keeps original values without needing a probe
    out = run_query(
        spark, dirty,
        "* | unpack_json from _msg skip_empty_results | fields app, k",
    )
    assert rows_set(out) == {("json", "1"), ("col", "2")}

    # wildcard in the keep list -> no rewrite, full inference (x appears)
    out = run_query(spark, logs, "* | unpack_json from _msg | fields k, x*")
    assert rows_set(out) == {("1", "a"), ("2", ""), ("", "")}


def test_unpack_logfmt_fields_pushdown_equivalence(spark):
    logs = make_logs(
        spark,
        [
            {"_msg": "a=1 b=2", "app": "u"},
            {"_msg": "a=3", "app": "u"},
        ],
    )
    out = run_query(spark, logs, "* | unpack_logfmt from _msg | fields app, a")
    assert rows_set(out) == {("u", "1"), ("u", "3")}
    # dirty: 'app=' appears in a payload -> inference path, app overwritten
    dirty = make_logs(
        spark,
        [
            {"_msg": "a=1 app=lf", "app": "col"},
            {"_msg": "a=3", "app": "col"},
        ],
    )
    out = run_query(spark, dirty, "* | unpack_logfmt from _msg | fields app, a")
    assert rows_set(out) == {("lf", "1"), ("", "3")}


def test_compact_day_preserves_concurrent_appends(spark, tmp_path):
    """compact_day snapshots its input file set and swaps without ever
    removing the live day dir: a micro-batch file appended between the
    snapshot and the swap survives untouched (the previous rmtree of
    the whole dir silently destroyed it — r14 review finding), the
    snapshot files are gone, and a leftover scratch dir never surfaces
    from list_days."""
    import pathlib

    from victorialogs_spark.streaming import ingest as ing

    tdir = str(tmp_path / "tbl")
    day = "20240101"
    part = pathlib.Path(tdir) / f"_day={day}"
    for i in range(3):
        spark.createDataFrame(
            [(f"m{i}{j}",) for j in range(4)], "_msg string"
        ).coalesce(1).write.mode("append").parquet(str(part))
    snapshot = sorted(part.glob("*.parquet"))

    # simulate a concurrent append landing inside compact_day's window:
    # append now and pin compact_day's snapshot to the pre-append file
    # set below — compact_day reads/deletes EXPLICIT snapshot paths, so
    # a present-but-unsnapshotted file behaves exactly like a
    # mid-window arrival
    spark.createDataFrame([("late",)], "_msg string").coalesce(1).write.mode(
        "append"
    ).parquet(str(part))
    late = set(part.glob("*.parquet")) - set(snapshot)
    assert late

    import victorialogs_spark.streaming.ingest as ingest_mod

    orig_glob = pathlib.Path.glob

    def snap_glob(self, pattern):
        # force compact_day's snapshot to the pre-append file set so the
        # late file models a true mid-compaction arrival
        if self == part and pattern == "*.parquet":
            return iter(list(snapshot))
        return orig_glob(self, pattern)

    import unittest.mock as mock

    with mock.patch.object(pathlib.Path, "glob", snap_glob):
        ing.compact_day(spark, tdir, day, target_files=1)

    remaining = set(part.glob("*.parquet"))
    assert late <= remaining  # concurrent append survived
    assert not (set(snapshot) & remaining)  # snapshot files swapped out
    assert not (pathlib.Path(tdir) / f"_day={day}.compact").exists()
    # rows: 12 snapshot rows compacted + the late row, exactly once
    vals = sorted(
        r["_msg"] for r in spark.read.parquet(str(part)).collect()
    )
    assert len(vals) == 13 and "late" in vals
    # a parked scratch dir never surfaces as a day
    (pathlib.Path(tdir) / "_day=20240102.compact").mkdir()
    assert ing.list_days(tdir) == [day]


def test_duration_string_exact_past_double_range(spark):
    """Durations above 2^53 ns (~104 days) must not gain a week: the
    weeks count used double division while the day/hour/minute pieces
    used exact long modulo, so n = 157w - 1ns printed '157w6d23h59m...'
    (a week too long — r14 review finding)."""
    from pyspark.sql import functions as F

    from victorialogs_spark.functions.natural import duration_string

    W = 604800 * 10**9
    rows = [(157 * W - 1,), (157 * W,), (157 * W + 1,)]
    out = [
        r["s"]
        for r in spark.createDataFrame(rows, "n long")
        .select(duration_string(F.col("n")).alias("s"))
        .collect()
    ]
    assert out == ["156w6d23h59m59.999999999s", "157w", "157w1ns"]


def test_qcol_backtick_field(spark):
    """A field name containing a backtick resolves to ITSELF (backticks
    double inside quoted identifiers; deleting them read a different
    column — r14 review finding)."""
    from victorialogs_spark.functions.natural import qcol

    df = spark.createDataFrame([(1, 2)], "`a``b` int, ab int")
    assert df.select(qcol("a`b")).collect()[0][0] == 1


def test_rate_uses_api_time_window(spark):
    """rate() divides by the SELECTED range including the API-level
    start/end window (the reference folds start/end into the query
    before wiring rate; ignoring it divided by 1s — r14 review
    finding)."""
    import datetime as dt

    from victorialogs_spark.api import run_query

    UTC = dt.timezone.utc
    rows = [(dt.datetime(2024, 1, 1, 0, 0, s, tzinfo=UTC), "e") for s in range(10)]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string")
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp() * 1e9)
    out = run_query(
        spark, df, "* | stats rate() as r",
        start_ns=t0, end_ns=t0 + 100 * 10**9 - 1,
    ).collect()
    assert abs(float(out[0]["r"]) - 0.1) < 1e-9  # 10 rows / 100 s


def test_uniq_top_by_star(spark):
    """`uniq by (*)` / `top by (*)` REJECT at parse — they sit in the
    reference's TestParsePipeUniqFailure/TestParsePipeTopFailure lists
    (the r14 session misread that list as success cases and implemented
    wildcard expansion; the r15 pipe-parse corpus corrected it)."""
    import pytest

    from victorialogs_spark.api import run_query
    from victorialogs_spark.logsql.parser import ParseError

    df = spark.createDataFrame(
        [("a", "1"), ("a", "1"), ("b", "2")], "app string, v string"
    )
    for q in ("* | uniq by (*)", "* | top 3 by (*)", "* | uniq by (a*)"):
        with pytest.raises(ParseError):
            run_query(spark, df, q)


def test_sub_microsecond_time_bucket(spark):
    """Sub-µs stats time buckets clamp to 1µs (exact at Spark's µs
    timestamp granularity) instead of dividing by zero (r14 review
    finding)."""
    import datetime as dt

    from victorialogs_spark.api import run_query

    UTC = dt.timezone.utc
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, tzinfo=UTC), "x")],
        "_time timestamp, _msg string",
    )
    out = run_query(spark, df, "* | stats by (_time:100ns) count() as n").collect()
    assert out[0]["n"] == "1" or out[0]["n"] == 1


def test_calendar_time_buckets(spark):
    """'_time:month'/'_time:year' bucket by UTC calendar boundaries and
    the literal word 'week' Monday-aligns, while '1w' stays
    epoch-aligned (block_result.go truncateTimestamp:819-845,
    truncateTimestampToMonth/Year:2641-2649)."""
    import datetime as dt

    from victorialogs_spark.api import run_query

    UTC = dt.timezone.utc
    # Sat 2024-03-16 and Sun 2024-03-17 fall in the Mon 2024-03-11 ISO
    # week; the epoch-aligned 1w bucket for both starts Thu 2024-03-14
    rows = [
        (dt.datetime(2024, 3, 16, 10, 30, tzinfo=UTC), "a"),
        (dt.datetime(2024, 3, 17, 1, 0, tzinfo=UTC), "b"),
    ]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string")

    def buckets(q):
        out = run_query(spark, df, q).collect()
        return sorted(r["_time"] for r in out)

    assert buckets("* | stats by (_time:week) count() as n") == [
        dt.datetime(2024, 3, 11)
    ]
    assert buckets("* | stats by (_time:1w) count() as n") == [
        dt.datetime(2024, 3, 14)
    ]
    assert buckets("* | stats by (_time:month) count() as n") == [
        dt.datetime(2024, 3, 1)
    ]
    assert buckets("* | stats by (_time:year) count() as n") == [
        dt.datetime(2024, 1, 1)
    ]
    # offset shifts the calendar truncation window and is re-added
    # (ts -= off; truncate; ts += off): 01:00 Jan 1 with +2h offset
    # lands in the PREVIOUS year's bucket, re-shifted by +2h
    df2 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 1, 0, tzinfo=UTC), "x")],
        "_time timestamp, _msg string",
    )
    out = run_query(
        spark, df2, "* | stats by (_time:year offset 2h) count() as n"
    ).collect()
    assert [r["_time"] for r in out] == [dt.datetime(2023, 1, 1, 2, 0)]


def test_bare_number_time_bucket_is_nanoseconds(spark):
    """A plain number bucket size on _time means NANOSECONDS
    (tryParseBucketSize parses the float before durations,
    pipe_stats.go:1644), so '_time:60' is a 60ns bucket — clamped to
    Spark's 1µs granularity — not 60 seconds."""
    import datetime as dt

    from victorialogs_spark.api import run_query

    UTC = dt.timezone.utc
    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, 10, tzinfo=UTC), "a"),
        (dt.datetime(2024, 1, 1, 0, 0, 50, tzinfo=UTC), "b"),
    ]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string")
    out = run_query(spark, df, "* | stats by (_time:60) count() as n").collect()
    assert len(out) == 2  # 60ns buckets keep the rows apart; 60s would merge


def test_value_bucket_dispatch(spark):
    """Non-_time by-field bucketing follows getBucketedValue's per-value
    dispatch (block_result.go:1666): int64 → float64 → RFC3339
    timestamp → IPv4 → duration, with unparseable values passing
    through UNCHANGED (not collapsed to '')."""
    from victorialogs_spark.api import run_query

    rows = [
        ("1023",), ("1024",), ("2047",),       # ints
        ("abc",), ("",), ("NaN",),             # passthrough (non-digit lead)
        ("-123",),                             # negative int
        ("1.2.3.4",), ("1.2.3.255",),          # IPv4
        ("90s",), ("150s",),                   # durations
        ("2024-03-16T10:30:45Z",),             # RFC3339
    ]
    df = spark.createDataFrame(rows, "x string")

    def got(q):
        out = run_query(spark, df, q).collect()
        return {r["x"]: int(r["n"]) for r in out}

    # 1KiB buckets: ints truncate (1023→0, 1024/2047→1024); 90e9 ns is an
    # exact multiple of 1024 so '90s' stays '1m30s'; everything
    # unparseable groups by itself
    g = got("* | stats by (x:1KiB) count() as n")
    assert g["0"] == 1 and g["1024"] == 2
    assert g["abc"] == 1 and g[""] == 1 and g["NaN"] == 1
    assert g["1m30s"] == 1

    # negative ints truncate DOWNWARD (truncateInt64 adjusts r<0):
    # -123 with bucket 1m(=6e10 ns) → -6e10
    g = got("* | stats by (x:1m) count() as n")
    assert g["-60000000000"] == 1
    # durations truncate in ns and render as durations: 90s→1m, 150s→2m
    assert g["1m"] == 1 and g["2m"] == 1
    # RFC3339 strings truncate as timestamps and re-render RFC3339
    assert g["2024-03-16T10:30:00Z"] == 1

    # IPv4 strings bucket in IP space for NUMERIC sizes too (not just
    # the :/24 mask form): size 256 ≡ /24
    g = got("* | stats by (x:256) count() as n")
    assert g["1.2.3.0"] == 2


def test_numeric_field_word_bucket_is_nanoseconds(spark):
    """Word bucket sizes on NON-time fields use the reference's single
    numeric space (ns): 'x:second' buckets by 1e9, not by 1."""
    from victorialogs_spark.api import run_query

    df = spark.createDataFrame(
        [("1500000000",), ("2500000000",), ("1700000000",)], "x string"
    )
    out = run_query(spark, df, "* | stats by (x:second) count() as n").collect()
    got = {r["x"]: r["n"] for r in out}
    assert got == {"1000000000": "2", "2000000000": "1"} or got == {
        "1000000000": 2,
        "2000000000": 1,
    }


def test_named_group_regex_filters(spark):
    """Python-style (?P<name>...) regexes execute on the Java engine in
    BOTH the ~ filter and stream =~ matchers (the extract pipe already
    converted; the filter paths crashed executors — r14 review
    finding)."""
    from victorialogs_spark.api import run_query

    df = spark.createDataFrame([("err up", "web")], "_msg string, app string")
    assert run_query(spark, df, '_msg:~"(?P<x>err)" | stats count() as n').collect()[0][0] in (1, "1")
    assert run_query(spark, df, '{app=~"(?P<a>w.b)"} | stats count() as n').collect()[0][0] in (1, "1")


def test_regex_flavor_scanner_conversion():
    """Escape/class-aware flavor conversion (r15 advice): escaped parens
    and character-class literals must survive untouched, (?P=name)
    backrefs must convert, and the reverse direction must not corrupt
    lookbehinds."""
    from victorialogs_spark.functions.text import to_java_regex, to_python_regex

    # named group + backref both convert
    assert to_java_regex(r"(?P<w>\w+)=(?P=w)") == r"(?<w>\w+)=\k<w>"
    # escaped paren: NOT a group opener
    assert to_java_regex(r"\(?P<x>") == r"\(?P<x>"
    # inside a character class: literal chars
    assert to_java_regex(r"[(?P<]x") == r"[(?P<]x"
    assert to_java_regex(r"[^](?P<]") == r"[^](?P<]"
    # plain patterns pass through
    assert to_java_regex(r"a(?:b|c)+\d") == r"a(?:b|c)+\d"

    # reverse: Java named group/backref → Python, lookbehinds untouched
    assert to_python_regex(r"(?<w>\w+)=\k<w>") == r"(?P<w>\w+)=(?P=w)"
    assert to_python_regex(r"(?<=foo)bar") == r"(?<=foo)bar"
    assert to_python_regex(r"(?<!foo)bar") == r"(?<!foo)bar"
    # escaped \\k (literal backslash + k) is not a backref
    assert to_python_regex("\\\\k<w>") == "\\\\k<w>"
    import re as _re

    _re.compile(to_python_regex(r"(?<=foo)(?<name>\w+)"))


def test_extract_regexp_java_flavor_pattern(spark):
    """Java-spelled (?<name>...) with a lookbehind still plans (the old
    blind replace turned (?<= into an invalid (?P<= python group)."""
    from victorialogs_spark.api import run_query

    df = spark.createDataFrame([("id=42 ok",)], "_msg string")
    out = run_query(
        spark, df, '* | extract_regexp "(?<=id=)(?<num>\\\\d+)" from _msg | fields num'
    ).collect()
    assert out[0]["num"] == "42"
