"""Tests for distributed ingestion, streaming ingest job, retention,
compaction, and live tail."""

import datetime as dt
import json
import time

import pytest
from pyspark.sql import functions as F

from victorialogs_spark.sources.ndjson import ingest_ndjson_distributed
from victorialogs_spark.streaming.ingest import (
    apply_retention,
    compact_day,
    list_days,
    start_ndjson_ingest,
)
from victorialogs_spark.streaming.tail import LiveTailer, can_live_tail
from victorialogs_spark.logsql.parser import parse_query

UTC = dt.timezone.utc


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_ingest_ndjson_distributed(spark, tmp_path):
    rows = [
        {"_time": "2024-01-01T00:00:01Z", "_msg": "hello", "app": "web",
         "ctx": {"user": {"id": 7}, "ok": True}},
        {"_time": "2024-01-02T00:00:02Z", "_msg": "bye", "app": "db",
         "tags": ["a", "b"]},
        {"_time": "2024-01-02T00:00:03Z", "app": "db"},  # no _msg
    ]
    p = tmp_path / "in.ndjson"
    _write_ndjson(p, rows)
    df = ingest_ndjson_distributed(spark, str(p), stream_fields=["app"])
    got = {r["_msg"]: r.asDict() for r in df.collect()}
    assert got["hello"]["ctx.user.id"] == "7"  # nested keys dot-joined
    assert got["hello"]["ctx.ok"] == "true"
    assert got["bye"]["tags"] == '["a","b"]'  # arrays keep JSON repr
    assert any(m.startswith("missing _msg") for m in got)  # default _msg
    assert got["hello"]["_stream"] == 'app="web"'.join(["{", "}"])  # canonical
    assert got["hello"]["_stream_id"] and got["bye"]["_stream_id"]
    assert got["hello"]["_stream_id"] != got["bye"]["_stream_id"]
    # malformed lines are dropped, not fatal
    with open(p, "a") as f:
        f.write("{not json}\n")
    assert ingest_ndjson_distributed(spark, str(p)).count() == 3


def test_streaming_ingest_retention_compaction(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(indir / "a.ndjson", [
        {"_time": "2024-01-01T10:00:00Z", "_msg": "m1", "app": "w"},
        {"_time": "2024-01-02T10:00:00Z", "_msg": "m2", "app": "w"},
    ])
    q = start_ndjson_ingest(
        spark, str(indir), table, ckpt,
        stream_fields=["app"], promote_keys=["_msg", "app"],
    )
    q.awaitTermination(60)
    assert sorted(list_days(table)) == ["20240101", "20240102"]
    # second batch appends into an existing day → multiple files
    _write_ndjson(indir / "b.ndjson", [
        {"_time": "2024-01-02T11:00:00Z", "_msg": "m3", "app": "w"},
    ])
    q2 = start_ndjson_ingest(
        spark, str(indir), table, ckpt,
        stream_fields=["app"], promote_keys=["_msg", "app"],
    )
    q2.awaitTermination(60)
    df = spark.read.parquet(table)
    assert df.count() == 3
    assert {r["_msg"] for r in df.collect()} == {"m1", "m2", "m3"}
    # compaction: rewrite day 20240102 into one file, data unchanged
    n_before = compact_day(spark, table, "20240102", target_files=1)
    assert n_before >= 2
    assert spark.read.parquet(table).count() == 3
    # retention: drop everything before 20240102
    dropped = apply_retention(table, "20240102")
    assert dropped == ["20240101"]
    assert spark.read.parquet(table).count() == 2


def test_compaction_clusters_by_stream_and_time(spark, tmp_path):
    """compact_day must produce files clustered (_stream_id, _time) —
    the reference's one-stream-per-block layout (block.go:15-24) as
    parquet row-group locality. Sortedness is the property row-group
    min/max pruning rests on at scale; assert it directly on file bytes."""
    indir = tmp_path / "in"
    indir.mkdir()
    table = str(tmp_path / "table")
    rows = [
        {
            "_time": f"2024-01-05T0{h}:00:{s:02d}Z",
            "_msg": f"m{h}{s}",
            "app": app,
        }
        for s in range(10)
        for h, app in ((1, "web"), (2, "db"), (3, "web"))
    ]
    # shuffled across several input files → unsorted multi-file day
    for i in range(3):
        _write_ndjson(indir / f"f{i}.ndjson", rows[i::3])
    q = start_ndjson_ingest(
        spark, str(indir), table, str(tmp_path / "ckpt"),
        stream_fields=["app"], promote_keys=["_msg", "app"],
    )
    q.awaitTermination(60)
    before = {(r["_stream_id"], r["_time"]) for r in
              spark.read.parquet(table).select("_stream_id", "_time").collect()}
    compact_day(spark, table, "20240105", target_files=1)
    df = spark.read.parquet(table)
    after = {(r["_stream_id"], r["_time"]) for r in
             df.select("_stream_id", "_time").collect()}
    assert after == before  # lossless rewrite

    import pyarrow.parquet as pq
    from pathlib import Path

    files = list((Path(table) / "_day=20240105").glob("*.parquet"))
    assert len(files) == 1
    t = pq.read_table(files[0], columns=["_stream_id", "_time"])
    pairs = list(zip(t.column("_stream_id").to_pylist(),
                     t.column("_time").to_pylist()))
    assert pairs == sorted(pairs)  # physically clustered
    # row-group statistics present for _stream_id → pruning-capable scan
    md = pq.ParquetFile(files[0]).metadata
    sid_idx = md.schema.names.index("_stream_id")
    assert md.row_group(0).column(sid_idx).statistics is not None


def test_can_live_tail_classification():
    assert can_live_tail(parse_query("error | fields _msg | extract 'a<x>b' from _msg"))
    assert not can_live_tail(parse_query("* | stats count() as c"))
    assert not can_live_tail(parse_query("* | sort by (_time)"))
    assert not can_live_tail(parse_query("* | limit 5"))


def test_live_tail_poll_loop(spark, tmp_path):
    src_dir = str(tmp_path / "logs")

    def write_batch(rows, batch):
        data = [
            (dt.datetime(2024, 1, 1, 0, 0, s, tzinfo=UTC), m, sid)
            for s, m, sid in rows
        ]
        df = spark.createDataFrame(
            data, "_time timestamp, _msg string, _stream_id string"
        )
        df.write.mode("append").parquet(src_dir)

    write_batch([(0, "old1", "s1"), (1, "old2", "s1")], 0)
    tailer = LiveTailer(
        spark, lambda: spark.read.parquet(src_dir), "*", refresh_interval=0
    )
    assert tailer.poll_once() == []  # first poll only primes the watermark
    write_batch([(2, "new1", "s1"), (3, "new2", "s2")], 1)
    fresh = tailer.poll_once()
    assert [r["_msg"] for r in fresh] == ["new1", "new2"]
    assert tailer.poll_once() == []  # no re-delivery on the next poll
    write_batch([(4, "new3", "s1")], 2)
    assert [r["_msg"] for r in tailer.poll_once()] == ["new3"]
    with pytest.raises(ValueError):
        LiveTailer(spark, lambda: spark.read.parquet(src_dir), "* | stats count() as c")


def test_collected_ts_to_us_host_timezone_invariant():
    """collect() hands the driver LOCAL naive datetimes; the watermark
    conversion must recover exact unix µs on any host TZ (r15 advice:
    a replace(tzinfo=utc) pin offset watermarks by the UTC offset,
    dropping/duplicating tail rows on non-UTC hosts)."""
    import os
    import time as _time

    from victorialogs_spark.streaming.tail import collected_ts_to_us

    # instants incl. a northern-hemisphere DST fold hour and a boundary µs
    instants_us = [
        0,
        1_704_067_200_000_001,          # 2024-01-01 00:00:00.000001 UTC
        1_730_594_700_500_000,          # 2024-11-03 01:25 America/New_York fold
        1_718_000_000_249_999,
    ]
    old_tz = os.environ.get("TZ")
    try:
        for tz in ["UTC", "America/New_York", "Asia/Tokyo", "Europe/Dublin"]:
            os.environ["TZ"] = tz
            _time.tzset()
            for us in instants_us:
                # exactly how TimestampType.fromInternal builds the value
                naive = dt.datetime.fromtimestamp(us // 1_000_000).replace(
                    microsecond=us % 1_000_000
                )
                assert collected_ts_to_us(naive) == us, (tz, us)
            # aware datetimes (future Arrow collect paths) convert exactly too
            aware = dt.datetime.fromtimestamp(
                instants_us[1] / 1e6, tz=dt.timezone.utc
            )
            assert collected_ts_to_us(aware) == instants_us[1]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_tenant_partitioning(spark, tmp_path):
    from victorialogs_spark.schema import for_tenant, with_day_partition, with_tenant

    rows = [(dt.datetime(2024, 1, 1, tzinfo=UTC), f"m{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string")
    t0 = with_day_partition(with_tenant(df, 1, 10))
    t1 = with_day_partition(with_tenant(df, 2, 20))
    path = str(tmp_path / "mt")
    t0.unionByName(t1).write.partitionBy("tenant", "_day").parquet(path)
    full = spark.read.parquet(path)
    one = for_tenant(full, 1, 10)
    assert one.count() == 4 and full.count() == 8
    # tenant predicate prunes at partition level
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "tenant" in plan


def test_stream_hits_windowed(spark, tmp_path):
    """Structured-Streaming windowed hits: file stream in → watermarked
    window counts out (update mode, memory sink)."""
    import json as _json
    import time as _time

    from victorialogs_spark.streaming.windowed import start_stream_hits_to_memory

    src = tmp_path / "stream_in"
    src.mkdir()
    stream = (
        spark.readStream.schema("_time timestamp, _msg string, level string")
        .json(str(src))
    )
    q = start_stream_hits_to_memory(
        stream, "level:error", "hits_tbl", step="1 minute", fields=["level"]
    )
    try:
        lines = [
            {"_time": "2024-01-01T00:00:05.000Z", "_msg": "boom", "level": "error"},
            {"_time": "2024-01-01T00:00:30.000Z", "_msg": "ok", "level": "info"},
            {"_time": "2024-01-01T00:01:10.000Z", "_msg": "boom2", "level": "error"},
        ]
        (src / "a.json").write_text("\n".join(_json.dumps(x) for x in lines))
        q.processAllAvailable()
        rows = spark.sql("select * from hits_tbl").collect()
        got = {(r["window"].start.minute, r["hits"]) for r in rows}
        assert (0, 1) in got and (1, 1) in got
        # late-ish second error in minute 0 updates the open window
        (src / "b.json").write_text(
            _json.dumps({"_time": "2024-01-01T00:00:50.000Z", "_msg": "x", "level": "error"})
        )
        q.processAllAvailable()
        rows = spark.sql("select * from hits_tbl").collect()
        by_min = {}
        for r in rows:
            by_min[r["window"].start.minute] = max(
                by_min.get(r["window"].start.minute, 0), r["hits"]
            )
        assert by_min[0] == 2 and by_min[1] == 1
    finally:
        q.stop()


def test_live_tail_query_without_time_column(spark, tmp_path):
    """Pipes that drop _time (e.g. `| fields _msg`) must still tail."""
    import datetime as dt

    from victorialogs_spark.streaming.tail import LiveTailer

    UTC = dt.timezone.utc
    path = str(tmp_path / "t")

    def w(rows):
        spark.createDataFrame(rows, "_time timestamp, _msg string").coalesce(
            1
        ).write.mode("append").parquet(path)

    w([(dt.datetime(2024, 1, 1, 0, 0, 1, tzinfo=UTC), "old1")])
    tailer = LiveTailer(
        spark, lambda: spark.read.parquet(path), "* | fields _msg",
        refresh_interval=0.01,
    )
    assert tailer.poll_once() == []  # priming
    w([(dt.datetime(2024, 1, 1, 0, 0, 5, tzinfo=UTC), "fresh1")])
    got = [r["_msg"] for r in tailer.poll_once()]
    assert got == ["fresh1"]
    assert tailer.poll_once() == []  # no re-delivery


def test_ingest_jvm_path_parity(spark, tmp_path, monkeypatch):
    """The JVM bulk-load path must produce the same flattened rows as the
    mapInPandas path (modulo documented divergences: arrays re-serialize
    from the inferred all-string type)."""
    from victorialogs_spark.sources import ndjson as nd

    rows = [
        {"_time": "2024-01-01T00:00:01Z", "_msg": "hello", "app": "web",
         "ctx": {"user": {"id": 7}, "ok": True}, "n": 29.27},
        {"_time": "2024-01-02T00:00:02Z", "_msg": "bye", "app": "db"},
        {"_time": "2024-01-02T00:00:03Z", "app": "db"},  # no _msg
    ]
    p = tmp_path / "in.ndjson"
    _write_ndjson(p, rows)
    with open(p, "a") as f:
        f.write("{not json}\n")

    jvm = nd.ingest_ndjson_jvm(spark, str(p), stream_fields=["app"])
    pd_ = nd.ingest_ndjson_distributed(spark, str(p), stream_fields=["app"])
    cols = sorted(set(jvm.columns) & set(pd_.columns) - {"_other"})
    a = sorted(tuple(r[c] for c in cols) for r in jvm.collect())
    b = sorted(tuple(r[c] for c in cols) for r in pd_.collect())
    assert a == b and len(a) == 3  # malformed line dropped on both paths

    # schema-supplied path (skips the inference scan) is row-identical
    # to the inferred path when given the inferred schema
    inferred = spark.read.json(str(p), primitivesAsString=True,
                               mode="DROPMALFORMED").schema
    pre = nd.ingest_ndjson_jvm(spark, str(p), stream_fields=["app"],
                               schema=inferred)
    c = sorted(tuple(r[col] for col in cols) for r in pre.collect())
    assert c == a
    assert "_other" in jvm.columns  # spill map present (empty here)
    assert all(r["_other"] == {} for r in jvm.collect())

    # promote-cap overflow spills to _other instead of dropping data
    monkeypatch.setattr(nd, "MAX_PROMOTED_COLS", 2)
    capped = nd.ingest_ndjson_jvm(spark, str(p))
    got = {r["_msg"]: r["_other"] for r in capped.collect()}
    assert got["hello"].get("n") == "29.27"


def test_streaming_ingest_jvm_schema_path(spark, tmp_path):
    """With a known json_schema, streaming micro-batches parse through the
    from_json JVM path and land the same day-partitioned rows."""
    indir = tmp_path / "in"
    indir.mkdir()
    table = str(tmp_path / "table")
    _write_ndjson(indir / "a.ndjson", [
        {"_time": "2024-01-01T10:00:00Z", "_msg": "m1", "app": "w",
         "ctx": {"id": 5}},
        {"_time": "2024-01-02T10:00:00Z", "_msg": "m2", "app": "x"},
    ])
    with open(indir / "a.ndjson", "a") as f:
        f.write("{bad\n")
    q = start_ndjson_ingest(
        spark, str(indir), table, str(tmp_path / "ckpt"),
        stream_fields=["app"],
        json_schema="_time string, _msg string, app string, ctx struct<id:string>",
    )
    q.awaitTermination(60)
    df = spark.read.parquet(table)
    got = {r["_msg"]: r.asDict() for r in df.collect()}
    assert set(got) == {"m1", "m2"}  # malformed line dropped
    assert got["m1"]["ctx.id"] == "5"  # nested flattening intact
    assert got["m1"]["_stream"] == '{app="w"}'
    assert sorted(list_days(table)) == ["20240101", "20240102"]


def test_compaction_value_type_specialization(spark, tmp_path):
    """type_columns=True re-encodes uniformly-numeric string columns as
    typed parquet (values_encoder.go:109-127 parity): query results are
    unchanged and numeric range predicates push into the scan."""
    from victorialogs_spark.api import run_query

    indir = tmp_path / "in"
    indir.mkdir()
    table = str(tmp_path / "table")
    _write_ndjson(indir / "a.ndjson", [
        {"_time": "2024-01-07T00:00:00Z", "_msg": f"m{i}", "app": "w",
         "code": str(200 + i % 3), "ratio": f"{i}.5", "name": f"u{i}",
         "maybe": "" if i % 2 else str(i)}
        for i in range(10)
    ])
    q = start_ndjson_ingest(
        spark, str(indir), table, str(tmp_path / "ckpt"),
        stream_fields=["app"],
        promote_keys=["_msg", "app", "code", "ratio", "name", "maybe"],
    )
    q.awaitTermination(60)
    want = {r["_msg"] for r in run_query(
        spark, spark.read.parquet(table), "code:>=201 ratio:<7"
    ).collect()}
    compact_day(spark, table, "20240107", target_files=1, type_columns=True)
    df = spark.read.parquet(table)
    dtypes = dict(df.dtypes)
    assert dtypes["code"] == "bigint" and dtypes["ratio"] == "double"
    assert dtypes["maybe"] == "bigint"  # empties don't block typing
    assert dtypes["name"] == "string"   # mixed content stays string
    out = run_query(spark, df, "code:>=201 ratio:<7")
    assert {r["_msg"] for r in out.collect()} == want
    # the numeric range reached the parquet scan (formatted explain is
    # untruncated, unlike executedPlan().toString())
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue().replace(" ", "")
    assert "GreaterThanOrEqual(code,201)" in plan
    assert "LessThan(ratio,7.0)" in plan


def test_jvm_schema_path_keeps_empty_objects(spark):
    """'{}' is a VALID line (default-_msg row); only truly malformed
    lines drop. A user field literally named _other lands in the spill
    map instead of vanishing."""
    from victorialogs_spark.sources.ndjson import parse_json_lines_jvm

    lines = spark.createDataFrame(
        [("{}",), ('{"_msg":"a","_other":"kept"}',), ("{bad",), ("",)],
        "value string",
    )
    out = parse_json_lines_jvm(
        lines, "_msg string, _other string"
    ).collect()
    assert len(out) == 2  # {} kept, {bad and blank dropped
    assert any(r["_other"].get("_other") == "kept" for r in out)


def test_stream_stats_windowed(spark, tmp_path):
    """Streaming stats_query_range: a LogsQL stats query runs as an
    incrementally-maintained windowed aggregate, values matching the
    batch planner on the same rows."""
    import json as _json

    import pytest as _pytest

    from victorialogs_spark.streaming.windowed import stream_stats

    src = tmp_path / "ss_in"
    src.mkdir()
    stream = (
        spark.readStream.schema("_time timestamp, _msg string, app string, v string")
        .json(str(src))
    )
    agg = stream_stats(
        stream, '* | stats by (app) count() as hits, sum(v) as total',
        step="1 minute",
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory").queryName("ss_tbl").start()
    )
    try:
        lines = [
            {"_time": "2024-01-01T00:00:05.000Z", "_msg": "a", "app": "w", "v": "2"},
            {"_time": "2024-01-01T00:00:30.000Z", "_msg": "b", "app": "w", "v": "3"},
            {"_time": "2024-01-01T00:00:40.000Z", "_msg": "c", "app": "d", "v": "10"},
            {"_time": "2024-01-01T00:01:10.000Z", "_msg": "d", "app": "w", "v": "5"},
        ]
        (src / "a.json").write_text("\n".join(_json.dumps(x) for x in lines))
        q.processAllAvailable()
        rows = spark.sql("select * from ss_tbl").collect()
        got = {(r["window"].start.minute, r["app"]): (r["hits"], r["total"])
               for r in rows}
        assert got[(0, "w")] == (2, 5.0)
        assert got[(0, "d")] == (1, 10.0)
        assert got[(1, "w")] == (1, 5.0)
    finally:
        q.stop()

    # unbounded-state functions refuse clearly
    with _pytest.raises(ValueError, match="not streamable"):
        stream_stats(stream, "* | stats count_uniq(app) as u")
    with _pytest.raises(ValueError, match="stats by"):
        stream_stats(stream, "* | sort by (_time)")


def test_jvm_promote_excludes_engine_owned_names(spark):
    """The JVM flatten-promote path must mirror the pandas path's
    engine-owned-name handling: a literal '_day' data field spills to
    _other instead of hijacking the partition column (wrong partitions
    AND wrong lexicographic retention), and a literal '_msg' under a
    custom msg_field is overwritten by the alias rather than producing
    a duplicate column (r14 review findings)."""
    import json

    from victorialogs_spark.sources.ndjson import ingest_ndjson_jvm

    lines = [
        json.dumps({"_time": "2024-01-02T00:00:00Z", "_msg": "hello",
                    "_day": "garbage", "app": "x"}),
        json.dumps({"_time": "2024-01-02T00:00:01Z", "message": "real",
                    "_msg": "literal", "app": "y"}),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "in.ndjson")
        with open(p, "w") as fh:
            fh.write("\n".join(lines))
        df = ingest_ndjson_jvm(spark, p)
        assert "_day" not in df.columns  # not promoted
        rows = {r["_msg"]: r.asDict() for r in df.collect()}
        assert rows["hello"]["_other"].get("_day") == "garbage"  # spilled

        df2 = ingest_ndjson_jvm(spark, p, msg_field="message")
        assert df2.columns.count("_msg") == 1  # no duplicate column
        msgs = {r["_msg"] for r in df2.collect()}
        assert "real" in msgs  # the alias wins (pandas-path parity)


def test_live_tailer_source_without_time(spark, tmp_path):
    """A source frame without a '_time' column primes and polls instead
    of crashing on UNRESOLVED_COLUMN — the guard branches existed but
    the priming aggregation and the disjoint-window re-plan ran before
    them (r14 review finding)."""
    src_dir = str(tmp_path / "nt")
    spark.createDataFrame(
        [("a",), ("b",)], "_msg string"
    ).write.mode("overwrite").parquet(src_dir)
    tailer = LiveTailer(
        spark, lambda: spark.read.parquet(src_dir), "*", refresh_interval=0
    )
    assert tailer.poll_once() == []  # primes at 0, no crash
    # a later poll still answers (every poll re-plans: no time axis)
    rows = tailer.poll_once()
    assert {r["_msg"] for r in rows} == {"a", "b"}


def test_live_tailer_boundary_row_not_dropped(spark, tmp_path):
    """Row timestamps are compared to the Spark-exact unix_micros
    watermarks via exact integer arithmetic, not a float or local-tz
    .timestamp() conversion: a row exactly one µs after the watermark
    must be delivered (r14 review finding — the float path truncated
    boundary µs; a local-tz interpretation shifts whole hours)."""
    src_dir = str(tmp_path / "bd")

    def write(rows):
        spark.createDataFrame(
            rows, "_time timestamp, _msg string"
        ).write.mode("append").parquet(src_dir)

    t0 = dt.datetime(2026, 3, 8, 2, 30, 0, 500000, tzinfo=UTC)  # DST-ish hour
    write([(t0, "old")])
    tailer = LiveTailer(
        spark, lambda: spark.read.parquet(src_dir), "*", refresh_interval=0
    )
    assert tailer.poll_once() == []
    # exactly 1 µs past the primed watermark
    write([(t0 + dt.timedelta(microseconds=1), "fresh")])
    fresh = tailer.poll_once()
    assert [r["_msg"] for r in fresh] == ["fresh"]


def test_json_parser_corpus():
    """Replay the reference's json_parser_test.go cases against
    functions/jsonflat.flatten_json_message in both configurations:
    ingest's 128-char names (ParseLogMessage, and the explicit
    maxFieldLen cases of TestJSONParserTooLongFieldName) and the unpack
    pipe's unbounded names. Extracted at runtime — the corpus policy."""
    import json as _json
    import re
    from pathlib import Path

    from victorialogs_spark.functions.jsonflat import flatten_json_message

    src = Path("/root/reference/lib/logstorage/json_parser_test.go").read_text()

    _FIELD_RE = (
        r'Name:\s+(?:"([^"]*)"|`([^`]*)`),'
        r'\s+Value:\s+(?:"((?:[^"\\]|\\.)*)"|`([^`]*)`)'
    )

    def _fields(block: str) -> dict:
        out = {}
        for m in re.finditer(_FIELD_RE, block):
            name = m.group(1) if m.group(1) is not None else m.group(2)
            if m.group(3) is not None:
                value = _json.loads('"' + m.group(3) + '"')
            else:
                value = m.group(4)
            out[name] = value
        return out

    # TestJSONParserSuccess: f(data, []Field{...})
    body = src.split("func TestJSONParserSuccess")[1].split("\nfunc ")[0]
    n = 0
    for m in re.finditer(
        r"\tf\((?:`([^`]*)`|\"((?:[^\"\\\\]|\\\\.)*)\"), (nil|\[\]Field\{[\s\S]*?\n\t\})\)",
        body,
    ):
        data = m.group(1) if m.group(1) is not None else m.group(2)
        want = {} if m.group(3) == "nil" else _fields(m.group(3))
        for maxlen in (None, 128):
            got = flatten_json_message(data, maxlen)
            assert got == want, f"maxlen={maxlen} {data!r}: {got} != {want}"
        n += 1
    assert n >= 3, f"extraction regressed: {n}"

    # TestJSONParserTooLongFieldName: f(data, maxFieldLen, []Field{...})
    body = src.split("func TestJSONParserTooLongFieldName")[1].split("\nfunc ")[0]
    n = 0
    for m in re.finditer(
        r"\tf\(`([^`]*)`, (\d+), (\[\]Field\{[\s\S]*?\n\t\})\)", body
    ):
        data, maxlen, want = m.group(1), int(m.group(2)), _fields(m.group(3))
        got = flatten_json_message(data, maxlen)
        assert got == want, f"maxlen={maxlen} {data!r}: {got} != {want}"
        n += 1
    assert n >= 3, f"too-long extraction regressed: {n}"

    # failure cases leave the row unchanged
    for bad in ["", "{foo", "[1,2,3]", '{"foo",}']:
        assert flatten_json_message(bad) is None


def _dict_model_flatten(obj: dict, prefix: str = "", max_name_len=None) -> dict:
    """The flattener's semantics over a ``json.loads`` dict, kept as the
    reference model of the property test below: nested objects dot-join,
    strings decode, nulls drop, other values keep their compact JSON
    text, an empty top-level name is ``_msg``, and an object whose prefix
    plus longest key exceeds ``max_name_len`` stays whole as compact
    JSON under the prefix. It re-renders numbers, so it only models
    documents whose numbers are already canonical."""
    if max_name_len is not None and len(prefix) + max(
        (len(k) for k in obj), default=0
    ) > max_name_len:
        return {
            prefix[:-1] or "_msg": json.dumps(
                obj, separators=(",", ":"), ensure_ascii=False
            )
        }
    out = {}
    for k, v in obj.items():
        name = prefix + k or "_msg"
        if isinstance(v, dict):
            out.update(_dict_model_flatten(v, name + ".", max_name_len))
        elif isinstance(v, str):
            out[name] = v
        elif v is not None:
            out[name] = json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return out


def test_flattener_matches_dict_model_property():
    """flatten_json_message equals the dict model on random documents
    with canonical numbers (json.dumps output), with and without the
    128-char name rule: escapes, non-ASCII text, nesting, arrays of
    objects, nulls, empty and long names, NaN/±Infinity."""
    import random

    from victorialogs_spark.functions.jsonflat import flatten_json_message

    rng = random.Random(1234)
    alphabet = ["a", "b", ".", '"', "\\", "\n", "\t", "é", "日", "😀", "x" * 7]

    def text() -> str:
        return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 5)))

    def name() -> str:
        r = rng.random()
        if r < 0.1:
            return ""
        if r < 0.2:
            return "k" * rng.randint(40, 140)
        return text()

    def value(depth: int):
        r = rng.random()
        if depth > 3 or r < 0.3:
            return text()
        if r < 0.45:
            return rng.choice([0, -7, 10**20, 1.5, -0.25, 1e-7, 3e100])
        if r < 0.5:
            return rng.choice([float("nan"), float("inf"), float("-inf")])
        if r < 0.6:
            return rng.choice([True, False, None])
        if r < 0.75:
            return [value(depth + 1) for _ in range(rng.randint(0, 3))]
        return obj(depth + 1)

    def obj(depth: int) -> dict:
        return {name(): value(depth) for _ in range(rng.randint(0, 4))}

    def nan_safe(d):
        # NaN != NaN: compare texts, which is what the fields are anyway
        return None if d is None else json.dumps(d, sort_keys=True)

    for _ in range(3000):
        doc = obj(0)
        text_doc = json.dumps(
            doc, ensure_ascii=rng.random() < 0.5,
            separators=rng.choice([(",", ":"), (", ", ": ")]),
        )
        for maxlen in (None, 128):
            got = flatten_json_message(text_doc, maxlen)
            want = _dict_model_flatten(doc, "", maxlen)
            assert nan_safe(got) == nan_safe(want), (text_doc, maxlen)


def test_flattener_keeps_raw_tokens_and_rejects_non_json():
    """Numbers and NaN/±Infinity keep their source text, in fields and
    in re-rendered arrays and subtrees. Spellings that are not JSON
    (fastjson takes them) make the document unparseable: the flattener
    returns None, so ingest rejects the line and unpack_json leaves the
    row unchanged."""
    from victorialogs_spark.functions.jsonflat import flatten_json_message

    doc = '{"d":1.20,"e":1e5,"z":-0,"big":1e400,"arr":[1.50,2,NaN],"o":{"n":-Infinity}}'
    want = {"d": "1.20", "e": "1e5", "z": "-0", "big": "1e400",
            "arr": "[1.50,2,NaN]", "o.n": "-Infinity"}
    assert flatten_json_message(doc) == want
    assert flatten_json_message(doc, 128) == want
    # a too-long name keeps the subtree's raw tokens and duplicate members
    long = "k" * 130
    assert flatten_json_message(
        '{"o":{"%s":1.0, "a":2, "a":3e0}}' % long, 128
    ) == {"o": '{"%s":1.0,"a":2,"a":3e0}' % long}
    for bad in ("nan", "inf", "-inf", ".5", "1.", "01", "+1", "0x1F"):
        assert flatten_json_message('{"a":%s}' % bad) is None, bad


def test_ingest_timestamp_corpus(spark):
    """insertutil/timestamp_test.go: the ingest _time parser accepts
    RFC3339 (any zone), SQL datetime with zone, and NUMERIC unix stamps
    whose unit (s/ms/µs/ns) auto-detects at the int32-count magnitude
    boundaries (timeutil.TryParseUnixTimestamp) — a plain
    seconds-interpretation read millis as year ~56000. Extracted at
    runtime; expectations compare at µs (our timestamp resolution)."""
    import re
    from pathlib import Path

    from pyspark.sql import functions as F

    src = Path(
        "/root/reference/app/vlinsert/insertutil/timestamp_test.go"
    ).read_text()
    body = src.split("func TestExtractTimestampFromFields_Success")[1].split(
        "\nfunc "
    )[0]
    cases = []
    for m in re.finditer(
        r'\{Name: "time", Value: "([^"]*)"\},\s*\n\t\}, (\d+)\)', body
    ):
        cases.append((m.group(1), int(m.group(2))))
    assert len(cases) >= 4, f"extraction regressed: {len(cases)}"

    from victorialogs_spark.schema import ingest_ndjson

    import json as _json

    lines = [_json.dumps({"_msg": "x", "_time": v}) for v, _ in cases]
    df = ingest_ndjson(spark, lines)
    got = [r["_time"] for r in df.select("_time").collect()]
    failures = []
    for (v, want_ns), ts in zip(cases, got):
        import datetime as _dt

        got_us = int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1e6) \
            if ts.tzinfo is None else int(ts.timestamp() * 1e6)
        if got_us != want_ns // 1000:
            failures.append(f"{v!r}: got {got_us} want {want_ns // 1000}")
    assert not failures, "\n".join(failures)


def test_log_rows_corpus(spark):
    """lib/logstorage/log_rows_test.go TestLogRows_{WildcardIgnoreFields,
    DefaultMsgValue} replayed through ingest_ndjson + with_stream_id:
    ignore_fields are prefix FILTERS, extra fields re-add after the
    drop, `_stream` carries only the labels PRESENT in each row, and an
    empty default-msg adds no _msg. (StreamFieldsOverride passes
    constant Field overrides — an internal MustAdd path with no
    common-args counterpart here.) Timestamps compare at µs."""
    import datetime as _dt
    import json as _json
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).parent))
    from test_protocols import _go_value

    from victorialogs_spark.endpoints import _wire_timestamp
    from victorialogs_spark.logsql.lexer import try_parse_rfc3339_ns
    from victorialogs_spark.schema import ingest_ndjson

    src = Path("/root/reference/lib/logstorage/log_rows_test.go").read_text()
    cases = []
    for func in ("TestLogRows_WildcardIgnoreFields", "TestLogRows_DefaultMsgValue"):
        body = src.split(f"func {func}")[1].split("\nfunc ")[0]
        for m in re.finditer(r"opts\{", body):
            o, _ = _go_value(body, m.start() + len("opts"))
            if o.get("rows"):
                cases.append(o)
    assert len(cases) >= 5, len(cases)

    failures = []
    for o in cases:
        lines = []
        for i, r in enumerate(o["rows"]):
            d = _json.loads(r, strict=False)  # raw ESC chars in fixtures
            ns = i * 1000 + 1
            d["_time"] = f"{ns // 10**9}.{ns % 10**9:09d}"
            lines.append(_json.dumps(d))
        extra = {kv["name"]: kv["value"] for kv in o.get("extraFields") or []}
        df = ingest_ndjson(
            spark,
            lines,
            stream_fields=o.get("streamFields"),
            ignore_fields=o.get("ignoreFields"),
            extra_fields=extra or None,
            default_msg_value=o.get("defaultMsgValue") or "",
            decolorize_fields=o.get("decolorizeFields"),
        )
        got = []
        for row in df.collect():
            d = {
                k: v
                for k, v in row.asDict().items()
                if v not in (None, "") and k not in ("_stream_id", "_day")
            }
            d["_time"] = _wire_timestamp(d["_time"])
            got.append(_json.dumps(d, sort_keys=True, separators=(",", ":")))

        want = []
        for s in o["resultExpected"]:
            d = _json.loads(s)
            ns = try_parse_rfc3339_ns(d["_time"])
            us = ns // 1000
            d["_time"] = _wire_timestamp(
                (
                    _dt.datetime.fromtimestamp(us // 10**6, tz=_dt.timezone.utc)
                    + _dt.timedelta(microseconds=us % 10**6)
                ).replace(tzinfo=None)  # engine rows carry naive datetimes
            )
            want.append(_json.dumps(d, sort_keys=True, separators=(",", ":")))
        if sorted(got) != sorted(want):
            failures.append(f"opts {o.get('ignoreFields')}: got {got} want {want}")
    assert not failures, "\n\n".join(failures[:3])


NON_OBJECT_LINES = ["5", "null", "true", "[1]"]


def test_non_object_json_line_is_malformed(spark, tmp_path):
    """A JSON line that is valid JSON but not an object is a malformed
    line: the batch and streaming paths drop it, the driver-side
    /insert/jsonline parser rejects it with a ValueError that says so."""
    from victorialogs_spark.schema import ingest_ndjson

    lines = ['{"_msg": "a"}', *NON_OBJECT_LINES, '{"_msg": "b"}']
    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "a.ndjson").write_text("\n".join(lines) + "\n")
    df = ingest_ndjson_distributed(spark, str(indir))
    assert sorted(r["_msg"] for r in df.collect()) == ["a", "b"]

    table = str(tmp_path / "table")
    q = start_ndjson_ingest(spark, str(indir), table, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    assert q.exception() is None
    got = spark.read.parquet(table).select("_msg").collect()
    assert sorted(r["_msg"] for r in got) == ["a", "b"]

    for bad in NON_OBJECT_LINES:
        with pytest.raises(ValueError, match="must be an object"):
            ingest_ndjson(spark, ['{"_msg": "a"}', bad])


def test_insert_jsonline_rejects_non_object_line(spark):
    """/insert/jsonline answers a non-object line with a 400 that names
    the problem, and stores nothing from the request."""
    import urllib.error
    import urllib.request

    from victorialogs_spark.http_server import serve

    srv = serve(spark)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/insert/jsonline",
            data=b'{"_msg": "a"}\n5\n', method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req)
        assert err.value.code == 400
        assert "must be an object" in err.value.read().decode()
    finally:
        srv.stop()


def test_streamless_ingest_lands_in_the_empty_stream(spark, tmp_path):
    """Without stream fields every NDJSON path puts rows in the empty
    stream "{}" with one shared _stream_id, like the driver-side parser
    and every protocol parser."""
    from victorialogs_spark.schema import ingest_ndjson

    rows = [
        {"_time": "2024-01-01T10:00:00Z", "_msg": "m1", "app": "w"},
        {"_time": "2024-01-01T11:00:00Z", "_msg": "m2"},
    ]
    indir = tmp_path / "in"
    indir.mkdir()
    _write_ndjson(indir / "a.ndjson", rows)
    drv = ingest_ndjson(spark, [json.dumps(r) for r in rows])
    (want_id,) = {r["_stream_id"] for r in drv.collect()}
    assert {r["_stream"] for r in drv.collect()} == {"{}"}

    frames = {"distributed": ingest_ndjson_distributed(spark, str(indir))}
    jvm_schema = "_time string, _msg string, app string"
    for name, schema in (("dynamic", None), ("jvm", jvm_schema)):
        table = str(tmp_path / f"table_{name}")
        q = start_ndjson_ingest(
            spark, str(indir), table, str(tmp_path / f"ckpt_{name}"),
            json_schema=schema,
        )
        q.awaitTermination(60)
        frames[name] = spark.read.parquet(table)
    for name, df in frames.items():
        got = {(r["_stream"], r["_stream_id"]) for r in df.collect()}
        assert got == {("{}", want_id)}, name


def test_driver_and_distributed_ndjson_parity(spark, tmp_path):
    """schema.ingest_ndjson (driver-side, /insert/jsonline) and
    ingest_ndjson_distributed run one row transform: every column they
    share holds the same value for the same lines."""
    from victorialogs_spark.schema import ingest_ndjson

    rows = [
        # first time candidate; nested objects, numbers, bools, nulls
        {"ts": "2024-01-01T00:00:01Z", "message": "first", "app": "web",
         "ctx": {"user": {"id": 7}, "ok": True}, "n": 29.27,
         "big": 12345678901234, "flag": False, "nothing": None,
         "tags": ["a", 1]},
        # second time candidate (unix seconds); the first msg candidate
        # is empty so the second one renames; ignored prefix dropped
        {"time": "1704067202", "msg": "", "message": "second", "app": "db",
         "debug.x": "drop me", "debug": {"y": 1}},
        # '0' means no timestamp; no msg candidate → default _msg
        {"ts": "0", "log": {"text": "x"}},
        # no time at all
        {"message": "no time", "app": "web"},
        # the chosen time field AND a literal _time: the time field wins
        {"ts": "2024-01-01T00:00:05Z", "_time": "1999-01-01T00:00:00Z",
         "message": "both"},
        # a literal _time and no candidate present: it is the row time
        {"_time": "2024-01-01T00:00:06Z", "message": "literal only"},
    ]
    lines = [json.dumps(r) for r in rows]
    p = tmp_path / "in.ndjson"
    p.write_text("\n".join(lines) + "\n")
    opts = dict(
        time_field=["ts", "time"], msg_field=["msg", "message"],
        stream_fields=["app"], ignore_fields=["debug.*"],
        extra_fields={"env": "prod"},
    )
    now = spark.sql("select current_timestamp() as t").first()["t"]
    drv_df = ingest_ndjson(spark, lines, **opts)
    dist_df = ingest_ndjson_distributed(spark, str(p), **opts)
    drv = {r["_msg"]: r.asDict() for r in drv_df.collect()}
    dist = {r["_msg"]: r.asDict() for r in dist_df.collect()}
    later = spark.sql("select current_timestamp() as t").first()["t"]

    assert set(drv) == set(dist) and len(drv) == len(rows)
    assert set(dist_df.columns) == set(drv_df.columns) | {"_other"}
    # nothing spills: a literal _time is consumed, never kept aside
    assert all(r["_other"] == {} for r in dist.values())
    now_rows = {"no time", next(m for m in drv if m.startswith("missing"))}
    for msg, d in drv.items():
        got = dict(dist[msg])
        got.pop("_other")
        if msg in now_rows:  # ingest-time now(), taken once per query
            assert now <= d.pop("_time") <= later
            assert now <= got.pop("_time") <= later
        assert got == d, msg
    assert drv["first"]["ctx.user.id"] == "7"
    assert drv["first"]["tags"] == '["a",1]'
    assert drv["first"]["flag"] == "false" and drv["first"]["n"] == "29.27"
    assert "debug.x" not in drv["second"] and "debug.y" not in drv["second"]
    assert drv["second"]["env"] == "prod"
    assert drv["both"]["_time"] == dt.datetime(2024, 1, 1, 0, 0, 5)
    assert drv["literal only"]["_time"] == dt.datetime(2024, 1, 1, 0, 0, 6)
