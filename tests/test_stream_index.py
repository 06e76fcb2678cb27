"""Tests for the per-file stream-value sidecar (file pruning for
``{label=...}`` / ``_stream_id`` filters) — index/streams.py."""

import datetime as dt

from pyspark.sql import functions as F

from victorialogs_spark.api import run_query
from victorialogs_spark.index.bloom import read_pruned
from victorialogs_spark.index.streams import (
    build_stream_index,
    stream_candidate_files,
    stream_constraints_of_query,
)
from victorialogs_spark.logsql.parser import parse_query

UTC = dt.timezone.utc


def _write_table(spark, path):
    # 3 files, each holding ONE app's streams (the post-compact_day
    # clustered layout the sidecar is designed for)
    for i, (app, sid) in enumerate(
        [("web", "s1"), ("db", "s2"), ("cache", "s3")]
    ):
        rows = [
            (
                dt.datetime(2024, 1, 1, 0, i, j, tzinfo=UTC),
                f"{app} message {j}",
                app,
                sid,
            )
            for j in range(4)
        ]
        df = spark.createDataFrame(
            rows, "_time timestamp, _msg string, app string, _stream_id string"
        )
        df.coalesce(1).write.mode("append").parquet(path)


def _constraints(query):
    return stream_constraints_of_query(parse_query(query))


def test_stream_constraints_of_query():
    c = _constraints('{app="web"} error')
    assert c == {"app": {"web"}}
    c = _constraints('{app="web" or app="db"}')
    assert c == {"app": {"web", "db"}}
    # an OR term without '=' on the field makes it unprunable
    assert _constraints('{app="web" or env="x"}') == {}
    # negations never prune
    assert _constraints('{app!="web"}') == {}
    c = _constraints('_stream_id:in(s1, s2)')
    assert c == {"_stream_id": {"s1", "s2"}}
    # two conjuncts on one field intersect
    c = _constraints('{app="web"} {app="db"}')
    assert c == {"app": set()}


def test_stream_index_prunes_files(spark, tmp_path):
    table = str(tmp_path / "t")
    index = str(tmp_path / "sidx")
    _write_table(spark, table)
    build_stream_index(spark, table, index, fields=["_stream_id", "app"])

    idx = spark.read.parquet(index)
    assert idx.count() == 6  # 3 files x 2 fields
    assert not idx.where("overflow").count()

    indexed, cands = stream_candidate_files(
        spark, index, {"app": {"web"}}
    )
    assert len(indexed) == 3 and len(cands) == 1
    _, cands = stream_candidate_files(
        spark, index, {"app": {"web"}, "_stream_id": {"s2"}}
    )
    assert cands == set()  # AND across fields: web lives in s1's file
    # contradictory conjuncts ({a="x"} {a="y"}) -> empty value set ->
    # no candidates, and no untyped-empty-array crash
    _, cands = stream_candidate_files(spark, index, {"app": set()})
    assert cands == set()

    full = spark.read.parquet(table)

    def n_files(q):
        return len(
            read_pruned(spark, table, None, q, stream_index_path=index)
            .inputFiles()
        )

    assert n_files('{app="web"}') == 1
    assert n_files("plain words") == 3

    # end-to-end through read_pruned (stream sidecar only, no bloom)
    pruned = read_pruned(
        spark, table, None, '{app="web"}', stream_index_path=index
    )
    assert pruned.select(F.input_file_name()).distinct().count() == 1
    got = {r["_msg"] for r in run_query(spark, pruned, '{app="web"}').collect()}
    want = {r["_msg"] for r in run_query(spark, full, '{app="web"}').collect()}
    assert got == want and len(got) == 4

    # _stream_id pruning
    pruned = read_pruned(
        spark, table, None, "_stream_id:in(s3)", stream_index_path=index
    )
    assert pruned.select(F.input_file_name()).distinct().count() == 1


def test_stream_index_unindexed_field_is_unprunable(spark, tmp_path):
    """A constraint on a field the sidecar never indexed must be SKIPPED
    (unprunable), not treated as matching zero files — otherwise a
    default _stream_id-only sidecar would empty out {app=...} queries."""
    table = str(tmp_path / "t")
    index = str(tmp_path / "sidx")
    _write_table(spark, table)
    build_stream_index(spark, table, index, fields=["_stream_id"])  # no app

    full = spark.read.parquet(table)
    pruned = read_pruned(
        spark, table, None, '{app="web"}', stream_index_path=index
    )
    got = {r["_msg"] for r in run_query(spark, pruned, '{app="web"}').collect()}
    want = {r["_msg"] for r in run_query(spark, full, '{app="web"}').collect()}
    assert got == want and len(got) == 4
    # a combined constraint still prunes on the indexed field
    pruned = read_pruned(
        spark, table, None, '{app="web"} _stream_id:in(s1)',
        stream_index_path=index,
    )
    assert pruned.select(F.input_file_name()).distinct().count() == 1


def test_stream_index_null_labels_match_empty(spark, tmp_path):
    """NULL label values index as '' (the engine's missing≡empty rule),
    so {label=""} keeps the files holding NULL-label rows."""
    import datetime as dt

    table = str(tmp_path / "t")
    index = str(tmp_path / "sidx")
    rows = [(dt.datetime(2024, 1, 1, tzinfo=UTC), "null app row", None, "s1")]
    spark.createDataFrame(
        rows, "_time timestamp, _msg string, app string, _stream_id string"
    ).coalesce(1).write.parquet(table)
    build_stream_index(spark, table, index, fields=["app"])
    pruned = read_pruned(
        spark, table, None, '{app=""}', stream_index_path=index
    )
    got = {r["_msg"] for r in run_query(spark, pruned, '{app=""}').collect()}
    assert got == {"null app row"}


def test_stream_index_unindexed_files_survive(spark, tmp_path):
    table = str(tmp_path / "t")
    index = str(tmp_path / "sidx")
    _write_table(spark, table)
    build_stream_index(spark, table, index, fields=["app"])
    # a file written AFTER the index build must never be pruned away
    late = [(dt.datetime(2024, 1, 2, tzinfo=UTC), "web late row", "web", "s9")]
    spark.createDataFrame(
        late, "_time timestamp, _msg string, app string, _stream_id string"
    ).coalesce(1).write.mode("append").parquet(table)

    pruned = read_pruned(
        spark, table, None, '{app="web"}', stream_index_path=index
    )
    got = {r["_msg"] for r in run_query(spark, pruned, '{app="web"}').collect()}
    assert "web late row" in got and len(got) == 5


def test_pruning_keeps_partition_columns_on_hive_layout(spark, tmp_path):
    """Day-partitioned tables (the compact_day layout) prune too:
    basePath keeps _day populated when leaf files are read directly, and
    pruned results equal the full reader's."""
    table = str(tmp_path / "hive")
    index = str(tmp_path / "hidx")
    rows = []
    for day, app, sid in [("20240101", "web", "s1"), ("20240102", "db", "s2")]:
        for j in range(3):
            rows.append(
                (dt.datetime(2024, 1, 1, 0, 0, j, tzinfo=UTC),
                 f"{app} m{j}", app, sid, day)
            )
    spark.createDataFrame(
        rows,
        "_time timestamp, _msg string, app string, _stream_id string,"
        " _day string",
    ).repartition(1).write.partitionBy("_day").parquet(table)
    build_stream_index(spark, table, index, fields=["app"])
    full = spark.read.parquet(table)
    pruned = read_pruned(
        spark, table, None, '{app="web"}', stream_index_path=index
    )
    assert len(pruned.inputFiles()) == 1 and len(full.inputFiles()) == 2
    got = sorted(
        tuple(r)
        for r in run_query(spark, pruned, '{app="web"} | fields _msg, _day').collect()
    )
    want = sorted(
        tuple(r)
        for r in run_query(spark, full, '{app="web"} | fields _msg, _day').collect()
    )
    assert got == want and len(got) == 3


def test_build_log_layout_end_to_end(spark, tmp_path):
    """build_log_layout produces the full production layout in one call:
    day directories, stream-partitioned compacted files, registered
    sidecars — and run_query(path) answers match the raw frame while
    scanning fewer files."""
    from victorialogs_spark.schema import events_as_logs
    from victorialogs_spark.streaming.ingest import build_log_layout

    raw = events_as_logs(spark, "/root/testdata/sf0.001")
    dst = str(tmp_path / "layout")
    build_log_layout(
        spark, raw, dst,
        stream_fields=["_stream_id", "event_type"], target_files=5,
    )
    full = spark.read.parquet(dst)
    assert "_day" in full.columns
    n_files = len(full.inputFiles())
    assert n_files > 5  # several files per day survive compaction
    q = '{event_type="click"} | stats count() as n'
    pruned = run_query(spark, dst, q)
    # the sidecar narrows the listing (click lives in a stream subset)
    assert len(pruned.inputFiles()) < n_files
    assert pruned.collect() == run_query(spark, raw, q).collect()
    # time ranges compile to _day partition predicates over the layout
    q2 = "_time:[2024-01-10, 2024-01-12) | stats count() as n"
    got = run_query(spark, dst, q2).collect()
    assert got == run_query(spark, raw, q2).collect()


def test_stream_candidate_files_broadcast_path(spark, tmp_path, monkeypatch):
    """A wanted-value set past _MAX_LITERAL_VALUES takes the broadcast-
    join probe (no 10^4-literal expression tree) and must agree with the
    literal path's semantics: intersect per field, overflow matches.
    (The driver-side fast path is disabled so this covers the
    DISTRIBUTED probe — a tmp-dir sidecar would otherwise take the
    local path and never build the broadcast plan.)"""
    from victorialogs_spark.index import local as L
    from victorialogs_spark.index import streams as S

    monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    rows = [(f"s{i}", f"m{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "_stream_id string, _msg string")
    df.repartition(3, F.col("_stream_id")).write.parquet(table)
    build_stream_index(spark, table, index, fields=["_stream_id"])
    # 100 wanted ids (> _MAX_LITERAL_VALUES), only s0 exists
    wanted = {f"s{i}" for i in range(100)} | {"s0"}
    assert len(wanted) > S._MAX_LITERAL_VALUES
    indexed, cands = stream_candidate_files(
        spark, index, {"_stream_id": wanted}
    )
    small_indexed, small_cands = stream_candidate_files(
        spark, index, {"_stream_id": {"s0"}}
    )
    assert indexed == small_indexed
    # the broadcast path keeps every file holding any wanted id — which
    # is a superset of (here: equal to, plus files holding s1..s99 = none
    # beyond) the single-value probe's files
    assert small_cands <= cands <= indexed
    files_with_s0 = {
        f for f in indexed
        if spark.read.parquet(f).where(F.col("_stream_id") == "s0").count()
    }
    assert files_with_s0 <= cands


def test_local_probe_matches_spark_probe(spark, tmp_path, monkeypatch):
    """The driver-side fast path (index/local.py) must return EXACTLY
    the distributed probe's result for every constraint shape: plain
    match, multi-value, unindexed field (unprunable), contradictory
    empty set, and a no-match value. Run both ways over the same
    sidecar and compare."""
    from victorialogs_spark.index import local as L

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_stream_index(spark, table, index, fields=["app", "_stream_id"])

    shapes = [
        {"app": {"web"}},
        {"app": {"web", "db"}},
        {"app": {"web"}, "_stream_id": {"s1"}},
        {"app": {"web"}, "_stream_id": {"s2"}},  # cross-field AND: no file
        {"nosuch": {"x"}},                       # unindexed: unprunable
        {"app": set()},                          # contradiction: empty
        {"app": {"zzz"}},                        # no match
        {"app": {""}},                           # v2 empty-value probe
    ]
    for c in shapes:
        local = stream_candidate_files(spark, index, c)
        monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
        dist = stream_candidate_files(spark, index, c)
        monkeypatch.undo()
        assert local == dist, c


def test_mixed_version_sidecar_disables_empty_pruning(spark, tmp_path,
                                                      monkeypatch):
    """A sidecar holding BOTH pre-v2 and v2 parts cannot answer an ""
    constraint soundly: pre-v2 parts recorded NULL labels as absent, so
    some file's empty-value evidence is missing. Both probe paths must
    therefore treat "" as unprunable (returning all indexed files) —
    and must still agree with each other. A first-row/any() version
    probe gets this wrong in one direction or the other: over-pruning
    files that match (wrong results) or diverging between paths."""
    from victorialogs_spark.index import local as L

    table = str(tmp_path / "t")
    index = str(tmp_path / "idx")
    _write_table(spark, table)
    build_stream_index(spark, table, index, fields=["app"])

    # rewrite ONE sidecar part as pre-v2 (drop the version column),
    # leaving the others v2 — the mixed-upgrade shape
    import glob
    import os

    part = sorted(glob.glob(os.path.join(index, "*.parquet")))[0]
    one = spark.read.parquet(part).drop("version")
    tmp_part = str(tmp_path / "pre_v2_part")
    one.coalesce(1).write.mode("overwrite").parquet(tmp_part)
    os.remove(part)
    src = glob.glob(os.path.join(tmp_part, "*.parquet"))[0]
    os.rename(src, part)
    # drop Hadoop's hidden .crc siblings: they checksum the ORIGINAL
    # bytes and would fail the swapped-in part
    for crc in glob.glob(os.path.join(index, ".*.crc")):
        os.remove(crc)

    constraint = {"app": {""}}
    local = stream_candidate_files(spark, index, constraint)
    monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
    dist = stream_candidate_files(spark, index, constraint)
    monkeypatch.undo()
    assert local == dist
    indexed, cands = local
    # "" unprunable on a mixed sidecar: every indexed file stays
    assert cands == indexed and len(indexed) == 3

    # non-empty values still prune normally on the mixed sidecar
    local2 = stream_candidate_files(spark, index, {"app": {"web"}})
    monkeypatch.setattr(L, "LOCAL_INDEX_MAX_BYTES", 0)
    dist2 = stream_candidate_files(spark, index, {"app": {"web"}})
    monkeypatch.undo()
    assert local2 == dist2
    assert len(local2[1]) == 1


def _register_both(spark, tmp_path):
    from victorialogs_spark.index.bloom import (
        build_token_bloom_index,
        register_bloom_index,
    )
    from victorialogs_spark.index.streams import register_stream_index

    table = str(tmp_path / "t")
    sidx = str(tmp_path / "sidx")
    bidx = str(tmp_path / "bidx")
    _write_table(spark, table)
    build_stream_index(spark, table, sidx, fields=["_stream_id", "app"])
    build_token_bloom_index(spark, table, bidx)
    register_stream_index(table, sidx)
    register_bloom_index(table, bidx)
    return table, sidx, bidx


def test_run_query_opens_table_once(spark, tmp_path):
    """The first open of a table runs ONE Spark job, its schema
    inference; every later open of the unchanged table runs none. The
    sidecar probes run driver-side, and the pruned reader and the
    unpruned subquery source come from the table's snapshot."""
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()
    queries = ["web", '{app="web"} message']

    def jobs_to_plan(table, q, group):
        sc.setJobGroup(group, "plan only")
        try:
            out = run_query(spark, table, q)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        listener_bus.waitUntilEmpty()
        assert len(out.inputFiles()) == 1, q
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for i, first in enumerate(queries):
        table, _, _ = _register_both(spark, tmp_path / str(i))
        assert jobs_to_plan(table, first, f"open-once-{i}") == 1, first
        for j, q in enumerate(queries * 2):
            assert jobs_to_plan(table, q, f"open-once-{i}-{j}") == 0, q


def test_missing_sidecar_means_no_pruning(spark, tmp_path):
    """A registered sidecar whose directory is gone prunes nothing: the
    path form returns the unpruned answer instead of failing, for either
    sidecar."""
    import shutil

    for which in (1, 2):  # the stream sidecar, then the bloom sidecar
        paths = _register_both(spark, tmp_path / str(which))
        table, gone = paths[0], paths[which]
        shutil.rmtree(gone)
        full = spark.read.parquet(table)
        for q in ('{app="web"}', "web", '{app="db"} message'):
            got = sorted(tuple(r) for r in run_query(spark, table, q).collect())
            want = sorted(tuple(r) for r in run_query(spark, full, q).collect())
            assert got == want and len(got) == 4, (gone, q)


# ---------------------------------------------------------------------------
# the table snapshot is never served stale: every test below reads the
# table once, changes it (or its sidecar) behind the engine's back, and
# reads again
# ---------------------------------------------------------------------------


def _day_batch(spark, day, app, n):
    from victorialogs_spark.schema import with_stream_id

    rows = [
        (dt.datetime(2024, 1, day, 0, 0, j, tzinfo=UTC), f"{app} message {j}", app)
        for j in range(n)
    ]
    df = spark.createDataFrame(rows, "_time timestamp, _msg string, app string")
    return with_stream_id(df, ["app"]).coalesce(1)


def _count(spark, table, q="*"):
    return run_query(spark, table, q + " | stats count() as n").collect()[0]["n"]


def test_append_then_read_sees_new_rows(spark, tmp_path):
    from victorialogs_spark.streaming.ingest import append_day_partitioned

    table = str(tmp_path / "t")
    append_day_partitioned(_day_batch(spark, 1, "web", 4), table)
    assert _count(spark, table) == 4
    append_day_partitioned(_day_batch(spark, 1, "db", 3), table)
    append_day_partitioned(_day_batch(spark, 2, "web", 2), table)
    assert _count(spark, table) == 9
    assert _count(spark, table, "{app=db}") == 3


def test_compact_then_read_sees_new_files(spark, tmp_path):
    import glob
    import os

    from victorialogs_spark.index.bloom import open_log_table
    from victorialogs_spark.streaming.ingest import (
        append_day_partitioned,
        compact_table,
    )

    table = str(tmp_path / "t")
    for app in ("web", "db", "cache"):
        append_day_partitioned(_day_batch(spark, 1, app, 4), table)

    def rows():
        return sorted(
            (r["_time"], r["_msg"], r["app"])
            for r in run_query(spark, table, "*").collect()
        )

    before = rows()
    assert len(open_log_table(spark, table, "*").inputFiles()) == 3
    compact_table(spark, table, target_files=1)
    on_disk = {
        "file://" + os.path.abspath(f)
        for f in glob.glob(os.path.join(table, "_day=*", "*.parquet"))
    }
    assert len(on_disk) == 1
    assert set(open_log_table(spark, table, "*").inputFiles()) == on_disk
    assert rows() == before and len(before) == 12


def test_rebuilt_sidecar_prunes_by_new_content(spark, tmp_path):
    from victorialogs_spark.index.bloom import (
        build_token_bloom_index,
        open_log_table,
        register_bloom_index,
    )

    table = str(tmp_path / "t")
    bidx = str(tmp_path / "bidx")
    _write_table(spark, table)
    # a sidecar over app only: _msg words prune nothing through it
    build_token_bloom_index(spark, table, bidx, fields=["app"])
    register_bloom_index(table, bidx)
    assert len(open_log_table(spark, table, "web").inputFiles()) == 3
    build_token_bloom_index(spark, table, bidx)  # now over _msg
    assert len(open_log_table(spark, table, "web").inputFiles()) == 1
    assert _count(spark, table, "web") == 4


def test_read_is_bound_to_the_calling_session(spark, tmp_path):
    table = str(tmp_path / "t")
    _write_table(spark, table)
    assert run_query(spark, table, "web").sparkSession is spark
    other = spark.newSession()
    out = run_query(other, table, "web")
    assert out.sparkSession is other
    assert out.count() == 4


def test_concurrent_reads_of_one_path(spark, tmp_path):
    """8 threads read one path at once, right after the table changed
    under a snapshot an earlier read built: every thread sees the new
    rows."""
    import sys
    import threading

    from victorialogs_spark.streaming.ingest import append_day_partitioned

    table = str(tmp_path / "t")
    append_day_partitioned(_day_batch(spark, 1, "web", 4), table)
    assert _count(spark, table) == 4
    append_day_partitioned(_day_batch(spark, 2, "db", 3), table)

    n = 8
    start = threading.Barrier(n)
    got: list = [None] * n

    def read(i):
        start.wait(timeout=60)
        got[i] = (_count(spark, table), _count(spark, table, "{app=db}"))

    threads = [threading.Thread(target=read, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got == [(7, 3)] * n
