"""Lifecycle of the facade's durable spill dir: every flush appends its
rows straight into the day-partitioned table (``<spill>/_table/_day=*``)
and a day that accumulates COMPACT_FILES files is rewritten into
clustered files, so long-running serve converges to the clustered layout
instead of an unboundedly growing pile. The manifest (``_MANIFEST.json``)
is the single atomic commit point; these tests pin the crash-consistency
contract around it:

- a kill DURING a flush or a compaction (before the commit) must not
  double-count: unlisted table files are orphans, deleted at restore;
- a kill between a compaction commit and the reap of the files it
  replaced must not double-count either (the replaced files are
  unlisted, deleted at restore);
- a failed flush keeps every acked row queryable from memory;
- retention drops whole expired days inside the flush commit, before
  that flush's day compaction;
- time-filtered queries keep seeing pending rows once the table part
  introduces the ``_day`` column (the NULL-``_day`` pruning hazard);
- a spill dir written by an older server (flat parquet in the spill
  root, with or without a manifest) is refused at startup and nothing
  in it is deleted.
"""

import collections
import glob
import json
import os
import re
import shutil
import time
import urllib.parse
import urllib.request

import pytest

from victorialogs_spark.http_server import LogHTTPServer, _State


def _post(srv, path, body: bytes):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body,
        headers={"Content-Type": "text/plain"}, method="POST",
    )
    return urllib.request.urlopen(req)


def _count(srv, query: str) -> int:
    body = urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/select/logsql/query?query="
        + urllib.parse.quote(f"{query} | stats count() as n")
    ).read()
    return int(json.loads(body)["n"])


def _lines(day: str, n: int, tag: str) -> bytes:
    return "\n".join(
        json.dumps({"_time": f"{day}T00:00:{i % 60:02d}Z",
                    "_msg": f"{tag} {i}", "app": "life"})
        for i in range(n)
    ).encode()


def _drain(srv):
    """Background flushes are async: wait for in-flight work, force a
    final flush of any pending tail, wait again."""
    assert srv.state.wait_idle()
    srv.state.flush_now()
    assert srv.state.wait_idle()


def _metric(srv, name: str, status: str) -> int:
    return srv.state.counters.get((name, "status", status), 0)


def _flat(spill: str) -> list[str]:
    return glob.glob(os.path.join(spill, "*.parquet"))


def _write_flat(spark, spill: str, day: str, n: int, tag: str) -> list[str]:
    """Write rows as an older server's flush did: flat parquet in the
    spill root. Returns the new file basenames."""
    from victorialogs_spark.schema import ingest_ndjson, with_tenant

    before = set(_flat(spill))
    df = ingest_ndjson(
        spark, _lines(day, n, tag).decode().splitlines(),
        stream_fields=["app"],
    )
    with_tenant(df, 0, 0).coalesce(1).write.mode("append").parquet(spill)
    return sorted(os.path.basename(f) for f in set(_flat(spill)) - before)


@pytest.fixture()
def tiny_thresholds(monkeypatch):
    # 12-row posts cross FLUSH_ROWS, so every post flushes
    monkeypatch.setattr(_State, "FLUSH_ROWS", 10)


def test_flushes_fill_day_table(spark, tmp_path, tiny_thresholds):
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"a{i}"))
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-02", 12, f"b{i}"))
        _drain(srv)
        assert _count(srv, '{app="life"}') == 48
        days = sorted(os.path.basename(p) for p in
                      glob.glob(os.path.join(spill, "_table", "_day=*")))
        assert days == ["_day=20240101", "_day=20240102"]
        assert os.path.exists(os.path.join(spill, "_MANIFEST.json"))
        # time-filtered query over the table: _day pruning must not
        # lose rows (both days in range)
        assert _count(
            srv, '{app="life"} _time:[2024-01-01, 2024-01-03)'
        ) == 48
        assert _count(
            srv, '{app="life"} _time:[2024-01-02, 2024-01-03)'
        ) == 24
    finally:
        srv.stop()


def test_flushed_rows_sit_once_in_listed_table_files(spark, tmp_path,
                                                     tiny_thresholds,
                                                     monkeypatch):
    """After many flushes from concurrent writers, with day compactions
    running between them, the spill root holds no flat parquet and every
    flushed row sits in exactly one manifest-listed table file: the
    single-flight writer keeps each write's listing diff exact."""
    import sys
    import threading

    monkeypatch.setattr(_State, "COMPACT_FILES", 3)
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        def writer(w):
            for k in range(2):
                _post(srv, "/insert/jsonline?_stream_fields=app",
                      _lines(f"2024-01-0{1 + w % 2}", 12, f"r{w}.{k}"))

        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        sys.setswitchinterval(switch)
        _drain(srv)
        assert _flat(spill) == []
        assert _metric(srv, "vl_spill_flushes_total", "ok") >= 2
        manifest = json.load(open(os.path.join(spill, "_MANIFEST.json")))
        assert "flat_files" not in manifest
        assert "migrated_flat" not in manifest
        with srv.state.lock:
            assert sorted(manifest["table_files"]) == srv.state._table_files
        seen = collections.Counter()
        for rel in manifest["table_files"]:
            path = os.path.join(spill, "_table", rel)
            seen.update(r["_msg"] for r in
                        spark.read.parquet(path).select("_msg").collect())
        want = {f"r{w}.{k} {j}"
                for w in range(8) for k in range(2) for j in range(12)}
        assert set(seen) == want
        assert set(seen.values()) == {1}
        assert _count(srv, '{app="life"}') == len(want)
    finally:
        sys.setswitchinterval(switch)
        srv.stop()


def test_unmigrated_rows_survive_day_pruning(spark, tmp_path,
                                             tiny_thresholds):
    """Once flushes introduce the _day partition column, newly flushed
    and pending (not yet migrated into the table) rows must still match
    time-filtered queries — a NULL
    _day from allowMissingColumns would silently drop them under the
    planner's day pruning."""
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(4):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"m{i}"))
        _drain(srv)
        assert srv.state._table_files
        # a new flush + a pending (un-flushed) tail on a LATER day
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines("2024-01-02", 12, "flushed"))
        assert srv.state.wait_idle()
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines("2024-01-02", 3, "pend"))
        assert srv.state._pending is not None
        assert _count(
            srv, '{app="life"} _time:[2024-01-02, 2024-01-03)'
        ) == 15
        assert _count(
            srv, '{app="life"} _time:[2024-01-01, 2024-01-03)'
        ) == 63
    finally:
        srv.stop()


def test_restart_between_commit_and_cleanup(spark, tmp_path,
                                            tiny_thresholds, monkeypatch):
    """A compaction commit leaves the files it replaced on disk until
    the next flush reaps them (plans in flight never lose files) —
    exactly the state a kill between the commit and the reap leaves. A
    restart must serve every row exactly once and delete them."""
    monkeypatch.setattr(_State, "COMPACT_FILES", 3)
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(3):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"k{i}"))
            _drain(srv)
        with srv.state.lock:
            tombs = set(srv.state._table_tombs)
        assert tombs  # compacted away, not reaped yet
        for rel in tombs:
            assert os.path.exists(os.path.join(spill, "_table", rel))
        assert _metric(srv, "vl_spill_compactions_total", "ok") == 1
        assert _count(srv, '{app="life"}') == 36
    finally:
        srv.stop()

    srv2 = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        assert _count(srv2, '{app="life"}') == 36  # no double count
        for rel in tombs:  # restore finished the reap
            assert not os.path.exists(os.path.join(spill, "_table", rel))
    finally:
        srv2.stop()


def test_restart_after_partial_table_write(spark, tmp_path,
                                           tiny_thresholds):
    """A kill DURING a compaction rewrite leaves parquet in a day dir
    that no manifest lists. Restart must delete those orphans and keep
    serving the rows from the listed files — once each."""
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"p{i}"))
        _drain(srv)
        listed = list(srv.state._table_files)
        assert listed
    finally:
        srv.stop()
    # simulate the crashed rewrite: copy a listed file within its day
    # dir (real partial writes are spark part files; any parquet works)
    day_dir = os.path.join(spill, "_table", "_day=20240101")
    orphan = os.path.join(day_dir, "part-orphan.parquet")
    shutil.copy(os.path.join(spill, "_table", listed[0]), orphan)

    srv2 = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        assert not os.path.exists(orphan)  # orphan removed at restore
        assert _count(srv2, '{app="life"}') == 24
    finally:
        srv2.stop()


def test_server_retention_covers_migrated_rows(spark, tmp_path,
                                               tiny_thresholds, monkeypatch):
    """Retention drops an expired day inside the flush commit, before
    that flush's day compaction lists its days: a day that reaches
    COMPACT_FILES in the very commit that expires it is dropped whole and
    never compacted, while a live day compacting in the same commit
    keeps every row, across a restart too."""
    import datetime as dt

    monkeypatch.setattr(_State, "COMPACT_FILES", 3)
    compacted = []
    real = _State._compact_one_day

    def spy(self, day, files):
        compacted.append(day)
        return real(self, day, files)

    monkeypatch.setattr(_State, "_compact_one_day", spy)
    now = dt.datetime.now(dt.timezone.utc)
    old_day = (now - dt.timedelta(days=30)).strftime("%Y-%m-%d")
    new_day = now.strftime("%Y-%m-%d")
    spill = str(tmp_path / "spill")
    old_dir = os.path.join(spill, "_table", f"_day={old_day.replace('-', '')}")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill,
                        retention_days=60).start()
    try:
        # each flush adds one file per day: both days sit one file short
        # of COMPACT_FILES
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines(old_day, 12, f"o{i}"))
            _drain(srv)
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines(new_day, 12, f"n{i}"))
            _drain(srv)
        assert len(glob.glob(os.path.join(old_dir, "*.parquet"))) == 2
        assert _count(srv, '{app="life"}') == 48
        assert _metric(srv, "vl_spill_compactions_total", "ok") == 0

        # the window shrinks past the old day, as the clock passing its
        # cutoff would; one flush then brings both days to COMPACT_FILES
        srv.state.retention_days = 7
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines(old_day, 12, "o2") + b"\n" + _lines(new_day, 12, "n2"))
        _drain(srv)
        assert not os.path.exists(old_dir)
        with srv.state.lock:
            live = list(srv.state._table_files)
        assert live and all(p.startswith(f"_day={new_day.replace('-', '')}")
                            for p in live)
        assert compacted == [f"_day={new_day.replace('-', '')}"]
        assert _metric(srv, "vl_spill_compactions_total", "ok") == 1
        assert _metric(srv, "vl_spill_compactions_total", "error") == 0
        assert _count(srv, '{app="life"}') == 36
    finally:
        srv.stop()
    # retention survives a restart (the commit rewrote the manifest)
    srv2 = LogHTTPServer(spark, None, 0, spill_dir=spill,
                         retention_days=7).start()
    try:
        assert _count(srv2, '{app="life"}') == 36
        assert not os.path.exists(old_dir)
    finally:
        srv2.stop()


def test_background_flush_commits_to_table(spark, tmp_path,
                                           tiny_thresholds):
    """Crossing FLUSH_ROWS kicks a background flush into the table
    without blocking the ingest path; reads stay exact while it runs
    and after it commits."""
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(4):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"t{i}"))
        deadline = time.time() + 60
        while time.time() < deadline:
            with srv.state.lock:
                done = (not srv.state._writing
                        and srv.state._pending is None
                        and bool(srv.state._table_files))
            if done:
                break
            assert _count(srv, '{app="life"}') == 48  # exact mid-flight
            time.sleep(0.2)
        assert done, "background flush never committed"
        assert _count(srv, '{app="life"}') == 48
        assert _metric(srv, "vl_spill_flushes_total", "ok") >= 1
        assert _metric(srv, "vl_spill_flushes_total", "error") == 0
    finally:
        srv.stop()


def test_restart_after_torn_flush(spark, tmp_path, tiny_thresholds):
    """A kill between Spark's multi-file parquet commit and the flush's
    manifest commit leaves table files no manifest lists — those rows
    were never committed, so a restart must delete them instead of
    half-serving a torn flush, even in a day partition of their own."""
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"z{i}"))
        _drain(srv)
        listed = list(srv.state._table_files)
        assert listed
    finally:
        srv.stop()
    # simulate the torn flush: a part file that landed in a new day
    # partition but whose flush never reached the manifest commit
    torn_dir = os.path.join(spill, "_table", "_day=20240102")
    os.makedirs(torn_dir)
    torn = os.path.join(torn_dir, "part-torn-from-killed-flush.parquet")
    shutil.copy(os.path.join(spill, "_table", listed[0]), torn)

    srv2 = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        assert not os.path.exists(torn)  # deleted at restore
        assert _count(srv2, '{app="life"}') == 24  # no half-flush rows
    finally:
        srv2.stop()


def test_legacy_spill_dir_without_manifest(spark, tmp_path):
    """A spill root holding flat parquet is an older server's layout,
    with no manifest or with one listing "flat_files". Startup refuses
    it with a ValueError naming the dir and deletes nothing (not even
    table files the manifest does not list), so acked rows are never
    silently skipped."""
    from victorialogs_spark.schema import ingest_ndjson, with_tenant
    from victorialogs_spark.streaming.ingest import append_day_partitioned

    def tree(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    for shape in ("bare", "manifest"):
        spill = str(tmp_path / shape)
        os.makedirs(spill)
        flat = _write_flat(spark, spill, "2024-01-01", 12, "l0")
        if shape == "manifest":
            df = ingest_ndjson(
                spark, _lines("2024-01-02", 12, "t").decode().splitlines(),
                stream_fields=["app"],
            )
            append_day_partitioned(with_tenant(df, 0, 0),
                                   os.path.join(spill, "_table"))
            with open(os.path.join(spill, "_MANIFEST.json"), "w") as fh:
                json.dump({"table_files": [], "flat_files": flat}, fh)
        before = tree(spill)
        with pytest.raises(ValueError, match=re.escape(spill)):
            LogHTTPServer(spark, None, 0, spill_dir=spill)
        assert tree(spill) == before


def test_automatic_retention_on_migration_and_restore(
    spark, tmp_path, tiny_thresholds
):
    """With retention_days set, expired day partitions drop at the
    commit of the flush that migrates rows into the table (one manifest
    write covers flush + retention) and
    again at restore — the reference's -retentionPeriod watcher folded
    into the lifecycle's existing commit points."""
    import datetime as dt

    spill = str(tmp_path / "spill")
    old_day = (
        dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=30)
    ).strftime("%Y-%m-%d")
    new_day = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    srv = LogHTTPServer(
        spark, None, 0, spill_dir=spill, retention_days=7
    ).start()
    try:
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines(old_day, 12, f"x{i}"))
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines(new_day, 12, f"y{i}"))
        _drain(srv)
        # the flush commits applied retention: the 30-day-old partition
        # never stays servable from the table
        assert _count(srv, '{app="life"}') == 24
        assert not glob.glob(
            os.path.join(spill, "_table", f"_day={old_day.replace('-', '')}")
        )
    finally:
        srv.stop()
    # restore with retention still set: counts hold, no resurrection
    srv2 = LogHTTPServer(
        spark, None, 0, spill_dir=spill, retention_days=7
    ).start()
    try:
        assert _count(srv2, '{app="life"}') == 24
    finally:
        srv2.stop()


def test_day_compaction_bounds_table_file_count(spark, tmp_path,
                                                tiny_thresholds,
                                                monkeypatch):
    """Once a day partition accumulates COMPACT_FILES live files, the
    flush thread rewrites it into a clustered file set — the table-file
    count must PLATEAU instead of growing by a file per flush forever.
    Old files tombstone (reaped one commit later / at restore), counts
    stay exact after every cycle, and a restart serves the compacted
    layout with the on-disk file set converged to the manifest."""
    monkeypatch.setattr(_State, "COMPACT_FILES", 3)
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    total = 0
    compacted = 0
    try:
        for i in range(6):  # each cycle: flush one file
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"c{i}"))
            total += 12
            _drain(srv)
            assert _count(srv, '{app="life"}') == total  # exact mid-cycle
            with srv.state.lock:
                live = list(srv.state._table_files)
                tombs = set(srv.state._table_tombs)
            # the gate bounds the live set: never COMPACT_FILES or more
            # right after a flush
            assert len(live) < _State.COMPACT_FILES, live
            if tombs:
                compacted += 1
                # tombstoned files still on disk for plans in flight
                for rel in tombs:
                    assert os.path.exists(os.path.join(spill, "_table", rel))
        assert compacted >= 1  # the gate actually fired
    finally:
        srv.stop()

    # restart: manifest lists exactly the live set; tombstones and
    # orphans are reaped; counts hold over the compacted layout
    srv2 = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        assert _count(srv2, '{app="life"}') == total
        with srv2.state.lock:
            live = set(srv2.state._table_files)
        on_disk = set(srv2.state._list_table_files())
        assert on_disk == live
    finally:
        srv2.stop()


def test_failed_flush_keeps_rows_queryable(spark, tmp_path,
                                           tiny_thresholds, monkeypatch):
    """A flush whose table write fails keeps its rows in memory: every
    acked row stays queryable, the failure is counted, and the spill
    degrades to the in-memory union instead of re-running a doomed
    write after every request."""
    from victorialogs_spark.streaming import ingest as ingest_mod

    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    try:
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines("2024-01-01", 12, "t0"))
        _drain(srv)
        assert _metric(srv, "vl_spill_flushes_total", "ok") == 1

        def boom(*a, **k):
            raise RuntimeError("write failure")

        monkeypatch.setattr(ingest_mod, "append_day_partitioned", boom)
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines("2024-01-02", 12, "t1"))
        assert srv.state.wait_idle()
        assert _metric(srv, "vl_spill_flushes_total", "error") == 1
        assert not srv.state._spill_ok
        assert _count(srv, '{app="life"}') == 24  # flushed + re-attached
        # later posts stay in memory and queryable; no more flushes run
        for i in range(3):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-02", 12, f"u{i}"))
        _drain(srv)
        assert _metric(srv, "vl_spill_flushes_total", "error") == 1
        assert _count(srv, '{app="life"}') == 60
        assert _count(srv, '{app="life"} _time:[2024-01-02, 2024-01-03)') == 48
    finally:
        srv.stop()


def test_empty_store_serves_empty_results(spark, tmp_path,
                                          tiny_thresholds):
    """A server whose LAST day expired under retention (and a fresh
    server before any ingest) serves empty results, not HTTP 400 — the
    r14 multi-day retention soak read-errored in exactly this window.
    The planner treats filters on absent columns as missing-field
    semantics, so stream filters on never-seen labels count 0."""
    import datetime as dt

    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill,
                        retention_days=1).start()
    try:
        # fresh server: reads answer 0 before any ingest
        assert _count(srv, '{app="life"}') == 0
        old_day = (
            dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=30)
        ).strftime("%Y-%m-%d")
        _post(srv, "/insert/jsonline?_stream_fields=app",
              _lines(old_day, 12, "x"))
        # the flush commit folds retention: the only day expires and the
        # store is empty again — reads must go back to 0, not 400
        _drain(srv)
        assert _count(srv, '{app="life"}') == 0
        assert _count(srv, '_time:[2020-01-01, 2030-01-01)') == 0
    finally:
        srv.stop()


@pytest.mark.slow  # ~42 s failure-injection soak
def test_compaction_failure_does_not_disable_flushes(
    spark, tmp_path, tiny_thresholds, monkeypatch
):
    """Compaction failures are gated PER DAY and never stop flushing: a
    day whose clustered rewrite always fails must (a) leave every flush
    committing normally, (b) keep serving its un-compacted files
    exactly, and (c) stop burning rewrite attempts after
    COMPACT_MAX_FAILS while OTHER days still compact."""
    monkeypatch.setattr(_State, "COMPACT_FILES", 2)
    spill = str(tmp_path / "spill")
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill).start()
    attempts = {"n": 0}
    real = _State._compact_one_day

    def boom(self, day, files):
        if day == "_day=20240101":
            attempts["n"] += 1
            raise RuntimeError("synthetic rewrite failure")
        return real(self, day, files)

    monkeypatch.setattr(_State, "_compact_one_day", boom)
    total = 0
    try:
        for i in range(6):  # each cycle: flush one file
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-01", 12, f"f{i}"))
            total += 12
            _drain(srv)
            # flushes keep committing into the table
            assert srv.state._spill_ok
            assert _metric(srv, "vl_spill_flushes_total", "ok") == i + 1
            assert _metric(srv, "vl_spill_flushes_total", "error") == 0
            # rows stay exact from the un-compacted files
            assert _count(srv, '{app="life"}') == total
        # the failing day was attempted exactly COMPACT_MAX_FAILS times
        assert attempts["n"] == _State.COMPACT_MAX_FAILS
        with srv.state.lock:
            fails = dict(srv.state._compact_fails)
        assert fails["_day=20240101"] == _State.COMPACT_MAX_FAILS
        # a healthy OTHER day still compacts
        for i in range(2):
            _post(srv, "/insert/jsonline?_stream_fields=app",
                  _lines("2024-01-02", 12, f"g{i}"))
            total += 12
            _drain(srv)
        assert _count(srv, '{app="life"}') == total
        assert _metric(srv, "vl_spill_compactions_total", "ok") >= 1
        with srv.state.lock:
            day2 = [p for p in srv.state._table_files
                    if p.startswith("_day=20240102")]
        assert day2  # committed and served
    finally:
        srv.stop()
