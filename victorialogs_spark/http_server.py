"""Thin HTTP facade over the query/ingest API — the reference's primary
interface is HTTP (app/vlselect/main.go:216-266 routes /select/logsql/*;
app/vlinsert/main.go:63-85 routes /insert/*). This server maps those URLs
onto endpoints.py / sources, nothing more: every byte of query output is
produced by the same code paths the library API uses (an e2e GET of
/select/logsql/query returns exactly ``endpoints.query_ndjson``'s lines).

stdlib ThreadingHTTPServer on purpose: the work happens in Spark; the
facade only parses params and streams results. An /insert/* body is
parsed on the driver into one local relation (sources/ndjson.rows_frame)
— an insert runs no Spark job. Those frames stage in an in-memory union
and FLUSH every _State.FLUSH_ROWS acked rows (or CHECKPOINT_EVERY
requests) straight into the day-partitioned table
``<spill>/_table/_day=*``: the flush is the rows' one Spark job, so
the queryable frame is (preloaded table ∪ table scan ∪ a bounded union
tail) no matter how long ingest runs — the production shape, where
acked writes land in storage and memory only holds the tail. Point
``spill_dir`` at a durable path to keep flushed rows across restarts.

Spill lifecycle (the reference's per-day partitions with small parts
merging into big parts inside each partition, datadb.go:75-82): a flush
appends its rows to their day partitions and commits the new files by
atomically replacing ``_MANIFEST.json`` — the SINGLE commit point. The
same background thread then rewrites any day that holds
_State.COMPACT_FILES live files into clustered ``(_stream_id, _time)``
files, committed the same way. Table files the manifest does not list
are orphans (a torn flush or a killed compaction) and are deleted at
restore; a compacted-away file is reaped by a later flush, once every
/select request that took its frame before the commit has finished its
response, so plans in flight never lose files.
``_State.apply_retention`` drops whole day partitions, manifest
included. Flat parquet in the spill root is the
layout of older servers: restore folds it into the table once, through
the flush path.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from victorialogs_spark import endpoints as ep
from victorialogs_spark.logsql.parser import parse_time_point
from victorialogs_spark.schema import ingest_ndjson
from victorialogs_spark.sources.ndjson import payload_rows, rows_frame


def _unix_arg_ns(n: int) -> int:
    """Integer unix timestamp → ns via the reference's magnitude
    heuristic (timeutil.getUnixTimestampNanoseconds: the 2^31 boundary,
    i.e. 'fits int32 → seconds', not a power-of-ten guess)."""
    if -(1 << 31) <= n < (1 << 31):
        return n * 10**9
    if -(1 << 31) * 1000 <= n < (1 << 31) * 1000:
        return n * 10**6
    if -(1 << 31) * 10**6 <= n < (1 << 31) * 10**6:
        return n * 10**3
    return n


def _time_arg_ns(v: str | None, now_ns: int | None = None) -> int | None:
    """start/end/time args, mirroring timeutil.ParseTimeAt (the vendored
    function getTimeNsec calls for ALL THREE args): 'now', relative
    durations ('-1h', '5m', 'now-1h' — always toward the past), unix
    seconds/ms/µs/ns (possibly fractional), or RFC3339 (possibly
    partial). A partial timestamp is the START instant of its period for
    start AND end alike — the reference does not expand '2024-01-02' to
    end-of-day for end (seventh-pass finding; the old end=True path
    did). Integer timestamps parse as int end-to-end — a float hop
    would lose ns precision (53 mantissa bits vs 63 needed)."""
    if not v:
        return None
    now = now_ns if now_ns is not None else __import__("time").time_ns()
    if v == "now":
        return now
    # strip a trailing timezone only for the duration-vs-timestamp
    # decision (parse_time_point does the real offset arithmetic)
    s = v
    if len(s) > 6 and s[-6] in "+-" and s[-3] == ":":
        s = s[:-6]
    s = s[:-1] if s.endswith("Z") else s
    if s and (s[-1] > "9" or s[0] == "-" or s.startswith("now")):
        from victorialogs_spark.logsql.parser import parse_duration_ns

        d = parse_duration_ns(s[3:] if s.startswith("now") else s)
        if d is None:
            raise ValueError(f"cannot parse time arg {v!r}")
        if d > 0:
            d = -d  # bare '1h' means one hour AGO (ParseTimeAt:79-81)
        return now + d
    if "-" not in v:
        # unix timestamp (no date separators)
        if s.lstrip("+").isdigit():
            return _unix_arg_ns(int(s.lstrip("+")))
        # fractional: magnitude heuristic on the integer part, the
        # fraction scaled by the same unit
        whole, _, frac = s.partition(".")
        n = int(whole or "0")
        base = _unix_arg_ns(n)
        unit = base // n if n else 10**9  # ns per input unit
        fr = int((frac or "0")[:9].ljust(9, "0")) // (10**9 // unit)
        return base + (-fr if s.startswith("-") else fr)
    rng = parse_time_point(v)
    if rng is None:
        raise ValueError(f"cannot parse time arg {v!r}")
    return rng[0]


class _State:
    # every append adds a unionByName layer; past this depth the PENDING
    # union flushes (or, with no spill dir, is localCheckpoint'ed) so
    # plan analysis stays O(1) per request instead of growing with
    # ingest count (the same lineage rule iterative algorithms follow,
    # datapipe/clusters.py)
    CHECKPOINT_EVERY = 16
    # acked micro-batches flush into the day-partitioned table once this
    # many rows accumulate; queries then replan over a plain file scan
    # instead of an ever-growing union of in-memory checkpoint blocks.
    # Before this bound existed, a sustained ingest wave pushed read p95
    # to 6.3 s vs 0.71 s read-only (SCALE.md "mixed read+ingest wave"):
    # the periodic whole-frame localCheckpoint was O(total ingested)
    # under the append lock. Flushing is O(pending) — amortized O(1)/row
    # — and mirrors production, where acked writes land in storage and
    # memory only stages the tail.
    FLUSH_ROWS = 20_000
    # once a single day partition holds this many live table files (each
    # flush appends one or a few), the flush thread rewrites that day
    # into clustered files — without it the table-file count grows
    # linearly with flushes forever and every read pays a task per file.
    # The reference's small-parts → big-part merge (datadb.go:75-82).
    COMPACT_FILES = 16
    # consecutive PER-DAY compaction failures before that day is skipped
    # (it keeps serving from its un-compacted files): one unrewritable
    # day must not re-run a doomed rewrite after every flush
    COMPACT_MAX_FAILS = 3

    def __init__(
        self,
        spark: SparkSession,
        logs: DataFrame | None,
        spill_dir: str | None = None,
        retention_days: int | None = None,
    ):
        from victorialogs_spark.schema import with_tenant

        self.spark = spark
        if logs is not None and "tenant" not in logs.columns:
            # a tenant-less preloaded table (cli serve --table DIR)
            # belongs to the default tenant; stamped here, every read is
            # tenant-scoped from request one
            logs = with_tenant(logs, 0, 0)
        self.logs = logs
        self._empty: DataFrame | None = None  # lazy empty-store frame
        self.lock = threading.Lock()
        self.retention_days = retention_days
        self._depth = 0
        self._preloaded = logs  # the table served at startup, if any
        self._base = logs  # preloaded ∪ table scan
        self._pending: DataFrame | None = None  # un-flushed micro-batches
        self._pending_rows = 0
        self._spill_dir = spill_dir
        self._spill_ok = spill_dir is not None
        self._table_dir = (
            os.path.join(spill_dir, "_table") if spill_dir else None
        )
        self._manifest_path = (
            os.path.join(spill_dir, "_MANIFEST.json") if spill_dir else None
        )
        self._table_tombs: set[str] = set()  # compacted-away, not yet rm'd
        # _base_gen counts installed bases; _readers counts the /select
        # requests reading each generation's frame (acquire/release), so
        # a reap can tell whether one may still scan a tombstoned file
        self._base_gen = 0
        self._readers: dict[int, int] = {}
        self._table_files: list[str] = []  # manifest-listed, rel to _table
        self._flushing: DataFrame | None = None  # detached, being written
        self._flush_committed = False  # its files are in _table_files
        # a flush thread (write, commit, day compaction) is running. Table
        # writes are single-flight, so a before/after listing diff names
        # exactly the files the running write added
        self._writing = False
        # days a compaction rewrite is reading OUTSIDE the lock;
        # retention defers their physical deletion (logical drop +
        # tombstones) so the in-flight read never loses files
        self._compacting_days: set[str] = set()
        # consecutive rewrite failures per day (a success resets its
        # day, COMPACT_MAX_FAILS skips it)
        self._compact_fails: dict[str, int] = {}
        # Prometheus-style counters, named like the reference's
        # (vl_http_requests_total{path=...}, vl_http_errors_total{...},
        # vl_rows_ingested_total{type=...} — app/vlselect/main.go:290+,
        # insertutil/common_params.go:318). Key = (name, label_k, label_v).
        self.counters: dict[tuple[str, str, str], int] = {}
        self._mlock = threading.Lock()
        if spill_dir is not None:
            self._restore()

    def _restore(self) -> None:
        """Serve the rows a prior server run flushed into a DURABLE spill
        dir from request one — they were acked. The manifest is the
        commit record: a table file it does not list is a torn flush or
        a killed compaction (kill landed before the commit) and is
        deleted, so a fraction of a write never half-appears.

        Flat parquet in the spill root is the layout of older servers
        (rows flushed there waited for a migration into the table).
        Live flat files — listed under "flat_files", or every one when
        the manifest predates that key — fold into the table once,
        through the flush path; the new manifest lists
        ``"flat_files": []``, so a flat file still on disk after a kill
        counts as torn and is deleted, never served twice. Flat files
        named under "migrated_flat" are already in the table."""
        import glob as _glob

        manifest = self._read_manifest()
        listed = manifest.get("table_files", [])
        flat_listed = manifest.get("flat_files")
        tombs = set(manifest.get("migrated_flat", []))
        fold = []
        for f in sorted(_glob.glob(os.path.join(self._spill_dir, "*.parquet"))):
            name = os.path.basename(f)
            if name in tombs or (
                flat_listed is not None and name not in flat_listed
            ):
                os.remove(f)
            else:
                fold.append(f)
        on_disk = set(self._list_table_files())
        self._table_files = [p for p in listed if p in on_disk]
        for orphan in sorted(on_disk - set(listed)):
            os.remove(os.path.join(self._table_dir, orphan))
        if self._table_files:
            if self.retention_days is not None and not fold:
                # a prior run's old days must drop at startup, not only
                # after the next flush commits (a fold commit applies
                # retention itself)
                if self._apply_retention_locked(self._retention_keep_from()):
                    self._write_manifest_locked()
            self._replan_base()
        if fold:
            self._pending = self.spark.read.option(
                "mergeSchema", "true"
            ).parquet(*fold)
            self._pending_rows = self._pending.count()
            self.flush_now()
            if self._spill_ok:  # committed: the rows live in the table
                for f in fold:
                    os.remove(f)

    def inc(self, name: str, label: str, value: str, n: int = 1) -> None:
        with self._mlock:
            k = (name, label, value)
            self.counters[k] = self.counters.get(k, 0) + n

    def render_metrics(self) -> bytes:
        def esc(v: str) -> str:
            # Prometheus exposition label escaping: one raw quote in a
            # label value would corrupt the whole scrape forever
            return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

        with self._mlock:
            lines = [
                f'{name}{{{label}="{esc(value)}"}} {n}'
                for (name, label, value), n in sorted(self.counters.items())
            ]
        return ("\n".join(lines) + "\n").encode("utf-8")

    def df(self) -> DataFrame:
        with self.lock:
            return self._df_locked()

    def acquire(self) -> tuple[DataFrame, int]:
        """:meth:`df` for a request that reads it, with the base
        generation it pins: no reap deletes a table file that frame lists
        until :meth:`release` of that generation, after the response."""
        with self.lock:
            gen = self._base_gen
            self._readers[gen] = self._readers.get(gen, 0) + 1
            return self._df_locked(), gen

    def release(self, gen: int) -> None:
        with self.lock:
            self._readers[gen] -= 1
            if not self._readers[gen]:
                del self._readers[gen]

    def _df_locked(self) -> DataFrame:
        if self.logs is None:
            # empty store, not an error: a server whose LAST day just
            # expired under retention (the r14 multi-day soak hit
            # this — every read 400'd between the drop and the next
            # ingest) and a fresh server both serve the reference's
            # empty-result semantics. The planner handles filters on
            # absent columns (missing field ≡ empty value), so the
            # canonical two-column empty frame answers any query.
            if self._empty is None:
                self._empty = self.spark.createDataFrame(
                    [], "_time timestamp, _msg string"
                )
            return self._empty
        return self.logs

    # ---- durable-spill lifecycle -------------------------------------

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _write_manifest_locked(self) -> None:
        """Atomically replace the manifest — the SINGLE commit point of a
        flush, a compaction and retention. Everything else (parquet
        writes, file deletion) is recoverable from it on restart: table
        files it does not list are deleted at restore. A degraded spill
        writes nothing: no table write follows a failed flush, and the
        manifest on disk must keep listing the flat files a failed
        restore fold left live (restore filters listed files that
        retention deleted since)."""
        if not self._spill_ok:
            return
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"table_files": sorted(self._table_files), "flat_files": []},
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path)

    def _list_table_files(self) -> list[str]:
        import glob as _glob

        if self._table_dir is None or not os.path.isdir(self._table_dir):
            return []
        return sorted(
            os.path.relpath(p, self._table_dir)
            for p in _glob.glob(
                os.path.join(self._table_dir, "_day=*", "*.parquet")
            )
        )

    def _replan_base(self) -> None:
        """Rebuild ``_base`` = preloaded ∪ table scan and install it as
        the next base generation. The scan uses an EXPLICIT file list
        (never a directory glob): a glob would pick up compacted-away
        files before their reap — an instant double count — and a
        running write's uncommitted files. Its mergeSchema footer read is
        a Spark job, so it runs outside the lock, and a commit that lands
        meanwhile makes it read again."""
        while True:
            with self.lock:
                files = self._table_files
            scan = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", self._table_dir)
                .parquet(*[os.path.join(self._table_dir, p) for p in files])
                if files
                else None
            )
            with self.lock:
                if files == self._table_files:
                    self._install_base_locked(scan)
                    return

    def _install_base_locked(self, scan: DataFrame | None) -> None:
        """A committed flush's frame leaves the union in the same step
        (any base installed after that commit lists its files). When the
        table carries the ``_day`` partition column, the preloaded part
        derives it from ``_time`` so the planner's day pruning never sees
        a NULL ``_day`` (allowMissingColumns would fill one, and a pruned
        query would silently drop every preloaded row)."""
        from victorialogs_spark.schema import with_day_partition

        parts = [] if scan is None else [scan]
        if self._preloaded is not None:
            parts.insert(0, self._preloaded)
        if any("_day" in p.columns for p in parts):
            parts = [
                p
                if "_day" in p.columns or "_time" not in p.columns
                else with_day_partition(p)
                for p in parts
            ]
        base = None
        for p in parts:
            base = (
                p
                if base is None
                else base.unionByName(p, allowMissingColumns=True)
            )
        self._base = base
        self._base_gen += 1
        if self._flush_committed:
            self._flushing, self._flush_committed = None, False
        self._rebuild_logs_locked()

    def _compact_full_days(self) -> None:
        """Rewrite each day partition with >= COMPACT_FILES live files
        into a clustered file set (one output file per ~128 MB of
        input). Runs inside the flush thread after its commit (table
        writes are single-flight, so listing diffs stay attributable);
        the Spark work holds no lock. Old files are NOT deleted at
        commit — they tombstone into _table_tombs, and a later flush
        reaps them once no request reads a base that lists them (or,
        after a kill, restore does: the manifest marks them orphans)."""
        with self.lock:
            days: dict[str, list[str]] = {}
            for p in self._table_files:
                days.setdefault(p.split(os.sep, 1)[0], []).append(p)
            # forget failure counters for days no longer in the table
            # (retention dropped them): bounds the dict in a long-lived
            # server and un-gates a later re-created day partition
            self._compact_fails = {
                d: n for d, n in self._compact_fails.items() if d in days
            }
            todo = [
                (d, sorted(fs))
                for d, fs in sorted(days.items())
                if len(fs) >= self.COMPACT_FILES
                # a day whose rewrite keeps failing (e.g. a merged
                # schema the clustered writer rejects) is skipped after
                # COMPACT_MAX_FAILS consecutive failures instead of
                # re-failing after every flush; it keeps serving from its
                # un-compacted files — correct, just not clustered
                and self._compact_fails.get(d, 0) < self.COMPACT_MAX_FAILS
            ]
            # while the rewrite reads these days outside the lock, a
            # racing apply_retention() must not physically delete their
            # files — it defers to a logical drop (the in-memory check
            # below then abandons the day's commit)
            self._compacting_days = {d for d, _ in todo}
        try:
            self._compact_days(todo)
        finally:
            with self.lock:
                self._compacting_days = set()

    def _compact_days(self, todo: list[tuple[str, list[str]]]) -> None:
        for day, files in todo:
            try:
                self._compact_one_day(day, files)
            except Exception:  # noqa: BLE001 — isolate per day
                # one day's failed rewrite must not abort the other
                # days' compactions; gate this day after
                # COMPACT_MAX_FAILS consecutive failures
                with self.lock:
                    self._compact_fails[day] = (
                        self._compact_fails.get(day, 0) + 1
                    )
                self.inc("vl_spill_compactions_total", "status", "error")

    def _compact_one_day(self, day: str, files: list[str]) -> None:
        from victorialogs_spark.streaming.ingest import write_clustered

        paths = [os.path.join(self._table_dir, p) for p in files]
        day_dir = os.path.join(self._table_dir, day)
        in_bytes = sum(os.path.getsize(p) for p in paths)
        n_out = max(1, in_bytes // (128 << 20))
        before = set(self._list_table_files())
        df = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
        )
        write_clustered(df, day_dir, n_out, "append")
        new_files = sorted(set(self._list_table_files()) - before)
        with self.lock:
            self._compact_fails.pop(day, None)  # success resets the gate
            if not set(files) <= set(self._table_files):
                # retention (or a manual apply) dropped this day
                # while we rewrote it: abandon — the new files stay
                # unlisted and a later flush (or restore) reaps them
                self._table_tombs.update(new_files)
                return
            self._table_files = sorted(
                (set(self._table_files) - set(files)) | set(new_files)
            )
            self._table_tombs.update(files)
            self._write_manifest_locked()
        self._replan_base()
        self.inc("vl_spill_compactions_total", "status", "ok")

    def _retention_keep_from(self) -> str:
        import datetime as _dt

        cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(
            days=self.retention_days
        )
        return cutoff.strftime("%Y%m%d")

    def _apply_retention_locked(self, keep_days_from: str) -> list[str]:
        """Drop day partitions older than ``keep_days_from`` and their
        manifest rows; the CALLER commits the manifest and replans (so a
        flush commit folds retention into its single manifest write). Queries planned before the drop may fail on the deleted
        files — the reference's retention has the same semantics (data
        vanishes under running queries), and it beats serving expired
        rows."""
        from victorialogs_spark.streaming.ingest import (
            apply_retention as _apply,
        )

        if self._table_dir is None or not self._table_files:
            return []
        dropped = _apply(
            self._table_dir, keep_days_from, skip=self._compacting_days
        )
        # a day an in-flight compaction is reading outside the lock is
        # dropped LOGICALLY only: its files tombstone for a later
        # flush's reap (the compaction's commit check sees the day
        # missing from _table_files and abandons), and the emptied
        # day dir falls to the next physical retention pass
        for day in sorted(self._compacting_days):
            if day.split("=", 1)[-1] < keep_days_from:
                pre = f"{day}{os.sep}"
                deferred = [
                    p for p in self._table_files if p.startswith(pre)
                ]
                if deferred:
                    self._table_tombs.update(deferred)
                    dropped.append(day.split("=", 1)[-1])
        if dropped:
            gone = tuple(f"_day={d}{os.sep}" for d in dropped)
            self._table_files = [
                p for p in self._table_files if not p.startswith(gone)
            ]
        return dropped

    def apply_retention(self, keep_days_from: str) -> list[str]:
        """Drop table day-partitions older than ``keep_days_from``
        (YYYYMMDD) — the reference's retention watcher, storage.go:50.
        Returns dropped day labels. Rows still in the pending union are
        NOT covered until they flush — the same window the reference's
        in-memory parts have. With ``retention_days`` set, this also
        runs automatically at restore and at every flush commit."""
        with self.lock:
            dropped = self._apply_retention_locked(keep_days_from)
            if dropped:
                self._write_manifest_locked()
        if dropped:
            self._replan_base()
        return dropped

    def append(self, df: DataFrame, n: int) -> None:
        """Append a request frame of ``n`` rows. The frame is a
        driver-side local relation (sources/ndjson.rows_frame), so an
        append runs no Spark job: the rows' one Spark job is the flush
        that writes them to the table. Only the union bookkeeping takes
        the lock; with no spill dir, the lineage checkpoint runs after
        it is released."""
        if "tenant" not in df.columns:
            # rows appended without a tenant belong to the default one;
            # a NULL tenant from allowMissingColumns would fail every
            # tenant filter
            from victorialogs_spark.schema import with_tenant

            df = with_tenant(df, 0, 0)
        with self.lock:
            self._pending = (
                df
                if self._pending is None
                else self._pending.unionByName(df, allowMissingColumns=True)
            )
            self._pending_rows += n
            self._depth += 1
            pending = self._pending
            consolidate = False
            if self._spill_ok:
                # with a spill dir, lineage consolidation IS the flush:
                # detaching the union to the background writer bounds
                # plan depth without ever running an O(pending) Spark
                # job under the lock. Early flushes write smaller table
                # files; day compaction rewrites them later anyway.
                if (
                    self._pending_rows >= self.FLUSH_ROWS
                    or self._depth >= self.CHECKPOINT_EVERY
                ):
                    self._start_flush_locked()
            else:
                consolidate = self._depth >= self.CHECKPOINT_EVERY
            self._rebuild_logs_locked()
        if consolidate:
            # no spill dir: consolidate the union lineage in place —
            # O(pending), never O(total ingested); an append that
            # landed meanwhile leaves it to the next one
            done = pending.localCheckpoint(eager=True)
            with self.lock:
                if self._pending is pending:
                    self._pending, self._depth = done, 0
                    self._rebuild_logs_locked()

    def _detach_locked(self) -> tuple[DataFrame, int] | None:
        """Claim the single-flight writer and move the pending union into
        the ``_flushing`` slot; None when nothing is pending, the spill
        is degraded, or a write is already running (re-checked on every
        append, and the running write chains the next flush)."""
        if self._writing or self._pending is None or not self._spill_ok:
            return None
        self._writing = True
        self._flush_committed = False
        self._flushing, rows = self._pending, self._pending_rows
        self._pending = None
        self._pending_rows = 0
        self._depth = 0
        return self._flushing, rows

    def _start_flush_locked(self) -> None:
        """Hand the pending union to a background flusher: the parquet
        write runs with NO lock held — the detached frame is immutable,
        and readers keep seeing its rows via the
        ``_flushing`` leg of _rebuild_logs_locked until the commit swaps
        them into the table scan atomically."""
        job = self._detach_locked()
        if job is not None:
            threading.Thread(target=self._flush_bg, args=job, daemon=True).start()

    def wait_idle(self, timeout: float = 60.0) -> bool:
        """Block until no background flush or compaction is in flight
        (tests, orderly shutdown). Returns False on timeout."""
        import time as _time

        deadline = _time.monotonic() + timeout
        while _time.monotonic() < deadline:
            with self.lock:
                if not self._writing:
                    return True
            _time.sleep(0.05)
        return False

    def flush_now(self) -> None:
        """Synchronous flush of the current pending union (tests, CLI
        maintenance). No-op when empty, degraded, or already in flight."""
        with self.lock:
            job = self._detach_locked()
        if job is not None:
            self._flush_bg(*job)

    def _flush_bg(self, frame: DataFrame, rows: int) -> None:
        """Append one detached pending union to the day-partitioned
        table, commit it, run the day compaction check, then reap the
        files tombstoned before this flush began (:meth:`_reap`). Falls
        back to the pure in-memory union (pre-flush behavior) if parquet
        can't store this schema — e.g. ingested field names containing
        characters the parquet writer rejects, which would fail every
        later flush too."""
        from victorialogs_spark.streaming.ingest import append_day_partitioned

        with self.lock:
            reap, gen = set(self._table_tombs), self._base_gen
        try:
            try:
                # the pending union carries a few partitions PER REQUEST
                # (a local relation's scan parallelism); written as-is
                # each flush would emit many near-empty files and every
                # later read would pay a task per file. One output task
                # per ~500k rows keeps the table at O(flush count)
                # files. Table writes are single-flight, so the
                # before/after diff names exactly this flush's files.
                before = set(self._list_table_files())
                append_day_partitioned(
                    frame.coalesce(max(1, rows // 500_000)), self._table_dir
                )
                new_files = set(self._list_table_files()) - before
            except Exception:  # noqa: BLE001 — degrade, don't drop the rows
                with self.lock:
                    self._spill_ok = False
                    # re-attach: the rows stay queryable from memory
                    self._pending = (
                        frame
                        if self._pending is None
                        else frame.unionByName(
                            self._pending, allowMissingColumns=True
                        )
                    )
                    self._pending_rows += rows
                    self._flushing = None
                    self._rebuild_logs_locked()
                self.inc("vl_spill_flushes_total", "status", "error")
                return
            with self.lock:
                # manifest commit: without it a restart would treat these
                # files as a torn flush and delete them. Retention folds
                # into the same manifest write
                self._table_files = sorted(set(self._table_files) | new_files)
                if self.retention_days is not None:
                    self._apply_retention_locked(self._retention_keep_from())
                self._write_manifest_locked()
                self._flush_committed = True
            self._replan_base()
            self.inc("vl_spill_flushes_total", "status", "ok")
            try:
                self._compact_full_days()
            except Exception:  # noqa: BLE001 — per-day gating inside
                self.inc("vl_spill_compactions_total", "status", "error")
            self._reap(reap, gen)
        finally:
            with self.lock:
                self._writing = False
                if (
                    self._pending_rows >= self.FLUSH_ROWS
                    or self._depth >= self.CHECKPOINT_EVERY
                ):
                    # appends that crossed a threshold while this write
                    # ran were skipped (single-flight); chain the next
                    # flush so an idle tail above the threshold never
                    # lingers in memory waiting for another request
                    self._start_flush_locked()

    def _reap(self, tombs: set[str], gen: int) -> None:
        """Delete ``tombs``, the files tombstoned before a flush that
        began at base generation ``gen`` and has since installed its own
        base: no base after ``gen`` lists them. A request still reading a
        base from ``gen`` or before (acquire) may scan them, so they then
        wait for a later flush."""
        with self.lock:
            if min(self._readers, default=gen + 1) <= gen:
                return
        for rel in sorted(tombs):
            try:
                os.remove(os.path.join(self._table_dir, rel))
            except FileNotFoundError:
                pass
        with self.lock:
            self._table_tombs -= tombs

    def _rebuild_logs_locked(self) -> None:
        from victorialogs_spark.schema import with_day_partition

        out = self._base
        for part in (self._flushing, self._pending):
            if part is None:
                continue
            if out is None:
                out = part
                continue
            if (
                "_day" in out.columns
                and "_day" not in part.columns
                and "_time" in part.columns
            ):
                # once the table introduces the _day partition
                # column, in-memory rows must carry a derived one too — a
                # NULL _day from allowMissingColumns would let the
                # planner's day pruning silently drop every un-flushed row
                part = with_day_partition(part)
            out = out.unionByName(part, allowMissingColumns=True)
        self.logs = out


def _iter_json_values(df: DataFrame):
    """``{"values":[...]}`` as an incremental byte iterator. One row is
    in driver memory at a time (``toLocalIterator`` pulls one partition
    per job), so a stats_query_range over 10⁶ groups streams under a
    small driver heap instead of ``collect()``-ing into one string —
    the reference streams every response (vlselect/logsql/logsql.go:901).
    Byte-compatible with the former collect-based writer."""
    yield b'{"values":['
    first = True
    for r in df.toLocalIterator(prefetchPartitions=True):
        d = ep.row_to_wire_dict(r)
        blob = json.dumps(d, separators=(",", ":")).encode("utf-8")
        yield blob if first else b"," + blob
        first = False
    yield b"]}"


# the fixed route set whose traffic is counted (reference registers one
# counter per known route, never per observed path)
_METERED_PATHS = frozenset(
    [
        "/select/logsql/query", "/select/logsql/tail",
        "/select/logsql/hits", "/select/logsql/stats_query",
        "/select/logsql/stats_query_range", "/select/logsql/facets",
        "/select/logsql/field_names", "/select/logsql/field_values",
        "/select/logsql/streams", "/select/logsql/stream_ids",
        "/select/logsql/stream_field_names",
        "/select/logsql/stream_field_values",
        "/insert/jsonline", "/insert/elasticsearch/_bulk",
        "/insert/elasticsearch/", "/insert/loki/api/v1/push",
        "/insert/datadog/api/v2/logs", "/insert/journald",
        "/insert/opentelemetry/v1/logs",
    ]
)


class _Handler(BaseHTTPRequestHandler):
    state: _State  # set by serve()

    # ------------------------------------------------------------- plumbing
    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _params(self) -> dict[str, list[str]]:
        parsed = urllib.parse.urlparse(self.path)
        params = urllib.parse.parse_qs(parsed.query)
        if self.command == "POST":
            ln = int(self.headers.get("Content-Length") or 0)
            if ln < 0:
                # rfile.read(-1) on a socket blocks until the client
                # closes: a keep-alive client would pin this thread
                self.close_connection = True
                raise ValueError(f"invalid Content-Length: {ln}")
            body = self.rfile.read(ln) if ln else b""
            self._body = body
            ctype = (self.headers.get("Content-Type") or "").split(";")[0]
            if ctype == "application/x-www-form-urlencoded":
                for k, vs in urllib.parse.parse_qs(body.decode("utf-8")).items():
                    params.setdefault(k, []).extend(vs)
        return params

    def _get(self, params, name, default=None):
        vs = params.get(name)
        return vs[0] if vs else default

    def _tenant(self) -> tuple[int, int]:
        """(AccountID, ProjectID) request headers, defaulting to (0,0) —
        the reference's GetTenantIDFromRequest (tenant_id.go:74-84)."""
        def u32(name):
            v = (self.headers.get(name) or "0").strip() or "0"
            n = int(v)
            if not 0 <= n < 2**32:
                raise ValueError(f"{name} must be a uint32, got {v}")
            return n

        return u32("AccountID"), u32("ProjectID")

    def _append(self, df: DataFrame | None, n: int, proto: str) -> None:
        """Stamp a request's ``n`` parsed rows with its tenant before
        they join the shared frame — physical per-tenant grouping, like
        the reference's per-tenant storage paths — and count them under
        vl_rows_ingested_total{type=proto} (the reference also counts
        every parsed row, insertutil/common_params.go:318)."""
        from victorialogs_spark.schema import with_tenant

        tenant = self._tenant()
        if n:
            self.state.append(with_tenant(df, *tenant), n)
        # incremented AFTER the append succeeds — an append failure
        # must not leave the metric claiming rows /select can't return
        self.state.inc("vl_rows_ingested_total", "type", proto, n)

    def _append_rows(
        self, rows: list[dict], stream_fields: list[str] | None, proto: str
    ) -> None:
        df = rows_frame(self.state.spark, rows, stream_fields) if rows else None
        self._append(df, len(rows), proto)

    def _send(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self._streaming = True  # headers are out; no second response allowed
        self.wfile.write(body)

    def _send_json_stream(self, df: DataFrame):
        """Stream a JSON-shaped endpoint response. The first pull runs
        the plan BEFORE headers go out, so parse/plan errors still
        surface as a clean 400; a mid-stream executor failure truncates
        the connection (same contract as the NDJSON query path)."""
        gen = _iter_json_values(df)
        head = next(gen)      # static prefix
        second = next(gen)    # first row (or closing bracket): runs the plan
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self._streaming = True
        self.wfile.write(head)
        self.wfile.write(second)
        for chunk in gen:
            self.wfile.write(chunk)

    def _err(self, e: Exception):
        if getattr(self, "_streaming", False):
            # a status line injected into an open 200 stream would corrupt
            # the client's NDJSON — truncate the connection instead
            self.close_connection = True
            return
        self._send(400, (str(e) + "\n").encode("utf-8"), "text/plain")

    # --------------------------------------------------------------- routes
    def do_GET(self):
        self._route()

    def do_POST(self):
        self._route()

    def _route(self):
        path = urllib.parse.urlparse(self.path).path
        self._streaming = False  # reset per request (keep-alive reuse)
        # route reads and ingest into separate FAIR scheduler pools:
        # spark.scheduler.mode=FAIR alone is a no-op (every job lands in
        # the single default pool, whose internal order is FIFO) — fair
        # sharing happens ACROSS pools, so a read job submitted while an
        # ingest flush occupies the task slots gets its share instead of
        # queuing behind the whole flush. Local properties are
        # per-thread, which is exactly the ThreadingHTTPServer model.
        pool = "facade-reads" if path.startswith("/select/") else "facade-ingest"
        self.state.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", pool
        )
        try:
            params = self._params()
            if path == "/health":
                return self._send(200, b"OK\n", "text/plain")
            if path == "/metrics":
                # Prometheus text exposition, reference metric names
                return self._send(
                    200, self.state.render_metrics(),
                    "text/plain; version=0.0.4",
                )
            if path.startswith("/select/") or path.startswith("/insert/"):
                # count only KNOWN routes (like the reference's fixed
                # counter set): arbitrary scanner paths must not grow
                # the counters dict without bound
                if path in _METERED_PATHS:
                    self.state.inc("vl_http_requests_total", "path", path)
                if path.startswith("/insert/"):
                    return self._insert(path, params)
                # the request pins the frame's table files until its
                # response is written (_State._reap)
                df, self._lease = self.state.acquire()
                try:
                    return self._select(path, params, df)
                finally:
                    self.state.release(self._lease)
            return self._send(404, b"unknown path\n", "text/plain")
        except BrokenPipeError:
            pass
        except Exception as e:  # surface errors as HTTP 400, like vlselect
            if path in _METERED_PATHS:
                self.state.inc("vl_http_errors_total", "path", path)
            try:
                self._err(e)
            except Exception:
                pass

    def _select(self, path: str, params, df: DataFrame):
        st = self.state
        spark = st.spark
        if "tenant" in df.columns:
            # queries run over ONE tenant, chosen by the same headers as
            # ingestion (reference: every /select handler resolves
            # GetTenantIDFromRequest first); the tenant column itself is
            # engine identity, never a queryable log field — drop it so
            # wire output and field listings match the reference
            from victorialogs_spark.schema import for_tenant

            df = for_tenant(df, *self._tenant()).drop("tenant")
        q = self._get(params, "query", "*")
        start = _time_arg_ns(self._get(params, "start"))
        end = _time_arg_ns(self._get(params, "end"))
        # the query's evaluation timestamp ('now' anchors, relative
        # offsets): the `time` arg, else end, else now — minus 1 ns so
        # logs in the first nanosecond of the NEXT period aren't caught
        # (parseCommonArgs, logsql.go:1154-1171)
        import time as _t

        ts = _time_arg_ns(self._get(params, "time"))
        if ts is None:
            ts = end if end is not None else _t.time_ns()
        ts -= 1
        # every /select endpoint gets the full common-arg set, exactly
        # like the reference's parseCommonArgs (before r15 only /query
        # saw start/end, and extra_filters were dropped everywhere else)
        common = {
            "timestamp_ns": ts,
            "start_ns": start,
            "end_ns": end,
            "extra_filters": params.get("extra_filters"),
            "extra_stream_filters": params.get("extra_stream_filters"),
        }
        if path == "/select/logsql/query":
            limit = int(self._get(params, "limit", "0"))
            from victorialogs_spark.logsql.parser import parse_query

            if limit > 0 and ep.can_return_last_n(parse_query(q, ts)):
                # limit on a plain query means "the NEWEST N rows,
                # ascending" (reference getLastNQueryResults), not the
                # first N the scan happens to produce; df is the
                # unbounded tenant frame — the endpoint builders apply
                # start/end themselves
                out = ep.query_last_n(spark, df, q, limit, **common)
                lines = (
                    json.dumps(
                        ep.row_to_wire_dict(r), separators=(",", ":")
                    )
                    for r in out.toLocalIterator()
                )
                limit = 0  # already applied
            else:
                lines = ep.query_ndjson(spark, df, q, **common)
            # pull the first line BEFORE sending headers: query_ndjson is
            # a generator, so parse/plan/first-batch errors fire here and
            # surface as a clean 400 instead of corrupting a 200 stream
            _EOS = object()
            first = next(lines, _EOS)
            self.send_response(200)
            self.send_header("Content-Type", "application/stream+json")
            self.end_headers()
            self._streaming = True
            if first is _EOS:
                return
            import itertools

            for i, line in enumerate(itertools.chain([first], lines)):
                if limit > 0 and i >= limit:
                    break
                self.wfile.write(line.encode("utf-8") + b"\n")
            return
        if path == "/select/logsql/tail":
            from victorialogs_spark.logsql.parser import parse_query

            parse_query(q, ts)
            from victorialogs_spark.streaming.tail import LiveTailer

            polls = int(self._get(params, "polls", "0")) or None
            refresh = float(self._get(params, "refresh", "1.0"))
            from victorialogs_spark.planner.filters import _time_range
            from victorialogs_spark.schema import for_tenant

            lo = start if start is not None else None
            hi = end if end is not None else None
            acct, proj = self._tenant()

            extra = params.get("extra_filters")
            extra_stream = params.get("extra_stream_filters")

            def _src():
                # the lambda re-reads state, keeping liveness; each poll
                # re-applies the request's tenant + time bounds +
                # extra filters (the reference routes tail through
                # parseCommonArgs too, logsql.go:501). The previous
                # poll's job is done, so its pin moves to the new frame
                st.release(self._lease)
                d, self._lease = st.acquire()
                if "tenant" in d.columns:
                    d = for_tenant(d, acct, proj).drop("tenant")
                if lo is not None or hi is not None:
                    d = d.where(
                        _time_range(
                            d,
                            lo if lo is not None else -(2**62),
                            hi if hi is not None else 2**62,
                        )
                    )
                if extra or extra_stream:
                    from victorialogs_spark.planner.planner import plan_query

                    qf = ep.apply_common_args(
                        parse_query("*", ts), None, None,
                        extra, extra_stream, ts,
                    )
                    d = plan_query(spark, d, qf)
                return d
            tailer = LiveTailer(spark, _src, q, refresh_interval=refresh)
            self.send_response(200)
            self.send_header("Content-Type", "application/stream+json")
            self.end_headers()
            self._streaming = True
            for row in tailer.tail(max_polls=polls):
                d = ep.row_to_wire_dict(row)
                self.wfile.write(
                    json.dumps(d, separators=(",", ":")).encode("utf-8") + b"\n"
                )
                self.wfile.flush()
            return
        if path == "/select/logsql/hits":
            out = ep.hits(
                spark, df, q,
                step=self._get(params, "step", "1h"),
                offset=self._get(params, "offset", "0s"),
                fields=params.get("field"),
                **common,
            )
            return self._send_json_stream(out)
        if path == "/select/logsql/stats_query":
            out = ep.stats_query(spark, df, q, **common)
            return self._send_json_stream(out)
        if path == "/select/logsql/stats_query_range":
            out = ep.stats_query_range(
                spark, df, q, step=self._get(params, "step", "1h"), **common
            )
            return self._send_json_stream(out)
        def _limit(default="0"):
            # the reference clamps negative limits to 0 = unlimited
            # (ProcessStreamFieldValuesRequest et al.: if limit < 0 {0})
            return max(0, int(self._get(params, "limit", default)))

        def _field_arg():
            v = self._get(params, "field", "")
            if not v:
                # reference: httpserver.Errorf "missing 'field' query arg"
                raise ValueError("missing 'field' query arg")
            return v

        if path == "/select/logsql/facets":
            out = ep.facets(
                spark, df, q, limit=int(self._get(params, "limit", "10")),
                common=common,
            )
            return self._send_json_stream(out)
        if path == "/select/logsql/field_names":
            return self._send_json_stream(
                ep.field_names(spark, df, q, common=common)
            )
        if path == "/select/logsql/field_values":
            out = ep.field_values(
                spark, df, _field_arg(), q, limit=_limit(), common=common,
            )
            return self._send_json_stream(out)
        if path == "/select/logsql/streams":
            out = ep.streams(spark, df, q, limit=_limit(), common=common)
            return self._send_json_stream(out)
        if path == "/select/logsql/stream_ids":
            out = ep.stream_ids(spark, df, q, limit=_limit(), common=common)
            return self._send_json_stream(out)
        if path == "/select/logsql/stream_field_names":
            return self._send_json_stream(
                ep.stream_field_names(spark, df, q, common=common)
            )
        if path == "/select/logsql/stream_field_values":
            out = ep.stream_field_values(
                spark, df, _field_arg(), q, limit=_limit(), common=common,
            )
            return self._send_json_stream(out)
        return self._send(404, b"unknown /select path\n", "text/plain")

    def _insert(self, path: str, params):
        """Each body parses on the driver with its protocol's pure row
        parser into one local relation: an insert runs no Spark job."""
        from victorialogs_spark.sources import protocols as pr

        body = getattr(self, "_body", b"")
        text = body.decode("utf-8", "replace")
        ctype = (self.headers.get("Content-Type") or "").split(";")[0]
        if path == "/insert/ready":
            # readiness probe for agents (app/vlinsert/main.go:66)
            return self._send(200, b"ok\n", "text/plain")
        if path == "/insert/jsonline":
            lines = text.splitlines()
            sf = self._get(params, "_stream_fields", "")
            # _time_field/_msg_field are comma-separated CANDIDATE lists
            # (httputil.GetArray; apptest key_concepts corpus)
            tfs = [
                t for t in self._get(params, "_time_field", "_time").split(",") if t
            ] or ["_time"]
            mfs = [
                m for m in self._get(params, "_msg_field", "_msg").split(",") if m
            ] or ["_msg"]
            df = ingest_ndjson(
                self.state.spark, lines,
                time_field=tfs,
                msg_field=mfs,
                stream_fields=[s for s in sf.split(",") if s] or None,
            )
            # ndjson_row skips exactly the blank lines and raises on any
            # other line that yields no row: this is the frame's count
            self._append(df, sum(1 for l in lines if l.strip()), "jsonline")
            return self._send(200, b"", "text/plain")
        if path == "/insert/elasticsearch/_bulk":
            # app/vlinsert/elasticsearch: strictly-alternating bulk NDJSON
            # (command, then document); common args select the time/msg
            # fields (GetCommonParams defaults: _time, no msg rename) —
            # filebeat-style senders pass ?_time_field=@timestamp&
            # _msg_field=message; a malformed request 400s whole
            def _arr(name, default):
                vals = [v for p in params.get(name, []) for v in p.split(",") if v]
                return vals or default

            try:
                rows = pr.es_bulk_rows(
                    text, _arr("_time_field", ["_time"]), _arr("_msg_field", [])
                )
            except ValueError as e:
                return self._send(
                    400,
                    f"cannot decode bulk request: {e}\n".encode(),
                    "text/plain",
                )
            self._append_rows(rows, None, "elasticsearch_bulk")
            # ES clients require a JSON ack with per-item status
            return self._send(200, b'{"took":0,"errors":false,"items":[]}')
        if path == "/insert/elasticsearch/":
            # fake version probe answered like the reference so ES
            # exporters accept the endpoint (elasticsearch.go TODO probe)
            return self._send(
                200, b'{"version":{"number":"8.9.0"}}', "application/json"
            )
        # the remaining protocols ingest nothing from a body their parser
        # rejects, as parse_payloads drops a malformed payload
        if path == "/insert/loki/api/v1/push":
            # content negotiation like the reference (loki.go:35): only
            # application/json takes the JSON path; everything else is
            # protobuf, snappy-compressed unless Content-Encoding says
            # otherwise (loki_protobuf.go:44)
            if ctype == "application/json":
                rows = payload_rows(pr.loki_json_rows, text)
            else:
                from victorialogs_spark.sources.loki_pb import snappy_decode

                snappy = (self.headers.get("Content-Encoding") or "snappy") == "snappy"
                rows = payload_rows(
                    lambda b: pr.loki_pb_rows(snappy_decode(b) if snappy else b),
                    body,
                )
            self._append_rows(rows, None, "loki")
            return self._send(204, b"", "text/plain")
        if path == "/insert/datadog/api/v2/logs":
            self._append_rows(payload_rows(pr.datadog_rows, text), None, "datadog")
            return self._send(202, b'{"status":"accepted"}')
        if path == "/insert/journald":
            self._append_rows(
                payload_rows(pr.journald_entries, text),
                pr.JOURNALD_STREAM_FIELDS, "journald",
            )
            return self._send(200, b"", "text/plain")
        if path == "/insert/opentelemetry/v1/logs":
            # protobuf ONLY, like the reference (opentelemetry.go:27)
            if ctype == "application/json":
                return self._send(
                    415, b"json encoding isn't supported; use protobuf\n",
                    "text/plain",
                )
            from victorialogs_spark.sources.otlp_pb import decode_logs_data

            self._append_rows(
                payload_rows(decode_logs_data, body), None, "opentelemetry"
            )
            return self._send(200, b"", "text/plain")
        return self._send(404, b"unknown /insert path\n", "text/plain")


class LogHTTPServer:
    """`serve(spark, df, port).stop()` — a facade instance per test/session.

    ``spill_dir`` holds the day-partitioned table acked ingest
    micro-batches flush into once _State.FLUSH_ROWS accumulate
    (bounding read-path plan growth under sustained ingest). Default: a
    private temp dir removed by stop(). Pass a durable path to keep flushed rows across restarts
    (the production shape: acked writes belong in storage)."""

    def __init__(
        self,
        spark: SparkSession,
        logs: DataFrame | None = None,
        port: int = 0,
        spill_dir: str | None = None,
        retention_days: int | None = None,
    ):
        import tempfile

        self._own_spill = spill_dir is None
        if spill_dir is None:
            spill_dir = tempfile.mkdtemp(prefix="vlspark-ingest-spill-")
        self.spill_dir = spill_dir
        handler = type(
            "Handler", (_Handler,),
            {"state": _State(spark, logs, spill_dir,
                             retention_days=retention_days)},
        )
        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), handler)
        self.port = self.httpd.server_address[1]
        self.state = handler.state
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def start(self) -> "LogHTTPServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        import shutil

        self.httpd.shutdown()
        self.httpd.server_close()
        # orderly shutdown: let an in-flight background flush/compaction
        # commit (a kill skips this — the manifest protocol covers it)
        self.state.wait_idle(timeout=60)
        if self._own_spill:
            shutil.rmtree(self.spill_dir, ignore_errors=True)


def serve(
    spark: SparkSession,
    logs: DataFrame | None = None,
    port: int = 0,
    spill_dir: str | None = None,
    retention_days: int | None = None,
) -> LogHTTPServer:
    return LogHTTPServer(
        spark, logs, port, spill_dir, retention_days=retention_days
    ).start()
