"""Mixed read+ingest concurrency wave (SCALE.md section): queries run
against the HTTP facade WHILE /insert/jsonline streams new rows into the
same table — the real deployment shape, where one Spark session
multiplexes both directions.

What it measures, per direction, after a warm-up wave:
- reads: per-request wall (p50/p95/max) for a 3-query LogsQL mix over
  the preloaded sf0.1 events + the rows ingested so far;
- writes: per-request wall for 1,000-row NDJSON /insert/jsonline posts,
  plus sustained rows/s over the wave.

Correctness under concurrency (the drift checks):
- a filtered count over the PRELOADED rows (`event_type:error`) must
  return the identical value in every mid-wave read — ingested rows
  carry different fields, so any drift means ingest corrupted the
  shared frame;
- the ingested-row count (`{app="waveapp"}`) must be monotonically
  non-decreasing mid-wave and equal the number of posted lines at the
  end — every acked write becomes visible, none double;
- one oracle-backed registry entry (s_stats_by) is re-run MID-WAVE on
  the same Spark session against DuckDB at sf0.01 — concurrent facade
  load must not change query results.

Usage: python tools/mixed_wave.py [--seconds N] [--readers N] [--writers N]
                                  [--preingest N] [--tag NAME]

--writers 0 is the like-for-like read-only CONTROL (same reader thread
count, same spill-dir layout — use --preingest to build it first): the
r12 review flagged that comparing the mixed read p95 against a control
measured at a DIFFERENT thread count left "contention, not queuing" an
assertion. --preingest N posts N warm-up batches before the wave so the
control reads over the same (table ∪ pending) layout a sustained ingest
leaves behind — past COMPACT_FILES flushes into one day it exercises the
day compaction too.

Each run saves its summary JSON under tools/mixed_wave_runs/<tag>.json
and the "mixed read+ingest wave" section of SCALE.md is rebuilt from ALL
saved runs, so control and mixed rows sit in one table.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request


def arg(flag: str, default: int) -> int:
    return int(sys.argv[sys.argv.index(flag) + 1]) if flag in sys.argv else default


def strarg(flag: str, default: str) -> str:
    return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default


SECONDS = arg("--seconds", 60)
READERS = arg("--readers", 4)
WRITERS = arg("--writers", 2)
PREINGEST = arg("--preingest", 0)
# --loadonly: writer threads run the SAME work a real post does (the
# driver-side ingest_ndjson parse into a local relation, no Spark job)
# but never touch the server state — isolates driver-side contention
# from facade queuing (lock waits, flush, plan growth) in the
# read-latency gap
LOADONLY = "--loadonly" in sys.argv
TAG = strarg("--tag", f"r{READERS}w{WRITERS}")
BATCH_ROWS = 1000

READ_MIX = [
    "event_type:error | stats count() as n",
    "* | stats by (event_type) count() as hits",
    '{app="waveapp"} | stats count() as n',
]


def pct(xs: list[float], p: float) -> float:
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[min(len(s) - 1, int(p * len(s)))]


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import duckdb

    import __spark_entry__ as entrymod
    from check_oracle import TABLES, norm_rows
    from victorialogs_spark.http_server import serve
    from victorialogs_spark.schema import events_as_logs
    from victorialogs_spark.session import get_spark

    spark = get_spark("mixed-wave")
    spark.sparkContext.setLogLevel("ERROR")
    logs = events_as_logs(spark, "/root/testdata/sf0.1")
    srv = serve(spark, logs)
    base = f"http://127.0.0.1:{srv.port}"

    def read(q: str) -> bytes:
        u = f"{base}/select/logsql/query?" + urllib.parse.urlencode({"query": q})
        return urllib.request.urlopen(u, timeout=120).read()

    def write(lines: str) -> None:
        req = urllib.request.Request(
            f"{base}/insert/jsonline?_stream_fields=app",
            data=lines.encode(),
            headers={"Content-Type": "text/plain"},
            method="POST",
        )
        urllib.request.urlopen(req, timeout=120).read()

    batch = "\n".join(
        json.dumps(
            {
                "_time": f"2024-02-01T00:00:{i % 60:02d}Z",
                "_msg": f"wave row {i}",
                "app": "waveapp",
                "level": "info",
                "value": i,
            }
        )
        for i in range(BATCH_ROWS)
    )
    def spill_layout() -> dict:
        """Table file count and bytes under the server's spill dir — the
        plateau evidence: under sustained ingest with day compaction
        running, a day's files must hover below COMPACT_FILES (+ one
        tombstone batch), not grow with wave length."""
        import glob as _glob

        d = srv.spill_dir
        tab = _glob.glob(os.path.join(d, "_table", "_day=*", "*.parquet"))
        return {
            "table_files": len(tab),
            "table_mb": round(sum(os.path.getsize(f) for f in tab) / 1e6, 1),
        }

    # warm-up: ingest FIRST (the `{app=...}` read needs the column to
    # exist in the unioned frame), then one read of each mix entry
    write(batch)
    posted = [BATCH_ROWS]  # warm-up rows count toward the final total
    for _ in range(PREINGEST):
        write(batch)
        posted[0] += BATCH_ROWS
    for q in READ_MIX:
        read(q)
    layout_start = spill_layout()
    # the preloaded-rows invariant: ingested rows carry no event_type,
    # so this filtered count must stay EXACTLY this for the whole wave
    baseline_error = read(READ_MIX[0]).strip()

    stop = threading.Event()
    read_lat: list[float] = []
    write_lat: list[float] = []
    drift: list[str] = []
    ingested_seen: list[int] = []
    lock = threading.Lock()

    def reader(i: int) -> None:
        k = i
        while not stop.is_set():
            q = READ_MIX[k % len(READ_MIX)]
            k += 1
            t0 = time.monotonic()
            try:
                body = read(q)
            except Exception as e:  # noqa: BLE001 — record, don't kill the wave
                with lock:
                    drift.append(f"read error: {e}")
                continue
            t1 = time.monotonic()
            dt = t1 - t0
            with lock:
                read_lat.append(dt)
                if q == READ_MIX[0] and body.strip() != baseline_error:
                    drift.append(
                        f"preloaded count drifted: {body[:80]!r}"
                    )
                if q == READ_MIX[2]:
                    n = int(json.loads(body)["n"])
                    # monotonicity holds only between NON-OVERLAPPING
                    # reads: if J completed before K started, K must see
                    # >= J's count. Two overlapping reads may record in
                    # either order (with fast concurrent reads this
                    # false-flagged 3 times in the first r13 wave — the
                    # server state itself is monotone under its lock).
                    prior_max = max(
                        (m for (c, m) in ingested_seen if c < t0),
                        default=0,
                    )
                    if n < prior_max:
                        drift.append(
                            f"ingested count went backwards: "
                            f"{prior_max} -> {n}"
                        )
                    ingested_seen.append((t1, n))

    indeterminate = [0]  # batches whose HTTP response was lost client-side

    def load_only_writer() -> None:
        from victorialogs_spark.schema import ingest_ndjson

        lines = batch.splitlines()
        while not stop.is_set():
            t0 = time.monotonic()
            ingest_ndjson(spark, lines, stream_fields=["app"])
            with lock:
                write_lat.append(time.monotonic() - t0)

    def writer() -> None:
        while not stop.is_set():
            t0 = time.monotonic()
            try:
                write(batch)
            except Exception as e:  # noqa: BLE001
                # a client-side timeout does NOT mean the server dropped
                # the batch — it may have ingested it after the response
                # deadline. Count it indeterminate so the end-state check
                # compares against a [posted, posted + indeterminate]
                # range instead of reporting a false drift event.
                with lock:
                    indeterminate[0] += 1
                    drift.append(f"write error (indeterminate): {e}")
                continue
            dt = time.monotonic() - t0
            with lock:
                write_lat.append(dt)
                posted[0] += BATCH_ROWS

    wfn = load_only_writer if LOADONLY else writer
    threads = [
        threading.Thread(target=reader, args=(i,), daemon=True)
        for i in range(READERS)
    ] + [threading.Thread(target=wfn, daemon=True) for _ in range(WRITERS)]
    t_wave = time.monotonic()
    for t in threads:
        t.start()

    # ---- mid-wave oracle re-run on the SAME session (sf0.01, DuckDB)
    time.sleep(min(10, SECONDS / 3))
    oracle_name = "s_stats_by"
    df = entrymod.queries()[oracle_name](spark, "/root/testdata/sf0.01")
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    cur = con.execute(entrymod.oracle_sql()[oracle_name])
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    oracle_ok = (
        sorted(s_cols) == sorted(d_cols)
        and norm_rows(s_cols, s_rows) == norm_rows(d_cols, d_rows)
    )
    if not oracle_ok:
        drift.append(f"mid-wave oracle mismatch on {oracle_name}")
    print(f"# mid-wave oracle {oracle_name}: {'ok' if oracle_ok else 'FAIL'}",
          file=sys.stderr)

    while time.monotonic() - t_wave < SECONDS:
        time.sleep(0.5)
    stop.set()
    for t in threads:
        t.join(timeout=180)
    wave_wall = time.monotonic() - t_wave

    # ---- end-state visibility: every ACKED batch readable, none double;
    # timed-out batches may or may not have landed (hence the range)
    final = int(json.loads(read(READ_MIX[2]))["n"])
    hi = posted[0] + indeterminate[0] * BATCH_ROWS
    if not posted[0] <= final <= hi:
        drift.append(
            f"final ingested count {final} outside [{posted[0]}, {hi}]"
        )
    # sample the layout BEFORE stop(): a tool-owned temp spill dir is
    # removed by stop(), which zeroed this in the first control run
    layout_end = spill_layout()
    with srv.state._mlock:
        flushes_ok = srv.state.counters.get(
            ("vl_spill_flushes_total", "status", "ok"), 0
        )
    srv.stop()

    rows_per_sec = posted[0] / wave_wall
    summary = {
        "tag": TAG,
        "seconds": round(wave_wall, 1),
        "readers": READERS,
        "writers": WRITERS,
        "load_only": LOADONLY,
        "preingest_rows": PREINGEST * BATCH_ROWS,
        "reads": len(read_lat),
        "writes": len(write_lat),
        "read_p50": round(pct(read_lat, 0.5), 3),
        "read_p95": round(pct(read_lat, 0.95), 3),
        "read_max": round(max(read_lat), 3) if read_lat else None,
        "write_p50": round(pct(write_lat, 0.5), 3),
        "write_p95": round(pct(write_lat, 0.95), 3),
        "write_max": round(max(write_lat), 3) if write_lat else None,
        "ingest_rows_per_sec": round(rows_per_sec),
        "rows_posted": posted[0],
        "rows_indeterminate": indeterminate[0] * BATCH_ROWS,
        "rows_visible": final,
        "mid_wave_oracle": oracle_name if oracle_ok else "FAIL",
        "spill_layout_start": layout_start,
        "spill_layout_end": layout_end,
        "spill_flushes": flushes_ok,
        "drift": drift,
    }
    print(json.dumps(summary))

    from victorialogs_spark.http_server import _State

    runs_dir = os.path.join(repo, "tools", "mixed_wave_runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{TAG}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)

    runs = []
    for name in sorted(os.listdir(runs_dir)):
        if name.endswith(".json"):
            with open(os.path.join(runs_dir, name)) as fh:
                runs.append(json.load(fh))
    # .get: legacy run records (pre-r13 format) may lack these keys —
    # the summary must not crash AFTER a successful wave (r15)
    runs.sort(key=lambda r: (r.get("writers", 0), r.get("readers", 0)))

    marker = "## mixed read+ingest wave"
    lines = [
        f"{marker} (round 13)",
        "",
        f"Reader threads run a 3-query LogsQL mix over preloaded sf0.1"
        f" events + ingested rows; writer threads post {BATCH_ROWS}-row"
        f" NDJSON `/insert/jsonline` batches — ONE facade/session"
        f" (tools/mixed_wave.py). Acked batches flush into the spill"
        f" dir's day-partitioned `_table` every {_State.FLUSH_ROWS:,}"
        f" rows; a day holding {_State.COMPACT_FILES} files is rewritten"
        " into clustered files, and reads replan over (table ∪ pending)."
        " The writers=0 row is the"
        " LIKE-FOR-LIKE control (same reader count, spill layout"
        " pre-built by --preingest) the r12 review asked for.",
        "",
        "| run (tag) | read p50/p95/max (n) | write p50/p95 | ingest rows/s |"
        " table files start→end | flushes |"
        " oracle | drift |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in runs:
        ls, le = r.get("spill_layout_start", {}), r.get("spill_layout_end", {})
        wr = (
            f"{r['write_p50']:.2f}/{r['write_p95']:.2f} s"
            if r.get("writes")
            else "—"
        )
        ing = (
            f"{r['ingest_rows_per_sec']:,}" if r["writers"] else "—"
        )
        lines.append(
            f"| {r.get('tag', '?')} {r['seconds']:.0f}s"
            f" | {r['read_p50']:.2f}/{r['read_p95']:.2f}/{r['read_max']:.2f} s"
            f" ({r['reads']})"
            f" | {wr} | {ing}"
            f" | {ls.get('table_files', '?')}→{le.get('table_files', '?')}"
            f" ({ls.get('table_mb', '?')}→{le.get('table_mb', '?')} MB)"
            f" | {r.get('spill_flushes', '?')}"
            f" | {r['mid_wave_oracle']}"
            f" | {'NONE' if not r['drift'] else r['drift']} |"
        )
    lines.append("")

    scale_path = os.path.join(repo, "SCALE.md")
    text = open(scale_path).read()
    if marker in text:
        head, _, rest = text.partition(marker)
        nxt = rest.find("\n## ")
        tail = rest[nxt + 1 :] if nxt >= 0 else ""
        text = head + "\n".join(lines) + "\n" + tail
    else:
        text = text.rstrip() + "\n\n" + "\n".join(lines) + "\n"
    open(scale_path, "w").write(text)
    print(f"# SCALE.md '{marker}' section updated", file=sys.stderr)
    return 1 if drift else 0


if __name__ == "__main__":
    raise SystemExit(main())
