"""Multi-day retention soak (VERDICT r13 #6): synthetic ingest whose
``_time`` spans 4 days with ``retention_days=1`` live, proving on a
RUNNING server that

(a) day partitions age out of the day-partitioned table via the
    retention fold on each flush commit;
(b) a mid-soak query over the retained window stays EXACT throughout
    (lower/upper-bounded by the acked-row snapshots around each read —
    retention never touches live days, ingest visibility is ack-order);
(c) table file counts plateau at <= per-day compaction plateau x
    ACTIVE days, not at x all-days-ever-seen.

The writer walks "time" forward: phase k of 4 posts rows stamped with
day D-3+k (D = today UTC), so by mid-soak the earliest days are
strictly older than the retention cutoff (now - 1 day) and every
flush commit folds their drop. Days D-1 and D can never expire
during the run.

Usage: python tools/retention_soak.py [--duration 360] [--out FILE]
Writes a JSON report (default tools/mixed_wave_runs/retention_soak.json)
and prints a one-line verdict per assertion.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DURATION = 360
if "--duration" in sys.argv:
    DURATION = int(sys.argv[sys.argv.index("--duration") + 1])
OUT = os.path.join(REPO, "tools", "mixed_wave_runs", "retention_soak.json")
if "--out" in sys.argv:
    OUT = sys.argv[sys.argv.index("--out") + 1]

BATCH_ROWS = 500


def main() -> int:
    from victorialogs_spark.http_server import LogHTTPServer, _State
    from victorialogs_spark.session import get_spark

    spark = get_spark("retention-soak")
    spark.sparkContext.setLogLevel("ERROR")

    # small thresholds so flushes and compactions churn many times
    # inside the soak
    _State.FLUSH_ROWS = 400
    _State.COMPACT_FILES = 8

    spill = f"/tmp/vl_retention_soak_{os.getpid()}"
    srv = LogHTTPServer(spark, None, 0, spill_dir=spill,
                        retention_days=1).start()
    base = f"http://127.0.0.1:{srv.port}"

    today = dt.datetime.now(dt.timezone.utc).date()
    days = [(today - dt.timedelta(days=3 - k)).isoformat() for k in range(4)]
    keep_from = (today - dt.timedelta(days=1)).strftime("%Y%m%d")
    live_days = [d for d in days if d.replace("-", "") >= keep_from]
    old_days = [d for d in days if d.replace("-", "") < keep_from]

    acked = {d: 0 for d in days}  # rows the server has ACKED per day
    ack_lock = threading.Lock()
    stop = threading.Event()
    errors: list[str] = []

    def post(day: str, seq: int) -> None:
        body = "\n".join(
            json.dumps({
                "_time": f"{day}T12:{(seq // 60) % 60:02d}:{seq % 60:02d}Z",
                "_msg": f"retention soak {day} {seq} {i}",
                "app": "soakapp", "value": i,
            })
            for i in range(BATCH_ROWS)
        ).encode()
        req = urllib.request.Request(
            f"{base}/insert/jsonline?_stream_fields=app", data=body,
            headers={"Content-Type": "text/plain"}, method="POST",
        )
        urllib.request.urlopen(req, timeout=120).read()
        with ack_lock:
            acked[day] += BATCH_ROWS

    def count(query: str) -> int:
        u = f"{base}/select/logsql/query?query=" + urllib.parse.quote(
            f"{query} | stats count() as n"
        )
        return int(json.loads(urllib.request.urlopen(u, timeout=120).read())["n"])

    live_q = (
        f'{{app="soakapp"}} _time:[{live_days[0]}, '
        f'{(today + dt.timedelta(days=1)).isoformat()})'
    )

    def layout() -> dict:
        per_day = {
            os.path.basename(p): len(glob.glob(os.path.join(p, "*.parquet")))
            for p in glob.glob(os.path.join(spill, "_table", "_day=*"))
        }
        return {"table_files": sum(per_day.values()), "table_days": per_day}

    def writer():
        seq = 0
        while not stop.is_set():
            phase = min(3, int(4 * (time.monotonic() - t0) / DURATION))
            try:
                post(days[phase], seq)
            except Exception as e:  # noqa: BLE001
                errors.append(f"write: {e}")
            seq += 1
            stop.wait(0.25)

    def reader():
        while not stop.is_set():
            with ack_lock:
                lo = sum(acked[d] for d in live_days)
            try:
                got = count(live_q)
            except Exception as e:  # noqa: BLE001
                errors.append(f"read: {e}")
                stop.wait(1.0)
                continue
            with ack_lock:
                hi = sum(acked[d] for d in live_days)
            if not lo <= got <= hi:
                errors.append(
                    f"live-window count {got} outside acked bounds "
                    f"[{lo}, {hi}]"
                )
            stop.wait(1.0)

    # warm-up (mixed_wave.py idiom): the {app=...} read needs the column
    # to exist in the unioned frame, so ingest one batch and read once
    # before the clock starts
    t0 = time.monotonic()
    post(days[0], 0)
    count(live_q)
    t0 = time.monotonic()
    samples: list[dict] = []
    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    while time.monotonic() - t0 < DURATION:
        time.sleep(10)
        snap = layout()
        snap["t"] = round(time.monotonic() - t0)
        samples.append(snap)
        print(json.dumps(snap), flush=True)
    stop.set()
    for t in threads:
        t.join()

    # settle: flush the pending tail (its commit folds retention)
    assert srv.state.wait_idle()
    srv.state.flush_now()
    assert srv.state.wait_idle()

    final = layout()
    # the plateau contract is on the LIVE file set (what a plan reads);
    # on-disk = live + tombstones a compaction left for the NEXT
    # flush's reap (flush_now no-ops on an empty pending union, so the
    # settle can't force the reap — bounded by one compaction's worth)
    with srv.state.lock:
        live_by_day: dict[str, int] = {}
        for rel in srv.state._table_files:
            day = rel.split(os.sep, 1)[0]
            live_by_day[day] = live_by_day.get(day, 0) + 1
    final["table_days_live"] = live_by_day
    final["flushes_ok"] = srv.state.counters.get(
        ("vl_spill_flushes_total", "status", "ok"), 0
    )
    report = {
        "duration_s": DURATION,
        "days": days,
        "retention_keep_from": keep_from,
        "acked_rows": dict(acked),
        "mid_soak_read_or_write_errors": errors,
        "samples": samples,
        "final_layout": final,
    }

    verdicts = []
    table_days = set(final["table_days"])
    want_gone = {f"_day={d.replace('-', '')}" for d in old_days}
    verdicts.append((
        "old days absent from table tier",
        not (table_days & want_gone),
        f"table days = {sorted(table_days)}",
    ))
    old_q = f'{{app="soakapp"}} _time:[{days[0]}, {live_days[0]})'
    old_rows = count(old_q)
    verdicts.append((
        "old-day rows gone (post-settle query = 0)",
        old_rows == 0,
        f"old-window count = {old_rows}",
    ))
    live_rows = count(live_q)
    want_live = sum(acked[d] for d in live_days)
    verdicts.append((
        "retained window exact after settle",
        live_rows == want_live,
        f"{live_rows} vs acked {want_live}",
    ))
    plateau = _State.COMPACT_FILES
    worst = max(live_by_day.values(), default=0)
    total = sum(live_by_day.values())
    verdicts.append((
        "file plateau: live per-day <= compaction plateau, live total <= "
        "plateau x active days",
        worst <= plateau and total <= plateau * max(1, len(live_days)),
        f"live per-day max {worst}, live total {total}, plateau {plateau},"
        f" active {len(live_days)}, on-disk {final['table_days']}",
    ))
    verdicts.append((
        "zero mid-soak errors / bound violations",
        not errors,
        f"{len(errors)} recorded" + (f"; first: {errors[0]}" if errors else ""),
    ))
    report["verdicts"] = [
        {"check": c, "ok": ok, "detail": d} for c, ok, d in verdicts
    ]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=1)
    for c, ok, d in verdicts:
        print(f"{'PASS' if ok else 'FAIL'}  {c}  [{d}]")
    srv.stop()
    return 0 if all(ok for _, ok, _ in verdicts) else 1


if __name__ == "__main__":
    raise SystemExit(main())
