"""In-memory spans around the engine's public calls, plus the Spark and
process counters read at the same boundaries.

Spans are recorded by wrapping the engine's public functions from the
outside (every loaded ``victorialogs_spark`` module that bound the
function gets the wrapper), so calls the engine makes internally, for
example ``api.run_query`` calling ``planner.plan_query`` or the HTTP
handler threads parsing a query, land in the trace too. A span's parent
is the span open on the same thread when it started; a span with no
parent starts a new trace. Self time is a span's duration minus the
durations of its direct children.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# (module, function, layer name) of every public call the trace wraps
TRACED_CALLS = [
    ("victorialogs_spark.api", "run_query", "api"),
    ("victorialogs_spark.logsql.parser", "parse_query", "logsql.parse"),
    ("victorialogs_spark.index.bloom", "open_log_table", "index.open"),
    ("victorialogs_spark.planner.planner", "plan_query", "planner.plan"),
    ("victorialogs_spark.sources.ndjson", "ingest_ndjson_distributed",
     "sources.parse"),
    # the driver-side NDJSON parser behind the server's /insert/jsonline
    ("victorialogs_spark.schema", "ingest_ndjson", "sources.parse"),
    ("victorialogs_spark.streaming.ingest", "append_day_partitioned",
     "streaming.append"),
    ("victorialogs_spark.streaming.ingest", "compact_table",
     "streaming.compact"),
    ("victorialogs_spark.index.bloom", "build_token_bloom_index",
     "index.build"),
    ("victorialogs_spark.index.streams", "build_stream_index", "index.build"),
]


@dataclass
class Span:
    span_id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer times nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        s = Span(sid, parent.span_id if parent else None,
                 parent.trace if parent else sid, name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def install(self) -> None:
        """Wrap every call in TRACED_CALLS wherever the engine bound it."""
        for mod_name, fn_name, layer in TRACED_CALLS:
            mod = sys.modules.get(mod_name) or __import__(
                mod_name, fromlist=[fn_name]
            )
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, layer)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "") or "").startswith(
                    "victorialogs_spark"
                ) and getattr(m, fn_name, None) is orig:
                    setattr(m, fn_name, wrapped)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def self_ms(self, roots: set[int]) -> dict[str, float]:
        """Summed self time (ms) per span name over the traces in
        ``roots``."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += (s.end - s.start) * 1e3
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.trace in roots:
                out[s.name] += (s.end - s.start) * 1e3 - child_ms[s.span_id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark counters from the session's own event log
# ---------------------------------------------------------------------------


def _files_read_ids(info: dict, out: set[int]) -> None:
    """Accumulator ids of every scan's "number of files read" metric."""
    for m in info.get("metrics", []):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _files_read_ids(child, out)


def spark_counters(event_dir: str, windows: dict[str, tuple[float, float]]):
    """Jobs, tasks, shuffle read, spill, files read and input records of
    the work started inside each named wall-clock window (epoch seconds).
    Read after the session stopped, when the log is complete."""
    events = []
    # Spark writes one file, or a directory of rolled files, per app
    paths = glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    file_ids: set[int] = set()
    exec_start: dict[int, float] = {}
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart"):
            exec_start[e["executionId"]] = e["time"] / 1e3
            _files_read_ids(e.get("sparkPlanInfo", {}), file_ids)
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            _files_read_ids(e.get("sparkPlanInfo", {}), file_ids)

    def window_of(t: float) -> str | None:
        for name, (lo, hi) in windows.items():
            if lo <= t <= hi:
                return name
        return None

    zero = {"jobs": 0, "tasks": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "files_read": 0, "input_records": 0}
    out = {name: dict(zero) for name in windows}
    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            w = window_of(e["Submission Time"] / 1e3)
            if w:
                out[w]["jobs"] += 1
        elif ev == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            w = window_of(info.get("Launch Time", 0) / 1e3)
            if not w:
                continue
            o = out[w]
            o["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            o["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            o["input_records"] += tm.get("Input Metrics", {}).get(
                "Records Read", 0
            )
        elif ev.endswith("DriverAccumUpdates"):
            w = window_of(exec_start.get(e["executionId"], 0))
            if w:
                for acc_id, value in e.get("accumUpdates", []):
                    if acc_id in file_ids:
                        out[w]["files_read"] += int(value)
    return out


# ---------------------------------------------------------------------------
# process counters
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a process (VmHWM), MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    """The session's JVM: pyspark starts it as its gateway child."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        if fh.read().strip() != "java":
            raise RuntimeError(f"gateway child {pid} is not the JVM")
    return pid


def jvm_gc_ms(spark) -> float:
    """Total collection time of the JVM's garbage collectors so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
