"""Driver-side sidecar fast path.

Both sidecar probes (stream-value sets, token blooms) are metadata
lookups whose result is a file list — but running them as Spark jobs
costs two scheduler round-trips (~0.3-0.5 s fixed) per pruned query,
which the 100x layout-crossover measurement showed can exceed the whole
scan time saved at small-to-medium table sizes. A sidecar holds one row
per (file[, field]) and is typically KBs; reading it on the DRIVER with
pyarrow and evaluating the probe in plain Python costs ~ms and zero
executor time.

Size gate: the fast path only engages when the sidecar's on-disk bytes
are under ``LOCAL_INDEX_MAX_BYTES`` — at 100 TB a sidecar over 10^6
files can reach GBs, where the distributed probe (only file NAMES reach
the driver) is the right plan. Any failure (remote filesystem, schema
surprise) falls back to the Spark path: the fast path is an
optimization, never a correctness dependency.
"""

from __future__ import annotations

import glob
import os

# sidecars under this total size are read driver-side (a 32 MB arrow
# table materializes in ~10 ms locally; the Spark probe's two scheduler
# round-trips cost 30-50x that)
LOCAL_INDEX_MAX_BYTES = 32 << 20

# (resolved path) -> (fingerprint, rows): a pruned query reads each
# registered sidecar once, but every query on the table reads it again,
# and each uncached read materializes up to 32 MiB of parquet into
# Python dicts (several-fold memory expansion for bloom bitsets); the
# memo serves those reads across queries. The fingerprint (per-part size+mtime) invalidates
# on any rewrite, so a re-built sidecar is never served stale. Bounded:
# a session touches a handful of sidecars; evict FIFO past 8. Locked:
# HTTP facade handler threads probe concurrently, and an unguarded
# pop-on-full race would raise (the blanket except would then silently
# downgrade the probe to a full Spark job).
import threading

_CACHE: dict[str, tuple[tuple, list[dict]]] = {}
_CACHE_MAX = 8
_CACHE_LOCK = threading.Lock()


def read_local_index(index_path: str):
    """Return the sidecar as a list of row dicts when it is a local
    directory (or file) of parquet under the size gate; None otherwise
    (caller runs the distributed probe). Memoized per (path, per-part
    size+mtime). Never raises. Callers must not mutate the rows."""
    try:
        p = index_path
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        if os.path.isdir(p):
            parts = sorted(glob.glob(os.path.join(p, "*.parquet")))
        elif os.path.isfile(p):
            parts = [p]
        else:
            return None  # not a local path (hdfs/s3/...) — Spark probe
        if not parts:
            return None
        stats = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f, st in ((f, os.stat(f)) for f in parts)
        )
        if sum(s[1] for s in stats) > LOCAL_INDEX_MAX_BYTES:
            return None
        with _CACHE_LOCK:
            hit = _CACHE.get(p)
            if hit is not None and hit[0] == stats:
                # shallow copy: a caller appending/removing rows must
                # not poison the cache for every later probe (the inner
                # dicts stay shared — consumers are read-only per the
                # contract above, and copying them would cost real
                # memory for bloom bitsets)
                return list(hit[1])
        import pyarrow.parquet as pq

        rows: list[dict] = []
        for f in parts:
            rows.extend(pq.read_table(f).to_pylist())
        with _CACHE_LOCK:
            while len(_CACHE) >= _CACHE_MAX:
                _CACHE.pop(next(iter(_CACHE)))
            _CACHE[p] = (stats, rows)
        return list(rows)
    except Exception:
        return None
