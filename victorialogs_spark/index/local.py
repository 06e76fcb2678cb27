"""Driver-side state of local log tables and sidecars: the one local-path
rule, the sidecar fast path and the fingerprinted memo both the sidecar
rows and the table snapshots (``bloom.table_snapshot``) live in.

Local paths: a plain path or a ``file:`` URI (``local_path``). Any other
scheme (hdfs://, s3://, ...) gets neither a memo nor the fast path; it
is read through Spark on every query.

Sidecar fast path: both sidecar probes (stream-value sets, token blooms)
are metadata lookups whose result is a file list — but running them as
Spark jobs costs two scheduler round-trips (~0.3-0.5 s fixed) per pruned
query, which the 100x layout-crossover measurement showed can exceed the
whole scan time saved at small-to-medium table sizes. A sidecar holds one
row per (file[, field]) and is typically KBs; reading it on the DRIVER
with pyarrow and evaluating the probe in plain Python costs ~ms and zero
executor time. The fast path only engages when the sidecar's on-disk
bytes are under ``LOCAL_INDEX_MAX_BYTES`` — at 100 TB a sidecar over 10^6
files can reach GBs, where the distributed probe (only file NAMES reach
the driver) is the right plan. Any failure (schema surprise, a part
vanishing mid-read) falls back to the Spark path: the fast path is an
optimization, never a correctness dependency.

The memo: a value derived from local files is reused only while the
files' fingerprint (names, sizes, ``st_mtime_ns``) is unchanged, so any
rewrite by this process or another one is seen on the next lookup and no
caller has to invalidate anything.
"""

from __future__ import annotations

import glob
import os
import stat
import threading
import urllib.parse

# sidecars under this total size are read driver-side (a 32 MB arrow
# table materializes in ~10 ms locally; the Spark probe's two scheduler
# round-trips cost 30-50x that)
LOCAL_INDEX_MAX_BYTES = 32 << 20

# key -> (fingerprint, value). Bounded: a session touches a handful of
# tables and sidecars; evict FIFO past 8. Locked: HTTP facade handler
# threads and concurrent run_query callers look up at the same time.
_MEMO: dict[tuple, tuple[tuple, object]] = {}
_MEMO_MAX = 8
_MEMO_LOCK = threading.Lock()


def local_path(p: str) -> str | None:
    """``p`` as an absolute local filesystem path when it is a plain path
    or a ``file:`` URI; None for any other scheme."""
    # strip a file: scheme FIRST: abspath("file:///x") would produce a
    # cwd-dependent "<cwd>/file:/x"
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    if urllib.parse.urlparse(p).scheme:
        return None
    return os.path.abspath(p)


def tree_fingerprint(root: str) -> tuple | None:
    """Every directory and file under ``root`` (and ``root`` itself) with
    its size and ``st_mtime_ns``; None when ``root`` does not exist or
    the walk raced a writer, i.e. nothing may be memoized for it."""
    try:
        st = os.stat(root)
        out = [(root, st.st_size, st.st_mtime_ns)]
        todo = [root] if stat.S_ISDIR(st.st_mode) else []
        while todo:
            with os.scandir(todo.pop()) as entries:
                for e in sorted(entries, key=lambda e: e.name):
                    st = e.stat()
                    out.append((e.path, st.st_size, st.st_mtime_ns))
                    if stat.S_ISDIR(st.st_mode):
                        todo.append(e.path)
        return tuple(out)
    except OSError:
        return None


def memo(key: tuple, fingerprint: tuple | None, build):
    """``build()``, reused for ``key`` while ``fingerprint`` is unchanged.
    A None fingerprint (not local, or the files changed under the walk)
    builds afresh and stores nothing. Concurrent misses may each build;
    the last one stored wins, and every caller gets a correct value."""
    if fingerprint is None:
        return build()
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
        if hit is not None and hit[0] == fingerprint:
            return hit[1]
    value = build()
    with _MEMO_LOCK:
        _MEMO.pop(key, None)
        while len(_MEMO) >= _MEMO_MAX:
            _MEMO.pop(next(iter(_MEMO)))
        _MEMO[key] = (fingerprint, value)
    return value


def read_local_index(index_path: str):
    """Return the sidecar as a list of row dicts when it is a local
    directory (or file) of parquet under the size gate; None otherwise
    (caller runs the distributed probe). Memoized per (path, per-part
    size+mtime): a pruned query reads each registered sidecar once, but
    every query on the table reads it again, and each uncached read
    materializes up to 32 MiB of parquet into Python dicts. Never
    raises. Callers must not mutate the rows."""
    try:
        p = local_path(index_path)
        if p is None:
            return None  # hdfs/s3/... — Spark probe
        if os.path.isdir(p):
            parts = sorted(glob.glob(os.path.join(p, "*.parquet")))
        elif os.path.isfile(p):
            parts = [p]
        else:
            return None
        if not parts:
            return None
        stats = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f, st in ((f, os.stat(f)) for f in parts)
        )
        if sum(s[1] for s in stats) > LOCAL_INDEX_MAX_BYTES:
            return None

        def rows() -> list[dict]:
            import pyarrow.parquet as pq

            return [r for f in parts for r in pq.read_table(f).to_pylist()]

        # shallow copy: a caller appending/removing rows must not poison
        # the memo for every later probe (the inner dicts stay shared —
        # consumers are read-only per the contract above, and copying
        # them would cost real memory for bloom bitsets)
        return list(memo(("sidecar", p), stats, rows))
    except Exception:
        return None
