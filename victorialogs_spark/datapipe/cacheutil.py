"""Bounded cache registry for datapipe intermediates.

Several operators cache a small mid-plan frame that feeds two plan
branches (corpus frequency tables, score tables). ``DataFrame.cache``
registers a strong reference in Spark's CacheManager that lives until an
explicit ``unpersist`` — but a library function returning a lazy
DataFrame has no post-materialization hook, so repeated calls in a
long-lived session (``cli serve``, notebooks) would accumulate cached
blocks forever. The fix is a FIFO: every cached intermediate registers
here and the oldest entries unpersist once more than ``MAX_LIVE`` are
alive — by then their dependent actions have long since run.

Callers who want deterministic release can also call
:func:`release_caches` after materializing their results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []
MAX_LIVE = 8


def bounded_cache(df: DataFrame, storage_level=None) -> DataFrame:
    """persist + FIFO-register ``df`` so at most ``MAX_LIVE`` datapipe
    intermediates hold cached blocks at any time."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _LIVE.append(df)
    while len(_LIVE) > MAX_LIVE:
        try:
            _LIVE.pop(0).unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return df


def release_caches() -> int:
    """Unpersist every live registered intermediate; returns the count."""
    n = 0
    while _LIVE:
        try:
            _LIVE.pop(0).unpersist()
            n += 1
        except Exception:
            pass
    return n
