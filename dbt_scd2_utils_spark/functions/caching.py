"""Shared registry for operator-internal persist barriers.

Cache lifetime: some operators persist an intermediate relation that the
plan references twice (a CollapseProject barrier + single evaluation).
The returned DataFrame is lazy, so the operator itself cannot unpersist —
the CALLER owns the cache lifetime.  Short-lived sessions (the driver
harness, bench) can ignore this; a long-lived session should call
:func:`release_caches` after the consuming action, or it leaks executor
storage memory one persisted relation per call.

Every operator-internal persist across similarity/search/dedup routes
through :func:`barrier` so this ONE registry can free them all;
caller-OWNED DataFrames (e.g. a pre-trained codebook passed in) are never
persisted by an operator — the caller decides their storage lifetime.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []


def barrier(df: DataFrame) -> DataFrame:
    """persist() + register for :func:`release_caches`.  A plan the
    CacheManager already holds (the same key set looked up again, or a
    caller's own cache) is returned as is and not registered again, so
    repeated calls leave one registry entry, not one per call."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    cached = df.persist()
    _LIVE_CACHES.append(cached)
    return cached


def release_caches() -> int:
    """Unpersist every intermediate the operators have cached; returns
    how many were released.  Safe to call at any time — consuming a
    returned DataFrame after release just recomputes the
    intermediate."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
