"""One cache scope for relations a block reads more than once.

``with cached(a, b) as (a, b): ...`` persists each frame that is not
already cached, yields the frames, and on every exit -- return or
exception -- unpersists exactly the frames it persisted. A frame its
caller already cached is used as is and left cached: a cache is released
only by the code that created it. The scope never persists an alias such
as ``df.select("*")`` instead: an alias resolves to the same cache entry
as ``df``, so releasing it would drop the caller's cache too.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel


@contextmanager
def cached(*dfs):
    # storageLevel is a driver-side cache-manager lookup: no Spark job
    owned = [df.persist() for df in dfs if df.storageLevel == StorageLevel.NONE]
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in owned:
            df.unpersist()
