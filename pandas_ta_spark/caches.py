"""Session caches: one key rule, one eviction rule, one release.

The engine memoizes expensive per-corpus builds at module level
(materialized bars, LSH pair tables, IVF/PQ codebooks, streaming corpus
indexes) — correct and fast for a long-lived session running MANY
queries over ONE corpus. Every such cache is a ``SessionCache``; see its
docstring for the contract.

An ad-hoc multi-key gate over several HEAVY keys (the x100 embedding
pair keys) accumulates every key's pinned relations in one process: a
3-pair-key `tools/check.py` invocation was kernel-OOM-killed at ~103 GB
RSS (r13 judge log) where single-key processes peak far lower.
``release_session_caches`` drains every live ``SessionCache``
(unpersisting Spark relations), clears the Spark catalog cache, and
trims freed glibc arenas back to the OS — called by tools/check.py
between keys in ad-hoc mode so sequential heavy keys stay bounded.
"""

from __future__ import annotations

import gc
import os
import weakref

_LIVE: "weakref.WeakSet[SessionCache]" = weakref.WeakSet()


def table_fingerprint(sf_dir: str, table: str):
    """Data-version signal for the session caches: a hash of the table's
    file listing — names, sizes, mtimes. Rewriting or appending under
    the SAME path changes it. Handles both single-file tables (the
    driver data) and part-file directories (bench replicas). Non-local
    URIs and missing paths return None — path = corpus version; the
    cluster-scale analogue is the object store's listing etag."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            entries = []
            for e in sorted(os.scandir(path), key=lambda x: x.name):
                s = e.stat()
                entries.append((e.name, s.st_size, s.st_mtime_ns))
            return hash(tuple(entries))
        st = os.stat(path)
        return hash((st.st_size, st.st_mtime_ns))
    except OSError:
        return None


class SessionCache:
    """A session-lifetime memo of one kind of derived artifact.

    INVALIDATION CONTRACT (every instance):

    * Key: ``(applicationId, *scope, version)`` (``SessionCache.key``).
      applicationId is unique per SparkContext, unlike id(), which a new
      context can reuse after GC. ``scope`` names what was derived (the
      corpus dir, plus e.g. the bars anchor or a corpus predicate).
      ``version`` is the ``table_fingerprint`` of the table the entry
      derives from (the plan's ``inputFiles`` hash for the symbol
      count), so rewriting or appending that table under the same path
      mid-session re-derives instead of serving a stale snapshot.
    * Eviction, on a miss and on every put: entries of other
      applications (one JVM runs one app at a time — their keys pin
      dead sessions) and superseded versions of the same
      ``(applicationId, *scope)`` are dropped, so a rewritten table's
      old materialization does not stay pinned behind the new key.
    * Release: instances register themselves on construction;
      ``release_session_caches`` drains every live one and
      ``invalidate_dir`` drops every instance's entries for one dir.
    """

    def __init__(self):
        self._entries: dict[tuple, object] = {}
        _LIVE.add(self)

    @staticmethod
    def key(spark, *scope, version) -> tuple:
        return (spark.sparkContext.applicationId, *scope, version)

    def get(self, key: tuple):
        """The entry for ``key``, or None after evicting what it
        supersedes."""
        hit = self._entries.get(key)
        if hit is None:
            self._evict(key)
        return hit

    def put(self, key: tuple, value):
        self._evict(key)
        self._entries[key] = value
        return value

    def cached(self, key: tuple, build):
        hit = self.get(key)
        return hit if hit is not None else self.put(key, build())

    def clear(self) -> None:
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)

    def __iter__(self):
        return iter(list(self._entries))

    def _evict(self, key: tuple) -> None:
        self._drop(lambda k: k[0] != key[0]
                   or (k[:-1] == key[:-1] and k != key))

    def _drop(self, stale) -> list:
        return [self._entries.pop(k) for k in list(self._entries)
                if stale(k)]


def invalidate_dir(spark, sf_dir: str) -> None:
    """Drop every cache's entries for (this app, sf_dir) — any version."""
    app = spark.sparkContext.applicationId
    for cache in list(_LIVE):
        cache._drop(lambda k: k[0] == app and k[1] == sf_dir)


def release_session_caches(spark=None) -> int:
    """Drop every session-cache entry; return the count dropped.

    DataFrame-valued entries are unpersisted (non-blocking) before the
    reference is dropped; checkpointed/persisted blocks are then
    reclaimed by Spark's ContextCleaner once the JVM GCs. Passing the
    active session also clears the catalog cache and nudges a JVM GC so
    block cleanup doesn't wait for organic allocation pressure."""
    dropped = 0
    for cache in list(_LIVE):
        for val in cache._drop(lambda k: True):
            if hasattr(val, "unpersist"):
                try:
                    val.unpersist(blocking=False)
                except Exception:
                    pass
            dropped += 1
    if spark is not None:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        try:  # nudge ContextCleaner (classic local mode only)
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    gc.collect()
    try:
        # glibc keeps freed arena pages mapped (RSS stays high and the
        # next key's peak stacks on top); trim returns them to the OS.
        import ctypes

        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except Exception:
        pass
    return dropped
