"""Request cache: ``IndicesRequestCache.java`` analog.

The reference caches the serialized shard-level search response keyed
by (shard, reader cache key, request bytes); a new index reader —
i.e. any refresh that changed the commit — invalidates entries via the
``readerCacheKeyId`` (``IndicesRequestCache.java:271-291``).

Spark mapping: the "serialized response" is the collected Arrow/pandas
result of the search DataFrame; the "reader cache key" is a fingerprint
of the index commit's file metadata (path, size, mtime) including the
tombstone directory, so ``delete_by_query`` / append / compaction all
invalidate exactly like a reader reopen — and a miss under a new key
searches through a reopened engine (``SearchEngine.reopened``), since
an index handle is a snapshot of the commit it opened.  A cache hit rebuilds the
DataFrame from the cached pandas batch — **zero Spark jobs**, the same
economics as the reference returning cached response bytes.

Capacity is entry-count-bounded LRU (the reference bounds by % of heap,
``indices.requests.cache.size``); results cached here are top-k pages —
small by construction — so entries, not bytes, are the natural unit.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from typing import Dict, Optional, Tuple

from pyspark.sql import DataFrame


def commit_fingerprint(index_dir: str) -> str:
    """Commit fingerprint of an index (the readerCacheKeyId analog), from
    the commit MARKERS only — plan.json, stats.json, the manifests
    listing and the deletes listing — not the data files.

    Sufficient because data/dictionary files are immutable once
    committed: every mutation path either rewrites plan/stats
    (resize, restore-in-place), appends a manifest (build wave,
    incremental batch — whose data files are only visible once the
    manifest commits), or appends a tombstone file
    (delete_by_query).  This keeps the per-request cost
    O(segments), not O(data files) — at 100 TB the difference
    between a few dozen stat calls and walking millions of parquet
    parts on every cached search."""
    parts = []
    for f in ("plan.json", "stats.json"):
        try:
            st = os.stat(os.path.join(index_dir, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{f}:gone")
    for member in ("manifests", "deletes"):
        root = os.path.join(index_dir, member)
        if not os.path.isdir(root):
            parts.append(f"{member}:absent")
            continue
        for name in sorted(os.listdir(root)):
            try:
                st = os.stat(os.path.join(root, name))
                parts.append(f"{member}/{name}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                parts.append(f"{member}/{name}:gone")
    return "|".join(parts)


class RequestCache:
    """LRU of search results for one engine, invalidated by commit change.

    >>> cache = RequestCache(engine)
    >>> df = cache.search({"match": {"text": "spark"}}, size=10)  # miss
    >>> df = cache.search({"match": {"text": "spark"}}, size=10)  # hit, 0 jobs
    """

    def __init__(self, engine, max_entries: int = 256):
        self.engine = engine
        # the commit the engine's handle is taken to have opened
        self._engine_key = self._reader_key()
        self.max_entries = int(max_entries)
        self._entries: "OrderedDict[Tuple[str, str], Tuple[object, object]]" = (
            OrderedDict()
        )
        self.stats: Dict[str, int] = {"hits": 0, "misses": 0, "evictions": 0}

    # ---- keys

    def _reader_key(self) -> str:
        return commit_fingerprint(self.engine.index.index_dir)

    @staticmethod
    def _request_key(query, kw: Dict) -> str:
        return json.dumps({"q": query, "kw": kw}, sort_keys=True, default=str)

    # ---- api

    def search(self, query, **kw) -> DataFrame:
        """``engine.search`` through the cache.  The query must be the
        JSON-dict DSL form (dict keys make the request key stable)."""
        rkey = (self._request_key(query, kw), self._reader_key())
        hit = self._entries.get(rkey)
        if hit is not None:
            self._entries.move_to_end(rkey)
            self.stats["hits"] += 1
            pdf, schema = hit
            return self.engine.spark.createDataFrame(pdf, schema=schema)
        self.stats["misses"] += 1
        if rkey[1] != self._engine_key:
            # the commit changed: the engine's handle predates it
            self.engine = self.engine.reopened()
            self._engine_key = rkey[1]
        df = self.engine.search(query, **kw)
        pdf = df.toPandas()
        self._entries[rkey] = (pdf, df.schema)
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)
            self.stats["evictions"] += 1
        return self.engine.spark.createDataFrame(pdf, schema=df.schema)

    def clear(self) -> None:
        """``POST /<index>/_cache/clear`` analog."""
        self._entries.clear()
