"""Index reader: typed access to the index tables + block decoding.

The decode path is the analog of Lucene's postings enumeration: block rows
for the query's terms are scanned (Parquet predicate pushdown prunes by the
``term`` column — blocks are written term-sorted so row-group min/max stats
make this effective), then unpacked Arrow-native in a ``mapInArrow``
into (term, doc_id, tf, norm_byte[, positions]) rows for scoring.  The
decode is per-BATCH (``codec.decode_record_batch``): one vectorized pass
over each Arrow batch of blocks, no per-block Python.

``persist()`` runs that decode once for the whole index and pins the
result, so a persisted index serves postings from a JVM-only filter over
cached columnar batches; unpersisted indexes decode on read.  The pins
are doc-partitioned (hash of ``_docid``), so a persisted index scores
each partition's docs on their own: the reference's per-shard query
phase, with no exchange before the coordinator's top-k merge.
"""

from __future__ import annotations

import json
import os
from functools import cached_property
from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark import sqltext
from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.index import codec
from opensearch_spark.index.builder import _paths


def _term_in(terms: Sequence[str]) -> str:
    """SQL ``term IN (...)`` over literal terms: one parse on the JVM
    instead of a Column tree, and still pushed into the Parquet scan."""
    return "term IN (" + ", ".join(sqltext.string(t) for t in terms) + ")"


_POSTING_FIELDS = [
    T.StructField("term", T.StringType()),
    T.StructField("_docid", T.LongType()),
    T.StructField("tf", T.IntegerType()),
    T.StructField("norm_byte", T.IntegerType()),
]
# decoded postings schema, keyed by with_positions
_POSTINGS_SCHEMA = {
    False: T.StructType(_POSTING_FIELDS),
    True: T.StructType(
        _POSTING_FIELDS + [T.StructField("positions", T.ArrayType(T.LongType()))]
    ),
}


# frames pinned by InvertedIndex.persist, in materialization order
_PINS = ("_postings_df", "_docmap_df", "_dictionary_df", "_decoded_df")


class InvertedIndex:
    """Handle to an index directory produced by ``build_index``."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.paths = _paths(index_dir)

    @cached_property
    def plan(self) -> Dict:
        with open(self.paths["plan"]) as f:
            return json.load(f)

    @cached_property
    def stats(self) -> Dict:
        with open(self.paths["stats"]) as f:
            return json.load(f)

    @cached_property
    def stopwords(self):
        return ana.resolve_stopwords(self.plan["stopwords"])

    # ---- raw tables ----

    def persist(self) -> "InvertedIndex":
        """Pin the index in executor memory/disk (the reference's
        filesystem-cache-resident postings; BASELINE.md measures query
        latency warm).  Returns self.

        Pins four frames: the packed block rows (WAND's ``block_meta()``
        and its pruned decode read them), the docmap, the dictionary,
        and the DECODED postings — every block unpacked once here, with
        positions when the index stores them.  From then on
        :meth:`postings_for_terms`, positional queries included, reads
        the decoded pin with a JVM-only ``term IN (...)`` scan instead
        of decoding blocks in a Python worker per query.

        The decoded postings and the docmap are hash-partitioned on
        ``_docid`` into the same number of partitions, the session's
        ``spark.sql.shuffle.partitions`` at persist time; the decoded
        pin is also sorted by ``term`` within each partition.  A query
        then groups by doc and joins the docmap with no exchange
        (:meth:`docmap` returns the pin with a ``shuffle_hash`` hint, so
        a join on it stays inside the partitions instead of running a
        broadcast job per query), the term sort keeps cached-batch
        pruning for ``term IN (...)``, and each doc's per-term rows
        arrive in term order, the order the unpersisted scan sums them
        in.  Later changes to the session's partition count do not
        re-partition the pins.

        The dictionary pin is also collected to the driver once (one
        Arrow collect) into the :meth:`term_stats` memo, which is marked
        complete: a term it lacks is absent from the index, so term
        statistics never run a Spark job on a persisted index."""
        from pyspark import StorageLevel

        level = StorageLevel.MEMORY_AND_DISK
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        pins = self.__dict__
        pins["_postings_df"] = self.postings().persist(level)
        pins["_docmap_df"] = self.docmap().repartition(n, "_docid").persist(level)
        pins["_docmap_view"] = pins["_docmap_df"].hint("shuffle_hash")
        pins["_dictionary_df"] = self.dictionary().persist(level)
        pins["_decoded_df"] = (
            self.decode_blocks(pins["_postings_df"], with_positions=self.has_positions)
            .repartition(n, "_docid")
            .sortWithinPartitions("term")
            .persist(level)
        )
        for key in _PINS:
            pins[key].count()  # materialize
        stats = pins["_dictionary_df"].select("term", "df", "total_tf", "n_blocks").toPandas()
        values = zip(*(stats[c].tolist() for c in ("df", "total_tf", "n_blocks")))
        pins.setdefault("_term_stats_cache", {}).update(zip(stats["term"].tolist(), values))
        pins["_term_stats_complete"] = True
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release every pinned frame, the ``block_meta()`` pin included
        (the cache-eviction twin of :meth:`persist`) — benches that walk
        multiple index sizes in one JVM must drop the previous size's
        cache or the unroll of the next one OOMs the shared local heap.
        Frames derived from the block pin go first: uncaching a frame
        re-plans the cached frames built on it.  The :meth:`term_stats`
        memo stays (the index is immutable), but is no longer marked
        complete."""
        self.__dict__.pop("_term_stats_complete", None)
        self.__dict__.pop("_docmap_view", None)
        for key in ("_block_meta_df",) + _PINS[::-1]:
            df = self.__dict__.pop(key, None)
            if df is not None:
                df.unpersist()
        return self

    @property
    def has_positions(self) -> bool:
        """Whether the blocks carry term positions (``store_positions``)."""
        return bool(self.plan.get("store_positions", True))

    def postings(self) -> DataFrame:
        cached = self.__dict__.get("_postings_df")
        if cached is not None:
            return self._routed_filter(cached)
        path = self.paths["postings"]
        if not os.path.exists(path):
            # all-empty text field -> zero posting rows -> the _row=p
            # partition was never written; degrade to an empty frame
            # with the unified dataset's schema (builder finalize has
            # the matching guard)
            return self._routed_filter(
                self.spark.read.parquet(self.paths["data"])
                .filter(F.col("_row") == "p")
                .drop("_row")
            )
        return self._routed_filter(self.spark.read.parquet(path))

    # ---- routed search (custom routing -> one-segment pruning) ----

    def _routed_filter(self, df: DataFrame) -> DataFrame:
        seg = self.__dict__.get("_route_seg")
        if seg is None:
            return df
        return df.filter(F.col("_seg") == F.lit(int(seg)))

    def segment_view(self, seg: int) -> "InvertedIndex":
        """A view of this index restricted to one routing segment: the
        postings, docmap and block-metadata scans all carry a pushed
        ``_seg`` predicate, so parquet row-group stats prune everything
        but that segment's files (the build writes per-segment, so the
        column is file-clustered)."""
        v = InvertedIndex(self.spark, self.index_dir)
        v.__dict__["_route_seg"] = int(seg)
        return v

    def routed(self, routing_value) -> "InvertedIndex":
        """Routed search (``_search?routing=`` /
        ``OperationRouting.java:449-475``): hash the routing key with
        the SAME function the builder routes docs by
        (``builder._route_expr``: xxhash64 mod n_segments, literal cast
        to the routing column's type) and restrict the query to that
        one segment.  Term statistics stay GLOBAL (the
        dfs_query_then_fetch contract), so a routed hit scores
        identically to the same doc in an unrouted search — only the
        scan is pruned.  At cluster scale this is the 1-of-N-shards
        fan-out saving custom routing exists for."""
        n = int(self.plan["n_segments"])
        rc = self.plan.get("routing_col")
        lit = F.lit(routing_value)
        dm = self.docmap()
        if rc and rc in dm.columns:
            lit = lit.cast(dm.schema[rc].dataType)
        seg = (
            self.spark.range(1)
            .select(F.pmod(F.xxhash64(lit), F.lit(n)).cast("int").alias("s"))
            .collect()[0]["s"]
        )
        return self.segment_view(seg)

    def block_meta(self) -> DataFrame:
        """Block METADATA columns (no packed binaries), pinned in
        executor memory/disk on first use — the analog of Lucene
        holding skip-list / block-max metadata in heap while postings
        stay on disk (Lucene90PostingsReader skip data + block-max
        impacts; what BMW reads before touching a posting block).  Size
        is ~postings/block_size rows of 7 scalar columns — well under
        1% of the postings bytes — and it turns every WAND metadata
        pass (bounds, achievable threshold, prune predicate) into an
        in-memory columnar scan instead of a parquet walk per
        aggregation.  Lazy: the first pruned query pays the one-time
        materialization."""
        cached = self.__dict__.get("_block_meta_df")
        if cached is not None:
            return cached
        from pyspark import StorageLevel

        post = self.postings()
        cols = ["term", "block_id", "base_doc", "last_doc", "max_tf", "min_norm"]
        if "max_tf_norm" in post.columns:
            cols.append("max_tf_norm")
        if "_seg" in post.columns:
            meta = post.select("_seg", *cols)
        else:
            # merged/compacted layout (merge._PACK_SCHEMA) has no
            # segment column; one global pseudo-segment keeps the
            # segment-aligned bound SAFE (degrades to the global bound —
            # coarser, never wrong)
            meta = post.select(*cols).withColumn("_seg", F.lit(0))
        meta = meta.persist(StorageLevel.MEMORY_AND_DISK)
        self.__dict__["_block_meta_df"] = meta
        return meta

    def docmap(self) -> DataFrame:
        cached = self.__dict__.get("_docmap_view")
        if cached is not None:
            return cached
        # a merged/compacted index references the source docmap instead
        # of copying it (opensearch_spark.index.merge.merge_index)
        d = self.plan.get("docmap_dir") or self.paths["docmap"]
        return self._routed_filter(self.spark.read.parquet(d))

    def dictionary(self) -> DataFrame:
        cached = self.__dict__.get("_dictionary_df")
        if cached is not None:
            return cached
        d = self.spark.read.parquet(self.paths["dictionary"])
        if self.plan.get("incremental"):
            # streaming builds append per-batch deltas; aggregate on read
            # (collapsed to dense rows by merge_index compaction)
            d = d.groupBy("term").agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("total_tf").cast("long").alias("total_tf"),
                F.sum("n_blocks").cast("int").alias("n_blocks"),
            )
        if "tlen" not in d.columns:
            # pre-tlen layouts and incremental delta aggregates: derive
            # the length column (no row-group stats, semantics identical)
            d = d.withColumn("tlen", F.length("term").cast("int"))
        return d

    # ---- query-side helpers ----

    @cached_property
    def _search_chain(self):
        """Resolved query-side chain when the plan carries a custom
        analyzer.  ``search_analyzer`` wins over ``analyzer``
        (TextFieldMapper's search_analyzer mapping setting); None keeps
        the standard fast path."""
        spec = self.plan.get("search_analyzer") or self.plan.get("analyzer")
        if spec is None:
            return None
        from opensearch_spark.analysis import chain

        return chain.Analyzer.from_spec(spec)

    def analyze(self, text: str) -> List[str]:
        """Analyze query text with the index's analyzer config (the query
        and index sides must share the analyzer — MatchQuery semantics,
        unless a ``search_analyzer`` override is configured)."""
        sc = self._search_chain
        if sc is not None:
            return sc.tokens(text)
        return ana.tokenize(text, self.stopwords)

    def term_stats(self, terms: Sequence[str]) -> pd.DataFrame:
        """df/total_tf for the given terms (tiny: collected to the driver,
        then inlined into the scoring plan — the DFS phase analog).
        Per-term results are memoized driver-side (the reference caches
        term statistics in the query cache; an immutable index makes
        this always-valid).  :meth:`persist` fills the memo with the
        whole dictionary and marks it complete; a term missing from a
        complete memo is absent, with no lookup job."""
        if not terms:
            return pd.DataFrame({"term": [], "df": [], "total_tf": [], "n_blocks": []})
        cache = self.__dict__.setdefault("_term_stats_cache", {})
        want = sorted(set(terms))
        missing = [t for t in want if t not in cache]
        if missing and self.__dict__.get("_term_stats_complete"):
            cache.update(dict.fromkeys(missing))  # negative cache: absent
        elif missing:
            rows = (
                self.dictionary()
                .where(_term_in(missing))
                .selectExpr("term", "df", "total_tf", "n_blocks")
                .collect()
            )
            for r in rows:
                cache[r["term"]] = (int(r["df"]), int(r["total_tf"]), int(r["n_blocks"]))
            for t in missing:
                cache.setdefault(t, None)  # negative cache: absent term
        hit = [(t, cache[t]) for t in want if cache[t] is not None]
        return pd.DataFrame(
            {
                "term": [t for t, _ in hit],
                "df": [v[0] for _, v in hit],
                "total_tf": [v[1] for _, v in hit],
                "n_blocks": [v[2] for _, v in hit],
            }
        )

    def postings_for_terms(
        self, terms: Sequence[str], with_positions: bool = False
    ) -> DataFrame:
        """Postings of ``terms`` -> DataFrame
        (term, _docid, tf, norm_byte[, positions array]).

        On a persisted index this is a ``term IN (...)`` filter over the
        decoded pin (cached-batch term stats skip the other batches).
        Otherwise the filter is pushed down into the Parquet scan of the
        block table and only matching blocks are decoded.
        """
        terms = sorted(set(terms))
        if not terms:
            return self._empty_postings(with_positions)
        decoded = self.__dict__.get("_decoded_df")
        if decoded is not None and (self.has_positions or not with_positions):
            return decoded.where(_term_in(terms)).select(
                *_POSTINGS_SCHEMA[with_positions].fieldNames()
            )
        blocks = self.postings().where(_term_in(terms))
        return self.decode_blocks(blocks, with_positions)

    def decode_blocks(
        self, blocks: DataFrame, with_positions: bool = False
    ) -> DataFrame:
        """Unpack an arbitrary block-row DataFrame (e.g. a WAND-pruned
        subset) into per-posting rows: one ``mapInArrow`` whose
        :func:`codec.decode_record_batch` decodes each Arrow batch of
        blocks in one vectorized pass."""
        cols = ["term", "base_doc", "n_docs", "docs_bin", "tfs_bin", "norms_bin"]
        if with_positions:
            cols.append("pos_bin")
        blocks = blocks.selectExpr(*cols)

        bc = codec.get_codec(self.plan.get("codec", "varint"))

        def decode(batches):
            for rb in batches:
                yield from codec.decode_record_batch(rb, bc, with_positions)

        return blocks.mapInArrow(decode, schema=_POSTINGS_SCHEMA[with_positions])

    def _empty_postings(self, with_positions: bool) -> DataFrame:
        return self.spark.createDataFrame([], _POSTINGS_SCHEMA[with_positions])
