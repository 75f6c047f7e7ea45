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

A handle is a snapshot of the index: it opens each table (postings,
docmap, dictionary) once, at first use, and keeps it, as it keeps the
plan and the statistics; a handle opened before an append does not see
the appended batch, a new handle (:meth:`InvertedIndex.reopen`) does.
A persisted handle registers its docmap and decoded postings pins under
temp views named per handle, which a search's query phase reads from
one SQL statement (:meth:`InvertedIndex.docmap_relation`,
:meth:`InvertedIndex.postings_relation`); an unpersisted handle
registers none, its tables enter each statement through request views.

Opening a handle runs no Spark job, so the first search on a fresh
handle runs only its own query's jobs.  Each table is opened with a
schema read from its parquet footers on the driver
(:func:`_footer_schema`, pyarrow), not inferred by a Spark job, and the
term-statistics memo is read from the dictionary files with
``pyarrow.dataset`` on the driver (:meth:`InvertedIndex._load_term_stats`;
an incremental dictionary's per-batch deltas are summed per term
there), the analog of the reference loading a segment's terms index
into heap when it opens the segment.  Both need the index directory on
a local file system, as reading ``plan.json`` already does.
"""

from __future__ import annotations

import itertools
import json
import os
from functools import cached_property
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
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


def _parquet_files(path: str) -> List[str]:
    """The data files of the parquet table at ``path``, sorted by name;
    like Spark, it skips names starting with ``_`` or ``.``."""
    if not os.path.isdir(path):
        return []
    return sorted(
        e.path for e in os.scandir(path) if e.is_file() and not e.name.startswith(("_", "."))
    )


# the footer key under which Spark's parquet writer stores the schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> Optional[T.StructType]:
    """The Spark schema of the parquet table at ``path``, read from its
    files' footers on the driver (no Spark job): the schema Spark's
    writer stores in each footer, which Spark's own inference reads
    too (an Arrow-type conversion would read a ``timestamp_ntz`` column
    as ``timestamp``).  Files whose schemas differ (an incremental
    dictionary's base has ``tlen``, its deltas ``_batch``) are unified,
    widest schema first and ties broken by the schema's JSON, so the
    result does not depend on file names; Spark's inference reads a
    single file's footer.  None when there is no file or a file
    Spark did not write: the caller lets Spark infer.  Spark reads
    every field of the schema given as nullable, as it reads its own."""
    files = _parquet_files(path)
    if not files:
        return None
    stored = set()
    for f in files:
        schema = (pq.read_schema(f).metadata or {}).get(_SPARK_SCHEMA_KEY)
        if schema is None:
            return None
        stored.add(schema)
    schemas = [T.StructType.fromJson(json.loads(s)) for s in stored]
    fields: Dict[str, T.StructField] = {}
    for schema in sorted(schemas, key=lambda s: (-len(s.fields), s.json())):
        for field in schema.fields:
            fields.setdefault(field.name, field)
    return T.StructType(list(fields.values()))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` given :func:`_footer_schema`'s schema,
    so opening the table runs no schema inference job."""
    schema = _footer_schema(path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


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
_HANDLES = itertools.count()


class InvertedIndex:
    """Handle to an index directory produced by ``build_index``."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.paths = _paths(index_dir)
        self._views: Dict[str, str] = {}
        self._view_prefix = f"_osidx{next(_HANDLES)}"

    def reopen(self) -> "InvertedIndex":
        """A new handle on the same directory (and routing segment): it
        sees every commit made since this one took its snapshot."""
        fresh = InvertedIndex(self.spark, self.index_dir)
        if "_route_seg" in self.__dict__:
            fresh.__dict__["_route_seg"] = self.__dict__["_route_seg"]
        return fresh

    # what a segment view shares with its handle: the same snapshot's
    # plan, statistics and term-statistics memo
    _SNAPSHOT = ("plan", "stats", "_term_stats_cache", "_term_stats_complete")

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
        :meth:`postings_for_terms` and :meth:`postings_relation`,
        positional queries included, read the decoded pin with a
        JVM-only ``term IN (...)`` scan instead of decoding blocks in a
        Python worker per query.

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

        The docmap and decoded pins are registered under the handle's
        temp views, which stay until :meth:`unpersist`: a search never
        replaces or drops them, which would uncache the frame they
        read.  The :meth:`term_stats` memo is loaded here, by the same
        driver-side read of the dictionary files a first miss on an
        unpersisted handle makes."""
        from pyspark import StorageLevel

        level = StorageLevel.MEMORY_AND_DISK
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self._drop_views()
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
        for table, key in (("docmap", "_docmap_view"), ("decoded", "_decoded_df")):
            self._views[table] = f"{self._view_prefix}_{table}"
            pins[key].createOrReplaceTempView(self._views[table])
        self._load_term_stats()
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release every pinned frame, the ``block_meta()`` pin included
        (the cache-eviction twin of :meth:`persist`) — benches that walk
        multiple index sizes in one JVM must drop the previous size's
        cache or the unroll of the next one OOMs the shared local heap.
        The handle's views go first, then the frames derived from the
        block pin:
        uncaching a frame re-plans the cached frames built on it.  The
        :meth:`term_stats` memo stays (the handle is a snapshot), but is
        no longer marked complete."""
        self._drop_views()
        self.__dict__.pop("_term_stats_complete", None)
        self.__dict__.pop("_docmap_view", None)
        for key in ("_block_meta_df",) + _PINS[::-1]:
            df = self.__dict__.pop(key, None)
            if df is not None:
                df.unpersist()
        return self

    @property
    def is_persisted(self) -> bool:
        """Whether :meth:`persist` pinned this handle's tables."""
        return "_decoded_df" in self.__dict__

    def docmap_relation(self) -> sqltext.Relation:
        """:meth:`docmap` as a relation for a SQL statement: the pin's
        view on a persisted handle, else a request view."""
        name = self._views.get("docmap")
        return sqltext.Relation.of(self.docmap()) if name is None else sqltext.Relation(name)

    def _drop_views(self) -> None:
        sqltext.drop_views(self.spark, list(self._views.values()))
        self._views.clear()

    @property
    def has_positions(self) -> bool:
        """Whether the blocks carry term positions (``store_positions``)."""
        return bool(self.plan.get("store_positions", True))

    @cached_property
    def _postings_table(self) -> DataFrame:
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
        return self._routed_filter(_read_parquet(self.spark, path))

    def postings(self) -> DataFrame:
        cached = self.__dict__.get("_postings_df")
        return self._postings_table if cached is None else cached

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
        # this handle's snapshot: term statistics are global, so a
        # routed search reuses the memo instead of loading its own
        v.__dict__.update((k, self.__dict__[k]) for k in self._SNAPSHOT if k in self.__dict__)
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

    @cached_property
    def _docmap_table(self) -> DataFrame:
        # a merged/compacted index references the source docmap instead
        # of copying it (opensearch_spark.index.merge.merge_index)
        d = self.plan.get("docmap_dir") or self.paths["docmap"]
        return self._routed_filter(_read_parquet(self.spark, d))

    def docmap(self) -> DataFrame:
        cached = self.__dict__.get("_docmap_view")
        return self._docmap_table if cached is None else cached

    def dictionary(self) -> DataFrame:
        cached = self.__dict__.get("_dictionary_df")
        return self._dictionary_table if cached is None else cached

    @cached_property
    def _dictionary_table(self) -> DataFrame:
        d = _read_parquet(self.spark, self.paths["dictionary"])
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
        Answered from a driver-side memo of the whole dictionary (the
        reference caches term statistics in the query cache; the handle
        is a snapshot, so the memo stays valid): the first miss loads it
        (:meth:`_load_term_stats`, which :meth:`persist` also calls) and
        marks it complete, after which a term it lacks is absent, with
        no lookup job."""
        hit = self._term_stats_hits(terms)
        return pd.DataFrame(
            {
                "term": [t for t, _ in hit],
                "df": [v[0] for _, v in hit],
                "total_tf": [v[1] for _, v in hit],
                "n_blocks": [v[2] for _, v in hit],
            }
        )

    def n_blocks(self, terms: Sequence[str]) -> int:
        """Posting blocks of the distinct ``terms`` in all, from the
        :meth:`term_stats` memo (absent terms count 0)."""
        return sum(v[2] for _, v in self._term_stats_hits(terms))

    def _term_stats_hits(self, terms: Sequence[str]) -> List[Tuple[str, tuple]]:
        """[(term, (df, total_tf, n_blocks))] for the distinct present
        ``terms``, sorted, from the memo :meth:`term_stats` describes."""
        if not terms:
            return []
        cache = self.__dict__.setdefault("_term_stats_cache", {})
        want = sorted(set(terms))
        missing = [t for t in want if t not in cache]
        if missing and not self.__dict__.get("_term_stats_complete"):
            self._load_term_stats()
        for t in missing:
            cache.setdefault(t, None)  # negative cache: absent term
        return [(t, cache[t]) for t in want if cache[t] is not None]

    def _load_term_stats(self) -> None:
        """Read the whole dictionary into the :meth:`term_stats` memo and
        mark it complete: its files read with ``pyarrow.dataset`` on the
        driver, no Spark job, and an incremental dictionary's per-batch
        deltas summed per term, as :meth:`dictionary` sums them."""
        stats = ("df", "total_tf", "n_blocks")
        schema = pa.schema([("term", pa.string())] + [(c, pa.int64()) for c in stats])
        files = _parquet_files(self.paths["dictionary"])
        table = ds.dataset(files, schema=schema, format="parquet").to_table()
        cols = stats
        if self.plan.get("incremental"):
            table = table.group_by("term").aggregate([(c, "sum") for c in stats])
            cols = [f"{c}_sum" for c in stats]
        values = zip(*(table[c].to_pylist() for c in cols))
        self.__dict__.setdefault("_term_stats_cache", {}).update(
            zip(table["term"].to_pylist(), values)
        )
        self.__dict__["_term_stats_complete"] = True

    def postings_relation(
        self, terms: Sequence[str], with_positions: bool = False
    ) -> sqltext.Relation:
        """:meth:`postings_for_terms` as a relation for a SQL statement.
        On a persisted handle it is SQL text over the decoded pin's view
        (no DataFrame is built); otherwise the block decode, whose
        ``mapInArrow`` a ``term IN (...)`` filter would not pass, enters
        through a request view."""
        terms = sorted(set(terms))
        if terms and self._serves_decoded(with_positions):
            cols = ", ".join(_POSTINGS_SCHEMA[with_positions].fieldNames())
            return sqltext.Relation(
                f"(SELECT {cols} FROM {self._views['decoded']} WHERE {_term_in(terms)})"
            )
        return sqltext.Relation.of(self.postings_for_terms(terms, with_positions))

    def _serves_decoded(self, with_positions: bool) -> bool:
        return self.is_persisted and (self.has_positions or not with_positions)

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
        if self._serves_decoded(with_positions):
            return self.__dict__["_decoded_df"].where(_term_in(terms)).select(
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
