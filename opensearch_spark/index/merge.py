"""Segment merge / compaction: the background-merge analog.

The reference's tiered merge policy combines small Lucene segments into
larger ones so queries touch fewer, better-sorted postings
(``index/OpenSearchTieredMergePolicy.java:50-56``; segments written by
``InternalEngine`` flushes).  Here a "segment" is the per-build-task
block run inside the postings table; compaction rewrites the whole
postings table into a globally term-clustered, densely packed layout:

1. **Salted re-pack** (the hot-term skew mitigation the north rule
   requires): per-term postings are re-packed into full 128-doc blocks
   by an ``applyInPandas`` over ``groupBy(term, salt)``.  ``salt`` is a
   *contiguous docID-window* index (``base_doc // window``) so each
   group holds a doc-ordered slice of the term's postings and can be
   concatenated without a global per-term sort.  Cold terms get salt 0
   (one group); hot terms (block count above ``hot_blocks`` from the
   dictionary) are split across ~``n_docs // window`` bounded groups —
   no single task ever holds a stopword-scale posting list.  At 10^12
   turns this is the difference between a task OOM on "the" and a flat
   task-duration histogram.
2. **Term-range layout**: the packed blocks are
   ``repartitionByRange(term, base_doc)`` + ``sortWithinPartitions`` so
   Parquet row-group min/max stats on ``term`` prune file scans for
   query terms (the terms-dictionary/skip-list analog; SURVEY.md §4.2).
   Range partitioning on the composite key also splits a hot term's
   blocks across output files by doc range — skew-free writes.

The merged index keeps the same docmap/plan/stats (docIDs are stable);
only postings + dictionary are rewritten.  ``merge_index`` writes a new
index directory whose plan references the source docmap (at real scale
the docmap — potentially 100s of TB of stored fields — must not be
copied)."""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opensearch_spark.index import codec
from opensearch_spark.index.builder import _paths

_PACK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("base_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_norm", T.IntegerType()),
        T.StructField("max_tf_norm", T.IntegerType()),
        T.StructField("docs_bin", T.BinaryType()),
        T.StructField("tfs_bin", T.BinaryType()),
        T.StructField("norms_bin", T.BinaryType()),
        T.StructField("pos_bin", T.BinaryType()),
    ]
)


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    dst_dir: str,
    max_segments: int = 64,
    max_delete_ratio: float = 0.2,
    **merge_kwargs,
) -> Optional[dict]:
    """Tiered-merge trigger policy (the background-merge scheduler
    analog, ``index/OpenSearchTieredMergePolicy.java:50-56`` — segments
    per tier + ``deletes_pct_allowed`` default 20%): compact when the
    index has accumulated more than ``max_segments`` committed segments
    (batch waves + streaming appends) or when tombstones exceed
    ``max_delete_ratio`` of live docs.  Returns the merge metrics when
    a compaction ran, else None.  Intended to be called after streaming
    batches / delete_by_query bursts; the merge itself is
    ``merge_index`` (salted hot-term repack, §module docstring)."""
    from opensearch_spark.index.lifecycle import tombstone_docids

    p = _paths(index_dir)
    n_segments = 0
    if os.path.isdir(p["manifests"]):
        n_segments = sum(
            1 for fn in os.listdir(p["manifests"]) if fn.startswith(("seg-", "batch-"))
        )
    with open(p["stats"]) as f:
        stats = json.load(f)
    n_docs = int(stats.get("n_docs") or 0)
    dels = tombstone_docids(spark, index_dir)
    n_del = dels.count() if dels is not None else 0
    ratio = (n_del / n_docs) if n_docs else 0.0
    if n_segments <= max_segments and ratio <= max_delete_ratio:
        return None
    metrics = merge_index(spark, index_dir, dst_dir, **merge_kwargs)
    metrics["trigger"] = {
        "n_segments": n_segments,
        "delete_ratio": round(ratio, 4),
        "max_segments": max_segments,
        "max_delete_ratio": max_delete_ratio,
    }
    return metrics


def _max_tf_norm(tfs: np.ndarray, norms: np.ndarray, starts: np.ndarray, start_mask: np.ndarray) -> np.ndarray:
    """Norm byte of a doc attaining each block's max tf (smallest norm
    among them) — the achievable-score metadata used by the WAND
    metadata-only threshold (see builder._invert_segment)."""
    blk_max = np.maximum.reduceat(tfs, starts)
    blk_idx = np.cumsum(start_mask) - 1
    cand = np.where(tfs == blk_max[blk_idx], norms, np.int64(255))
    return np.minimum.reduceat(cand, starts)


def _repack_partition(
    pdf: pd.DataFrame,
    block_size: int,
    with_pos: bool,
    deleted: Optional[np.ndarray] = None,
    codec_name: str = "varint",
) -> pd.DataFrame:
    """Re-pack ALL (term, salt) runs of one partition in one vectorized
    pass (same reduceat machinery as the builder's ``_invert_segment``).
    Rows must arrive sorted by (term, _salt, base_doc); a run never
    spans partitions because the shuffle key is (term, _salt).

    ``deleted`` (sorted docID array) expunges tombstoned postings while
    repacking — the merge-time physical delete behind soft deletes."""
    if len(pdf) == 0:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in _PACK_SCHEMA.fields}
        )
    n_docs_in = pdf["n_docs"].to_numpy(np.int64)
    bc = codec.get_codec(codec_name)
    docs, tfs, norms, pos = codec.decode_blocks(
        bc,
        pdf["base_doc"].to_numpy(np.int64),
        n_docs_in,
        *(codec.bytes_binary(pdf[c]) for c in ("docs_bin", "tfs_bin", "norms_bin")),
        codec.bytes_binary(pdf["pos_bin"]) if with_pos else None,
    )

    terms_b = pdf["term"].to_numpy(object)
    salts_b = pdf["_salt"].to_numpy(np.int64)
    post_terms = np.repeat(terms_b, n_docs_in)
    post_salts = np.repeat(salts_b, n_docs_in)

    if deleted is not None and deleted.size:
        keep = ~np.isin(docs, deleted)
        if with_pos:
            pos = pos[np.repeat(keep, tfs)]
        docs, tfs, norms = docs[keep], tfs[keep], norms[keep]
        post_terms, post_salts = post_terms[keep], post_salts[keep]

    n = docs.size
    if n == 0:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in _PACK_SCHEMA.fields}
        )

    # (term, salt)-run change detection at the posting level
    g_change = np.ones(n, dtype=bool)
    g_change[1:] = (post_terms[1:] != post_terms[:-1]) | (
        post_salts[1:] != post_salts[:-1]
    )
    g_start_idx = np.nonzero(g_change)[0]
    g_id = np.cumsum(g_change) - 1
    ordinal = np.arange(n, dtype=np.int64) - g_start_idx[g_id]
    out_start_mask = g_change | (ordinal % block_size == 0)
    starts = np.nonzero(out_start_mask)[0]
    ends = np.append(starts[1:], n)

    gaps = np.diff(docs, prepend=np.int64(0))
    gaps[starts] = 0
    norms_all = norms.tobytes()

    out = {
        "term": post_terms[starts],
        # globally-unique block ids per term: salt-major ordering
        "block_id": (post_salts[starts] * (1 << 20) + ordinal[starts] // block_size).astype(
            np.int32
        ),
        "base_doc": docs[starts],
        "last_doc": docs[ends - 1],
        "n_docs": (ends - starts).astype(np.int32),
        "sum_tf": np.add.reduceat(tfs, starts).astype(np.int64),
        "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        "min_norm": np.minimum.reduceat(norms, starts).astype(np.int32),
        "max_tf_norm": _max_tf_norm(tfs, norms, starts, out_start_mask).astype(
            np.int32
        ),
        "docs_bin": [bytes(b) for b in bc.encode_blocks(gaps, starts, ends)],
        "tfs_bin": [bytes(b) for b in bc.encode_blocks(tfs, starts, ends)],
        "norms_bin": [norms_all[s:e] for s, e in zip(starts, ends)],
    }
    if with_pos:
        occ_starts = np.concatenate(([0], np.cumsum(tfs)))
        pos_deltas = np.diff(pos, prepend=np.int64(0)) if pos.size else pos
        if pos.size:
            pos_deltas[occ_starts[:-1]] = pos[occ_starts[:-1]]
        out["pos_bin"] = [
            bytes(b)
            for b in bc.encode_blocks(pos_deltas, occ_starts[starts], occ_starts[ends])
        ]
    else:
        out["pos_bin"] = [None] * starts.size
    return pd.DataFrame(out)


def merge_index(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    hot_blocks: int = 64,
    doc_window_blocks: int = 512,
    term_partitions: Optional[int] = None,
) -> dict:
    """Compact ``src_dir``'s postings into ``dst_dir`` (term-clustered,
    densely packed).  Returns merge metrics.

    ``hot_blocks``: terms with more source blocks than this are salted.
    ``doc_window_blocks``: hot-term salt window, in units of
    ``block_size`` docIDs — bounds the postings any one task re-packs.
    """
    sp = _paths(src_dir)
    dp = _paths(dst_dir)
    with open(sp["plan"]) as f:
        plan = json.load(f)
    block_size = int(plan["block_size"])
    with_pos = bool(plan.get("store_positions", True))
    codec_name = plan.get("codec", "varint")
    n_docs = int(plan["n_docs"])

    post = spark.read.parquet(sp["postings"])
    hot = (
        spark.read.parquet(sp["dictionary"])
        .filter(F.col("n_blocks") > hot_blocks)
        .select("term")
    )
    window = block_size * doc_window_blocks
    salt = F.when(
        F.col("_hot"), (F.col("base_doc") / F.lit(window)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    salted = (
        post.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), "term", "left")
        .withColumn("_hot", F.coalesce(F.col("_hot"), F.lit(False)))
        .withColumn("_salt", salt)
    )

    # tombstones to expunge (soft deletes become physical here).  The
    # delete set is collected and shipped in the task closure — fine up
    # to ~10^7 tombstones; beyond that, pre-join a `deleted` flag into
    # the decoded stream instead.
    from opensearch_spark.index.lifecycle import tombstone_docids

    dels_df = tombstone_docids(spark, src_dir)
    deleted = (
        np.sort(np.array([r["_docid"] for r in dels_df.collect()], dtype=np.int64))
        if dels_df is not None
        else None
    )

    t0 = time.monotonic()
    parts = term_partitions or max(8, spark.sparkContext.defaultParallelism)
    in_cols = [
        "term", "_salt", "base_doc", "n_docs",
        "docs_bin", "tfs_bin", "norms_bin",
    ] + (["pos_bin"] if with_pos else [])

    def repack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one vectorized repack per partition: a (term,salt) run never
        # spans partitions (shuffle key), but Arrow batches split runs,
        # so the partition is materialized first (bounded by `parts`)
        chunks = [c for c in batches if len(c)]
        if chunks:
            yield _repack_partition(
                pd.concat(chunks, ignore_index=True), block_size, with_pos, deleted,
                codec_name,
            )

    packed = (
        salted.select(*in_cols)
        .repartition(parts, "term", "_salt")
        .sortWithinPartitions("term", "_salt", "base_doc")
        .mapInPandas(repack, schema=_PACK_SCHEMA)
    )
    (
        packed.repartitionByRange(parts, "term", "base_doc")
        .sortWithinPartitions("term", "base_doc")
        .write.mode("overwrite")
        .parquet(dp["postings"])
    )

    merged = spark.read.parquet(dp["postings"])
    (
        merged.groupBy("term")
        .agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("total_tf"),
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
        )
        .repartitionByRange(int(plan.get("dictionary_partitions", 8)), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(dp["dictionary"])
    )
    wall = time.monotonic() - t0

    # plan/stats carry over; without deletes the docmap is referenced,
    # not copied; with deletes it is rewritten minus tombstones and the
    # stats recomputed (delete visibility in stats happens at merge —
    # reference soft-delete semantics)
    plan_out = dict(plan)
    plan_out["merged_from"] = src_dir
    os.makedirs(dst_dir, exist_ok=True)
    if deleted is not None:
        src_dm = spark.read.parquet(plan.get("docmap_dir") or sp["docmap"])
        kept = src_dm.join(
            F.broadcast(dels_df), "_docid", "anti"
        )
        kept.write.mode("overwrite").parquet(dp["docmap"])
        plan_out.pop("docmap_dir", None)
        agg = (
            spark.read.parquet(dp["docmap"])
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("dc"),
                F.sum("dl").alias("sdl"),
            )
            .collect()[0]
        )
        new_stats = {
            "n_docs": int(agg["n"]),
            "doc_count": int(agg["dc"] or 0),
            "sum_dl": int(agg["sdl"] or 0),
            "avgdl": (int(agg["sdl"] or 0) / int(agg["dc"])) if agg["dc"] else 0.0,
            "expunged": int(deleted.size),
        }
        with open(dp["stats"], "w") as f:
            json.dump(new_stats, f, indent=1)
    else:
        # a merged source never wrote its own docmap dir — it points at the
        # original index's; propagate the inherited pointer so a second
        # merge (merge-of-merged) still resolves (the deletes path above
        # already reads it this way)
        plan_out["docmap_dir"] = plan.get("docmap_dir") or os.path.join(sp["docmap"])
        shutil.copyfile(sp["stats"], dp["stats"])
    with open(dp["plan"], "w") as f:
        json.dump(plan_out, f, indent=1)

    blocks_in = post.count()
    blocks_out = merged.count()
    metrics = {
        "blocks_in": blocks_in,
        "blocks_out": blocks_out,
        "wall_sec": round(wall, 3),
        "n_docs": n_docs,
    }
    with open(os.path.join(dst_dir, "merge_metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics
