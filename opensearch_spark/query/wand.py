"""Block-max WAND-style pruning for bulk top-k scoring.

The reference prunes posting blocks whose impact upper bound cannot
reach the current k-th score (Lucene block-max WAND via
``TopDocsCollectorContext.java:350-374`` with the ``totalHitsThreshold``
default 10000; SURVEY.md §4.4).  Catalyst has no mid-scan top-k
termination, so we re-express the idea as a *two-pass bulk* algorithm
over block metadata — a data-layout optimization, not a Catalyst rule:

Pass 0 (metadata only): per-block upper bound
    ``ub_t(b) = score(max_tf_b, dl(min_norm_b))``
  and per-term global bound ``gub_t = max_b ub_t(b)`` — computed
  JVM-side from the block columns (max_tf, min_norm); the packed binary
  columns are never touched (Parquet column pruning keeps them unread).

Pass 1 (sample): decode only the top few blocks per term by ``ub``;
  their per-doc partial sums are LOWER bounds of true scores (missing
  terms only add).  ``t`` = k-th best partial sum.

Pass 2 (prune + exact): decode only blocks with
    ``ub_t(b) + sum_{t' != t} gub_t' >= t``.

Safety proof (rank-identical top-k): if a block is pruned, every doc in
it has true score ``< t`` even with maximal help from all other terms.
Contrapositive: any doc with true score ``>= t`` has ALL its blocks
kept, so its pass-2 score is exact.  Pass 1 guarantees at least k docs
with true score ``>= t``.  Hence the top-k of the pass-2 docs with
score ``>= t`` is the exact top-k, exactly scored.  Docs with a pruned
contribution may be under-scored but are filtered by ``>= t`` and
provably below rank k.

Dictionary gate (before pass 0): the term-stats memo holds each term's
  block count, so the driver path knows for free when pruning cannot
  pay.  When no query term has k blocks (so no metadata threshold
  exists) and the pass-1 sample would cover more than
  ``MAX_KEPT_FRACTION`` of the query's blocks, the query is scored
  densely before ``block_meta()`` is pinned or any block decoded, and
  ``LAST_PRUNE_STATS["bailed"]`` records it, as the post-threshold cost
  gate does.

At 100 TB this is the difference between decoding a stopword's
billion-doc posting list and decoding a few hundred blocks: the prune
predicate is evaluated on block *metadata* (tiny columnar scan), and
skipped blocks never leave Parquet.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opensearch_spark import sqltext
from opensearch_spark.query import bm25


def block_bounds_df(index, terms: List[str], idf_by_term: Dict[str, float], avgdl: float,
                    k1: float, b: float) -> DataFrame:
    """Block metadata + upper-bound score, no binary columns touched:
    reads the executor-memory-pinned ``block_meta()`` frame (the Lucene
    skip-data-in-heap analog), so repeated metadata passes never re-walk
    the postings parquet."""
    idf = sqltext.map_lookup("term", {t: sqltext.double(idf_by_term[t]) for t in terms})
    meta = index.block_meta()

    def bound(norm: str) -> str:
        s = bm25.term_score_sql("max_tf", idf, bm25.norm_decode_sql(norm), avgdl, k1, b)
        return f"CAST({s} AS DOUBLE)"

    # ACHIEVABLE per-block score: score(max_tf, dl(max_tf_norm)) — a
    # real doc in the block attains it (metadata_threshold_df's t), so
    # the driver path can derive the rank-safe threshold from the SAME
    # collected rows with no extra job
    ach = bound("max_tf_norm") if "max_tf_norm" in meta.columns else "CAST(NULL AS DOUBLE)"
    return meta.filter(F.col("term").isin(list(terms))).selectExpr(
        "term", "_seg", "block_id", "base_doc", "last_doc", "max_tf", "min_norm",
        f"{bound('min_norm')} AS ub", f"{ach} AS ach",
    )


def metadata_threshold_df(engine, present, weights, idf_by_term, avgdl, k: int):
    """Rank-safe top-k threshold from BLOCK METADATA ALONE — no posting
    decode, no binary-column IO — as a LAZY one-row frame ``(_t)`` so
    callers can fold it into another metadata job instead of paying a
    separate driver action (``_pruned_distributed`` cross-joins it into
    the cost-gate aggregate: threshold + gate = ONE job).

    Each block stores ``(max_tf, max_tf_norm)`` where ``max_tf_norm`` is
    the norm byte of a real doc attaining ``max_tf``; hence
    ``score(max_tf, dl(max_tf_norm))`` is ACHIEVABLE — some doc in the
    block scores at least that from this term alone (OR semantics: other
    terms only add).  Blocks of one term hold disjoint docs, so the k-th
    largest achievable score over a single term's blocks certifies k
    distinct docs with true score >= it.  t = max over terms of that
    k-th value.  Returns None when the column is absent (pre-upgrade
    index); ``_t`` is NULL when no term has >= k blocks — callers fall
    back to the decode-sample threshold in both cases."""
    from pyspark.sql import Window

    post = engine.index.block_meta()
    if "max_tf_norm" not in post.columns:
        return None
    ach = bm25.term_score_sql(
        "max_tf",
        sqltext.map_lookup("term", {t: sqltext.double(idf_by_term[t]) for t in present}),
        bm25.norm_decode_sql("max_tf_norm"),
        avgdl,
        engine.k1,
        engine.b,
    )
    w_sql = sqltext.map_lookup("term", {t: sqltext.double(weights[t]) for t in present})
    w = Window.partitionBy("term").orderBy(F.desc("a"))
    return (
        post.filter(F.col("term").isin(list(present)))
        .selectExpr("term", f"CAST({ach} AS DOUBLE) * ({w_sql}) AS a")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == F.lit(int(k)))
        .agg(F.max("a").alias("_t"))
    )


def metadata_threshold(engine, present, weights, idf_by_term, avgdl, k: int):
    """Scalar convenience wrapper over ``metadata_threshold_df`` (one
    driver action); the hot path uses the frame form fused into the
    cost gate."""
    t_df = metadata_threshold_df(engine, present, weights, idf_by_term, avgdl, k)
    if t_df is None:
        return None
    kth = t_df.collect()
    t = kth[0]["_t"] if kth else None
    return float(t) if t is not None else None


def pruned_match_topk(
    engine,
    weights: Dict[str, int],
    k: int = 10,
    sample_blocks_per_term: int = 4,
) -> DataFrame:
    """Rank-identical top-k for an OR match using block-max pruning.

    Returns (_docid, score) of the exact top-k candidate superset:
    every returned doc is exactly scored and the true top-k is a prefix
    of this frame ordered by (score desc, _docid) — identical semantics
    to the unpruned scorer restricted to score >= t.
    Falls back to the dense scorer when the sample yields < k docs.
    """
    terms = sorted(weights)
    stats = engine.index.term_stats(terms)
    if stats.empty:
        return engine._empty_scored()
    N = engine.index.stats["doc_count"]
    avgdl = engine.index.stats["avgdl"]
    idf_by_term = {
        t: float(bm25.idf(int(df_), N)) for t, df_ in zip(stats["term"], stats["df"])
    }
    present = [t for t in terms if t in idf_by_term]
    if not present:
        return engine._empty_scored()

    n_blocks = {t: int(n) for t, n in zip(stats["term"], stats["n_blocks"])}
    n_blocks_total = sum(n_blocks.values())
    if n_blocks_total > MAX_DRIVER_META_BLOCKS:
        bounds = block_bounds_df(
            engine.index, present, idf_by_term, avgdl, engine.k1, engine.b
        )
        return _pruned_distributed(
            engine, present, weights, idf_by_term, avgdl, bounds, k, sample_blocks_per_term
        )
    # ---- dictionary gate: bail before any metadata job -------------
    # with no term of >= k blocks there is no metadata threshold, so
    # the threshold would come from decoding a sample of up to
    # sample_blocks_per_term blocks per term; when that sample alone
    # covers more than MAX_KEPT_FRACTION of the query's blocks, pruning
    # cannot pay for its passes — known from the term-stats memo,
    # before block_meta() is pinned or a block decoded
    sample = sum(min(n_blocks[t], sample_blocks_per_term) for t in present)
    if max(n_blocks[t] for t in present) < k and sample > MAX_KEPT_FRACTION * n_blocks_total:
        LAST_PRUNE_STATS.clear()
        LAST_PRUNE_STATS.update(
            {"kept_blocks": sample, "total_blocks": n_blocks_total, "bailed": True}
        )
        return engine._score_terms_or(weights, required=1)
    # ---- driver path: ONE metadata action + pass 2 -------------------
    # block metadata for the query's terms is pulled once from the
    # executor-pinned block_meta frame (<= MAX_DRIVER_META_BLOCKS rows,
    # ~60 B each — bounded driver memory); threshold, doc-range-aligned
    # prune predicate, and cost gate are all numpy over the SAME rows,
    # so the pruned plan costs exactly one extra driver action over the
    # dense scorer.  Bigger queries take the distributed path above (no
    # large collect, JVM-side prune filter).
    import numpy as np

    # Per-term metadata cache on the index instance (same lifecycle as
    # the pinned ``_block_meta_df`` it derives from): Lucene keeps block
    # skip/impact data heap-resident per segment reader — here the
    # collected per-term numpy arrays are kept driver-side, so a WARM
    # engine pays ZERO extra Spark actions for terms already seen and
    # the pruned plan's only marginal cost is the numpy threshold/RMQ
    # math.  ub/ach bake in idf/avgdl/k1/b, all fixed per (index
    # instance, similarity config) — the key carries (term, k1, b).
    cache: Dict[tuple, dict] = engine.index.__dict__.setdefault(
        "_wand_term_meta", {}
    )
    ck = (engine.k1, engine.b)
    missing = [t for t in present if (t, *ck) not in cache]
    if missing:
        mdf = block_bounds_df(
            engine.index, missing, idf_by_term, avgdl, engine.k1, engine.b
        )
        pdf_m = mdf.select(
            "term", "block_id", "base_doc", "last_doc", "ub", "ach"
        ).toPandas()
        for t in missing:
            sub = pdf_m[pdf_m["term"] == t].sort_values("base_doc")
            cache[(t, *ck)] = {
                "base": sub["base_doc"].to_numpy(np.int64),
                "last": sub["last_doc"].to_numpy(np.int64),
                "ub": sub["ub"].to_numpy(np.float64),
                "bid": sub["block_id"].to_numpy(np.int64),
                "ach": sub["ach"].to_numpy(np.float64),
            }
        # bound driver memory like the distributed-path cap: if the
        # cache outgrows the cap, keep only this query's terms
        total_cached = sum(v["base"].size for v in cache.values())
        if total_cached > MAX_DRIVER_META_BLOCKS:
            keep_keys = {(t, *ck) for t in present}
            for kk in [kk for kk in cache if kk not in keep_keys]:
                del cache[kk]
    per: Dict[str, dict] = {t: cache[(t, *ck)] for t in present}
    n_meta_rows = sum(per[t]["base"].size for t in present)

    # rank-safe threshold from the collected ACHIEVABLE scores (same
    # proof as metadata_threshold_df: kth largest achievable over one
    # term's doc-disjoint blocks certifies k docs >= it) — no extra job
    t_cands = []
    for t in present:
        a = per[t]["ach"] * float(weights[t])
        a = a[~np.isnan(a)]
        if a.size >= k:
            t_cands.append(float(np.partition(a, a.size - k)[a.size - k]))
    t_thresh = max(t_cands) if t_cands else None
    if t_thresh is None:
        # fallback (pre-upgrade index / tiny posting lists): decode the
        # top-ub sample blocks to establish the threshold
        sample_keys = []
        for t in present:
            order = np.argsort(-per[t]["ub"], kind="stable")[:sample_blocks_per_term]
            sample_keys.extend(
                (t, int(per[t]["bid"][i]), int(per[t]["base"][i])) for i in order
            )
        scored_sample = _score_blocks(engine, present, weights, idf_by_term, avgdl, sample_keys)
        sample_top = (
            scored_sample.orderBy(F.desc("score")).limit(k).collect()
        )
        if len(sample_top) < k:
            # not enough candidates to establish a threshold: dense scoring
            return engine._score_terms_or(weights, required=1)
        t_thresh = float(sample_top[-1]["score"])

    # doc-range-aligned prune predicate (the block-max WAND alignment):
    # a block of term t is kept only if its own bound plus the max bound
    # of each OTHER term's blocks OVERLAPPING its docID range reaches t.
    # Blocks of one term are doc-disjoint and sorted, so the overlap set
    # is a contiguous slice found with two binary searches; the slice
    # maxima are answered by a sparse-table RMQ (vectorized — no Python
    # per-block loop even at the 10^6-block cap).
    keep = []
    for t in present:
        bt = per[t]
        align = np.zeros(bt["ub"].size, dtype=np.float64)
        for t2 in present:
            if t2 == t:
                continue
            b2 = per[t2]
            lo = np.searchsorted(b2["last"], bt["base"], side="left")
            hi = np.searchsorted(b2["base"], bt["last"], side="right")
            align += _range_max(b2["ub"], lo, hi) * weights[t2]
        total_ub = bt["ub"] * weights[t] + align
        kept = np.nonzero(total_ub >= t_thresh)[0]
        keep.extend((t, int(bt["bid"][i]), int(bt["base"][i])) for i in kept)
    pruned_frac = 1.0 - (len(keep) / max(1, n_meta_rows))
    LAST_PRUNE_STATS.clear()
    LAST_PRUNE_STATS.update(
        {"kept_blocks": len(keep), "total_blocks": n_meta_rows, "bailed": False}
    )
    if len(keep) / max(1, n_meta_rows) > MAX_KEPT_FRACTION:
        # little to prune: the two-pass plan can't win — dense scorer
        LAST_PRUNE_STATS["bailed"] = True
        return engine._score_terms_or(weights, required=1)
    out = _score_blocks(engine, present, weights, idf_by_term, avgdl, keep)
    out = out.filter(F.col("score") >= F.lit(t_thresh))
    # expose the prune rate for benchmarks/tests
    out = out.withColumn("_pruned_frac", F.lit(float(pruned_frac)))
    return out


def _range_max(vals, lo, hi):
    """Vectorized max over the half-open slices ``vals[lo[i]:hi[i]]``
    (sparse-table range-maximum query: O(n log n) build, O(1) per
    query, everything numpy).  Empty slices (hi <= lo) return 0.0 —
    callers treat "no overlapping blocks" as zero contribution."""
    import numpy as np

    n = int(vals.size)
    m = int(lo.size)
    out = np.zeros(m, dtype=np.float64)
    if n == 0 or m == 0:
        return out
    lo = np.clip(lo, 0, n)
    hi = np.clip(hi, 0, n)
    length = hi - lo
    valid = length > 0
    if not valid.any():
        return out
    st = [np.asarray(vals, dtype=np.float64)]
    j = 1
    while (1 << j) <= n:
        prev = st[-1]
        half = 1 << (j - 1)
        st.append(np.maximum(prev[: n - (1 << j) + 1], prev[half : half + n - (1 << j) + 1]))
        j += 1
    kk = np.zeros(m, dtype=np.int64)
    kk[valid] = np.floor(np.log2(length[valid])).astype(np.int64)
    for kv in np.unique(kk[valid]):
        sel = valid & (kk == kv)
        s = st[int(kv)]
        out[sel] = np.maximum(s[lo[sel]], s[hi[sel] - (1 << int(kv))])
    return out


# above this many block-metadata rows (~60 MB driver-side) the
# fine-grained driver RMQ sweep is skipped in favor of the distributed
# segment-aligned prune (no driver materialization of block metadata)
MAX_DRIVER_META_BLOCKS = 1_048_576

# if the threshold keeps more than this fraction of blocks, pruning
# cannot recoup its second pass — bail to the dense scorer
MAX_KEPT_FRACTION = 0.5

# terms with at most this many posting blocks are "rare": decoded fully
# (cheap) so their exact per-doc scores can bound the frequent terms'
# blocks — the asymmetric WAND split (rare terms drive, frequent terms
# get pruned), the bulk analog of Lucene advancing the frequent
# iterator to the next rare-term candidate
RARE_DECODE_MAX_BLOCKS = 8_192

# a frequent-term block spanning more than this many doc-range buckets
# keeps the conservative global rare bound instead of exploding bucket
# rows (only ever loosens the bound — rank safety is unaffected)
MAX_BUCKET_SPAN = 32

# diagnostics of the most recent distributed prune (blocks kept/total,
# whether the cost gate bailed) — read by bench/tests
LAST_PRUNE_STATS: dict = {}

# kept-key frames above this row count are semi-joined with a shuffle
# instead of broadcast (a driver collect of millions of keys would
# defeat the point of the distributed path)
MAX_BROADCAST_KEPT_KEYS = 1_000_000


def _pruned_distributed(
    engine, present, weights, idf_by_term, avgdl, bounds: DataFrame, k: int,
    sample_blocks_per_term: int,
) -> DataFrame:
    """Scale path: no per-block driver collect, and — as of r3 — no
    posting decode before the cost gate.  The prune predicate is built
    ENTIRELY from block metadata in TWO cheap driver actions, then the
    caller's action runs pass 2:

    job 1 (metadata union-aggregate, one action): per-(term, segment)
      max bounds ``gub_{t,g}``, the predicated-block count, the
      achievable-score threshold ``t`` (``metadata_threshold_df``
      folded in), and — for asymmetric queries — per-(rare term,
      doc-range bucket) max block bounds.  All are tiny (|terms| x
      n_segments, 1, 1, <= 65,536 buckets) and come back as plain
      Python values / local frames with NO live lineage, so later plans
      cannot re-run the metadata DAG (the r2 perf defect: three driver
      actions each recomputing the whole alignment chain).
    job 2: materialize + count the kept-key frame (metadata filter
      joined only against LOCAL frames) — doubling as the cost gate.
    pass 2 (caller's action): decode kept frequent blocks + all rare
      blocks in one semi-join, sum per doc, filter ``>= t``.

    Doc IDs are segment-contiguous (builder: segment offset + local
    ordinal), so a posting block never spans segments and every block
    of another term that can overlap block b's doc range lives in the
    SAME segment:

        keep b (term t in freq, segment g)  iff
        ub_b * w_t + sum_{t' in freq, t' != t} w_t' * gub_{t',g}
                   + rbound(range(b))                    >=  t

    where ``rbound`` bounds the total rare-term contribution available
    to any doc in b's range: per doc-range bucket, the sum over rare
    terms of their max block ub overlapping that bucket (wide sparse
    rare blocks fold into a per-term global max added to every bucket —
    looser, never wrong).  This keeps the asymmetric-WAND locality
    (bursty rare terms prune frequent terms' blocks outside the burst
    ranges) WITHOUT decoding the rare postings up front — metadata ub
    is an upper bound of any decoded partial, so the r2 safety proof
    carries over verbatim; rare docs are decoded exactly once, in
    pass 2.  Every returned doc is exactly scored and docs with a
    pruned contribution are provably below ``t``."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    spark = engine.spark
    w_map = F.create_map(*[x for t in present for x in (F.lit(t), F.lit(float(weights[t])))])

    # ---- asymmetric split: keep RARE terms' blocks, prune FREQUENT ---
    # the split is RELATIVE: a term is "rare" when decoding it is cheap
    # both absolutely (<= RARE_DECODE_MAX_BLOCKS) and relative to the
    # query (< total/4 blocks) — so 'the error' classifies 'the' as
    # frequent at ANY corpus size, and balanced queries (no asymmetry
    # to exploit) fall through to the homogeneous segment-bound path
    n_blocks_by_term = {}
    try:
        st = engine.index.term_stats(present)
        n_blocks_by_term = {
            t: int(nb) for t, nb in zip(st["term"], st["n_blocks"])
        }
    except Exception:
        pass
    total_blocks = sum(n_blocks_by_term.values()) or 1
    rare_cut = min(RARE_DECODE_MAX_BLOCKS, max(64, total_blocks // 4))
    rare = [t for t in present if n_blocks_by_term.get(t, 0) <= rare_cut]
    freq = [t for t in present if t not in set(rare)]
    split = bool(rare and freq)
    n_docs_total = int(engine.index.stats.get("n_docs") or 0)
    bucket_w = max(1024, n_docs_total // 65_536)

    # ---- job 1: ONE metadata-only action for every prune input ------
    gsrc = bounds.filter(F.col("term").isin(freq)) if split else bounds
    gub_agg = (
        gsrc.groupBy("term", F.col("_seg").cast("long").alias("seg"))
        .agg(F.max("ub").alias("v"))
        .select(F.lit("g").alias("tag"), "term", "seg", "v")
    )
    cnt_agg = gsrc.agg(F.count(F.lit(1)).cast("double").alias("v")).select(
        F.lit("n").alias("tag"),
        F.lit("").alias("term"),
        F.lit(0).cast("long").alias("seg"),
        "v",
    )
    meta = gub_agg.unionByName(cnt_agg)
    t_df = metadata_threshold_df(engine, present, weights, idf_by_term, avgdl, k)
    if t_df is not None:
        meta = meta.unionByName(
            t_df.select(
                F.lit("t").alias("tag"),
                F.lit("").alias("term"),
                F.lit(0).cast("long").alias("seg"),
                F.col("_t").alias("v"),
            )
        )
    if split:
        rsrc = bounds.filter(F.col("term").isin(rare))
        rspan = (F.col("last_doc") / bucket_w).cast("long") - (
            F.col("base_doc") / bucket_w
        ).cast("long")
        # narrow rare blocks: per-bucket max ub (locality!); wide sparse
        # ones (> MAX_BUCKET_SPAN buckets) fold into a per-term global
        # max added to every bucket below — looser, never wrong, and
        # bounds the exploded row count at 8,192 * 32
        rb_agg = (
            rsrc.filter(rspan <= MAX_BUCKET_SPAN)
            .withColumn(
                "_bkt",
                F.explode(
                    F.sequence(
                        (F.col("base_doc") / bucket_w).cast("long"),
                        (F.col("last_doc") / bucket_w).cast("long"),
                    )
                ),
            )
            .groupBy("term", F.col("_bkt").alias("seg"))
            .agg(F.max("ub").alias("v"))
            .select(F.lit("r").alias("tag"), "term", "seg", "v")
        )
        rw_agg = (
            rsrc.filter(rspan > MAX_BUCKET_SPAN)
            .groupBy("term")
            .agg(F.max("ub").alias("v"))
            .select(F.lit("w").alias("tag"), "term", F.lit(0).cast("long").alias("seg"), "v")
        )
        meta = meta.unionByName(rb_agg).unionByName(rw_agg)
    meta_rows = meta.collect()

    gub = {(r["term"], int(r["seg"])): float(r["v"]) for r in meta_rows if r["tag"] == "g"}
    total_n = int(sum(float(r["v"]) for r in meta_rows if r["tag"] == "n"))
    t_vals = [r["v"] for r in meta_rows if r["tag"] == "t"]
    t_thresh = float(t_vals[0]) if t_vals and t_vals[0] is not None else None
    seg_total: Dict[int, float] = {}
    for (t, g), v in gub.items():
        seg_total[g] = seg_total.get(g, 0.0) + float(weights[t]) * v
    # rare-bound composition (all local): per bucket, the sum over rare
    # terms of max(bucket max, wide global max); buckets with no narrow
    # rare block default to the wide-only sum; rg = global rare bound
    wide_max = {r["term"]: float(r["v"]) for r in meta_rows if r["tag"] == "w"}
    bkt_by_term: Dict[str, Dict[int, float]] = {}
    for r in meta_rows:
        if r["tag"] == "r":
            bkt_by_term.setdefault(r["term"], {})[int(r["seg"])] = float(r["v"])
    wide_base = sum(float(weights[t]) * wide_max.get(t, 0.0) for t in rare) if split else 0.0
    rb_map: Dict[int, float] = {}
    if split:
        all_bkts = set()
        for d in bkt_by_term.values():
            all_bkts.update(d)
        for bkt in all_bkts:
            rb_map[bkt] = sum(
                float(weights[t])
                * max(bkt_by_term.get(t, {}).get(bkt, 0.0), wide_max.get(t, 0.0))
                for t in rare
            )
    rg_total = (
        max(rb_map.values(), default=0.0) if rb_map else wide_base
    ) if split else 0.0

    if t_thresh is None:
        # fallback: decode-sample threshold (pre-upgrade index layout or
        # no term with >= k blocks) — the rare path where the metadata
        # threshold doesn't apply
        w = Window.partitionBy("term").orderBy(F.desc("ub"), F.asc("block_id"))
        sample_blocks = (
            bounds.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= sample_blocks_per_term)
            .drop("_rn", "ub")
        )
        sample_scored = _score_block_frame(engine, present, weights, idf_by_term, avgdl, sample_blocks)
        sample_top = sample_scored.orderBy(F.desc("score")).limit(k).collect()
        if len(sample_top) < k:
            return engine._score_terms_or(weights, required=1)
        t_thresh = float(sample_top[-1]["score"])

    # ---- job 2: kept-key frame = ONE metadata scan vs LOCAL frames,
    # persisted so the pass-2 semi-join broadcast reuses it; its count
    # IS the cost gate (when the threshold prunes little — uniform
    # impact distributions, e.g. a lone hot term whose blocks all look
    # alike — pass 2 would decode ~everything: bail to dense)
    gub_local = spark.createDataFrame(
        [(t, int(g), float(v), float(seg_total[g])) for (t, g), v in gub.items()]
        or [("", -1, 0.0, 0.0)],
        "term string, seg long, gub double, seg_total double",
    )
    base = gsrc.withColumn("seg", F.col("_seg").cast("long"))
    if split and rb_map:
        rb_local = spark.createDataFrame(
            [(int(b), float(v)) for b, v in rb_map.items()],
            "_bkt long, rsum double",
        )
        span = (F.col("last_doc") / bucket_w).cast("long") - (
            F.col("base_doc") / bucket_w
        ).cast("long")
        narrow = base.filter(span <= MAX_BUCKET_SPAN)
        wide = base.filter(span > MAX_BUCKET_SPAN).withColumn(
            "rbound", F.lit(float(rg_total))
        )
        exploded = narrow.withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    (F.col("base_doc") / bucket_w).cast("long"),
                    (F.col("last_doc") / bucket_w).cast("long"),
                )
            ),
        )
        narrow_b = (
            exploded.join(F.broadcast(rb_local), "_bkt", "left")
            .groupBy("term", "seg", "block_id", "base_doc", "last_doc", "ub")
            .agg(F.coalesce(F.max("rsum"), F.lit(float(wide_base))).alias("rbound"))
        )
        fbounds = narrow_b.unionByName(
            wide.select("term", "seg", "block_id", "base_doc", "last_doc", "ub", "rbound")
        )
    elif split:
        fbounds = base.withColumn("rbound", F.lit(float(wide_base)))
    else:
        # homogeneous query (all rare or all frequent): per-(term,
        # segment) bounds; align(t, g) = seg_total(g) - w_t * gub_{t,g}
        fbounds = base.withColumn("rbound", F.lit(0.0))
    aligned = fbounds.join(F.broadcast(gub_local), ["term", "seg"])
    keep_pred = (
        F.col("ub") * w_map[F.col("term")]
        + (F.col("seg_total") - F.col("gub") * w_map[F.col("term")])
        + F.col("rbound")
    ) >= F.lit(t_thresh)
    kept = engine._pinned.pin(
        aligned.filter(keep_pred)
        .select("term", "block_id", "base_doc")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    kept_n = kept.count()
    LAST_PRUNE_STATS.clear()
    LAST_PRUNE_STATS.update(
        {"kept_blocks": kept_n, "total_blocks": total_n, "bailed": False}
    )
    if total_n == 0 or kept_n == 0 or kept_n / total_n > MAX_KEPT_FRACTION:
        LAST_PRUNE_STATS["bailed"] = True
        # the dense fallback never reads the kept keys — drop the pinned
        # cache instead of leaking it per bailed query
        kept.unpersist(blocking=False)
        return engine._score_terms_or(weights, required=1)
    # pass 2: decode kept frequent blocks + ALL rare blocks in one
    # semi-join (rare postings are decoded exactly once, here).
    # Broadcast the kept-key frame only while it is provably small
    # (kept_n is known from the gate); above the cap a plain semi-join
    # shuffles the 3 key columns — never the packed binaries — instead
    # of collecting millions of rows to the driver
    if split:
        pass2_keys = kept.unionByName(
            bounds.filter(F.col("term").isin(rare)).select("term", "block_id", "base_doc")
        )
    else:
        pass2_keys = kept
    bcast = kept_n + sum(n_blocks_by_term.get(t, 0) for t in rare) <= MAX_BROADCAST_KEPT_KEYS
    out = _score_block_frame(
        engine, present, weights, idf_by_term, avgdl, pass2_keys, broadcast_keys=bcast
    )
    return out.filter(F.col("score") >= F.lit(t_thresh))


def _score_block_frame(
    engine, terms, weights, idf_by_term, avgdl, keys_df: DataFrame,
    broadcast_keys: bool = True,
) -> DataFrame:
    """Decode + exactly score the block rows identified by ``keys_df``
    (term, block_id, base_doc) without collecting them.  With
    ``broadcast_keys`` the 3-column key frame is broadcast so the
    posting scan — whose rows carry the packed binary columns — is
    never shuffled; callers turn it off when the kept set is large
    (the semi-join then shuffles keys, still never the binaries)."""
    keys = keys_df.select("term", "block_id", "base_doc")
    if broadcast_keys:
        keys = F.broadcast(keys)
    blocks = (
        engine.index.postings()
        .filter(F.col("term").isin(list(terms)))
        .join(keys, ["term", "block_id", "base_doc"], "semi")
    )
    return _score_decoded(engine, terms, weights, idf_by_term, avgdl, blocks)


def _score_decoded(engine, terms, weights, idf_by_term, avgdl, blocks: DataFrame) -> DataFrame:
    s = bm25.term_score_sql(
        "tf",
        sqltext.map_lookup("term", {t: sqltext.double(idf_by_term[t]) for t in terms}),
        bm25.norm_decode_sql("norm_byte"),
        avgdl,
        engine.k1,
        engine.b,
    )
    w_sql = sqltext.map_lookup("term", {t: str(int(weights[t])) for t in terms})
    return engine.index.decode_blocks(blocks).groupBy("_docid").agg(
        F.expr(f"sum(CAST({s} AS DOUBLE) * ({w_sql})) AS score")
    )


def _score_blocks(engine, terms, weights, idf_by_term, avgdl, keys) -> DataFrame:
    """Decode + exactly score a specific set of (term, block_id,
    base_doc) blocks; per-doc score = sum over decoded contributions."""
    spark = engine.spark
    if not keys:
        return engine._empty_scored()
    keys_df = spark.createDataFrame(
        [(t, int(bid), int(bd)) for t, bid, bd in keys],
        "term string, block_id int, base_doc long",
    )
    blocks = (
        engine.index.postings()
        .filter(F.col("term").isin(list(terms)))
        .join(F.broadcast(keys_df), ["term", "block_id", "base_doc"], "semi")
    )
    return _score_decoded(engine, terms, weights, idf_by_term, avgdl, blocks)
