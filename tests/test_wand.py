"""Block-max WAND pruning: rank-identity + pruning-rate invariants.

The pruned scorer must return the EXACT same top-k (ids and scores) as
the dense scorer — the safety proof in ``query/wand.py`` — while
skipping a meaningful fraction of block decodes for skewed terms.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensearch_spark.query import wand

QUERIES = [
    {"match": {"text": "error handling"}},
    {"match": {"text": "timeout"}},
    {"match": {"text": "the"}},  # hot stopword-frequency term
    {"match": {"text": "the error timeout"}},
    {"term": {"text": "handling"}},
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_pruned_rank_identical(engine, qi):
    q = QUERIES[qi]
    dense = engine.search(q, size=10).collect()
    pruned = engine.search(q, size=10, prune=True).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in dense] == [
        (r["conv_id"], r["turn_idx"]) for r in pruned
    ]
    for a, b in zip(dense, pruned):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)


def test_pruning_actually_prunes(engine):
    """On a skewed term mix the metadata pass must drop blocks."""
    out = wand.pruned_match_topk(engine, {"the": 1, "error": 1}, k=10)
    if "_pruned_frac" in out.columns:
        frac = out.select(F.max("_pruned_frac")).collect()[0][0]
        assert frac is not None and frac > 0.0, "no blocks pruned on a skewed query"


@pytest.mark.parametrize("qi", [0, 2, 3])
def test_distributed_prune_path_rank_identical(engine, monkeypatch, qi):
    """Force the no-driver-collect scale path (global-bound prune) and
    assert it is still rank-identical."""
    monkeypatch.setattr(wand, "MAX_DRIVER_META_BLOCKS", 0)
    q = QUERIES[qi]
    dense = engine.search(q, size=10).collect()
    pruned = engine.search(q, size=10, prune=True).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in dense] == [
        (r["conv_id"], r["turn_idx"]) for r in pruned
    ]
    for a, b in zip(dense, pruned):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)


def test_pruned_rare_term_fallback(engine):
    """Fewer hits than k -> dense fallback keeps correctness."""
    q = {"match": {"text": "naïve"}}
    dense = engine.search(q, size=10).collect()
    pruned = engine.search(q, size=10, prune=True).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in dense] == [
        (r["conv_id"], r["turn_idx"]) for r in pruned
    ]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_auto_prune_decision_sums_dictionary_blocks(engine, monkeypatch, qi):
    """AUTO prunes exactly when the query terms' dictionary ``n_blocks``
    reach ``WAND_AUTO_MIN_BLOCKS``; on the test index no query does."""
    from opensearch_spark.query import dsl as Q
    from opensearch_spark.query import executor

    q = Q.from_dict(QUERIES[qi])
    tokens = engine.index.analyze(q.query) if isinstance(q, Q.Match) else [str(q.value)]
    blocks = int(engine.index.term_stats(tokens)["n_blocks"].sum())
    assert blocks == engine.index.n_blocks(tokens) > 0
    assert not engine._wand_auto(q)
    monkeypatch.setattr(executor, "WAND_AUTO_MIN_BLOCKS", blocks)
    assert engine._wand_auto(q)
    monkeypatch.setattr(executor, "WAND_AUTO_MIN_BLOCKS", blocks + 1)
    assert not engine._wand_auto(q)


def test_dictionary_gate_bails_before_metadata(spark, index_dir):
    """A query whose terms all have fewer than k blocks has no metadata
    threshold, and its decode sample would cover most of its blocks:
    the driver path scores it densely, decided from the term-stats memo
    before ``block_meta()`` is pinned or any job runs, and the answer
    equals dense."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    from test_plans import _jobs_in_group

    idx = InvertedIndex(spark, index_dir)
    idx._load_term_stats()
    memo = idx.__dict__["_term_stats_cache"]
    # the two most frequent terms a 4-block sample would mostly cover
    few = [t for t, v in memo.items()
           if v and v[2] < 10 and min(v[2], 4) > wand.MAX_KEPT_FRACTION * v[2]]
    terms = sorted(few, key=lambda t: (-memo[t][0], t))[:2]
    assert len(terms) == 2 and min(memo[t][0] for t in terms) >= 10, terms
    q = {"match": {"text": " ".join(terms)}}
    dense = SearchEngine(InvertedIndex(spark, index_dir)).search(q, size=10).collect()

    eng = SearchEngine(idx)
    wand.LAST_PRUNE_STATS.clear()
    planned = []
    assert _jobs_in_group(
        spark, "dictionary-gate", lambda: planned.append(eng.search(q, size=10, prune=True))
    ) == 0
    assert wand.LAST_PRUNE_STATS["bailed"]
    assert "_block_meta_df" not in idx.__dict__
    pruned = planned[0].collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in dense] == [
        (r["conv_id"], r["turn_idx"]) for r in pruned
    ]
    for a, b in zip(dense, pruned):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)
