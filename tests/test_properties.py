"""Randomized / property tests (SURVEY.md §5 — the reference's
randomized-runner culture): rank stability across segment counts,
rank identity vs the pure-Python oracle on random corpora, score
monotonicity in tf.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.oracle import OracleIndex
from opensearch_spark.query.executor import SearchEngine


def test_rank_stable_across_segment_counts(spark, tmp_path, oracle):
    """The same corpus indexed with N and 4N segments must return
    identical results — partitioning is an execution detail, never a
    semantic one (the north rule's partition-count invariance)."""
    from opensearch_spark.transcripts import generate

    docs = generate(spark, 150, partitions=4)
    engines = []
    for n_seg in (4, 16):
        d = str(tmp_path / f"seg{n_seg}")
        build_index(spark, docs, d, IndexConfig(n_segments=n_seg))
        engines.append(SearchEngine(InvertedIndex(spark, d)))
    for q in [
        {"match": {"text": "error handling"}},
        {"match": {"text": "the"}},
        {"match_phrase": {"text": "error handling"}},
    ]:
        a = engines[0].search(q, size=10).collect()
        b = engines[1].search(q, size=10).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in a] == [
            (r["conv_id"], r["turn_idx"]) for r in b
        ], q
        for ra, rb in zip(a, b):
            assert ra["score"] == pytest.approx(rb["score"], rel=1e-9)


def _random_corpus(seed: int, n_docs: int = 400) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    vocab = np.array(
        [f"w{i}" for i in range(30)] + ["error", "handling", "the", "café", "x" * 300],
        dtype=object,
    )
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, 40)
        text = " ".join(rng.choice(vocab, size=n)) if n else ""
        rows.append(
            {
                "conv_id": f"c{i // 7:06d}",
                "turn_idx": int(i % 7),
                "role": ["user", "assistant", "tool"][i % 3],
                "text": text,
                "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
            }
        )
    return pd.DataFrame(rows)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_corpus_rank_identity(spark, tmp_path, seed):
    """Random corpora (empty docs, repeated tokens, >255-char tokens,
    unicode) — engine top-k must equal the oracle."""
    pdf = _random_corpus(seed)
    docs = spark.createDataFrame(pdf)
    d = str(tmp_path / f"rnd{seed}")
    build_index(spark, docs, d, IndexConfig(n_segments=4))
    eng = SearchEngine(InvertedIndex(spark, d))
    orc = OracleIndex(pdf.to_dict("records"))
    for qtext, op in [("error handling", "or"), ("error handling", "and"), ("the", "or")]:
        rows = eng.search(
            {"match": {"text": {"query": qtext, "operator": op}}}, size=10
        ).collect()
        gold = orc.topk(orc.match(qtext, operator=op), 10)
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [g[0] for g in gold], (
            seed, qtext, op,
        )
        for r, (gid, gs) in zip(rows, gold):
            assert r["score"] == pytest.approx(gs, rel=1e-6)


def test_score_monotone_in_tf(oracle):
    """BM25 invariant: with df/dl fixed, more occurrences never lower
    the score; quantized dl never exceeds raw dl's bucket ordering."""
    idf = oracle.idf("error") if "error" in oracle.post else 1.5
    prev = -1.0
    for tf in range(1, 30):
        s = oracle.term_score(tf, idf, 40)
        assert s >= prev
        prev = s


@pytest.fixture(scope="module")
def codec_dirs(spark, tmp_path_factory):
    """The same 120-conversation corpus indexed once per block codec."""
    from opensearch_spark.transcripts import generate

    docs = generate(spark, 120, partitions=4)
    root = tmp_path_factory.mktemp("codecs")
    dirs = {}
    for name in ("varint", "for"):
        dirs[name] = str(root / name)
        build_index(spark, docs, dirs[name], IndexConfig(n_segments=4, codec=name))
    return dirs


def test_for_codec_index_equivalent(spark, tmp_path, codec_dirs):
    """An index built with the FOR block codec returns results identical
    to the varint index (format choice is invisible to queries), and
    survives merge/compaction."""
    from opensearch_spark.index.merge import merge_index

    dirs = {name: SearchEngine(InvertedIndex(spark, d)) for name, d in codec_dirs.items()}
    for q in [
        {"match": {"text": "error handling"}},
        {"match_phrase": {"text": "error handling"}},
        {"match": {"text": "the"}},
    ]:
        a = dirs["varint"].search(q, size=10).collect()
        b = dirs["for"].search(q, size=10).collect()
        assert a == b, q
    md = str(tmp_path / "for_merged")
    merge_index(spark, codec_dirs["for"], md, hot_blocks=2)
    meng = SearchEngine(InvertedIndex(spark, md))
    q = {"match_phrase": {"text": "error handling"}}
    assert dirs["for"].search(q, size=10).collect() == meng.search(q, size=10).collect()


PINNED_IDENTITY_QUERIES = [
    {"match": {"text": "handling"}},
    {"match": {"text": "error handling timeout"}},
    {"match": {"text": {"query": "error handling", "operator": "and"}}},
    {"match": {"text": {"query": "slow query planner", "minimum_should_match": 2}}},
    {"term": {"text": "timeout"}},
    {"term": {"text": "Timeout"}},  # absent: indexed terms are lower-cased
    {"match_phrase": {"text": "error handling"}},
    {"match_phrase": {"text": {"query": "slow planner", "slop": 2}}},
    {"intervals": {"text": {"match": {"query": "slow planner", "max_gaps": 2}}}},
    {"span_near": {"clauses": [{"span_term": {"text": "error"}},
                               {"span_term": {"text": "handling"}}],
                   "slop": 2, "in_order": True}},
]


@pytest.mark.parametrize("codec_name", ["varint", "for"])
def test_persisted_postings_identity(spark, codec_dirs, codec_name):
    """A persisted index serves postings from its decoded pin; an
    unpersisted one decodes blocks per query.  Every scoring family
    (term, boolean match, phrase, sloppy phrase, intervals, spans) must
    return identical rows and scores from both sources."""
    plain = SearchEngine(InvertedIndex(spark, codec_dirs[codec_name]))
    idx = InvertedIndex(spark, codec_dirs[codec_name]).persist()
    try:
        pinned = SearchEngine(idx)
        for q in PINNED_IDENTITY_QUERIES:
            want = plain.search(q, size=50).collect()
            assert pinned.search(q, size=50).collect() == want, q
            assert want or q == {"term": {"text": "Timeout"}}, q  # not vacuous
    finally:
        idx.unpersist()


def test_persisted_answers_ignore_session_config(spark, codec_dirs):
    """The pins are partitioned once, at persist time (here into 4); a
    later partition count of 1 or 8, or AQE off, must not change a
    persisted index's rows or scores, which equal the unpersisted
    index's."""
    plain = SearchEngine(InvertedIndex(spark, codec_dirs["varint"]))
    want = [plain.search(q, size=50).collect() for q in PINNED_IDENTITY_QUERIES]
    conf = spark.conf
    saved = {k: conf.get(k) for k in
             ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    idx = InvertedIndex(spark, codec_dirs["varint"])
    try:
        conf.set("spark.sql.shuffle.partitions", "4")
        pinned = SearchEngine(idx.persist())
        for setting in ({"spark.sql.shuffle.partitions": "1"},
                        {"spark.sql.shuffle.partitions": "8"},
                        {"spark.sql.adaptive.enabled": "false"}):
            for k, v in {**saved, **setting}.items():
                conf.set(k, v)
            for q, w in zip(PINNED_IDENTITY_QUERIES, want):
                assert pinned.search(q, size=50).collect() == w, (setting, q)
    finally:
        idx.unpersist()
        for k, v in saved.items():
            conf.set(k, v)


def test_statement_answers_ignore_session_config(spark, codec_dirs):
    """A search's query phase is one SQL statement with literals
    rendered by ``sqltext``: under backslash-escaped string literals, a
    non-UTC session time zone and AQE off, persisted and unpersisted
    handles return the rows and scores of the default config."""
    d = codec_dirs["varint"]
    want = [SearchEngine(InvertedIndex(spark, d)).search(q, size=50).collect()
            for q in PINNED_IDENTITY_QUERIES]
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.parser.escapedStringLiterals", "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled")}
    idx = InvertedIndex(spark, d)
    try:
        engines = {"unpersisted": SearchEngine(InvertedIndex(spark, d)),
                   "persisted": SearchEngine(idx.persist())}
        for setting in ({"spark.sql.parser.escapedStringLiterals": "true"},
                        {"spark.sql.session.timeZone": "Asia/Kolkata"},
                        {"spark.sql.adaptive.enabled": "false"}):
            for k, v in {**saved, **setting}.items():
                conf.set(k, v)
            for name, eng in engines.items():
                for q, w in zip(PINNED_IDENTITY_QUERIES, want):
                    assert eng.search(q, size=50).collect() == w, (setting, name, q)
    finally:
        idx.unpersist()
        for k, v in saved.items():
            conf.set(k, v)


def test_unpersist_releases_every_pin(spark, codec_dirs):
    """``unpersist()`` drops every frame ``persist()`` and the WAND
    ``block_meta()`` pinned: no persistent RDD is left behind, and the
    cache manager holds none of the frames."""
    from pyspark import StorageLevel

    jsc = spark.sparkContext._jsc
    rdds = lambda: set(jsc.getPersistentRDDs().keySet().toArray())
    before = rdds()
    idx = InvertedIndex(spark, codec_dirs["varint"]).persist()
    idx.block_meta().count()
    pins = ("_postings_df", "_docmap_df", "_dictionary_df", "_decoded_df", "_block_meta_df")
    frames = [idx.__dict__[k] for k in pins]
    none = StorageLevel(False, False, False, False, 1)
    assert len(rdds() - before) == len(pins)
    assert all(df.storageLevel != none for df in frames)
    idx.unpersist()
    assert rdds() == before
    assert all(df.storageLevel == none for df in frames)


def test_simple_query_string_is_lenient():
    """simple_query_string must NEVER raise on malformed input
    (SimpleQueryStringQueryParser leniency) — property-tested over
    adversarial operator soup."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from opensearch_spark.query.querystring import parse_simple_query_string

    alphabet = 'ab c|+-()"*~123 '

    @given(st.text(alphabet=alphabet, max_size=40))
    @settings(max_examples=300, deadline=None)
    def check(s):
        parse_simple_query_string(s)  # must not raise

    check()


def test_wide_query_sweep_rank_identity(engine, oracle, corpus_pdf):
    """North-rule reinforcement (r5): a wide deterministic sweep of
    vocabulary-drawn queries — single-term, multi-term OR/AND, and
    phrases — must be rank- AND score-identical to the pure-Python
    oracle on the standard corpus."""
    import itertools

    # deterministic vocabulary sample: frequent + mid + rare terms
    from collections import Counter

    cnt = Counter()
    for t in corpus_pdf["text"]:
        cnt.update(x for x in t.split(" ") if x)
    by_freq = [w for w, _ in cnt.most_common()]
    vocab = (by_freq[:8]                      # stopword-ish heads
             + by_freq[len(by_freq) // 2:len(by_freq) // 2 + 8]
             + by_freq[-8:])                  # rare tail

    queries = []
    for i, w in enumerate(vocab):
        queries.append((w, "or"))
    for i in range(0, len(vocab) - 2, 3):
        queries.append((f"{vocab[i]} {vocab[i + 1]}", "or"))
        queries.append((f"{vocab[i]} {vocab[i + 2]}", "and"))

    checked = 0
    for qtext, op in queries:
        rows = engine.search(
            {"match": {"text": {"query": qtext, "operator": op}}}, size=10
        ).collect()
        gold = oracle.topk(oracle.match(qtext, operator=op), 10)
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == \
            [g[0] for g in gold], (qtext, op)
        for r, (_, gs) in zip(rows, gold):
            assert r["score"] == pytest.approx(gs, rel=1e-6), (qtext, op)
        checked += 1
    # phrases from real adjacent bigrams
    bigrams = []
    for t in corpus_pdf["text"][:200]:
        toks = [x for x in t.split(" ") if x]
        for a, b in zip(toks, toks[1:]):
            bigrams.append(f"{a} {b}")
            if len(bigrams) >= 6:
                break
        if len(bigrams) >= 6:
            break
    for ph in dict.fromkeys(bigrams):
        rows = engine.search({"match_phrase": {"text": ph}}, size=10).collect()
        gold = oracle.topk(oracle.phrase(ph), 10)
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == \
            [g[0] for g in gold], ph
        checked += 1
    assert checked >= 40, checked
