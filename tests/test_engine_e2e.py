"""End-to-end rank-identity: Spark engine vs pure-Python oracle
(the FIXTURES.md §3 query battery over deterministic synthetic transcripts).
"""

import datetime as dt

import pytest

from tests.conftest import assert_rank_identical


def test_match_single_term(engine, oracle):
    rows = engine.search({"match": {"text": "handling"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.match("handling"), 10))


def test_match_multi_or(engine, oracle):
    rows = engine.search({"match": {"text": "error handling"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.match("error handling"), 10))


def test_match_multi_and(engine, oracle):
    q = {"match": {"text": {"query": "error handling", "operator": "and"}}}
    rows = engine.search(q, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.match("error handling", "and"), 10))


def test_minimum_should_match(engine, oracle):
    q = {"match": {"text": {"query": "slow query planner", "minimum_should_match": 2}}}
    rows = engine.search(q, size=10).collect()
    gold = oracle.topk(
        oracle.match("slow query planner", minimum_should_match=2), 10
    )
    assert_rank_identical(rows, gold)


def test_term_no_analysis(engine, oracle):
    rows = engine.search({"term": {"text": "timeout"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.term("timeout"), 10))


def test_term_case_sensitive_zero_hits(engine):
    assert engine.search({"term": {"text": "Error"}}, size=10).count() == 0


def test_match_phrase(engine, oracle):
    rows = engine.search({"match_phrase": {"text": "error handling"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.phrase("error handling"), 10))


def test_phrase_stricter_than_and(engine, oracle):
    """phrase hits ⊆ AND hits."""
    and_ids = {
        (r["conv_id"], r["turn_idx"])
        for r in engine.search(
            {"match": {"text": {"query": "slow query", "operator": "and"}}}, size=10000
        ).collect()
    }
    ph_ids = {
        (r["conv_id"], r["turn_idx"])
        for r in engine.search({"match_phrase": {"text": "slow query"}}, size=10000).collect()
    }
    assert ph_ids <= and_ids


def test_hot_term_high_df(engine, oracle):
    """Stopword-frequency term ('the' is ~30% of tokens) — skew path."""
    rows = engine.search({"match": {"text": "the"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.match("the"), 10))


def test_bool_must_filter_mustnot(engine, oracle):
    q = {
        "bool": {
            "must": [{"match": {"text": "error handling"}}],
            "filter": [{"range": {"ts": {"gte": "2026-01-01 00:30:00"}}}],
            "must_not": [{"term": {"role": "tool"}}],
        }
    }
    rows = engine.search(q, size=10).collect()
    gold_scores = oracle.apply_bool(
        oracle.match("error handling"),
        filter_ids=oracle.filter_ids(
            lambda r: r["ts"] >= dt.datetime(2026, 1, 1, 0, 30)
        ),
        must_not_ids=oracle.filter_ids(lambda r: r["role"] == "tool"),
    )
    assert_rank_identical(rows, oracle.topk(gold_scores, 10))


def test_bool_should_sums_scores(engine, oracle):
    q = {
        "bool": {
            "should": [
                {"match": {"text": "timeout"}},
                {"match": {"text": "traceback"}},
            ]
        }
    }
    rows = engine.search(q, size=10).collect()
    a = oracle.match("timeout")
    b = oracle.match("traceback")
    merged = {d: a.get(d, 0.0) + b.get(d, 0.0) for d in set(a) | set(b)}
    assert_rank_identical(rows, oracle.topk(merged, 10))


def test_zero_terms_query(engine):
    assert engine.search({"match": {"text": ""}}, size=10).count() == 0


def test_size_larger_than_hits(engine, oracle):
    q = {"match": {"text": {"query": "error handling", "operator": "and"}}}
    rows = engine.search(q, size=5000).collect()
    assert len(rows) == len(oracle.match("error handling", "and"))


def test_pagination_consistent(engine):
    q = {"match": {"text": "timeout retry-loop"}}
    full = engine.search(q, size=10).collect()
    page = engine.search(q, size=5, from_=5).collect()
    assert [tuple(r) for r in full[5:10]] == [tuple(r) for r in page]


def test_tie_break_deterministic(engine):
    """Constant-score query: all scores equal -> order must be id order."""
    q = {"constant_score": {"filter": {"term": {"role": "tool"}}}}
    rows = engine.search(q, size=20).collect()
    ids = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert ids == sorted(ids)
    assert all(r["score"] == 1.0 for r in rows)


def test_count_matches_oracle(engine, oracle):
    assert engine.count({"match": {"text": "error handling"}}) == len(
        oracle.match("error handling")
    )


def test_prefix_expansion(engine, oracle):
    rows = engine.search({"prefix": {"text": "retry"}}, size=10000).collect()
    gold_ids = {
        (oracle.rows[d]["conv_id"], oracle.rows[d]["turn_idx"])
        for t, plist in oracle.post.items()
        if t.startswith("retry")
        for d in plist
    }
    assert {(r["conv_id"], r["turn_idx"]) for r in rows} == gold_ids


def test_exists_and_range(engine, oracle):
    rows = engine.search(
        {"bool": {"filter": [{"exists": {"field": "tool"}}]}}, size=100000
    ).collect()
    gold = oracle.filter_ids(lambda r: r["tool"] is not None)
    assert len(rows) == len(gold)


def test_dis_max(engine, oracle):
    q = {
        "dis_max": {
            "queries": [
                {"match": {"text": "timeout"}},
                {"match": {"text": "traceback"}},
            ],
            "tie_breaker": 0.3,
        }
    }
    rows = engine.search(q, size=10).collect()
    a = oracle.match("timeout")
    b = oracle.match("traceback")
    merged = {}
    for d in set(a) | set(b):
        s = sorted([a.get(d, 0.0), b.get(d, 0.0)], reverse=True)
        merged[d] = s[0] + 0.3 * s[1]
    assert_rank_identical(rows, oracle.topk(merged, 10))


def test_source_fetch(engine, corpus_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the BASELINE.json per-row invariant, via the fetch phase."""
    rows = engine.search(
        {"match": {"text": "error handling"}}, size=10, source_cols=["text", "role"]
    ).collect()
    src = corpus_pdf.set_index(["conv_id", "turn_idx"])
    for r in rows:
        assert r["text"] == src.loc[(r["conv_id"], r["turn_idx"])]["text"]


def test_rank_stable_across_segment_counts(spark, oracle, tmp_path):
    """Partition-count invariance: N=3 segments gives identical results
    to the N=8 fixture index (SURVEY.md §5 invariant 4)."""
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine
    from opensearch_spark.transcripts import generate
    from tests.conftest import N_CONVS

    d = str(tmp_path / "idx3")
    docs = generate(spark, N_CONVS, partitions=2)
    build_index(spark, docs, d, IndexConfig(n_segments=3))
    eng3 = SearchEngine(InvertedIndex(spark, d))
    rows = eng3.search({"match": {"text": "error handling"}}, size=10).collect()
    assert_rank_identical(rows, oracle.topk(oracle.match("error handling"), 10))


def test_persist_index_without_postings(spark, tmp_path):
    """An index whose every text is empty has no postings partition;
    ``persist()`` pins it through the same missing-path guard as an
    unpersisted read, and searches on it return no hits either way."""
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine
    from opensearch_spark.transcripts import generate, generate_pandas

    schema = generate(spark, 0).schema
    pdf = generate_pandas([0]).head(2).assign(text="")
    d = str(tmp_path / "empty_text")
    build_index(spark, spark.createDataFrame(pdf[schema.fieldNames()], schema=schema), d,
                IndexConfig(n_segments=2))
    q = {"match": {"text": "error"}}
    assert SearchEngine(InvertedIndex(spark, d)).search(q, size=10).collect() == []
    idx = InvertedIndex(spark, d).persist()
    try:
        assert SearchEngine(idx).search(q, size=10).collect() == []
        assert idx.postings_for_terms(["error"], with_positions=True).collect() == []
    finally:
        idx.unpersist()


def test_pack_shards_tape_replay(spark):
    """pack_shards = concat-then-chunk on the deterministic
    (id mod stripes, id) tape: the distributed two-phase prefix sum
    must equal a driver-side tape replay exactly; a doc crossing a
    budget boundary is flagged as spilling."""
    import pytest as _pytest

    from opensearch_spark.ops.textstats import pack_shards

    rows = [(i, (i * 37) % 90 + 1) for i in range(101)]  # uneven sizes
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = {
        r["doc_id"]: (r["shard_id"], r["shard_pos"], r["spills"])
        for r in pack_shards(df, 128, n_stripes=4).collect()
    }
    cum, want = 0, {}
    for s, i, n in sorted((i % 4, i, n) for i, n in rows):
        want[i] = (
            cum // 128,
            cum % 128,
            1 if n > 0 and (cum + n - 1) // 128 > cum // 128 else 0,
        )
        cum += n
    assert out == want
    assert sum(v[2] for v in want.values()) > 0  # fixture exercises spills
    with _pytest.raises(ValueError, match="positive"):
        pack_shards(df, 0)


def test_repetition_signals_replay(spark):
    """Gopher repetition signals == a driver-side replay of the
    documented formulas (top-n-gram char fraction as max of
    count*char_len, duplicate-n-gram excess chars, adjacent repeats);
    edge docs (empty, one token) return zeros instead of crashing."""
    from collections import Counter

    from opensearch_spark.ops.textstats import repetition_signals

    texts = {
        0: "a b a b a b c",            # heavy 2-gram repetition
        1: "x y z x y z x y z q q",     # repeated 3-grams + adjacent q q
        2: "one two three four five six seven",  # no repetition
        3: "w w w w w w",               # degenerate all-same (dup 5-grams)
        4: "solo",                       # 1 token: adj undefined -> 0
        5: "",                           # empty: all zeros
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["top2_frac"], r["top3_frac"], r["dup5_frac"], r["adj_rep_frac"]
        )
        for r in repetition_signals(df, top_ns=(2, 3), dup_ns=(5,)).collect()
    }
    for i, t in texts.items():
        toks = [x for x in t.split(" ") if x]
        chars = sum(len(x) for x in toks) or 1
        def grams(n):
            return Counter(
                " ".join(toks[p : p + n]) for p in range(len(toks) - n + 1)
            )
        def top(n):
            g = grams(n)
            return round(
                max((c * (len(s) - (n - 1)) for s, c in g.items()), default=0)
                / chars, 6,
            )
        def dup(n):
            g = grams(n)
            return round(
                sum((c - 1) * (len(s) - (n - 1)) for s, c in g.items() if c > 1)
                / chars, 6,
            )
        adj = round(
            sum(1 for p in range(1, len(toks)) if toks[p] == toks[p - 1])
            / (len(toks) - 1), 6,
        ) if len(toks) > 1 else 0.0
        assert got[i] == (top(2), top(3), dup(5), adj), (i, t)
    assert got[3][2] > 0        # dup-5-gram path is exercised non-vacuously
    # doc 2 hand-check: 27 token chars; heaviest 2-gram "three four"
    # (9 chars), heaviest 3-gram "three four five" (13); no repeats
    assert got[2] == (round(9 / 27, 6), round(13 / 27, 6), 0.0, 0.0)


def test_pii_scrub_order_and_counts(spark):
    """PII scrub: SSN claimed before the phone pattern (an SSN body
    also parses as a phone), digit-free tags are not re-matched, and
    counts reflect non-overlapping leftmost matches."""
    from opensearch_spark.ops.textstats import pii_scrub

    rows = [
        (0, "mail a.b+c@ex-y.co and 10.0.0.1 then call +1 555 010 1234 ok"),
        (1, "ssn 123-45-6789 twice 123-45-6789"),
        (2, "no pii here at all"),
        (3, "two mails x@y.io z@w.dev and ip 255.255.255.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(df).collect()}
    assert got[0]["scrubbed"] == "mail <EMAIL> and <IPV4> then call +<PHONE> ok"
    assert (got[0]["n_email"], got[0]["n_ipv4"], got[0]["n_phone"]) == (1, 1, 1)
    # SSNs must NOT fall through to the phone pattern
    assert got[1]["scrubbed"] == "ssn <SSN> twice <SSN>"
    assert (got[1]["n_ssn"], got[1]["n_phone"]) == (2, 0)
    assert got[2]["scrubbed"] == rows[2][1]
    assert sum(v for k, v in got[2].items() if k.startswith("n_")) == 0
    assert got[3]["scrubbed"] == "two mails <EMAIL> <EMAIL> and ip <IPV4>"
