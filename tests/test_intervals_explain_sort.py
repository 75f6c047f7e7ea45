"""Intervals/span queries, field sort, and the _explain breakdown.

Interval ground truth is brute-forced over the corpus with an
INDEPENDENT enumerator (all candidate windows, minimality by
containment), not the engine's algorithm.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.analysis import smallfloat as sfl
from opensearch_spark.query import bm25
from opensearch_spark.query import dsl as Q


def _exists_interval(tokens, terms, max_gaps, ordered):
    """Membership ground truth: does ANY chain of the terms (ordered
    subsequence when ordered, any arrangement otherwise) fit within the
    gap budget?  (A satisfying chain contains a minimal interval of
    equal-or-smaller width, so existence matches the engine's
    minimal-interval count > 0.)"""
    import itertools

    pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in set(terms)}
    if any(not v for v in pos.values()):
        return False
    if ordered:
        def chains(prev, idx):
            if idx == len(terms):
                yield []
                return
            for p in pos[terms[idx]]:
                if p > prev:
                    for rest in chains(p, idx + 1):
                        yield [p] + rest

        for ch in chains(-1, 0):
            if max_gaps < 0 or (ch[-1] - ch[0] + 1 - len(terms)) <= max_gaps:
                return True
        return False
    ts = sorted(set(terms))
    k = len(ts)
    for combo in itertools.product(*[pos[t] for t in ts]):
        if len(set(combo)) < k:
            continue
        if max_gaps < 0 or (max(combo) - min(combo) + 1 - k) <= max_gaps:
            return True
    return False


@pytest.mark.parametrize(
    "terms,max_gaps,ordered",
    [
        (["error", "handling"], 0, True),
        (["error", "handling"], 3, True),
        (["handling", "error"], 4, False),
        (["slow", "planner"], 1, True),
    ],
)
def test_intervals_membership(engine, corpus_pdf, terms, max_gaps, ordered):
    q = Q.Intervals("text", " ".join(terms), max_gaps=max_gaps, ordered=ordered)
    rows = engine.search(q, size=5000).collect()
    got = {(r["conv_id"], r["turn_idx"]) for r in rows}
    expect = set()
    for r in corpus_pdf.itertuples():
        toks = ana.tokenize(r.text)
        if _exists_interval(toks, terms, max_gaps, ordered):
            expect.add((r.conv_id, r.turn_idx))
    assert got == expect


def test_span_near_equals_intervals(engine):
    a = engine.search(
        Q.SpanNear("text", ["error", "handling"], slop=2, in_order=True), size=100
    ).collect()
    b = engine.search(
        Q.Intervals("text", "error handling", max_gaps=2, ordered=True), size=100
    ).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in a] == [
        (r["conv_id"], r["turn_idx"]) for r in b
    ]


def test_field_sort(engine):
    rows = engine.search(
        {"match": {"text": "error"}}, size=15, sort=[("ts", "desc")]
    ).collect()
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)
    rows2 = engine.search(
        {"match": {"text": "error"}}, size=15, sort=[("role", "asc"), ("_score", "desc")]
    ).collect()
    roles = [r["role"] for r in rows2]
    assert roles == sorted(roles)


def test_explain_components(engine, corpus_pdf, oracle):
    rows = engine.search({"match": {"text": "error handling"}}, size=1).collect()
    key = (rows[0]["conv_id"], rows[0]["turn_idx"])
    exp = engine.explain({"match": {"text": "error handling"}}, key)
    assert exp["matched"]
    # components must recompose to the reported search score
    assert exp["total"] == pytest.approx(rows[0]["score"], rel=1e-6)
    toks = {
        (r.conv_id, r.turn_idx): ana.tokenize(r.text) for r in corpus_pdf.itertuples()
    }
    doc_toks = toks[key]
    for d in exp["details"]:
        if d.get("matched"):
            assert d["tf"] == doc_toks.count(d["term"])
            assert d["dl"] == len(doc_toks)
            assert d["dl_quantized"] == int(
                sfl.quantize_len(np.array([len(doc_toks)]))[0]
            )
            df_true = sum(1 for t in toks.values() if d["term"] in t)
            assert d["df"] == df_true
            assert d["idf"] == pytest.approx(
                math.log(1 + (exp["doc_count"] - df_true + 0.5) / (df_true + 0.5))
            )


def test_phrase_slop(engine, corpus_pdf):
    """slop>0 phrase = Lucene sloppy matching (in- and out-of-order
    within slop): matches across interleaving tokens, superset of
    slop=0."""
    exact = {
        (r["conv_id"], r["turn_idx"])
        for r in engine.search({"match_phrase": {"text": "error handling"}}, size=5000).collect()
    }
    sloppy = {
        (r["conv_id"], r["turn_idx"])
        for r in engine.search(
            {"match_phrase": {"text": {"query": "error handling", "slop": 2}}}, size=5000
        ).collect()
    }
    assert exact <= sloppy
    expect = set()
    for r in corpus_pdf.itertuples():
        toks = ana.tokenize(r.text)
        if _exists_interval(toks, ["error", "handling"], 2, True):
            expect.add((r.conv_id, r.turn_idx))
    assert sloppy == expect


def test_scan_scroll(engine):
    """scan() pages through the full result set without overlap/loss."""
    q = {"match": {"text": "error"}}
    total = engine.count(q)
    seen = []
    for batch in engine.scan(q, batch_size=97):
        seen.extend((r["conv_id"], r["turn_idx"]) for r in batch)
    assert len(seen) == total
    assert len(set(seen)) == total  # no duplicates across pages


def test_mtermvectors(engine):
    """_mtermvectors = batched termvectors with a doc discriminator."""
    single = {r["term"]: r["tf"] for r in engine.termvectors(("conv-00000001", 0)).collect()}
    batch = engine.mtermvectors([("conv-00000001", 0), ("conv-00000002", 0)]).collect()
    docs = {r["doc"] for r in batch}
    assert docs == {"conv-00000001:0", "conv-00000002:0"}
    got = {r["term"]: r["tf"] for r in batch if r["doc"] == "conv-00000001:0"}
    assert got == single


def test_intervals_multiterm_sources(engine):
    """intervals prefix/wildcard/fuzzy sources expand against the term
    dictionary and behave as that slot's any_of union
    (IntervalsSourceProvider Prefix/Wildcard/Fuzzy; r3)."""
    from opensearch_spark.query import dsl as Q

    # prefix source must equal the explicit any_of over its expansions
    exp = engine._expand_terms(Q.Prefix("text", "error"))
    assert exp, "fixture corpus has no 'error*' terms?"
    via_prefix = {
        r["_docid"]: r["score"]
        for r in engine._score(
            Q.from_dict({"intervals": {"text": {"prefix": {"prefix": "error"}}}})
        ).collect()
    }
    via_any_of = {
        r["_docid"]: r["score"]
        for r in engine._score(
            Q.Intervals("text", any_of_groups=[list(exp)], max_gaps=-1, ordered=False)
        ).collect()
    }
    assert via_prefix == via_any_of and via_prefix
    # fuzzy source parses and matches at least the exact term's docs
    fz = engine._score(
        Q.from_dict({"intervals": {"text": {"fuzzy": {"term": "error", "fuzziness": 1}}}})
    ).count()
    exact = engine._score(
        Q.Intervals("text", any_of_groups=[["error"]], max_gaps=-1, ordered=False)
    ).count()
    assert fz >= exact > 0


def test_mget(engine):
    """_mget = batched stored-fields fetch by id, id-ordered, one scan."""
    rows = engine.mget(
        [("conv-00000002", 0), ("conv-00000001", 0)], source_cols=["role"]
    ).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [
        ("conv-00000001", 0),
        ("conv-00000002", 0),
    ]
    assert all(r["role"] is not None for r in rows)
    empty = engine.mget([], source_cols=["role"])
    assert empty.count() == 0
    assert "role" in empty.columns  # schema stable even for no ids
    with pytest.raises(ValueError, match="components"):
        engine.mget([("conv-00000001",)])
    # the id predicate must reach the parquet scan (no full docmap scan
    # per fetch) — build an engine on the raw (unpersisted) index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    raw = SearchEngine(InvertedIndex(engine.spark, engine.index.index_dir))
    df = raw.mget([("conv-00000001", 0)], source_cols=["role"])
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "conv_id" in l
    ]
    assert pushed, plan


def test_explain_generic_and_bool_tree(engine, oracle):
    # late-r3 scope closure: explain any query type generically and
    # bool as a clause tree, both via the real compiled scorer
    term = oracle.tokens[0][0]
    hit = engine.search({"match_phrase": {"text": " ".join(oracle.tokens[0][:2])}},
                        size=1).collect()
    if hit:
        d = (hit[0]["conv_id"], hit[0]["turn_idx"])
        out = engine.explain(
            {"match_phrase": {"text": " ".join(oracle.tokens[0][:2])}}, d
        )
        assert out["matched"] and out["value"] > 0
    b = {"bool": {"must": [{"match": {"text": term}}],
                  "filter": [{"term": {"role": "user"}}],
                  "must_not": [{"term": {"role": "tool"}}]}}
    top = engine.search(b, size=1).collect()[0]
    out = engine.explain(b, (top["conv_id"], top["turn_idx"]))
    assert out["matched"] and out["value"] == pytest.approx(top["score"], rel=1e-6)
    roles = {c["role"] for c in out["details"]}
    assert roles == {"must", "filter", "must_not"}
    must = next(c for c in out["details"] if c["role"] == "must")
    assert must["matched"] and must["value"] > 0
    # a non-matching doc explains as unmatched, not an error
    miss = engine.explain({"term": {"role": "nonexistent_role"}},
                          (top["conv_id"], top["turn_idx"]))
    assert miss == {"matched": False, "value": None,
                    "description": miss["description"]}


def test_explain_tombstoned_doc_reports_deleted(spark, tmp_path, corpus_pdf):
    # review finding: explain must share search's tombstone visibility
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.lifecycle import delete_by_query
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine
    from opensearch_spark.transcripts import generate

    d = str(tmp_path / "exp_del")
    build_index(spark, generate(spark, 60, partitions=2), d,
                IndexConfig(n_segments=2))
    eng = SearchEngine(InvertedIndex(spark, d))
    top = eng.search({"match": {"text": "the"}}, size=1).collect()[0]
    key = (top["conv_id"], top["turn_idx"])
    assert eng.explain({"match": {"text": "the"}}, key)["matched"]
    delete_by_query(eng, {"bool": {"filter": [
        {"term": {"conv_id": key[0]}}, {"term": {"turn_idx": key[1]}}]}})
    out = eng.explain({"match": {"text": "the"}}, key)
    assert out == {"matched": False, "reason": "document is deleted"}
    # generic path too
    out2 = eng.explain({"term": {"role": top["conv_id"] and "user"}}, key)
    assert out2["matched"] is False


def _oracle_positional(oracle, groups, tf_of):
    """Oracle scores of a one-clause positional query, keyed by oracle
    doc index.  ``groups``: the query's slots, each a list of
    alternative terms; a candidate doc holds a member of every slot,
    and ``tf_of(pos)`` gives its tf (``pos(t)``: the doc's sorted
    positions of ``t``, empty when absent).  idf sums over the distinct
    member terms in the corpus."""
    present = [[t for t in g if t in oracle.post] for g in groups]
    if not all(present):
        return {}
    tf = {}
    for d in set.intersection(
        *[set().union(*(oracle.post[t] for t in g)) for g in present]
    ):
        tf[d] = tf_of(
            lambda t: np.asarray(oracle.pos.get(t, {}).get(d, []), np.int64)
        )
    return oracle.clause(tf, {t for g in present for t in g})


def _assert_engine_matches(engine, oracle, body, want):
    got = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in engine.search(body, size=5000).collect()
    }
    ids = {(oracle.rows[d]["conv_id"], oracle.rows[d]["turn_idx"]): s
           for d, s in want.items()}
    assert set(got) == set(ids), body
    for key, s in ids.items():
        assert got[key] == pytest.approx(s, rel=1e-6), (body, key)


def test_ordered_interval_groups_arrow_matches_scalar(engine, oracle):
    """Ordered any_of composition and span_multi-in-order span_near run
    the Arrow lockstep path over JVM-merged slot columns; their scored
    rows equal the scalar enumerator's over the oracle postings, each
    slot the union of its member terms' positions."""
    from opensearch_spark.oracle import find_intervals

    any_of = Q.from_dict({"intervals": {"text": {"all_of": {
        "ordered": True,
        "max_gaps": 3,
        "intervals": [
            {"any_of": {"intervals": [
                {"match": {"query": "error"}}, {"match": {"query": "the"}},
            ]}},
            {"match": {"query": "handling"}},
        ],
    }}}})
    span_multi = Q.from_dict({"span_near": {
        "clauses": [
            {"span_multi": {"match": {"prefix": {"text": "err"}}}},
            {"span_term": {"text": "handling"}},
        ],
        "slop": 2,
        "in_order": True,
    }})
    err = sorted(t for t in oracle.post if t.startswith("err"))
    for q, groups, gaps in [
        (any_of, [["error", "the"], ["handling"]], 3),
        (span_multi, [err, ["handling"]], 2),
    ]:
        def tf_of(pos):
            slots = {
                f"s{i}": np.unique(np.concatenate([pos(t) for t in g]))
                for i, g in enumerate(groups)
            }
            return len(find_intervals(slots, list(slots), gaps, True))

        want = _oracle_positional(oracle, groups, tf_of)
        assert want  # non-vacuous: the fixture corpus matches both
        _assert_engine_matches(engine, oracle, q, want)


def test_span_contain_within_arrow_matches_scalar(engine, oracle):
    """span_containing / span_within with an in_order big spec run the
    emit-kernel Arrow path; the scalar enumerator must agree exactly."""
    _assert_span_contain_matches(engine, oracle, in_order=True)


def test_intervals_filter_relations_match_oracle(engine, oracle):
    """The 8 intervals ``filter`` relations, over an ordered and an
    unordered base source and a 1-term and a 2-term filter source, and
    span_containing / span_within with an unordered big span, score
    exactly as the scalar enumerators in ``oracle.py`` over the
    fixture postings.  Every relation has a non-empty answer, and each
    negated one keeps docs that lack the filter terms altogether."""
    from opensearch_spark.oracle import (
        FILTER_RELATIONS, filter_intervals, find_intervals,
    )

    cases = [
        # base terms, max_gaps, ordered; filter terms, max_gaps, ordered
        (["the", "of"], 4, True, ["a"], -1, True),
        (["and", "is"], 8, False, ["to", "in"], -1, False),
    ]
    answered = set()
    for base, bg, bo, filt, fg, fo in cases:
        for rel in FILTER_RELATIONS:
            def tf_of(pos):
                p = {t: pos(t) for t in set(base) | set(filt)}
                f_iv = (
                    find_intervals(p, filt, fg, fo)
                    if all(p[t].size for t in filt) else []
                )
                return filter_intervals(find_intervals(p, base, bg, bo), f_iv, rel)

            want = _oracle_positional(oracle, [[t] for t in base], tf_of)
            _assert_engine_matches(engine, oracle, {"intervals": {"text": {"match": {
                "query": " ".join(base), "max_gaps": bg, "ordered": bo,
                "filter": {rel: {"match": {
                    "query": " ".join(filt), "max_gaps": fg, "ordered": fo,
                }}},
            }}}}, want)
            if want:
                answered.add(rel)
            if rel.startswith("not_"):
                assert any(
                    not all(d in oracle.pos.get(t, {}) for t in filt) for d in want
                ), (base, filt, rel)
    assert answered == set(FILTER_RELATIONS)

    _assert_span_contain_matches(engine, oracle, in_order=False)


def _assert_span_contain_matches(engine, oracle, in_order):
    from opensearch_spark.oracle import find_intervals

    big, little = ["the", "of"], "a"
    for kind in ("span_containing", "span_within"):
        def tf_of(pos):
            lp = pos(little)
            spans = find_intervals({t: pos(t) for t in big}, big, 4, in_order)
            inside = [lp[(lp >= s) & (lp <= e)] for s, e in spans]
            if kind == "span_within":
                return len({int(x) for a in inside for x in a})
            return sum(a.size > 0 for a in inside)

        want = _oracle_positional(oracle, [[t] for t in big + [little]], tf_of)
        assert want, (kind, in_order)
        _assert_engine_matches(engine, oracle, {kind: {
            "big": {"span_near": {
                "clauses": [{"span_term": {"text": t}} for t in big],
                "slop": 4, "in_order": in_order,
            }},
            "little": {"span_term": {"text": little}},
        }}, want)
