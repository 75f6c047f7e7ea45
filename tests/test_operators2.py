"""Phase-2 operator semantics: multi_match, match_bool_prefix,
match_phrase_prefix, more_like_this, function_score, rescore,
query_string, highlight.

Ground truth is computed independently from the corpus pandas frame
(same analyzer code path) — not from the engine itself.
"""

from __future__ import annotations

import math

import pytest

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.query import dsl as Q
from opensearch_spark.query.querystring import parse_query_string


def _ids(rows):
    return {(r["conv_id"], r["turn_idx"]) for r in rows}


def _corpus_tokens(corpus_pdf):
    return {
        (r.conv_id, r.turn_idx): ana.tokenize(r.text)
        for r in corpus_pdf.itertuples()
    }


# ------------------------------------------------------- multi_match

def test_multi_match_single_text_field_equals_match(engine):
    mm = engine.search(
        Q.MultiMatch("error handling", [("text", 1.0)]), size=10
    ).collect()
    m = engine.search({"match": {"text": "error handling"}}, size=10).collect()
    assert [(r["conv_id"], r["turn_idx"], round(r["score"], 5)) for r in mm] == [
        (r["conv_id"], r["turn_idx"], round(r["score"], 5)) for r in m
    ]


def test_multi_match_keyword_field_union(engine, corpus_pdf):
    """best_fields over text + role('user'): role matches add docs with
    constant score."""
    rows = engine.search(
        Q.MultiMatch("user", [("text", 1.0), ("role", 1.0)]), size=10
    ).collect()
    assert rows, "role=user docs must match"
    # every row's score >= 1.0 would hold only for role matches; just
    # assert the query executes and the top doc matches role or text
    toks = _corpus_tokens(corpus_pdf)
    top = rows[0]
    roles = {
        (r.conv_id, r.turn_idx): r.role for r in corpus_pdf.itertuples()
    }
    key = (top["conv_id"], top["turn_idx"])
    assert roles[key] == "user" or "user" in toks[key]


# -------------------------------------------------- match_bool_prefix

def test_match_bool_prefix_membership(engine, corpus_pdf):
    rows = engine.search(
        {"match_bool_prefix": {"text": "error handl"}}, size=1000
    ).collect()
    got = _ids(rows)
    toks = _corpus_tokens(corpus_pdf)
    expect = {
        k
        for k, ts in toks.items()
        if "error" in ts or any(t.startswith("handl") for t in ts)
    }
    assert got == expect


def test_match_bool_prefix_repeated_term_is_two_clauses(engine, oracle, corpus_pdf):
    """A repeated query term is one clause per occurrence, as in the
    reference's BooleanQuery: "error error handl" scores ``error``
    twice, and ``error`` fills two of the three clauses
    minimum_should_match asks for."""
    err = {
        tuple(oracle.rows[d][c] for c in oracle.id_cols): s
        for d, s in oracle.term("error").items()
    }
    toks = _corpus_tokens(corpus_pdf)
    handl = {k for k, ts in toks.items() if any(t.startswith("handl") for t in ts)}
    rows = engine.search(
        {"match_bool_prefix": {"text": {
            "query": "error error handl", "minimum_should_match": 3,
        }}},
        size=1000,
    ).collect()
    got = {(r["conv_id"], r["turn_idx"]): r["score"] for r in rows}
    assert got and set(got) == set(err) & handl
    for k, s in got.items():
        assert s == pytest.approx(2 * err[k] + 1.0, rel=1e-6), k


# ------------------------------------------- match_phrase_prefix

def test_match_phrase_prefix_membership(engine, corpus_pdf):
    rows = engine.search(
        {"match_phrase_prefix": {"text": "error handl"}}, size=1000
    ).collect()
    got = _ids(rows)
    toks = _corpus_tokens(corpus_pdf)
    expect = set()
    for k, ts in toks.items():
        for i in range(len(ts) - 1):
            if ts[i] == "error" and ts[i + 1].startswith("handl"):
                expect.add(k)
                break
    assert got == expect


# ------------------------------------------------------ more_like_this

def test_more_like_this(engine, corpus_pdf):
    like = ("conv-00000057", 6)  # known "error handling" turn
    rows = engine.search(
        Q.MoreLikeThis(like_ids=[like], max_query_terms=8, min_doc_freq=2),
        size=20,
    ).collect()
    got = _ids(rows)
    assert like not in got, "example doc must be excluded (include=false)"
    assert rows, "MLT should find similar docs"


# ----------------------------------------------------- function_score

def test_function_score_field_value_factor(engine):
    base = {r["conv_id"] + ":" + str(r["turn_idx"]): r["score"]
            for r in engine.search({"match": {"text": "error"}}, size=50).collect()}
    fs = engine.search(
        {
            "function_score": {
                "query": {"match": {"text": "error"}},
                "functions": [
                    {"field_value_factor": {"field": "turn_idx", "factor": 1.0, "modifier": "log1p", "missing": 0.0}}
                ],
                "boost_mode": "multiply",
            }
        },
        size=50,
    ).collect()
    for r in fs:
        k = r["conv_id"] + ":" + str(r["turn_idx"])
        if k in base:
            expect = base[k] * math.log1p(r["turn_idx"])
            assert r["score"] == pytest.approx(expect, rel=1e-9)


def test_function_score_weight_filter(engine):
    fs = engine.search(
        {
            "function_score": {
                "query": {"match": {"text": "error"}},
                "functions": [
                    {"filter": {"term": {"role": "user"}}, "weight": 3.0}
                ],
                "boost_mode": "multiply",
            }
        },
        size=30,
        source_cols=["role"],
    ).collect()
    base = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in engine.search({"match": {"text": "error"}}, size=1000).collect()
    }
    for r in fs:
        k = (r["conv_id"], r["turn_idx"])
        mult = 3.0 if r["role"] == "user" else 1.0
        assert r["score"] == pytest.approx(base[k] * mult, rel=1e-9)


# ------------------------------------------------------------ rescore

def test_rescore_total(engine):
    primary = {"match": {"text": "error"}}
    secondary = {"match_phrase": {"text": "error handling"}}
    window = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in engine.search(primary, size=20).collect()
    }
    sec = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in engine.search(secondary, size=1000).collect()
    }
    out = engine.rescore(primary, secondary, window_size=20, size=10).collect()
    for r in out:
        k = (r["conv_id"], r["turn_idx"])
        expect = window[k] + sec.get(k, 0.0)
        assert r["score"] == pytest.approx(expect, rel=1e-9)
    # ordering: descending combined score
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


# ------------------------------------------------------- query_string

def test_query_string_ast_shapes():
    q = parse_query_string('"error handling"')
    assert isinstance(q, Q.MatchPhrase)
    q = parse_query_string("error AND handling")
    assert isinstance(q, Q.Bool) and len(q.must) == 2
    q = parse_query_string("error OR handling")
    assert isinstance(q, Q.Bool) and len(q.should) == 2
    q = parse_query_string("+error -timeout rest")
    assert isinstance(q, Q.Bool)
    assert any(isinstance(m, Q.Match) for m in q.must)
    assert len(q.must_not) == 1
    q = parse_query_string("role:tool")
    assert isinstance(q, Q.Term) and q.field == "role"
    q = parse_query_string("handl*")
    assert isinstance(q, Q.Prefix)
    q = parse_query_string("(error OR timeout) AND handling")
    assert isinstance(q, Q.Bool)


def test_query_string_execution_matches_bool(engine):
    a = engine.search(
        {"query_string": {"query": "error AND handling"}}, size=10
    ).collect()
    b = engine.search(
        {
            "bool": {
                "must": [
                    {"match": {"text": "error"}},
                    {"match": {"text": "handling"}},
                ]
            }
        },
        size=10,
    ).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in a] == [
        (r["conv_id"], r["turn_idx"]) for r in b
    ]


def test_query_string_not(engine, corpus_pdf):
    rows = engine.search(
        {"query_string": {"query": "error AND NOT timeout"}}, size=2000
    ).collect()
    toks = _corpus_tokens(corpus_pdf)
    got = _ids(rows)
    expect = {k for k, ts in toks.items() if "error" in ts and "timeout" not in ts}
    assert got == expect


# ----------------------------------------------------------- highlight

def test_highlight(engine):
    rows = engine.search_highlight({"match": {"text": "error handling"}}, size=5).collect()
    assert rows
    for r in rows:
        assert "<em>" in r["highlight"]
        assert r["highlight"].replace("<em>", "").replace("</em>", "") == r["text"]


def test_minimum_should_match_formats(engine):
    """msm value formats (Queries.java calculateMinShouldMatch):
    percentages truncate, negatives mean all-but-N."""
    from opensearch_spark.query.executor import resolve_msm

    assert resolve_msm(None, 3) == 1
    assert resolve_msm(2, 3) == 2
    assert resolve_msm("2", 3) == 2
    assert resolve_msm("-1", 3) == 2
    assert resolve_msm("75%", 4) == 3
    assert resolve_msm("75%", 3) == 2   # truncation, not rounding
    assert resolve_msm("-25%", 4) == 3
    assert resolve_msm("100%", 5) == 5
    # reference clamps ONLY the low side (Queries.calculateMinShouldMatch):
    # msm > n_clauses passes through and the query matches nothing
    assert resolve_msm(9, 3) == 9
    assert resolve_msm("-5", 3) == 0    # low clamp

    base = engine.search(
        {"match": {"text": {"query": "error timeout traceback", "minimum_should_match": 2}}},
        size=10,
    ).collect()
    pct = engine.search(
        {"match": {"text": {"query": "error timeout traceback", "minimum_should_match": "67%"}}},
        size=10,
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in pct]


def test_significance_heuristics(spark):
    """significant_terms heuristics vs hand-computed 2x2-table values
    (JLHScore.java / ChiSquare.java / MutualInformation.java / GND.java)."""
    import math

    from pyspark.sql import functions as F

    from opensearch_spark import aggs

    # corpus: 100 docs; 20 foreground; key 'x' in 15 fg docs + 10 bg-only
    rows = []
    i = 0
    for _ in range(15):
        rows.append((i, 1, "x")); i += 1
    for _ in range(5):
        rows.append((i, 1, "y")); i += 1
    for _ in range(10):
        rows.append((i, 0, "x")); i += 1
    for _ in range(70):
        rows.append((i, 0, "y")); i += 1
    df = spark.createDataFrame(rows, "id long, fg int, key string")
    cond = F.col("fg") == 1

    got = {r["key"]: r for r in aggs.significant_terms(df, cond, "key").collect()}
    fgp, bgp = 15 / 20, 25 / 100
    assert got["x"]["score"] == pytest.approx(round((fgp - bgp) * (fgp / bgp), 6))
    assert "y" not in got  # under-represented keys filtered

    a, b, c, d, n = 15.0, 10.0, 5.0, 70.0, 100.0
    chi = {r["key"]: r for r in aggs.significant_terms(df, cond, "key", heuristic="chi_square").collect()}
    want_chi = n * (a * d - b * c) ** 2 / ((a + b) * (a + c) * (b + d) * (c + d))
    assert chi["x"]["score"] == pytest.approx(round(want_chi, 6))

    mi = {r["key"]: r for r in aggs.significant_terms(df, cond, "key", heuristic="mutual_information").collect()}
    # full 4-term MI over the 2x2 table (MutualInformation.java):
    # cells (term, fg): n11=15, n01=10, n10=5, n00=70; marginals
    # term=25/75, fg=20/80; N=100
    def mi_term(nij, nt, nc):
        return 0.0 if nij == 0 else (nij / n) * math.log2(n * nij / (nt * nc))

    want_mi = (
        mi_term(15, 25, 20) + mi_term(10, 25, 80)
        + mi_term(5, 75, 20) + mi_term(70, 75, 80)
    )
    assert mi["x"]["score"] == pytest.approx(round(want_mi, 6))

    gnd = {r["key"]: r for r in aggs.significant_terms(df, cond, "key", heuristic="gnd").collect()}
    fx, fy, fxy, logn = math.log(20), math.log(25), math.log(15), math.log(100)
    want_gnd = math.exp(-(max(fx, fy) - fxy) / (logn - min(fx, fy)))
    assert gnd["x"]["score"] == pytest.approx(round(want_gnd, 6))
    # GND perfect co-occurrence guard (GND.java short-circuit):
    # term 'z' present in ALL fg docs and ONLY fg docs -> fx==fy==fxy
    rows2 = [(i, 1, "z") for i in range(20)] + [(i + 20, 0, "w") for i in range(80)]
    df2 = spark.createDataFrame(rows2, "id long, fg int, key string")
    gnd2 = {r["key"]: r for r in aggs.significant_terms(df2, F.col("fg") == 1, "key", heuristic="gnd").collect()}
    assert gnd2["z"]["score"] == pytest.approx(1.0)


def test_geo_queries_and_aggs(spark):
    """Geo subset (r3): distance-unit parsing, haversine membership,
    dateline-crossing bounding box, centroid/bounds aggs."""
    import math
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata absent")
    from opensearch_spark import aggs
    from opensearch_spark.docs_index import docset, documents_df, documents_engine
    from opensearch_spark.query import dsl as Q

    # unit parsing
    assert Q.from_dict(
        {"geo_distance": {"distance": "1500m", "location": {"lat": 0, "lon": 0}}}
    ).distance_km == _pytest.approx(1.5)
    assert Q.from_dict(
        {"geo_distance": {"distance": "10mi", "location": {"lat": 0, "lon": 0}}}
    ).distance_km == _pytest.approx(16.09344)

    eng = documents_engine(spark, sf)
    hits = {
        r["doc_id"]
        for r in docset(
            eng,
            {"geo_distance": {"distance": "3000km", "location": {"lat": 10.0, "lon": 20.0}}},
        ).collect()
    }
    # python haversine twin over the derived coordinates
    def hav(lat, lon):
        la1, lo1, la2, lo2 = map(math.radians, (10.0, 20.0, lat, lon))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(h))

    rows = documents_df(spark, sf).select("doc_id", "lat", "lon").collect()
    expect = {r["doc_id"] for r in rows if hav(r["lat"], r["lon"]) <= 3000.0}
    assert hits == expect and hits

    # dateline-crossing box = OR of the two lon ranges
    box = {
        "geo_bounding_box": {
            "location": {
                "top_left": {"lat": 60.0, "lon": 150.0},
                "bottom_right": {"lat": 20.0, "lon": -150.0},
            }
        }
    }
    got = {r["doc_id"] for r in docset(eng, box).collect()}
    exp = {
        r["doc_id"]
        for r in rows
        if 20.0 <= r["lat"] <= 60.0 and (r["lon"] >= 150.0 or r["lon"] <= -150.0)
    }
    assert got == exp and got

    g = documents_df(spark, sf).select("lat", "lon")
    c = aggs.geo_centroid(g).collect()[0]
    assert c["count"] == len(rows)
    b = aggs.geo_bounds(g).collect()[0]
    assert b["top"] == max(r["lat"] for r in rows)
    assert b["left"] == min(r["lon"] for r in rows)


def test_geo_distance_sort(spark):
    """_geo_distance sort (GeoDistanceSortBuilder): nearest-first
    ordering by the computed haversine column, with keyset pagination
    continuing strictly after the last (km, id) key."""
    import math
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata absent")
    from opensearch_spark.docs_index import documents_df, documents_engine

    eng = documents_engine(spark, sf)
    gsort = [({"_geo_distance": {"location": {"lat": 10.0, "lon": 20.0}}}, "asc")]
    hits = eng.search({"match_all": {}}, size=5, sort=gsort).collect()

    def hav(lat, lon):
        la1, lo1, la2, lo2 = map(math.radians, (10.0, 20.0, lat, lon))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(h))

    rows = documents_df(spark, sf).select("doc_id", "lat", "lon").collect()
    expect = sorted((hav(r["lat"], r["lon"]), r["doc_id"]) for r in rows)[:5]
    assert [r["doc_id"] for r in hits] == [d for _, d in expect]

    # keyset page 2: cursor placed mid-gap between the page-1 tail and
    # the next distance (the exact boundary value differs by a libm-vs-
    # Java-Math ulp between this Python oracle and the Spark column —
    # the mid-gap cursor is insensitive to that)
    all_sorted = sorted((hav(r["lat"], r["lon"]), r["doc_id"]) for r in rows)
    cursor_km = (all_sorted[4][0] + all_sorted[5][0]) / 2
    page2 = eng.search(
        {"match_all": {}}, size=5, sort=gsort,
        search_after=[cursor_km, -1],
    ).collect()
    expect2 = all_sorted[5:10]
    assert [r["doc_id"] for r in page2] == [d for _, d in expect2]


# ------------------------------------------------------- terms lookup


def test_terms_lookup_resolves_to_terms(engine, corpus_pdf):
    """TermsQueryBuilder.rewrite / indices/TermsLookup.java: fetch the
    doc, use its field values as the terms list; missing doc or null
    value -> MatchNoDocsQuery."""
    row = corpus_pdf.iloc[5]
    q = Q.from_dict(
        {"terms": {"role": {
            "id": {"conv_id": row.conv_id, "turn_idx": int(row.turn_idx)},
            "path": "role",
        }}}
    )
    assert isinstance(q, Q.TermsLookup)
    got = _ids(engine.search(q, size=10_000).collect())
    want = _ids(engine.search(Q.Terms("role", [row.role]), size=10_000).collect())
    assert got == want and got

    # filter context (inside bool.filter) goes through _predicate
    got_f = _ids(
        engine.search(
            Q.Bool(filter=[q], must=[Q.MatchAll()]), size=10_000
        ).collect()
    )
    assert got_f == want

    # missing doc -> no terms -> match_none
    missing = Q.TermsLookup(
        "role", id={"conv_id": "no-such-conv", "turn_idx": 0}, path="role"
    )
    assert engine.search(missing, size=10).count() == 0


def test_terms_lookup_bad_id_col(engine):
    with pytest.raises(ValueError):
        engine.search(Q.TermsLookup("role", id={"nope": 1}, path="role"), size=1)


# ------------------------------------------------------- span_gap


def test_span_gap_parse_fold():
    """SpanGapQueryBuilder: gap pseudo-clauses fold into per-adjacency
    widths on the SpanNear, never into the term list."""
    q = Q.from_dict(
        {"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_gap": {"text": 2}},
            {"span_term": {"text": "b"}},
            {"span_term": {"text": "c"}},
        ], "slop": 0, "in_order": True}}
    )
    assert isinstance(q, Q.SpanNear)
    assert q.terms == ["a", "b", "c"]
    assert q.gaps == [2, 0]

    # adjacent gaps accumulate
    q2 = Q.from_dict(
        {"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_gap": {"text": 1}},
            {"span_gap": {"text": 1}},
            {"span_term": {"text": "b"}},
        ], "slop": 0, "in_order": True}}
    )
    assert q2.gaps == [2]

    with pytest.raises(ValueError):  # leading gap
        Q.from_dict({"span_near": {"clauses": [
            {"span_gap": {"text": 1}}, {"span_term": {"text": "a"}},
        ], "slop": 0, "in_order": True}})
    with pytest.raises(ValueError):  # trailing gap
        Q.from_dict({"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_gap": {"text": 1}},
        ], "slop": 0, "in_order": True}})
    with pytest.raises(ValueError):  # unordered (SpanNearQuery.addGap)
        Q.from_dict({"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_gap": {"text": 1}},
            {"span_term": {"text": "b"}},
        ], "slop": 0, "in_order": False}})


def test_span_gap_membership(engine, corpus_pdf):
    """slop=0 with one reserved gap position == exact distance-2 pairs;
    ground truth recomputed from the corpus token streams."""
    toks = _corpus_tokens(corpus_pdf)
    # pick a (t1, t2) pair that occurs at distance exactly 2 somewhere
    from collections import Counter

    pair_docs: dict = {}
    for key, ts in toks.items():
        for i in range(len(ts) - 2):
            pair_docs.setdefault((ts[i], ts[i + 2]), set()).add(key)
    (t1, t2), want = max(pair_docs.items(), key=lambda kv: len(kv[1]))
    rows = engine.search(
        Q.from_dict({"span_near": {"clauses": [
            {"span_term": {"text": t1}},
            {"span_gap": {"text": 1}},
            {"span_term": {"text": t2}},
        ], "slop": 0, "in_order": True}}),
        size=10_000,
    ).collect()
    assert _ids(rows) == want

    # the same query WITHOUT the gap must be a (non-strict) subset
    # shifted to distance-1 pairs: verify budget accounting by slop=1
    # without gap covering distances 1..2 — a superset of the gap form
    rows_slop = engine.search(
        Q.from_dict({"span_near": {"clauses": [
            {"span_term": {"text": t1}},
            {"span_term": {"text": t2}},
        ], "slop": 1, "in_order": True}}),
        size=10_000,
    ).collect()
    assert _ids(rows) <= _ids(rows_slop)


# ------------------------------------------------------- script query


def test_script_query_filter_context(engine, corpus_pdf):
    """ScriptQueryBuilder: boolean expression over doc columns, filter
    context, constant score = boost."""
    rows = engine.search(
        Q.from_dict({"script": {"script": {"source": "turn_idx % 2 = 0 AND role = 'user'"}}}),
        size=100_000,
    ).collect()
    want = {
        (r.conv_id, r.turn_idx)
        for r in corpus_pdf.itertuples()
        if r.turn_idx % 2 == 0 and r.role == "user" and ana.tokenize(r.text)
    }
    assert _ids(rows) == want
    assert {r["score"] for r in rows} == {1.0}


# ------------------------------------------------------- common terms


def test_common_terms_split_and_score(engine, corpus_pdf):
    """CommonTermsQuery.rewrite: low group required, high group adds
    score only to docs the low group matched; all-high fallback."""
    from collections import Counter

    toks = _corpus_tokens(corpus_pdf)
    df = Counter()
    for ts in toks.values():
        for t in set(ts):
            df[t] += 1
    n_docs = sum(1 for ts in toks.values() if ts)
    hi = df.most_common(1)[0][0]          # clearly above any cutoff
    lo = next(t for t, d in df.most_common() if d <= 0.1 * n_docs)

    q = Q.from_dict({"common": {"text": {
        "query": f"{hi} {lo}", "cutoff_frequency": 0.5,
    }}})
    assert isinstance(q, Q.CommonTerms)
    rows = engine.search(q, size=10_000).collect()
    # membership: exactly the low-term docs
    want = {k for k, ts in toks.items() if lo in ts}
    assert _ids(rows) == want

    # score = match(lo) + match(hi, only where doc matched): docs with
    # both terms score strictly above their pure-low score
    lo_rows = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in engine.search({"match": {"text": lo}}, size=10_000).collect()
    }
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        if hi in toks[key]:
            assert r["score"] > lo_rows[key]
        else:
            assert r["score"] == pytest.approx(lo_rows[key], rel=1e-6)

    # all-high fallback: every term above cutoff -> high group required
    hi2 = df.most_common(2)[1][0]
    fb = engine.search(
        Q.from_dict({"common": {"text": {
            "query": f"{hi} {hi2}", "cutoff_frequency": 0.0001,
        }}}),
        size=10_000,
    ).collect()
    ref = engine.search({"match": {"text": f"{hi} {hi2}"}}, size=10_000).collect()
    assert _ids(fb) == _ids(ref)


# ------------------------------------------------------- geo_polygon


def test_geo_polygon_membership(spark):
    """Ray-cast membership vs an independent pure-Python point-in-polygon
    over the deterministic lat/lon derivation."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata absent")
    from opensearch_spark.docs_index import docset, documents_df, documents_engine

    poly = [(-60.3, -120.7), (70.2, -10.5), (-20.6, 150.4)]
    eng = documents_engine(spark, sf)
    hits = {
        r["doc_id"]
        for r in docset(
            eng,
            {"geo_polygon": {"location": {"points": [
                {"lat": la, "lon": lo} for la, lo in poly
            ]}}},
        ).collect()
    }

    def inside(lat, lon):
        n, c = len(poly), False
        for i in range(n):
            yi, xi = poly[i]
            yj, xj = poly[(i + 1) % n]
            if (yi > lat) != (yj > lat) and lon < (xj - xi) * (lat - yi) / (yj - yi) + xi:
                c = not c
        return c

    pdf = documents_df(spark, sf).select("doc_id", "lat", "lon").toPandas()
    want = {int(r.doc_id) for r in pdf.itertuples() if inside(r.lat, r.lon)}
    assert hits == want and want  # non-empty on this fixture


def test_geo_polygon_parse_forms():
    from opensearch_spark.query import dsl as Q

    # dict / GeoJSON [lon, lat] / "lat,lon" string vertices, closed ring
    q = Q.from_dict({"geo_polygon": {"location": {"points": [
        {"lat": 0.0, "lon": 0.0}, [10.0, 5.0], "5.0,-10.0",
        {"lat": 0.0, "lon": 0.0},
    ]}}})
    assert isinstance(q, Q.GeoPolygon)
    assert q.points == [(0.0, 0.0), (5.0, 10.0), (5.0, -10.0)]
    with pytest.raises(ValueError):
        Q.from_dict({"geo_polygon": {"location": {"points": [
            {"lat": 0, "lon": 0}, {"lat": 1, "lon": 1},
        ]}}})


# ------------------------------------------------------- parent-join / pipeline tail


def test_has_parent_propagates_score(spark):
    from pyspark.sql import functions as F

    from opensearch_spark.query import nested

    parents = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 50.0)], "pid int, weight double"
    )
    children = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "pid int, name string"
    )
    got = nested.has_parent(
        parents, children, ["pid"], F.col("weight") > 40,
        score_expr=F.col("weight"), score=True,
    ).select("pid", "name", "score").collect()
    by_name = {r["name"]: (r["pid"], r["score"]) for r in got}
    assert by_name == {"c": (2, 99.0), "d": (3, 50.0)}

    # score=false (reference default): constant 1.0
    flat = nested.has_parent(
        parents, children, ["pid"], F.col("weight") > 40
    ).select("score").collect()
    assert {r["score"] for r in flat} == {1.0}


def test_extended_stats_bucket_and_filter_agg(spark):
    import math

    from pyspark.sql import functions as F

    from opensearch_spark import aggs as A

    b = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_count int")
    row = A.extended_stats_bucket(b, sigma=2.0).collect()[0]
    vals = [1.0, 2.0, 3.0, 4.0]
    n = len(vals)
    avg = sum(vals) / n
    var = sum(v * v for v in vals) / n - avg * avg
    assert row["count"] == n and row["min"] == 1.0 and row["max"] == 4.0
    assert row["sum"] == 10.0 and row["avg"] == avg
    assert row["variance"] == pytest.approx(var, abs=1e-6)
    assert row["std_deviation"] == pytest.approx(math.sqrt(var), abs=1e-6)
    assert row["std_upper"] == pytest.approx(avg + 2 * math.sqrt(var), abs=1e-6)
    assert row["std_lower"] == pytest.approx(avg - 2 * math.sqrt(var), abs=1e-6)

    f = A.filter_agg(b, F.col("doc_count") >= 3).collect()[0]
    assert f["doc_count"] == 2


# ------------------------------------------------------- geo_shape


_OUTER = [(-50.1, -100.3), (65.7, -80.2), (55.3, 90.6), (-40.9, 110.4)]
_HOLE = [(-10.2, -20.7), (25.4, 5.3), (-5.8, 30.1)]


def _py_raycast(poly, lat, lon):
    c = False
    for i in range(len(poly)):
        yi, xi = poly[i]
        yj, xj = poly[(i + 1) % len(poly)]
        if (yi > lat) != (yj > lat) and lon < (xj - xi) * (lat - yi) / (yj - yi) + xi:
            c = not c
    return c


def _geojson_ring(latlon):
    return [[lo, la] for la, lo in latlon]


def test_geo_shape_polygon_hole_and_relations(spark):
    """geo_shape polygon-with-hole vs pure-Python even-odd; disjoint is
    the exact complement over the fixture."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata absent")
    from opensearch_spark.docs_index import docset, documents_df, documents_engine

    shape = {
        "type": "polygon",
        "coordinates": [_geojson_ring(_OUTER), _geojson_ring(_HOLE)],
    }
    eng = documents_engine(spark, sf)

    def run(relation):
        return {
            r["doc_id"]
            for r in docset(
                eng,
                {"geo_shape": {"location": {"shape": shape, "relation": relation}}},
            ).collect()
        }

    hits = run("intersects")
    pdf = documents_df(spark, sf).select("doc_id", "lat", "lon").toPandas()
    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if _py_raycast(_OUTER, r.lat, r.lon) != _py_raycast(_HOLE, r.lat, r.lon)
    }
    assert hits == want and want
    assert run("within") == want
    assert run("disjoint") == {int(r.doc_id) for r in pdf.itertuples()} - want
    assert run("contains") == set()  # a point doc never contains a polygon


def test_geo_shape_envelope_circle_collection(spark):
    """envelope == geo_bounding_box twin; circle == geo_distance twin;
    geometrycollection = union of members."""
    import os

    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        _pytest.skip("driver testdata absent")
    from opensearch_spark.docs_index import docset, documents_engine

    eng = documents_engine(spark, sf)

    def ids(q):
        return {r["doc_id"] for r in docset(eng, q).collect()}

    env = ids({"geo_shape": {"location": {"shape": {
        "type": "envelope", "coordinates": [[150.0, 60.0], [-150.0, 20.0]],
    }}}})
    bbox = ids({"geo_bounding_box": {"location": {
        "top_left": {"lat": 60.0, "lon": 150.0},
        "bottom_right": {"lat": 20.0, "lon": -150.0},
    }}})
    assert env == bbox and env  # dateline-crossing envelope, non-empty

    circ = ids({"geo_shape": {"location": {"shape": {
        "type": "circle", "coordinates": [20.0, 10.0], "radius": "3000km",
    }}}})
    dist = ids({"geo_distance": {"distance": "3000km",
                                 "location": {"lat": 10.0, "lon": 20.0}}})
    assert circ == dist and circ

    coll = ids({"geo_shape": {"location": {"shape": {
        "type": "geometrycollection",
        "geometries": [
            {"type": "envelope", "coordinates": [[150.0, 60.0], [-150.0, 20.0]]},
            {"type": "circle", "coordinates": [20.0, 10.0], "radius": "3000km"},
        ],
    }}}})
    assert coll == env | circ


def test_geo_shape_parse_errors():
    from opensearch_spark.query import dsl as Q

    with pytest.raises(ValueError):
        Q.from_dict({"geo_shape": {"location": {"shape": {
            "type": "linestring", "coordinates": [[0, 0], [1, 1]],
        }}}})
    # indexed_shape now PARSES (late r4: resolved plan-time by a docmap
    # point-read, executor._resolve_indexed_shape)
    qi = Q.from_dict({"geo_shape": {"location": {"indexed_shape": {
        "index": "shapes", "id": "deu", "path": "box",
    }}}})
    assert isinstance(qi, Q.GeoShape) and qi.indexed_shape["path"] == "box"
    assert qi.shape is None
    with pytest.raises(ValueError):
        Q.from_dict({"geo_shape": {"location": {
            "shape": {"type": "point", "coordinates": [0.0, 0.0]},
            "relation": "touches",
        }}})
    with pytest.raises(ValueError):
        Q.from_dict({"geo_shape": {"location": {"shape": {
            "type": "polygon", "coordinates": [[[0, 0], [1, 1], [0, 0]]],
        }}}})
    # contains over an equal point shape is satisfiable (parses fine)
    q = Q.from_dict({"geo_shape": {"location": {
        "shape": {"type": "point", "coordinates": [1.5, -2.5]},
        "relation": "contains",
    }}})
    assert isinstance(q, Q.GeoShape) and q.relation == "contains"


def test_geo_grid_aggs(spark):
    """geotile_grid / geohash_grid keys against published encodings
    (GeoTileUtils.java / Geohash.java): u4pru, dqcjr, r3gx2 are the
    precision-5 geohashes of the three fixture points (validated against
    the spec's bisection loop)."""
    from opensearch_spark import aggs

    df = spark.createDataFrame(
        [(57.64911, 10.40744), (38.897, -77.036), (-33.8688, 151.2093)],
        "lat double, lon double",
    )
    gh = {r["key"]: r["doc_count"] for r in aggs.geohash_grid(df, 5).collect()}
    assert gh == {"u4pru": 1, "dqcjr": 1, "r3gx2": 1}
    gt = {r["key"] for r in aggs.geotile_grid(df, 7).collect()}
    # z=7 web-mercator tiles: x = floor((lon+180)/360*128)
    assert gt == {"7/67/38", "7/36/48", "7/117/76"}
    # poles clamp into the mercator mask instead of overflowing
    polar = spark.createDataFrame([(89.9, 0.0), (-89.9, 0.0)], "lat double, lon double")
    keys = {r["key"] for r in aggs.geotile_grid(polar, 3).collect()}
    assert keys == {"3/4/0", "3/4/7"}


def test_decontaminate_planted(spark):
    """Planted 5-gram contamination: docs copying a benchmark answer
    string are flagged; clean docs and short-overlap (4-gram) docs are
    not; a benchmark member in the corpus is not flagged by itself."""
    from opensearch_spark.ops import dedup

    leak = "the quick brown fox jumps"            # 5 tokens = one 5-gram
    bench = spark.createDataFrame(
        [(1000, f"q: {leak} a: over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, f"training text with {leak} inside it"),   # contaminated
            (2, "training text with the quick brown fox only"),  # 4-gram: clean
            (3, "completely unrelated content here"),
            (1000, f"q: {leak} a: over the lazy dog"),     # the bench doc itself
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["contam_hits"], r["contaminated"])
        for r in dedup.decontaminate(corpus, bench, n=5).collect()
    }
    assert out[1][1] is True and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    # self-match excluded: the benchmark doc in the corpus is NOT flagged
    assert out[1000] == (0, False)
    # with exclude_self=False it trivially matches itself
    out2 = {
        r["doc_id"]: r["contaminated"]
        for r in dedup.decontaminate(
            corpus, bench, n=5, exclude_self=False
        ).collect()
    }
    assert out2[1000] is True


def test_nested_sort_key_modes(spark):
    from opensearch_spark.query import nested
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, [(1.0, "a"), (5.0, "a"), (3.0, "b")]),
            (2, [(2.0, "a"), (4.0, "a"), (6.0, "a"), (8.0, "a")]),
            (3, [(9.0, "b")]),  # no 'a' children -> NULL key
        ],
        "id int, children array<struct<v double, t string>>",
    )
    flt = lambda c: c["t"] == "a"
    val = lambda c: c["v"]
    out = df.select(
        "id",
        nested.nested_sort_key("children", val, flt, "min").alias("mn"),
        nested.nested_sort_key("children", val, flt, "max").alias("mx"),
        nested.nested_sort_key("children", val, flt, "sum").alias("sm"),
        nested.nested_sort_key("children", val, flt, "avg").alias("av"),
        nested.nested_sort_key("children", val, flt, "median").alias("md"),
    ).collect()
    r = {row["id"]: row for row in out}
    assert (r[1]["mn"], r[1]["mx"], r[1]["sm"], r[1]["av"]) == (1.0, 5.0, 6.0, 3.0)
    assert r[1]["md"] == 3.0  # even count (1,5): MultiValueMode.MEDIAN avg -> 3.0
    assert r[2]["md"] == 5.0  # (2,4,6,8) -> (4+6)/2
    assert all(r[3][c] is None for c in ("mn", "mx", "sm", "av", "md"))
    # missing policy: nulls last under asc (the reference's _last default)
    ordered = [x["id"] for x in df.select(
        "id", nested.nested_sort_key("children", val, flt, "min").alias("k")
    ).orderBy(F.asc_nulls_last("k")).collect()]
    assert ordered == [1, 2, 3]


def test_function_score_decay_family(engine):
    """gauss/exp/linear decay (DecayFunctionBuilder.java formulas) with
    offset; expected values recomputed from the hit rows themselves."""
    base = {(r["conv_id"], r["turn_idx"]): r["score"]
            for r in engine.search({"match": {"text": "error"}}, size=30).collect()}
    fs = engine.search(
        {
            "function_score": {
                "query": {"match": {"text": "error"}},
                "functions": [
                    {"gauss": {"field": "turn_idx", "origin": 4, "scale": 3, "decay": 0.5}},
                    {"exp": {"field": "turn_idx", "origin": 4, "scale": 3, "offset": 1, "decay": 0.5}},
                    {"linear": {"field": "turn_idx", "origin": 4, "scale": 3, "decay": 0.25}},
                ],
                "score_mode": "sum",
                "boost_mode": "multiply",
            }
        },
        size=30,
    ).collect()
    ln05 = math.log(0.5)
    for r in fs:
        k = (r["conv_id"], r["turn_idx"])
        if k not in base:
            continue
        x = float(r["turn_idx"])
        g = math.exp(ln05 * ((abs(x - 4.0)) / 3.0) ** 2)
        e = math.exp(ln05 * max(abs(x - 4.0) - 1.0, 0.0) / 3.0)
        s = 3.0 / 0.75
        l = max((s - abs(x - 4.0)) / s, 0.0)
        assert r["score"] == pytest.approx(base[k] * (g + e + l), rel=1e-9)


def test_function_score_random_score(engine):
    """random_score: deterministic keyed hash to [0,1) — same seed same
    order, different seed different order, all values in range."""
    q = lambda seed: {
        "function_score": {
            "query": {"match": {"text": "error"}},
            "functions": [{"random_score": {"seed": seed, "field": "turn_idx"}}],
            "boost_mode": "replace",
        }
    }
    a1 = [(r["conv_id"], r["turn_idx"], r["score"])
          for r in engine.search(q(7), size=20).collect()]
    a2 = [(r["conv_id"], r["turn_idx"], r["score"])
          for r in engine.search(q(7), size=20).collect()]
    assert a1 == a2
    assert all(0.0 <= s < 1.0 for _, _, s in a1)
    b = [(r["conv_id"], r["turn_idx"]) for r in engine.search(q(12345), size=20).collect()]
    assert [(c, t) for c, t, _ in a1] != b


def test_geohash_encode_published_values():
    """Pin the closed-form geohash encode against well-known published
    geohashes (geohash.org values for famous city coordinates)."""
    from opensearch_spark.aggs import geohash_encode

    assert geohash_encode(48.8566, 2.3522, 6) == "u09tvw"   # Paris
    assert geohash_encode(40.7128, -74.0060, 6) == "dr5reg"  # New York
    assert geohash_encode(51.5074, -0.1278, 5) == "gcpvj"    # London
    assert geohash_encode(0.0, 0.0, 1) == "s"
    # prefix consistency across precisions
    for p in range(1, 6):
        assert geohash_encode(48.8566, 2.3522, 6).startswith(
            geohash_encode(48.8566, 2.3522, p)
        )


def test_geohash_key_matches_python_encode(spark):
    """The Column form and the driver-side encode must agree (the geo
    completion context depends on it: stored vs query hashing)."""
    from opensearch_spark.aggs import geohash_encode, geohash_key

    pts = [(48.8566, 2.3522), (-10.81, 147.29), (40.7128, -74.0060),
           (-89.9, -179.9), (89.9, 179.9), (0.0, 0.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = df.select("lat", "lon", geohash_key(5).alias("gh")).collect()
    for r in rows:
        assert r["gh"] == geohash_encode(r["lat"], r["lon"], 5)


def test_geo_bounds_centroid_over_shapes(spark):
    """modules/geo shape aggs: geo_bounds unions per-doc envelope
    boxes; geo_centroid averages box centers (r5)."""
    from opensearch_spark import aggs

    rows = [
        (1, (10.0, 20.0, -30.0, -10.0)),
        (2, (-5.0, 5.0, 40.0, 60.0)),
        (3, None),
    ]
    df = spark.createDataFrame(
        [(i, None if e is None else
          {"min_lat": e[0], "max_lat": e[1], "min_lon": e[2],
           "max_lon": e[3]})
         for i, e in rows],
        "doc_id long, env struct<min_lat:double,max_lat:double,"
        "min_lon:double,max_lon:double>",
    )
    b = aggs.geo_bounds_shapes(df, "env").collect()[0]
    assert (b["top"], b["bottom"], b["left"], b["right"]) == (20.0, -5.0, -30.0, 60.0)
    c = aggs.geo_centroid_shapes(df, "env").collect()[0]
    # centers: (15, -20) and (0, 50) -> mean (7.5, 15.0), null doc skipped
    assert (c["lat"], c["lon"], c["count"]) == (7.5, 15.0, 2)
