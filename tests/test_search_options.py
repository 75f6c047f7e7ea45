"""terminate_after and track_total_hits search options
(SearchSourceBuilder.java:106,184 — early-terminating collectors)."""

import pytest
from pyspark.sql import functions as F


def _matched_docids(engine, query):
    from opensearch_spark.query import dsl as Q

    return {
        r["_docid"]
        for r in engine._score(Q.from_dict(query)).select("_docid").collect()
    }


def test_terminate_after_caps_per_segment(engine):
    q = {"match": {"text": "the"}}
    full = _matched_docids(engine, q)
    n_segs = engine.index.plan["n_segments"]
    rows = engine.search(q, size=10000, terminate_after=3).collect()
    assert 0 < len(rows) <= 3 * n_segs < len(full)
    # the capped subset is the FIRST matching docids per segment (docID
    # collection order, like EarlyTerminatingCollector)
    seg_rows = (
        engine.docmap()
        .select("_docid", "_seg", "conv_id", "turn_idx")
        .collect()
    )
    by_id = {(r["conv_id"], r["turn_idx"]): (r["_seg"], r["_docid"]) for r in seg_rows}
    docid_by_seg = {}
    for r in seg_rows:
        if r["_docid"] in full:
            docid_by_seg.setdefault(r["_seg"], []).append(r["_docid"])
    expected = set()
    for seg, ids in docid_by_seg.items():
        expected.update(sorted(ids)[:3])
    got = {by_id[(r["conv_id"], r["turn_idx"])][1] for r in rows}
    assert got <= expected


def test_terminate_after_forces_dense_path(engine):
    # WAND prune + terminate_after would cap a score-biased subset; the
    # engine must fall back to dense scoring
    q = {"match": {"text": "the"}}
    rows = engine.search(q, size=5, terminate_after=2, prune=True).collect()
    assert len(rows) <= 2 * engine.index.plan["n_segments"]


def test_track_total_hits_thresholds(engine):
    q = {"match": {"text": "the"}}
    exact = engine.count(q)
    assert exact > 10
    t_exact = engine.total_hits(q, track_total_hits=True)
    assert t_exact == {"value": exact, "relation": "eq"}
    t_low = engine.total_hits(q, track_total_hits=10)
    assert t_low == {"value": 10, "relation": "gte"}
    t_high = engine.total_hits(q, track_total_hits=exact + 5)
    assert t_high == {"value": exact, "relation": "eq"}
    t_off = engine.total_hits(q, track_total_hits=False)
    assert t_off == {"value": 0, "relation": "gte"}
    # boundary: threshold exactly equal to the hit count stays "eq"
    t_eq = engine.total_hits(q, track_total_hits=exact)
    assert t_eq == {"value": exact, "relation": "eq"}


def test_terminate_after_zero_means_disabled(engine):
    # the reference's DEFAULT_TERMINATE_AFTER: 0 disables early
    # termination (it must NOT return an empty result)
    q = {"match": {"text": "the"}}
    full = engine.search(q, size=10000).collect()
    zero = engine.search(q, size=10000, terminate_after=0).collect()
    assert len(zero) == len(full) > 0
    with pytest.raises(ValueError, match=">= 0"):
        engine.search(q, size=5, terminate_after=-1)


def test_docvalue_fields_formats(engine):
    # docvalue_fields: formatted in place under the field name
    rows = engine.search(
        {"match": {"text": "the"}},
        size=3,
        docvalue_fields={"ts": "yyyy-MM-dd", "role": None},
    ).collect()
    assert len(rows) == 3
    import re

    for r in rows:
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", r["ts"])
        assert r["role"] in ("user", "assistant", "tool")
    ms = engine.search(
        {"match": {"text": "the"}}, size=1,
        docvalue_fields={"ts": "epoch_millis"},
    ).collect()[0]
    assert int(ms["ts"]) > 1_500_000_000_000  # millis, not seconds


@pytest.mark.parametrize(
    "fmt, digits", [("0.0", 1), ("##0.0", 1), ("#.00#", 3), ("#.0", 1), ("0", 0)]
)
def test_docvalue_decimal_formats(engine, fmt, digits):
    # DecimalFormat spellings with a zero before the dot or '#' fraction
    # digits render the number, the same subset the REST bucket keys use
    from opensearch_spark import restapi

    q = {"match": {"text": "the"}}
    raw = engine.search(q, size=5).collect()
    got = engine.search(q, size=5, docvalue_fields={"turn_idx": fmt}).collect()
    assert [r["turn_idx"] for r in got] == [
        f"{r['turn_idx']:.{digits}f}" for r in raw
    ]
    assert [restapi._decimal_format(fmt, r["turn_idx"]) for r in raw] == [
        r["turn_idx"] for r in got
    ]
    assert restapi._decimal_format("Value is ##0.0", 50) == "Value is 50.0"


def test_docvalue_format_does_not_break_sort_order(engine):
    # review finding: formatting in place before orderBy sorted by the
    # rendered STRING; the raw value must drive the order
    raw = engine.search({"match": {"text": "the"}}, size=8,
                        sort=[("ts", "asc")]).collect()
    fmt = engine.search({"match": {"text": "the"}}, size=8,
                        sort=[("ts", "asc")],
                        docvalue_fields={"ts": "MM-dd"}).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in fmt] == \
           [(r["conv_id"], r["turn_idx"]) for r in raw]
    assert all(len(r["ts"]) == 5 for r in fmt)


def test_dismax_fused_equals_union_path(engine):
    # the single-scan dis_max must reproduce the per-clause union plan
    from opensearch_spark.query import dsl as Q

    q = Q.from_dict(
        {
            "dis_max": {
                "queries": [
                    {"match": {"text": "error handling"}},
                    {"match": {"text": "the data"}},
                    {"term": {"text": "spark"}},
                ],
                "tie_breaker": 0.4,
            }
        }
    )
    fused = engine._dismax_fused_sql(q)
    assert fused is not None
    got = {r["_docid"]: r["score"] for r in engine._frame(fused).collect()}
    # force the union path by bypassing the fused dispatch
    from functools import reduce as _red

    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    parts = [engine._score(sub) for sub in q.queries]
    unioned = _red(_DF.unionByName, parts)
    grouped = unioned.groupBy("_docid").agg(
        F.max("score").alias("best"), F.sum("score").alias("total")
    )
    want = {
        r["_docid"]: r["best"] + 0.4 * (r["total"] - r["best"])
        for r in grouped.collect()
    }
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-9)


def test_dismax_falls_back_for_complex_clauses(engine):
    from opensearch_spark.query import dsl as Q

    q = Q.from_dict(
        {
            "dis_max": {
                "queries": [
                    {"match_phrase": {"text": "error handling"}},
                    {"match": {"text": "the"}},
                ]
            }
        }
    )
    assert engine._dismax_fused_sql(q) is None
    # and the public path still answers
    assert engine.search({"dis_max": {"queries": [
        {"match_phrase": {"text": "error handling"}},
        {"match": {"text": "the"}},
    ]}}, size=3).collect()


def test_dismax_non_text_match_clause_raises_like_union_path(engine):
    # ADVICE r3: a dis_max Match clause on a non-text field must NOT be
    # silently scored against the text postings by the fused path — it
    # falls back to the union path, which raises the same ValueError a
    # bare match on that field does
    from opensearch_spark.query import dsl as Q

    q = Q.from_dict(
        {
            "dis_max": {
                "queries": [
                    {"match": {"role": "user words"}},
                    {"match": {"text": "error"}},
                ]
            }
        }
    )
    assert engine._dismax_fused_sql(q) is None
    with pytest.raises(ValueError, match="match targets the indexed text field"):
        engine.search(
            {"dis_max": {"queries": [
                {"match": {"role": "user words"}},
                {"match": {"text": "error"}},
            ]}},
            size=3,
        ).collect()


def test_request_script_division_by_zero_is_value_error():
    from opensearch_spark.query.searchpipeline import _eval_request_script

    with pytest.raises(ValueError, match="division by zero"):
        _eval_request_script("size = size / 0", {"size": 10, "from": 0})


# -------------------------------------- highlight fragments (r4, VERDICT #6)


def test_highlight_fragments_options(engine):
    out = engine.search_highlight_fragments(
        {"match": {"text": "error handling"}}, size=5,
        fragment_size=50, number_of_fragments=2,
    ).collect()
    assert out
    for r in out:
        assert "<em>error</em>" in r["fragment"] or "<em>handling</em>" in r["fragment"]
        # SimpleFragmenter window: tagged length minus tags stays near
        # fragment_size (last token may overhang, like Lucene)
        raw = r["fragment"].replace("<em>", "").replace("</em>", "")
        assert len(raw) < 50 + 30
    # per-hit cap respected
    from collections import Counter

    ids = Counter((r["conv_id"], r["turn_idx"]) for r in out)
    assert max(ids.values()) <= 2


def test_highlight_matched_fields_and_field_match(engine):
    # a bool query: text match + role term. Under require_field_match
    # (default) only text terms highlight; matched_fields=["role"]
    # blends the role vocabulary in.
    q = {"bool": {"must": [{"match": {"text": "error"}}],
                  "filter": [{"term": {"role": "user"}}]}}
    base = engine.search_highlight_fragments(q, size=5, fragment_size=80).collect()
    assert base and all("<em>user</em>" not in r["fragment"] for r in base)
    blended = engine.search_highlight_fragments(
        q, size=5, fragment_size=80, matched_fields=["role"]
    ).collect()
    # 'user' appears as a text token in transcript bodies -> now lit
    assert any("<em>user</em>" in r["fragment"] for r in blended) or all(
        "user" not in r["fragment"].replace("<em>", "").replace("</em>", "")
        for r in blended
    )
    # require_field_match=False is a superset of matched_fields
    loose = engine.search_highlight_fragments(
        q, size=5, fragment_size=80, require_field_match=False
    ).collect()
    assert len(loose) >= len(base)


def test_highlight_fragments_case_punct_and_spacing(spark, tmp_path):
    """r4 review fixes: (1) raw tokens are matched case-insensitively
    with edge punctuation stripped — the rule hits are produced by
    (analysis lowercases) and search_highlight's IGNORECASE regex uses;
    (2) empty split tokens keep their separator char so offsets stay
    TRUE char offsets and fragments reproduce the original spacing;
    (3) a NULL text hit still reaches the no_match fallback."""
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    docs = spark.createDataFrame(
        [
            (0, "Spark joins the tables, join them fast."),
            (1, "alpha  beta spark gamma"),
            (2, None),
        ],
        "doc_id INT, text STRING",
    )
    d = str(tmp_path / "hlidx")
    build_index(
        spark, docs, d,
        IndexConfig(n_segments=2, id_cols=("doc_id",), routing_col="doc_id"),
    )
    eng = SearchEngine(InvertedIndex(spark, d))
    out = {
        r["doc_id"]: r["fragment"]
        for r in eng.search_highlight_fragments(
            {"match": {"text": "spark join"}}, size=5,
            fragment_size=200, number_of_fragments=1,
        ).collect()
    }
    # capitalized occurrences are tagged, original surface form
    # preserved inside the tags
    assert out[0] == "<em>Spark</em> joins the tables, <em>join</em> them fast."
    # double space survives the re-join (true offsets, original spacing)
    assert out[1] == "alpha  beta <em>spark</em> gamma"
    # NULL text: absent from matches, present in no_match fallback
    nm = eng.search_highlight_fragments(
        {"term": {"doc_id": 2}}, size=5, no_match_size=30
    ).collect()
    assert [(r["doc_id"], r["frag"]) for r in nm] == [(2, -1)]


def test_date_nanos_search_after_string_keys(spark, tmp_path):
    """search_after on a date_nanos sort key takes the emitted epoch
    nanos back, and the field's string renderings parse to exact epoch
    nanos: nine fraction digits with or without ``Z``, three digits, and
    a ``+HH:MM`` offset."""
    import json as _json

    from opensearch_spark import restapi
    from opensearch_spark.index.mapping import Mappings, create_index_from_json
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine, _parse_nanos

    base = 1540815132 * 10**9  # 2018-10-29T12:12:12Z
    iso = ["strict_date_optional_time"]
    assert _parse_nanos("2018-10-29T12:12:12.123456789Z", iso) == base + 123456789
    assert _parse_nanos("2018-10-29T12:12:12.123456789", iso) == base + 123456789
    assert _parse_nanos("2018-10-29T12:12:12.123Z", iso) == base + 123000000
    assert _parse_nanos("2018-10-29T17:42:12.5+05:30", iso) == base + 500000000
    assert _parse_nanos("2018-10-29", iso) == base - 43932 * 10**9

    stamps = ["2018-10-29T12:12:11.5Z", "2018-10-29T12:12:12.123456Z",
              "2018-10-29T12:12:13Z"]
    df = spark.createDataFrame(
        [(_json.dumps({"doc_id": i, "text": "row", "t": t}),)
         for i, t in enumerate(stamps)], "_source string")
    d = str(tmp_path / "nanos")
    create_index_from_json(spark, df, d, id_fields=("doc_id",),
                           mappings=Mappings({"t": {"type": "date_nanos"}}))
    eng = SearchEngine(InvertedIndex(spark, d))

    def page(after=None, size=3):
        body = {"query": {"match": {"text": "row"}}, "size": size,
                "sort": [{"t": "asc"}]}
        if after is not None:
            body["search_after"] = [after]
        hits = restapi.search_request(eng, body)["hits"]["hits"]
        return [(h["_id"], h["sort"][0]) for h in hits]

    first = page(size=1)
    assert first == [("0", base - 500000000)]
    rest = page(first[0][1])
    assert [i for i, _s in rest] == ["1", "2"]
    assert page("2018-10-29T12:12:11.5Z") == rest
    assert page("2018-10-29T12:12:12.123Z") == rest
    assert page("2018-10-29T12:12:12.123456789Z") == rest[1:]
    assert page("2018-10-29T12:12:12.123456789") == rest[1:]
