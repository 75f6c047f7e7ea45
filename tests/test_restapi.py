"""``_search`` body adapter (restapi.py): reference-shaped request in,
reference-shaped response out, values pinned against direct engine calls
and independent pandas recomputation of the aggregations."""

import math

import pandas as pd
import pytest

from opensearch_spark import restapi
from opensearch_spark.query import dsl as Q


@pytest.fixture(scope="module")
def dm_pdf(engine):
    return engine.docmap().toPandas()


def test_hits_envelope_matches_engine(engine):
    body = {
        "query": {"match": {"text": "error handling"}},
        "size": 5,
        "_source": ["role", "text"],
    }
    resp = restapi.search_request(engine, body)
    direct = engine.search({"match": {"text": "error handling"}}, size=5).collect()
    assert resp["timed_out"] is False
    assert resp["hits"]["total"]["relation"] == "eq"
    hits = resp["hits"]["hits"]
    assert len(hits) == 5
    assert [h["_score"] for h in hits] == [r["score"] for r in direct]
    assert [h["_id"] for h in hits] == [
        f"{r['conv_id']}:{r['turn_idx']}" for r in direct
    ]
    assert resp["hits"]["max_score"] == hits[0]["_score"]
    for h in hits:
        assert set(h["_source"]) == {"role", "text", "conv_id", "turn_idx"}


def test_track_total_hits(engine):
    body = {"query": {"match": {"text": "the"}}, "size": 0,
            "track_total_hits": True}
    exact = restapi.search_request(engine, body)
    n = exact["hits"]["total"]["value"]
    assert n > 10 and exact["hits"]["hits"] == []
    th = restapi.search_request(
        engine, {"query": {"match": {"text": "the"}}, "size": 0,
                 "track_total_hits": 10}
    )
    assert th["hits"]["total"] == {"value": 10, "relation": "gte"}


def test_sort_script_fields_docvalues(engine):
    body = {
        "query": {"match": {"text": "error"}},
        "size": 6,
        "sort": [{"dl": {"order": "desc"}}, {"turn_idx": "asc"}],
        "script_fields": {
            "dl2": {"script": {"lang": "painless",
                               "source": "doc['dl'].value * 2"}}
        },
        "docvalue_fields": ["role"],
    }
    resp = restapi.search_request(engine, body)
    hits = resp["hits"]["hits"]
    assert len(hits) == 6
    dls = [h["sort"][0] for h in hits]
    assert dls == sorted(dls, reverse=True)
    for h in hits:
        assert h["fields"]["dl2"] == [h["sort"][0] * 2]
        assert h["fields"]["role"][0] in ("user", "assistant", "tool")


def test_aggs_metrics_single_pass(engine, dm_pdf):
    body = {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "dl_avg": {"avg": {"field": "dl"}},
            "dl_stats": {"stats": {"field": "dl"}},
            "roles": {"cardinality": {"field": "role"}},
            "dl_p": {"percentiles": {"field": "dl", "percents": [50.0, 95.0]}},
            "wavg": {"weighted_avg": {"value": {"field": "dl"},
                                      "weight": {"field": "turn_idx"}}},
            "dl_scripted": {"avg": {"script": {
                "lang": "painless", "source": "doc['dl'].value * 10"}}},
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]
    assert a["dl_avg"]["value"] == pytest.approx(dm_pdf["dl"].mean())
    assert a["dl_stats"]["count"] == len(dm_pdf)
    assert a["dl_stats"]["min"] == dm_pdf["dl"].min()
    assert a["dl_stats"]["max"] == dm_pdf["dl"].max()
    assert a["dl_stats"]["sum"] == pytest.approx(dm_pdf["dl"].sum())
    assert a["roles"]["value"] == dm_pdf["role"].nunique()
    assert a["dl_p"]["values"]["50.0"] == pytest.approx(
        dm_pdf["dl"].quantile(0.5), rel=1e-9
    )
    w = dm_pdf["turn_idx"]
    assert a["wavg"]["value"] == pytest.approx(
        (dm_pdf["dl"] * w).sum() / w.sum()
    )
    assert a["dl_scripted"]["value"] == pytest.approx(dm_pdf["dl"].mean() * 10)


def test_aggs_terms_with_sub_metric(engine, dm_pdf):
    body = {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "by_role": {
                "terms": {"field": "role", "size": 2,
                          "order": {"len.value": "desc"}},
                "aggs": {"len": {"avg": {"field": "dl"}}},
            }
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]["by_role"]
    exp = (
        dm_pdf.groupby("role")
        .agg(doc_count=("dl", "size"), len=("dl", "mean"))
        .sort_values(["len"], ascending=False)
    )
    assert a["doc_count_error_upper_bound"] == 0
    assert a["sum_other_doc_count"] == len(dm_pdf) - int(
        exp["doc_count"].iloc[:2].sum()
    )
    for b, (key, row) in zip(a["buckets"], exp.iloc[:2].iterrows()):
        assert b["key"] == key
        assert b["doc_count"] == row["doc_count"]
        assert b["len"]["value"] == pytest.approx(row["len"])


def test_aggs_histogram_range_filter_missing_pipeline(engine, dm_pdf):
    body = {
        "query": {"match_all": {}},
        "size": 0,
        "aggs": {
            "dl_hist": {"histogram": {"field": "dl", "interval": 10.0}},
            "dl_cum": {"cumulative_sum": {"buckets_path": "dl_hist>_count"}},
            "dl_deriv": {"derivative": {"buckets_path": "dl_hist>_count"}},
            "dl_rng": {
                "range": {"field": "dl",
                          "ranges": [{"to": 20}, {"from": 20, "to": 40},
                                     {"from": 40, "key": "big"}]},
                "aggs": {"mx": {"max": {"field": "turn_idx"}}},
            },
            "users": {"filter": {"term": {"role": "user"}}},
            "by_band": {"filters": {"filters": {
                "short": {"range": {"dl": {"lt": 30}}},
                "long": {"range": {"dl": {"gte": 30}}},
            }}},
            "no_tool": {"missing": {"field": "tool"}},
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]

    hist = {b["key"]: b["doc_count"] for b in a["dl_hist"]["buckets"]}
    exp_hist = dm_pdf.groupby((dm_pdf["dl"] // 10 * 10).astype(float))[
        "dl"
    ].size()
    assert hist == {float(k): int(v) for k, v in exp_hist.items()}
    # pipeline: cumulative_sum / derivative over the histogram counts
    keys = [b["key"] for b in a["dl_hist"]["buckets"]]
    counts = [b["doc_count"] for b in a["dl_hist"]["buckets"]]
    cum = [b["value"] for b in a["dl_cum"]["buckets"]]
    assert cum == [sum(counts[: i + 1]) for i in range(len(counts))]
    der = [b["value"] for b in a["dl_deriv"]["buckets"]]
    assert der[0] is None
    assert der[1:] == [counts[i] - counts[i - 1] for i in range(1, len(counts))]
    assert [b["key"] for b in a["dl_cum"]["buckets"]] == keys

    rng = a["dl_rng"]["buckets"]
    assert rng[0]["doc_count"] == int((dm_pdf["dl"] < 20).sum())
    assert rng[1]["doc_count"] == int(
        ((dm_pdf["dl"] >= 20) & (dm_pdf["dl"] < 40)).sum()
    )
    assert rng[2]["key"] == "big"
    big = dm_pdf[dm_pdf["dl"] >= 40]
    assert rng[2]["doc_count"] == len(big)
    assert rng[2]["mx"]["value"] == big["turn_idx"].max()

    assert a["users"]["doc_count"] == int((dm_pdf["role"] == "user").sum())
    assert a["by_band"]["buckets"]["short"]["doc_count"] == int(
        (dm_pdf["dl"] < 30).sum()
    )
    assert a["no_tool"]["doc_count"] == int(dm_pdf["tool"].isna().sum())


def test_aggs_over_matched_docset_not_page(engine, dm_pdf):
    # aggregations see ALL matching docs even when size caps the page
    body = {
        "query": {"term": {"role": "user"}},
        "size": 3,
        "aggs": {"n": {"value_count": {"field": "dl"}}},
    }
    resp = restapi.search_request(engine, body)
    n_user = int((dm_pdf["role"] == "user").sum())
    assert len(resp["hits"]["hits"]) == 3
    assert resp["aggregations"]["n"]["value"] == n_user
    assert resp["hits"]["total"]["value"] == min(n_user, 10000)


def test_highlight_and_rescore(engine):
    resp = restapi.search_request(
        engine,
        {
            "query": {"match": {"text": "error handling"}},
            "size": 5,
            "highlight": {"fields": {"text": {"fragment_size": 60,
                                              "number_of_fragments": 2}}},
        },
    )
    tagged = [h for h in resp["hits"]["hits"] if "highlight" in h]
    assert tagged, "no hit carried highlight fragments"
    assert any("<em>" in f for h in tagged for f in h["highlight"]["text"])

    rs = restapi.search_request(
        engine,
        {
            "query": {"match": {"text": "error"}},
            "size": 5,
            "rescore": {
                "window_size": 20,
                "query": {"rescore_query": {"match": {"text": "handling"}},
                          "query_weight": 1.0,
                          "rescore_query_weight": 2.0},
            },
        },
    )
    direct = engine.rescore(
        {"match": {"text": "error"}}, {"match": {"text": "handling"}},
        window_size=20, rescore_query_weight=2.0, size=5,
    ).collect()
    assert [h["_score"] for h in rs["hits"]["hits"]] == [
        r["score"] for r in direct
    ]


def test_aggs_nested_terms_in_terms(engine, dm_pdf):
    # terms > terms > avg: one groupBy per level, assembled per parent
    body = {
        "size": 0,
        "aggs": {"by_role": {
            "terms": {"field": "role", "size": 3},
            "aggs": {"by_tool": {
                "terms": {"field": "tool", "size": 2},
                "aggs": {"len": {"avg": {"field": "dl"}}},
            }},
        }},
    }
    a = restapi.search_request(engine, body)["aggregations"]["by_role"]
    exp_roles = dm_pdf.groupby("role").size().sort_values(ascending=False)
    for b in a["buckets"]:
        sub = dm_pdf[(dm_pdf["role"] == b["key"]) & dm_pdf["tool"].notna()]
        assert b["doc_count"] == exp_roles[b["key"]]
        exp_tools = (
            sub.groupby("tool")
            .agg(n=("dl", "size"), m=("dl", "mean"))
            .sort_values(["n", "tool"], ascending=[False, True])
        )
        child = b["by_tool"]
        assert child["sum_other_doc_count"] == len(sub) - int(
            exp_tools["n"].iloc[:2].sum()
        )
        for cb, (key, row) in zip(child["buckets"], exp_tools.iloc[:2].iterrows()):
            assert cb["key"] == key
            assert cb["doc_count"] == row["n"]
            assert cb["len"]["value"] == pytest.approx(row["m"])


def test_aggs_terms_with_selector_child_and_global(engine, dm_pdf):
    # selector (range) child computes as conditional aggregates inside
    # the parent terms pass; global re-roots on the whole index
    body = {
        "query": {"term": {"role": "user"}},
        "size": 0,
        "aggs": {
            "by_role": {
                "terms": {"field": "role", "size": 3},
                "aggs": {
                    "bands": {"range": {"field": "dl",
                                        "ranges": [{"to": 30},
                                                   {"from": 30}]}},
                    "has_tool": {"filter": {"exists": {"field": "tool"}}},
                },
            },
            "everything": {"global": {},
                           "aggs": {"n": {"value_count": {"field": "dl"}}}},
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]
    users = dm_pdf[dm_pdf["role"] == "user"]
    (b,) = a["by_role"]["buckets"]
    assert b["key"] == "user" and b["doc_count"] == len(users)
    assert b["bands"]["buckets"][0]["doc_count"] == int((users["dl"] < 30).sum())
    assert b["bands"]["buckets"][1]["doc_count"] == int((users["dl"] >= 30).sum())
    assert b["has_tool"]["doc_count"] == int(users["tool"].notna().sum())
    assert a["everything"]["doc_count"] == len(dm_pdf)
    assert a["everything"]["n"]["value"] == len(dm_pdf)


def test_aggs_filter_root_with_keyed_child(engine, dm_pdf):
    body = {
        "size": 0,
        "aggs": {"long_docs": {
            "filter": {"range": {"dl": {"gte": 30}}},
            "aggs": {"roles": {"terms": {"field": "role", "size": 5}}},
        }},
    }
    a = restapi.search_request(engine, body)["aggregations"]["long_docs"]
    sub = dm_pdf[dm_pdf["dl"] >= 30]
    assert a["doc_count"] == len(sub)
    exp = sub.groupby("role").size()
    got = {b["key"]: b["doc_count"] for b in a["roles"]["buckets"]}
    assert got == {k: int(v) for k, v in exp.items()}


def test_top_hits_composite_significant(engine, dm_pdf):
    body = {
        "query": {"term": {"role": "tool"}},
        "size": 0,
        "aggs": {
            "by_tool": {
                "terms": {"field": "tool", "size": 2},
                "aggs": {"best": {"top_hits": {
                    "size": 2, "sort": [{"dl": "desc"}],
                    "_source": ["role"]}}},
            },
            "comp": {"composite": {
                "size": 3,
                "sources": [{"t": {"terms": {"field": "tool"}}},
                            {"band": {"histogram": {"field": "dl",
                                                    "interval": 20.0}}}],
            }},
            "sig": {"significant_terms": {"field": "tool", "size": 3}},
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]
    tools = dm_pdf[dm_pdf["role"] == "tool"]
    for b in a["by_tool"]["buckets"]:
        sub = tools[tools["tool"] == b["key"]]
        hits = b["best"]["hits"]["hits"]
        assert b["best"]["hits"]["total"]["value"] == b["doc_count"] == len(sub)
        exp = sub.sort_values(["dl", "conv_id", "turn_idx"],
                              ascending=[False, True, True]).head(2)
        assert [h["_id"] for h in hits] == [
            f"{r.conv_id}:{r.turn_idx}" for r in exp.itertuples()
        ]
        assert all(h["_source"]["role"] == "tool" for h in hits)

    comp = a["comp"]
    exp_keys = sorted(
        {(t, float(d // 20 * 20)) for t, d in zip(tools["tool"], tools["dl"])}
    )[:3]
    assert [(b["key"]["t"], b["key"]["band"]) for b in comp["buckets"]] == exp_keys
    assert comp["after_key"] == comp["buckets"][-1]["key"]
    # page 2 via after_key: strictly-after, no overlap
    body["aggs"]["comp"]["composite"]["after"] = comp["after_key"]
    comp2 = restapi.search_request(engine, body)["aggregations"]["comp"]
    assert all((b["key"]["t"], b["key"]["band"]) > exp_keys[-1]
               for b in comp2["buckets"])

    # every doc with role=tool has a tool value -> fg share exceeds bg
    sig = a["sig"]
    assert sig["doc_count"] == len(tools)
    assert sig["buckets"] and all(
        b["doc_count"] <= b["bg_count"] for b in sig["buckets"]
    )


def test_collapse_and_suggest(engine, dm_pdf):
    resp = restapi.search_request(
        engine,
        {"query": {"match": {"text": "error"}}, "size": 5,
         "collapse": {"field": "role"}, "_source": ["role"]},
    )
    hits = resp["hits"]["hits"]
    roles = [h["_source"]["role"] for h in hits]
    assert len(roles) == len(set(roles)) and len(hits) <= 3
    scores = [h["_score"] for h in hits]
    assert scores == sorted(scores, reverse=True)

    sg = restapi.search_request(
        engine,
        {"size": 0,
         "suggest": {
             "fix": {"text": "erorr handlng",
                     "term": {"max_edits": 2, "size": 3}},
             "didyoumean": {"text": "error handlng",
                            "phrase": {"size": 2, "max_errors": 2.0}},
         }},
    )["suggest"]
    toks = {e["text"]: e["options"] for e in sg["fix"]}
    assert "erorr" in toks and any(o["text"] == "error" for o in toks["erorr"])
    assert sg["didyoumean"][0]["options"], "phrase suggester returned nothing"
    assert any("error" in o["text"] for o in sg["didyoumean"][0]["options"])


def test_aggs_more_kinds(engine, dm_pdf):
    body = {
        "size": 0,
        "aggs": {
            "mad": {"median_absolute_deviation": {"field": "dl"}},
            "rare_tools": {"rare_terms": {"field": "tool",
                                          "max_doc_count": 10}},
            "rt": {"multi_terms": {"terms": [{"field": "role"},
                                             {"field": "tool"}],
                                   "size": 4}},
            "eras": {"date_range": {"field": "ts",
                                    "ranges": [{"to": "2026-01-05"},
                                               {"from": "2026-01-05"}]}},
            "by_role_eras": {
                "terms": {"field": "role", "size": 1},
                "aggs": {"eras": {"date_range": {
                    "field": "ts",
                    "ranges": [{"to": "2026-01-05"},
                               {"from": "2026-01-05"}]}}},
            },
        },
    }
    a = restapi.search_request(engine, body)["aggregations"]
    med = dm_pdf["dl"].median()
    assert a["mad"]["value"] == pytest.approx(
        (dm_pdf["dl"] - med).abs().median(), abs=1e-4
    )
    tool_counts = dm_pdf["tool"].value_counts()
    exp_rare = sorted(tool_counts[tool_counts <= 10].index)
    assert [b["key"] for b in a["rare_tools"]["buckets"]] == exp_rare

    pairs = (dm_pdf[dm_pdf["tool"].notna()]
             .groupby(["role", "tool"]).size()
             .sort_values(ascending=False))
    got = {tuple(b["key"]): b["doc_count"] for b in a["rt"]["buckets"]}
    for k, v in got.items():
        assert pairs[k] == v
    assert len(got) == 4

    ts = pd.to_datetime(dm_pdf["ts"])
    cut = pd.Timestamp("2026-01-05")
    assert a["eras"]["buckets"][0]["doc_count"] == int((ts < cut).sum())
    assert a["eras"]["buckets"][1]["doc_count"] == int((ts >= cut).sum())
    # date_range as a selector CHILD under terms (conditional aggregates)
    b0 = a["by_role_eras"]["buckets"][0]
    sub = dm_pdf[dm_pdf["role"] == b0["key"]]
    sts = pd.to_datetime(sub["ts"])
    assert b0["eras"]["buckets"][0]["doc_count"] == int((sts < cut).sum())
    assert b0["eras"]["buckets"][1]["doc_count"] == int((sts >= cut).sum())


def test_post_filter_and_profile(engine, dm_pdf):
    # post_filter narrows the hits page; total and aggs stay unfiltered
    resp = restapi.search_request(
        engine,
        {"query": {"match": {"text": "error"}}, "size": 50,
         "post_filter": {"term": {"role": "user"}},
         "_source": ["role"],
         "track_total_hits": True,
         "aggs": {"n": {"value_count": {"field": "dl"}}},
         "profile": True},
    )
    n_all = resp["hits"]["total"]["value"]
    assert all(h["_source"]["role"] == "user" for h in resp["hits"]["hits"])
    assert 0 < len(resp["hits"]["hits"]) < n_all
    assert resp["aggregations"]["n"]["value"] == n_all
    assert resp["profile"]["hits"] >= len(resp["hits"]["hits"])


def test_runtime_mappings_and_fields(engine, dm_pdf):
    resp = restapi.search_request(
        engine,
        {
            "query": {"range": {"dl2": {"gte": 100}}},
            "size": 4,
            "runtime_mappings": {"dl2": {"type": "long",
                                         "script": {"source": "dl * 2"}}},
            "fields": ["role", {"field": "dl2"}],
            "sort": [{"dl2": "desc"}],
            "aggs": {"m": {"max": {"field": "dl2"}}},
        },
    )
    hits = resp["hits"]["hits"]
    assert len(hits) == 4
    for h in hits:
        assert h["fields"]["dl2"][0] >= 100
        assert h["fields"]["role"][0] in ("user", "assistant", "tool")
    assert resp["aggregations"]["m"]["value"] == dm_pdf["dl"].max() * 2
    n_exp = int((dm_pdf["dl"] * 2 >= 100).sum())
    assert resp["hits"]["total"]["value"] == min(n_exp, 10000)


def test_geo_distance_rings(engine, dm_pdf):
    import numpy as np

    body = {
        "size": 0,
        "runtime_mappings": {
            "pt_lat": {"type": "double",
                       "script": {"source": "(dl % 120) - 60.0"}},
            "pt_lon": {"type": "double",
                       "script": {"source": "(turn_idx * 7 % 300) - 150.0"}},
        },
        "aggs": {"rings": {"geo_distance": {
            "field": "pt", "origin": {"lat": 10.0, "lon": 20.0},
            "ranges": [{"to": 3000}, {"from": 3000, "to": 8000},
                       {"from": 8000}],
        }}},
    }
    a = restapi.search_request(engine, body)["aggregations"]["rings"]
    lat = (dm_pdf["dl"] % 120 - 60.0).to_numpy()
    lon = (dm_pdf["turn_idx"] * 7 % 300 - 150.0).to_numpy()
    la1, lo1 = np.radians(10.0), np.radians(20.0)
    la2, lo2 = np.radians(lat), np.radians(lon)
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    km = 2 * 6371.0088 * np.arcsin(np.sqrt(np.minimum(h, 1.0)))
    exp = [int((km < 3000).sum()),
           int(((km >= 3000) & (km < 8000)).sum()),
           int((km >= 8000).sum())]
    assert [b["doc_count"] for b in a["buckets"]] == exp
    assert sum(exp) == len(dm_pdf)


def test_scope_guards(engine):
    with pytest.raises(NotImplementedError):
        restapi.search_request(
            engine,
            {"size": 0,
             "aggs": {"a": {"filter": {"match": {"text": "error"}}}}},
        )
    with pytest.raises(NotImplementedError):
        # selector child carrying its own bucket child under a bucket agg
        restapi.search_request(
            engine,
            {"size": 0,
             "aggs": {"a": {"terms": {"field": "role"},
                            "aggs": {"f": {
                                "filter": {"term": {"role": "user"}},
                                "aggs": {"t": {"terms": {"field": "tool"}}},
                            }}}}},
        )


def test_msearch_and_count_envelopes(engine):
    out = restapi.msearch_request(engine, [
        {"query": {"match": {"text": "error"}}, "size": 2},
        {"query": {"term": {"role": "user"}}, "size": 0,
         "track_total_hits": True},
        {"query": {"unknown_query_kind": {}}},           # per-item error
    ])
    assert len(out["responses"]) == 3
    assert len(out["responses"][0]["hits"]["hits"]) == 2
    assert out["responses"][1]["hits"]["total"]["relation"] == "eq"
    assert "error" in out["responses"][2]

    c = restapi.count_request(
        engine, {"query": {"term": {"role": "user"}}}
    )
    assert c["count"] == out["responses"][1]["hits"]["total"]["value"]
    assert restapi.count_request(engine)["count"] == engine.docmap().count()


def test_selector_in_selector_nesting(engine, dm_pdf):
    """filter > filter > metric and filter > range composition: masks
    AND down the tree in one pass (r5 guard lift)."""
    resp = restapi.search_request(
        engine,
        {"size": 0,
         "aggs": {"users": {
             "filter": {"term": {"role": "user"}},
             "aggs": {
                 "early": {
                     "filter": {"range": {"turn_idx": {"lt": 3}}},
                     "aggs": {"len": {"avg": {"field": "dl"}}},
                 },
                 "idx_rng": {
                     "range": {"field": "turn_idx",
                               "ranges": [{"to": 2}, {"from": 2}]},
                 },
             },
         }}},
    )
    a = resp["aggregations"]["users"]
    users = dm_pdf[dm_pdf.role == "user"]
    assert a["doc_count"] == len(users)
    early = users[users.turn_idx < 3]
    assert a["early"]["doc_count"] == len(early)
    assert a["early"]["len"]["value"] == pytest.approx(early.dl.mean())
    rb = a["idx_rng"]["buckets"]
    assert rb[0]["doc_count"] == len(users[users.turn_idx < 2])
    assert rb[1]["doc_count"] == len(users[users.turn_idx >= 2])


def test_selector_in_selector_under_bucket_parent(engine, dm_pdf):
    """terms > filter > filter > metric: the nested selector rides the
    terms groupBy pass as AND-masked conditional aggregates."""
    resp = restapi.search_request(
        engine,
        {"size": 0,
         "aggs": {"roles": {
             "terms": {"field": "role", "size": 10},
             "aggs": {"early": {
                 "filter": {"range": {"turn_idx": {"lt": 4}}},
                 "aggs": {"first": {
                     "filter": {"range": {"turn_idx": {"lt": 1}}},
                     "aggs": {"len": {"avg": {"field": "dl"}}},
                 }},
             }},
         }}},
    )
    for b in resp["aggregations"]["roles"]["buckets"]:
        grp = dm_pdf[dm_pdf.role == b["key"]]
        early = grp[grp.turn_idx < 4]
        first = early[early.turn_idx < 1]
        assert b["early"]["doc_count"] == len(early)
        assert b["early"]["first"]["doc_count"] == len(first)
        if len(first):
            assert b["early"]["first"]["len"]["value"] == pytest.approx(
                first.dl.mean()
            )


def test_collapse_inner_hits(engine, dm_pdf):
    """collapse.inner_hits expands each collapsed group to its top-N
    (default = the collapse order; here an explicit turn_idx sort)."""
    resp = restapi.search_request(
        engine,
        {"query": {"match": {"text": "error"}},
         "collapse": {"field": "conv_id",
                      "inner_hits": {"name": "turns", "size": 2,
                                     "sort": [{"turn_idx": {"order": "asc"}}]}},
         "size": 3, "_source": ["conv_id", "turn_idx"]},
    )
    hits = resp["hits"]["hits"]
    assert len(hits) == 3
    seen = set()
    for h in hits:
        cid = h["_source"]["conv_id"]
        assert cid not in seen  # one hit per group
        seen.add(cid)
        inner = h["inner_hits"]["turns"]["hits"]["hits"]
        assert 1 <= len(inner) <= 2
        # every inner hit belongs to the group, sorted by turn_idx asc
        idxs = [ih["_source"]["turn_idx"] for ih in inner]
        assert idxs == sorted(idxs)
        for ih in inner:
            assert ih["_source"]["conv_id"] == cid
        # and they are the group's LOWEST matching turn_idx values:
        # recompute the group's matching turns via the engine
        grp = [r["turn_idx"] for r in restapi.search_request(
            engine,
            {"query": {"bool": {"must": [{"match": {"text": "error"}}],
                                "filter": [{"term": {"conv_id": cid}}]}},
             "size": 100, "_source": ["turn_idx"]},
        )["hits"]["hits"] for r in [r["_source"]]]
        assert idxs == sorted(grp)[: len(inner)]


def test_body_completion_suggester(engine, dm_pdf):
    """completion suggester served from the body: a completion table
    built from the tool column, prefix + fuzzy + skip_duplicates."""
    resp = restapi.search_request(
        engine,
        {"size": 0,
         "suggest": {"tools": {
             "prefix": "tool-",
             "completion": {"field": "tool", "size": 10,
                            "skip_duplicates": True},
         }}},
    )
    opts = resp["suggest"]["tools"][0]["options"]
    exp = sorted(dm_pdf.tool.dropna().unique())
    assert [o["text"] for o in opts] != []
    assert {o["text"] for o in opts} <= set(exp)
    # skip_duplicates: each surface form once
    texts = [o["text"] for o in opts]
    assert len(texts) == len(set(texts))
    # fuzzy: one transposed char still completes
    resp2 = restapi.search_request(
        engine,
        {"size": 0,
         "suggest": {"t2": {
             "prefix": "toli-",   # 'tool-' with an ol->li typo band
             "completion": {"field": "tool", "size": 10,
                            "fuzzy": {"fuzziness": 2, "prefix_length": 1},
                            "skip_duplicates": True},
         }}}
    )
    assert resp2["suggest"]["t2"][0]["options"], resp2["suggest"]


def test_body_completion_index_prefixes(engine):
    """`index_prefixes` at the body level: the equality-probe table
    must serve identical options to the range-scan path (r5, the
    CompletionFieldMapper index_prefixes accelerator)."""
    body_plain = {"size": 0, "suggest": {"t": {
        "prefix": "tool-",
        "completion": {"field": "tool", "size": 10,
                       "skip_duplicates": True},
    }}}
    body_accel = {"size": 0, "suggest": {"t": {
        "prefix": "tool-",
        "completion": {"field": "tool", "size": 10,
                       "skip_duplicates": True,
                       "index_prefixes": {"min_chars": 2,
                                          "max_chars": 5}},
    }}}
    a = restapi.search_request(engine, body_plain)["suggest"]["t"][0]
    b = restapi.search_request(engine, body_accel)["suggest"]["t"][0]
    assert a["options"] == b["options"] and a["options"]


def test_analyze_request_body():
    """_analyze body API (r5): named analyzer, inline chain, and the
    multi-text position stream with a +1 gap."""
    r = restapi.analyze_request(
        {"analyzer": "standard", "text": "The Quick FOXES"}
    )
    assert [t["token"] for t in r["tokens"]] == ["the", "quick", "foxes"]
    assert [t["position"] for t in r["tokens"]] == [0, 1, 2]
    r2 = restapi.analyze_request({
        "tokenizer": "whitespace",
        "filter": [{"type": "phonetic", "encoder": "soundex"}],
        "text": ["Robert Rupert", "Ashcraft"],
    })
    assert [(t["token"], t["position"]) for t in r2["tokens"]] == [
        ("R163", 0), ("R163", 1), ("A261", 2),
    ]


def test_run_aggs_struct_paths(spark):
    """Agg fields that address struct members by dotted path resolve
    through the struct for every kind (terms, avg, range, missing,
    histogram, a composite source); an unmapped dotted field aggregates
    as nulls, like any unmapped field."""
    df = spark.createDataFrame(
        [(1, ("ann", 30)), (2, ("bob", 41)), (3, ("ann", 17)),
         (4, (None, None)), (5, None)],
        "id int, user struct<name:string,age:int>",
    )
    a = restapi.run_aggs(df, {
        "names": {"terms": {"field": "user.name"}},
        "age": {"avg": {"field": "user.age"}},
        "bands": {"range": {"field": "user.age",
                            "ranges": [{"to": 30}, {"from": 30}]}},
        "no_name": {"missing": {"field": "user.name"}},
        "decades": {"histogram": {"field": "user.age", "interval": 10}},
        "comp": {"composite": {"sources": [
            {"n": {"terms": {"field": "user.name"}}},
            {"a": {"histogram": {"field": "user.age", "interval": 20}}},
        ]}},
        "ghost_terms": {"terms": {"field": "user.email"}},
        "ghost_avg": {"avg": {"field": "user.email"}},
        "ghost_missing": {"missing": {"field": "user.email"}},
    })
    assert [(b["key"], b["doc_count"]) for b in a["names"]["buckets"]] == [
        ("ann", 2), ("bob", 1)]
    assert a["age"]["value"] == pytest.approx((30 + 41 + 17) / 3)
    assert [b["doc_count"] for b in a["bands"]["buckets"]] == [1, 2]
    assert a["no_name"]["doc_count"] == 2
    assert [(b["key"], b["doc_count"]) for b in a["decades"]["buckets"]] == [
        (10.0, 1), (30.0, 1), (40.0, 1)]
    comp = [(b["key"]["n"], b["key"]["a"], b["doc_count"])
            for b in a["comp"]["buckets"] if b["key"]["n"] is not None]
    assert comp == [("ann", 0.0, 1), ("ann", 20.0, 1), ("bob", 40.0, 1)]
    assert a["ghost_terms"]["buckets"] == []
    assert a["ghost_avg"]["value"] is None
    assert a["ghost_missing"]["doc_count"] == 5


def test_date_keys_ignore_time_zones(engine):
    """date_histogram keys and date sort keys are epoch millis of UTC
    instants whatever the time zone of the Python process or of the
    Spark session.  Asia/Kolkata's half-hour offset moves every hour
    boundary, so any leak of either zone changes the buckets."""
    import os
    import time

    aggs_body = {
        "size": 0,
        "query": {"match": {"text": "error handling"}},
        "aggs": {
            "by_role": {"terms": {"field": "role"}},
            "per_hour": {"date_histogram": {"field": "ts",
                                            "calendar_interval": "hour"}},
            "avg_turn": {"avg": {"field": "turn_idx"}},
        },
    }
    sort_body = {"query": {"match": {"text": "error"}}, "size": 5,
                 "sort": [{"ts": "asc"}], "_source": ["ts"]}

    def run():
        return (restapi.search_request(engine, aggs_body)["aggregations"],
                [h["sort"] for h in
                 restapi.search_request(engine, sort_body)["hits"]["hits"]])

    utc = run()
    keys = [b["key"] for b in utc[0]["per_hour"]["buckets"]]
    assert keys and all(k % 3_600_000 == 0 for k in keys)
    assert utc[0]["per_hour"]["buckets"][0]["key_as_string"].endswith(
        ":00:00.000Z")
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    try:
        py_local = run()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    conf = engine.spark.conf
    old_session = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        session_local = run()
    finally:
        conf.set("spark.sql.session.timeZone", old_session)
    assert py_local == utc
    assert session_local == utc
