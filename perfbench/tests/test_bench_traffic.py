import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import pytest  # noqa: E402

import traffic  # noqa: E402


@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_same_seed_same_requests(workload):
    a = traffic.request_stream(workload, 5, 2000, 60)
    b = traffic.request_stream(workload, 5, 2000, 60)
    assert a == b


@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_other_seed_other_requests_same_shapes(workload):
    a = traffic.request_stream(workload, 5, 2000, 60)
    b = traffic.request_stream(workload, 6, 2000, 60)
    assert [r["body"] for r in a] != [r["body"] for r in b]
    assert [r["cls"] for r in a] == [r["cls"] for r in b]


@pytest.mark.parametrize("workload", ["serve", "ingest"])
def test_warm_up_stream_has_the_shapes_but_other_requests(workload):
    a = traffic.request_stream(workload, 5, 2000, 12)
    w = traffic.request_stream(workload, 5, 2000, 12, stream=traffic.WARM_STREAM)
    assert [r["cls"] for r in a] == [r["cls"] for r in w]
    assert [r["body"] for r in a] != [r["body"] for r in w]


def test_serve_gated_searches_are_the_head_twice():
    reqs = traffic.request_stream("serve", 1, 2000, 40)
    searches = [r["cls"] for r in reqs if r["kind"] == "search"]
    assert searches[:traffic.SERVE_GATED] == 2 * traffic.SERVE_HEAD
    # at least one aggregation runs before the gated searches are done
    assert "agg" in [r["cls"] for r in reqs[:traffic.SERVE_GATED]]


def test_serve_mix_shares():
    reqs = traffic.request_stream("serve", 1, 2000, 10 * len(traffic.SERVE_CYCLE))
    aggs = [r for r in reqs if r["cls"] == "agg"]
    assert len(aggs) == 20 and all(r["kind"] == "rest" for r in aggs)
    assert {r["cls"] for r in reqs} == set(traffic.SERVE_CYCLE)


def test_phrases_come_from_the_generated_corpus():
    from opensearch_spark.transcripts import generate_pandas
    import numpy as np

    text = " ".join(generate_pandas(np.arange(300), seed=3)["text"])
    for r in traffic.request_stream("serve", 3, 300, 48):
        if r["cls"] == "phrase":
            assert r["body"]["match_phrase"]["text"] in text


def test_only_hot_term_requests_prune():
    for r in traffic.request_stream("ingest", 2, 1500, 20):
        assert (r["prune"] is True) == (r["cls"] == "hot_term_pruned")


def test_burst_conversations_are_seeded():
    assert traffic.burst_conv_ids(3, 1500) == traffic.burst_conv_ids(3, 1500)
    assert len(traffic.burst_conv_ids(3, 1500)) == traffic.MIN_BURST_CONVS
    assert len(traffic.burst_conv_ids(3, 5000)) == 5
