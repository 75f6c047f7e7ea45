import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import check  # noqa: E402


def test_mismatch_requires_same_ranks_and_close_scores():
    gold = [(("c1", 0), 2.0), (("c2", 1), 1.0)]
    assert check.mismatch(list(gold), gold) is None
    assert check.mismatch([(("c1", 0), 2.0 * (1 + 5e-7)), (("c2", 1), 1.0)], gold) is None
    assert "score" in check.mismatch([(("c1", 0), 2.0 * (1 + 5e-6)), (("c2", 1), 1.0)], gold)
    assert "rank" in check.mismatch(gold[::-1], gold)
    assert "rank" in check.mismatch(gold[:1], gold)


def test_oracle_expectations_for_generated_requests():
    import traffic

    pdf = check.corpus_pandas(60, 2, traffic.burst_conv_ids(2, 60))
    assert pdf["text"].str.contains("error timeout error timeout").any()
    orc = check.build_oracle(pdf)
    for req in traffic.request_stream("serve", 2, 60, 24):
        gold = check.expected(orc, req, 10)
        assert (gold is None) == (req["cls"] not in traffic.ORACLE_CLASSES)
        if req["cls"] == "term_absent_case":
            assert gold == []
