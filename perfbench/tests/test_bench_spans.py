import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from spans import Tracer, covered, self_time  # noqa: E402


def test_covered_merges_overlaps_and_clips_to_the_interval():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert covered((0, 10), [(11, 12)]) == 0


def test_self_time_is_duration_minus_child_cover():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0}]
    assert self_time(parent, kids) == pytest.approx(6.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_nesting_and_request_ids():
    tr = Tracer(enabled=True)
    with tr.span("request", req="r1"):
        with tr.span("plan"):
            time.sleep(0.01)
        with tr.span("exec"):
            with tr.span("inner"):
                time.sleep(0.01)
    names = [s["name"] for s in tr.spans]
    assert names == ["request", "plan", "exec", "inner"]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, 2]
    assert {s["req"] for s in tr.spans} == {"r1"}
    selfs = tr.self_times()
    req, plan, exe, inner = tr.spans
    assert selfs[1] == pytest.approx(plan["end"] - plan["start"])
    assert selfs[2] == pytest.approx((exe["end"] - exe["start"]) - (inner["end"] - inner["start"]))
    assert selfs[0] + selfs[1] + selfs[2] + selfs[3] == pytest.approx(req["end"] - req["start"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("request", req="r1") as sp:
        assert sp is None
    assert tr.spans == [] and tr.self_times() == []
