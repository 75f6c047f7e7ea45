import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.samples_beyond(99, 90) == 9
    assert stats.percentile(list(range(1, 100)), 90) is None
    assert stats.percentile(list(range(1000)), 99) is not None
    assert stats.percentile(list(range(999)), 99) is None


def test_summary_always_has_count_and_median():
    assert stats.summarize([]) == {"n": 0}
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    s = stats.summarize([float(i) for i in range(200)])
    assert s["n"] == 200 and "p90" in s and "p99" not in s

