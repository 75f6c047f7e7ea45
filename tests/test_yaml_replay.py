"""Replay the reference's OWN rest-api-spec YAML tests (public spec
test data under rest-api-spec/.../test/) against this engine through
tests/yamlreplay.py.  Every green test here is a reference test
scenario — setup docs, request body and expected response values all
authored by the reference project — passing verbatim on this engine.
Spec features outside our surface skip with the reason."""

from __future__ import annotations

import os

import pytest

from tests.yamlreplay import Runner, Unsupported, load_file, SPEC_DIR

FILES = [
    "search/20_default_values.yml",
    "search/90_search_after.yml",
    "search/360_from_and_size.yml",
    "search/310_match_bool_prefix.yml",
    "search/10_source_filtering.yml",
    "search/160_exists_query.yml",
    "search/220_total_hits_object.yml",
    "search/230_interval_query.yml",
    "search/250_distance_feature.yml",
    "search/170_terms_query.yml",
    "count/10_basic.yml",
    "count/20_query_string.yml",
    "explain/10_basic.yml",
    "search.aggregation/10_histogram.yml",
    "search.aggregation/100_avg_metric.yml",
    "msearch/10_basic.yml",
    "search/50_multi_match.yml",
    "search/60_query_string.yml",
]

# individual spec tests that exercise surface we deliberately don't
# serve; skipped with the reason so the report stays honest
SKIP = {
    ("search/170_terms_query.yml",
     "Terms Query with No.of terms exceeding index.max_terms_count should FAIL"):
        "index.max_terms_count is a per-index SETTING; the builder has "
        "no index-settings store (documented in SURVEY §1.2)",
    ("search/230_interval_query.yml", "Test unordered with no overlap in match"):
        "unordered_no_overlap replicates Lucene's PAIRWISE lazy-iterator "
        "combination for 3+ sources (some assignments are never visited); "
        "a declarative no-overlap assignment would match a superset",
    ("search/230_interval_query.yml", "Test unordered combination no overlap"):
        "unordered_no_overlap pairwise-iterator artifact (see above)",
    ("search/230_interval_query.yml",
     "Test nested unordered combination no overlap"):
        "unordered_no_overlap pairwise-iterator artifact (see above)",
    ("search/160_exists_query.yml", "Test exists query on _routing field"):
        "index-op routing values are consumed by the builder's routing "
        "hash, not stored per-doc",
    ("search.aggregation/10_histogram.yml", "date_histogram on range"):
        "range FIELD types (long_range/date_range mappers) are out of "
        "scope (SURVEY §1.2 field-type table)",
    ("search.aggregation/10_histogram.yml",
     "date_histogram on range with offset"):
        "range FIELD types are out of scope (see above)",
    ("search.aggregation/10_histogram.yml", "histogram with hard bounds"):
        "hard_bounds over range FIELD types is out of scope (see above)",
    ("search.aggregation/10_histogram.yml", "histogram profiler"):
        "the profile response reports this engine's Spark plan, not "
        "Lucene collector/rewrite internals the assertions expect",
    ("search.aggregation/10_histogram.yml", "date_histogram profiler"):
        "Lucene profiler internals (see above)",
    ("search.aggregation/10_histogram.yml",
     "date_histogram profiler shows filter rewrite info"):
        "Lucene profiler internals (see above)",
    ("search.aggregation/10_histogram.yml", "date_histogram with offset"):
        "date_histogram offset sub-day bucket shifting is not "
        "implemented (calendar truncation only)",
}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SPEC_DIR), reason="reference spec tests not present"
)


def _cases():
    # parametrize runs at collection, before the skipif above applies:
    # without the spec checkout there is nothing to load, and the empty
    # parameter set skips the test instead of failing collection
    if not os.path.isdir(SPEC_DIR):
        return []
    out = []
    for rel in FILES:
        for name, steps in load_file(rel):
            out.append(pytest.param(rel, name, steps,
                                    id=f"{rel}::{name}"))
    return out


@pytest.mark.parametrize("rel,name,steps", _cases())
def test_yaml_replay(spark, rel, name, steps):
    reason = SKIP.get((rel, name))
    if reason:
        pytest.skip(reason)
    runner = Runner(spark)
    try:
        runner.run(steps)
    except Unsupported as e:
        pytest.skip(str(e))
