"""Plan-quality gates: the physical plans must keep the properties the
100 TB design depends on — predicate pushdown into the Parquet scans,
column pruning (binary posting columns unread for metadata passes),
broadcast of the tiny per-term stats, and no full-corpus scan for a
term-filtered query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_postings_term_filter_pushdown(engine):
    """The term filter must reach the Parquet scan (PushedFilters), so a
    query reads only matching row groups."""
    blocks = engine.index.postings().filter(F.col("term").isin(["error", "timeout"]))
    plan = _formatted(blocks)
    assert "PushedFilters" in plan
    assert "In(term" in plan.replace(" ", "") or "In(term," in plan


def test_postings_for_terms_sql_filter_pushdown(engine):
    """The SQL-text ``term IN (...)`` of ``postings_for_terms`` folds its
    hex-encoded literals (quote, non-ASCII) and still reaches the scan."""
    plan = _formatted(engine.index.postings_for_terms(["error", "o'neil café"]))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "In(term" in pushed[0].replace(" ", ""), plan
    assert "o'neil café" in pushed[0], pushed[0]


def test_metadata_pass_prunes_binary_columns(engine):
    """WAND's bounds pass must not read the packed binary columns."""
    meta = (
        engine.index.postings()
        .filter(F.col("term") == "error")
        .select("term", "block_id", "base_doc", "max_tf", "min_norm")
    )
    plan = _formatted(meta)
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_line, plan
    rs = schema_line[0]
    for col in ("docs_bin", "tfs_bin", "norms_bin", "pos_bin"):
        assert col not in rs, f"{col} read in metadata-only pass:\n{rs}"


def test_docmap_filter_pushdown(engine):
    dm = engine.index.docmap().filter(F.col("role") == "user").select("_docid")
    plan = _formatted(dm)
    # cached (InMemoryRelation) or raw scan: either must not read text
    if "ReadSchema" in plan:
        rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "text" not in rs


def test_term_stats_inline_small_broadcast_large(engine):
    """Per-term stats (idf/df/ttf) are plan-time literals: small queries
    look them up in map literals on ``term`` — NO broadcast exchange, so
    scoring is one job, not two (r3 job-count cut).  Large expansion
    sets (wildcard/fuzzy) keep the broadcast join: each row's lookup
    scans the map's keys."""
    from pyspark.sql import functions as F

    from opensearch_spark.query import dsl as Q
    from opensearch_spark.query.executor import INLINE_STATS_MAX_TERMS

    scored = engine._score(Q.Match("text", "error handling"))
    plan = _formatted(scored)
    assert "BroadcastExchange" not in plan, plan
    assert "map(keys: [error,handling], values: [" in plan, plan

    terms = [
        r["term"]
        for r in engine.index.dictionary()
        .select("term")
        .limit(INLINE_STATS_MAX_TERMS + 8)
        .collect()
    ]
    assert len(terms) > INLINE_STATS_MAX_TERMS
    big = engine._score_terms_or({t: 1 for t in terms}, required=1)
    plan = _formatted(big)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _compiles(spark, fn) -> int:
    """Janino compilations (whole-stage and expression codegen) ``fn``
    triggers in the driver JVM; a class compiled before is reused from
    the code cache and does not count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = lambda: metrics.METRIC_COMPILATION_TIME().getCount()  # noqa: E731
    before = count()
    fn()
    return count() - before


@pytest.mark.parametrize("persisted", [False, True], ids=["unpersisted", "persisted"])
def test_match_on_new_terms_compiles_nothing(spark, index_dir, engine, persisted):
    """Per-term constants are map literals, which generated code holds as
    referenced objects: once one 2-term match has compiled its shape, a
    match on two other terms reuses every class (a CASE inlined each
    query's idf doubles and recompiled per query)."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    idx = InvertedIndex(spark, index_dir).persist() if persisted else engine.index
    try:
        eng = SearchEngine(idx)
        eng.search({"match": {"text": "error handling"}}, size=10).collect()
        q = {"match": {"text": "timeout planner"}}
        assert len(idx.term_stats(["timeout", "planner"])) == 2
        rows = []
        assert _compiles(spark, lambda: rows.extend(eng.search(q, size=10).collect())) == 0
        assert rows
        # phrase idf and fused dis_max clause weights are held in map
        # literals too: a warmed shape on new terms compiles nothing
        for warm, new in NEW_TERM_SHAPES:
            eng.search(warm, size=10).collect()
            rows = []
            run = lambda: rows.extend(eng.search(new, size=10).collect())  # noqa: E731
            assert _compiles(spark, run) == 0, new
            assert rows, new
    finally:
        if persisted:
            idx.unpersist()


def _dis_max(match, term):
    return {"dis_max": {"queries": [{"match": {"text": match}},
                                    {"term": {"text": term}}],
                        "tie_breaker": 0.3}}


# (warming query, same shape on other terms); every term is in the corpus
NEW_TERM_SHAPES = [
    ({"match_phrase": {"text": "error handling"}}, {"match_phrase": {"text": "slow query"}}),
    (_dis_max("error handling", "timeout"), _dis_max("slow query", "planner")),
]


def _py4j_round_trips(spark, fn) -> int:
    """py4j round trips ``fn`` makes, counted by wrapping the gateway
    client's ``send_command``.  Only the calling thread's sends count:
    py4j's FinalizerWorker thread releases garbage-collected JVM
    references through the same client whenever it wakes, so its sends
    in the window depend on timing, not on ``fn``."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    caller = threading.get_ident()
    calls = 0

    def send_command(*args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == caller
        return orig(*args, **kwargs)

    client.send_command = send_command
    try:
        fn()
    finally:
        client.send_command = orig
    return calls


def test_match_plan_build_py4j_budget(engine):
    """Building a 2-term match plan costs at most 300 py4j round trips
    (it was ~2,000 when the norm table and the per-term CASE blocks were
    Column trees built one ``F.lit`` at a time).  The term-stats memo
    is warmed first: a first-sight dictionary lookup is a Spark job,
    not plan build."""
    q = {"match": {"text": "error handling"}}
    engine.search(q, size=10)
    calls = _py4j_round_trips(engine.spark, lambda: engine.search(q, size=10))
    assert calls <= 300, calls


def test_persisted_match_py4j_budget(spark, index_dir):
    """On a persisted handle, ``search()`` of a warm 2-term match is one
    SQL statement over the handle's views: at most 30 py4j round trips
    (about 106 when the query phase was a chain of DataFrame
    operations).  Its physical plan is already built, without AQE, and
    the session's AQE setting is left as it was."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    idx = InvertedIndex(spark, index_dir).persist()
    try:
        eng = SearchEngine(idx)
        q = {"match": {"text": "error handling"}}
        eng.search(q, size=10).collect()
        calls = _py4j_round_trips(spark, lambda: eng.search(q, size=10))
        assert calls <= 30, calls
        # the plan is built without AQE; the session keeps its setting
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        plan = eng.search(q, size=10)._jdf.queryExecution().executedPlan()
        assert plan.nodeName() != "AdaptiveSparkPlan"
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    finally:
        idx.unpersist()


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, tagged with a job group and read back from
    the status tracker once the listener bus has drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_absent_term_runs_no_job(engine):
    """A term absent from the dictionary (indexed terms are lower-cased)
    is known empty from the memoized term stats: the optimizer folds the
    whole search plan to an empty LocalRelation and collecting it runs
    no Spark job.  A present term in the same harness runs jobs, so the
    count is not vacuous."""
    engine.index.term_stats(["Error"])
    df = engine.search({"term": {"text": "Error"}}, size=10)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation <empty>"), plan
    assert _jobs_in_group(engine.spark, "absent-term", df.collect) == 0
    present = engine.search({"term": {"text": "error"}}, size=10)
    assert _jobs_in_group(engine.spark, "present-term", present.collect) >= 1


def test_root_selectors_share_the_metric_pass(engine):
    """The request root is a keyless bucket: root filter and range aggs
    are conditional aggregates in the root metrics' one agg() pass, and
    metric + filter children of terms ride the terms groupBy — neither
    shape runs more jobs than its bare counterpart."""
    from opensearch_spark import restapi

    dm = engine.docmap()

    def jobs(group, spec):
        run = lambda: restapi.run_aggs(dm, spec, engine=engine)  # noqa: E731
        run()  # warm: first-use costs are not the shape's
        return _jobs_in_group(engine.spark, group, run)

    avg = {"a": {"avg": {"field": "dl"}}}
    mixed = {**avg,
             "f": {"filter": {"term": {"role": "user"}}},
             "r": {"range": {"field": "dl",
                             "ranges": [{"to": 20}, {"from": 20}]}}}
    assert jobs("root-mixed", mixed) == jobs("root-avg", avg)
    terms = {"t": {"terms": {"field": "role"}}}
    nested = {"t": {"terms": {"field": "role"}, "aggs": {
        "m": {"avg": {"field": "dl"}},
        "f": {"filter": {"term": {"tool": "grep"}}},
    }}}
    assert jobs("terms-nested", nested) == jobs("terms-bare", terms)


def test_search_plan_no_cartesian(engine):
    from opensearch_spark.query import dsl as Q

    df = engine.search({"match": {"text": "error handling"}}, size=10)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan


def test_wand_metadata_threshold_prunes_binaries(engine):
    """The metadata-only WAND threshold scan must keep the packed
    binary columns unread (achievable scores come from max_tf +
    max_tf_norm alone)."""
    meta = (
        engine.index.postings()
        .filter(F.col("term") == "error")
        .select("term", "max_tf", "max_tf_norm")
    )
    plan = _formatted(meta)
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_line, plan
    for col in ("docs_bin", "tfs_bin", "norms_bin", "pos_bin"):
        assert col not in schema_line[0]


def test_multifield_no_cartesian(spark):
    """cross_fields multi_match must not produce a cartesian product —
    per-field clause frames union and hash-aggregate on (term, docid)."""
    import os
    import tempfile

    from opensearch_spark.docs_index import documents_multi_engine
    from opensearch_spark.query import dsl as Q

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    meng = documents_multi_engine(spark, sf)
    out = meng.score_multi_match(
        Q.MultiMatch("spark join", [("text", 1.0), ("title", 2.0)], type="cross_fields")
    )
    plan = _formatted(out)
    assert "CartesianProduct" not in plan


def test_minhash_verify_no_full_shingle_self_join(spark):
    """minhash_lsh_pairs verification must explode the candidate set and
    probe the shingle table (cands ⋈ id_a, then ⋈ (id_b, shingle)) —
    NEVER equi-join shingles to shingles on the bare shingle key, which
    materializes the quadratic self-join LSH exists to avoid (Catalyst
    cannot push a pair-key semi-join below a shingle-keyed join)."""
    import os
    import re

    from opensearch_spark.ops import dedup

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    # every join that touches the shingle column must also key on a doc id
    for m in re.finditer(r"Left keys \[(\d+)\]: \[([^\]]*)\]", plan):
        keys = m.group(2)
        if "shingle" in keys:
            assert "id_" in keys, f"bare shingle-keyed join in plan:\n{keys}"
    assert not re.search(r"Left keys \[1\]: \[shingle#", plan)


def test_jaccard_no_cartesian_and_broadcast_sizes(spark):
    """The ppjoin candidate plan must join prefixes on the shingle key
    (hash join) with broadcast size/hot frames — never a cartesian."""
    import os

    from opensearch_spark.ops import dedup

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = dedup.jaccard_pairs(docs, threshold=0.8)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_geo_bbox_predicate_pushdown(spark):
    """geo_bounding_box compiles to plain lat/lon comparisons that
    Catalyst pushes into the docmap parquet scan (PushedFilters) —
    spatial filtering costs row-group pruning, not a full scan."""
    import os

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver testdata absent")
    from opensearch_spark.docs_index import docset, documents_engine

    eng = documents_engine(spark, "/root/testdata/sf0.001")
    df = docset(
        eng,
        {
            "geo_bounding_box": {
                "location": {
                    "top_left": {"lat": 60.0, "lon": 150.0},
                    "bottom_right": {"lat": 20.0, "lon": -150.0},
                }
            }
        },
    )
    plan = _formatted(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[0]
    assert "lat" in line and "lon" in line, line


def test_index_sort_keyset_filter_pushdown(spark, tmp_path):
    """With index_sort on ts, a search_after keyset page on a ts field
    sort must push the ts bound into the docmap parquet scan — that is
    the pruning index sorting buys (deep pages skip whole row groups of
    already-returned time ranges)."""
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine
    from opensearch_spark.transcripts import generate

    d = str(tmp_path / "sorted_gate")
    build_index(
        spark,
        generate(spark, 60, partitions=2),
        d,
        IndexConfig(n_segments=4, index_sort=["ts"]),
    )
    eng = SearchEngine(InvertedIndex(spark, d))  # NOT persisted: raw scan
    page1 = eng.search(
        {"match": {"text": "error"}}, size=5, sort=[("ts", "asc")]
    ).collect()
    assert page1
    after = [page1[-1]["ts"], page1[-1]["conv_id"], page1[-1]["turn_idx"]]
    df = eng.search(
        {"match": {"text": "error"}},
        size=5,
        sort=[("ts", "asc")],
        search_after=after,
    )
    plan = _formatted(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "ts" in l]
    assert pushed, plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """decontaminate must join the corpus gram stream against a
    BROADCAST benchmark gram set (eval suites are small; the corpus is
    huge) — never a shuffle of corpus grams against benchmark grams on
    the gram key, and never a cartesian."""
    import os

    from opensearch_spark.ops import dedup

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    from pyspark.sql import functions as F

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = dedup.decontaminate(docs, bench, n=5)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_terms_shard_model_single_raw_scan(spark):
    """The two-phase shard terms agg must touch the raw table ONCE
    (one groupBy over (shard, key)); everything downstream — window,
    error accounting, merge — runs over the pre-aggregated frame.  No
    cartesian anywhere; the tiny totals frame is broadcast."""
    import os

    from opensearch_spark import aggs

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    buckets, meta = aggs.terms_shard_model(
        ev, "user_id", "event_id", size=5, shard_size=6, n_shards=8
    )
    for df in (buckets, meta):
        plan = _formatted(df)
        assert "CartesianProduct" not in plan
        # raw parquet scanned exactly once per output frame
        assert plan.count("events.parquet") <= 2, plan


def test_mixture_sample_row_path_is_hash_window(spark):
    """mixture_sample's row path must be one window over the domain
    column with pure integer hash ordering — no Python UDFs, no
    cartesian; quotas ride the plan as a CASE literal."""
    import os

    from opensearch_spark.ops import sampling as smp

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = smp.mixture_sample(docs, "lang", "doc_id", alpha=0.5, target=300)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan


def test_minhash_md5_mode_keeps_candidate_probe_order(spark):
    """The md5 (oracle) hash mode must keep the verify-stage join order
    fix: candidates explode first, shingles probe second — never the
    quadratic shingle self-join (r2 VERDICT #1)."""
    import os

    from opensearch_spark.ops import dedup

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    out = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8, hash_fn="md5")
    plan = _formatted(out)
    assert "CartesianProduct" not in plan


def test_derived_predicate_keeps_mapped_pushdown(engine):
    """A derived-field predicate (computed column, not pushable) must not
    drag the mapped-column conjunct out of the parquet scan: Catalyst
    splits the conjunction and still pushes the role filter down."""
    with engine.derived_fields({"tl": "length(text)"}):
        dm = (
            engine.docmap()
            .filter((F.col("tl") > 50) & (F.col("role") == "user"))
            .select("_docid")
        )
        plan = _formatted(dm)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    if pushed:  # raw parquet scan (not an InMemoryRelation)
        assert any("role" in l for l in pushed), plan


def test_exact_phrase_scorer_has_no_python_eval(engine):
    """r4 (VERDICT #9): the slop-0 phrase frequency lowers to JVM
    higher-order functions (map_from_entries + filter/array_contains) —
    the scoring stage must contain NO Python eval node.  The only
    Python in the plan is the posting-block Arrow decode (MapInPandas),
    which is shared by every query type."""
    df = engine.search({"match_phrase": {"text": "error handling"}}, size=5)
    plan = _formatted(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _plan_nodes(df) -> list:
    """Operator names of ``df``'s physical plan.  A cached relation is a
    leaf (``InMemoryTableScan``): the plan that filled the cache is not
    walked, because a query over the cache does not run it."""
    stack, names = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_persisted_postings_run_no_python(spark, index_dir, engine):
    """A persisted index serves match and phrase postings from the
    decoded pin: their plans hold no ``MapInArrow`` (no Python worker
    round trip per query).  The same queries on the unpersisted index
    decode blocks in a ``MapInArrow``, so the gate is not vacuous."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    queries = [
        {"match": {"text": "error handling"}},
        {"match_phrase": {"text": "error handling"}},
    ]
    for q in queries:
        assert "MapInArrow" in _plan_nodes(engine.search(q, size=10)), q
    idx = InvertedIndex(spark, index_dir).persist()
    try:
        for q in queries:
            nodes = _plan_nodes(SearchEngine(idx).search(q, size=10))
            assert "InMemoryTableScan" in nodes and "MapInArrow" not in nodes, (q, nodes)
    finally:
        idx.unpersist()


PINNED_ONE_JOB_QUERIES = [
    {"match": {"text": "handling"}},
    {"match": {"text": "error handling"}},
    {"match": {"text": {"query": "error handling", "operator": "and"}}},
    {"match": {"text": {"query": "slow query planner", "minimum_should_match": 2}}},
    {"term": {"text": "timeout"}},
    {"match_phrase": {"text": "error handling"}},
]


def test_persisted_search_is_one_job(spark, index_dir, engine):
    """A warm search on a persisted index runs as ONE Spark job: the pins
    are doc-partitioned, so scoring groups by doc and joins the docmap
    with no exchange and no broadcast, and term statistics come from the
    driver-side memo ``persist()`` filled.  A first-sight absent term
    runs no job at all.  The same match on the unpersisted index runs
    more than one job, so the gate is not vacuous."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    q = {"match": {"text": "error handling"}}
    engine.search(q, size=10).collect()
    assert _jobs_in_group(spark, "unpersisted-match",
                          engine.search(q, size=10).collect) >= 2
    idx = InvertedIndex(spark, index_dir).persist()
    try:
        eng = SearchEngine(idx)
        for i, pq in enumerate(PINNED_ONE_JOB_QUERIES):
            eng.search(pq, size=10).collect()
            rows = []
            run = lambda: rows.extend(eng.search(pq, size=10).collect())  # noqa: E731
            assert _jobs_in_group(spark, f"pinned-{i}", run) == 1, pq
            assert rows, pq
        absent = lambda: eng.search({"term": {"text": "Planner"}}, size=10).collect()  # noqa: E731
        assert _jobs_in_group(spark, "pinned-absent", absent) == 0
        nodes = _plan_nodes(eng.search(q, size=10))
        assert "InMemoryTableScan" in nodes, nodes
        assert not {"Exchange", "BroadcastExchange"} & set(nodes), nodes
    finally:
        idx.unpersist()
    # unpersisted, the memo no longer vouches for absence: a term it has
    # not seen is looked up again, by a reload of the dictionary files
    # (which runs no job)
    loads = []
    reload = idx._load_term_stats
    idx._load_term_stats = lambda: loads.append(1) or reload()
    assert idx.term_stats(["Handling"]).empty
    assert loads == [1]


def test_routed_search_prunes_segment(engine):
    """Routed search (_search?routing=): the _seg predicate must reach
    the postings Parquet scan, and the routed result set must be
    exactly the unrouted hits living in that segment with IDENTICAL
    scores (global term stats — the dfs_query_then_fetch contract)."""
    from opensearch_spark.query.executor import SearchEngine

    # pick the routing value of a known hit
    full = engine.search({"match": {"text": "error"}}, size=50).collect()
    assert full
    rkey = full[0]["conv_id"]
    ridx = engine.index.routed(rkey)
    # plan gate: pushed _seg equality on the postings scan
    plan = _formatted(ridx.postings().filter(F.col("term") == "error"))
    assert "PushedFilters" in plan
    assert "EqualTo(_seg" in plan.replace(" ", ""), plan
    # correctness: routed == unrouted ∩ segment, scores identical
    reng = SearchEngine(ridx)
    routed = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in reng.search({"match": {"text": "error"}}, size=50).collect()
    }
    assert (full[0]["conv_id"], full[0]["turn_idx"]) in routed
    seg_ids = {
        (r["conv_id"], r["turn_idx"])
        for r in ridx.docmap().select("conv_id", "turn_idx").collect()
    }
    expected = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in full
        if (r["conv_id"], r["turn_idx"]) in seg_ids
    }
    # every routed hit present in the unrouted set scores identically
    for k, v in routed.items():
        if k in expected:
            assert v == pytest.approx(expected[k], rel=1e-9)
    # and the top routed hits are exactly the segment's unrouted hits
    assert set(expected) <= set(routed) or len(routed) == 50


def test_fuzzy_length_band_pushdown(engine):
    """Fuzzy expansion must push the |len(term)-len(q)| <= d band and
    any prefix_length prefix into the dictionary parquet scan, and the
    band must not change the expanded term set (it is a necessary
    condition for the edit distance)."""
    from opensearch_spark.query import dsl as Q

    q = Q.Fuzzy("text", "erorr", fuzziness=2, prefix_length=1,
                transpositions=False)
    frame = engine._expansion_frame(q)
    plan = _formatted(frame)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    line = pushed[0].replace(" ", "")
    assert "GreaterThanOrEqual(tlen" in line, line
    assert "LessThanOrEqual(tlen" in line, line
    assert "StringStartsWith(term,e)" in line, line
    # band == no-band results
    got = sorted(r["term"] for r in frame.collect())
    unbanded = sorted(
        r["term"]
        for r in engine.index.dictionary()
        .filter(
            (F.levenshtein(F.col("term"), F.lit("erorr")) <= 2)
            & F.col("term").startswith("e")
        )
        .collect()
    )
    assert got == unbanded and got, got


def test_wildcard_regexp_literal_prefix_pushdown(engine):
    """Wildcard/regexp with a literal prefix must push a StartsWith
    into the dictionary scan (the FST common-prefix seek analog) with
    the full pattern still applied on survivors."""
    from opensearch_spark.query import dsl as Q
    from opensearch_spark.query.executor import _literal_prefix

    # prefix extraction unit semantics
    assert _literal_prefix("err*", "*?\\") == "err"
    assert _literal_prefix("er?or", "*?\\") == "er"
    assert _literal_prefix("err.*", ".?*+{}[]()|\\^$", quantified=True) == "err"
    # a regexp quantifier modifies the previous literal -> dropped
    assert _literal_prefix("errk*", ".?*+{}[]()|\\^$", quantified=True) == "err"
    # alternation anywhere kills the prefix (may bypass the head)
    assert _literal_prefix("err|ok", ".?*+{}[]()|\\^$", quantified=True) == ""

    for q in (Q.Wildcard("text", "err*r"), Q.Regexp("text", "err[aeiou]r")):
        frame = engine._expansion_frame(q)
        plan = _formatted(frame)
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert pushed, plan
        assert "StringStartsWith(term,err)" in pushed[0].replace(" ", ""), pushed[0]
        assert frame.count() > 0  # the corpus has err* terms ("error")


def test_scaled_float_predicate_pushes_long_equality(spark, tmp_path):
    """scaled_float term/range must reach the docmap parquet scan as
    LONG comparisons (the stored representation) — quantization happens
    plan-side, not row-side, so row-group stats prune."""
    import json as _json

    from opensearch_spark.index.mapping import (
        Mappings, create_index_from_json,
    )
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine
    from opensearch_spark.query import dsl as Q

    df = spark.createDataFrame(
        [(_json.dumps({"doc_id": i, "text": "t x", "price": i * 0.5}),)
         for i in range(1, 30)],
        "_source string",
    )
    d = str(tmp_path / "sfp")
    create_index_from_json(
        spark, df, d, id_fields=("doc_id",),
        mappings=Mappings(
            {"price": {"type": "scaled_float", "scaling_factor": 100.0}}
        ),
    )
    eng = SearchEngine(InvertedIndex(spark, d))
    pred = eng._predicate(Q.Term(field="price", value=3.0))
    scan = eng.docmap().filter(pred)
    plan = _formatted(scan)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    flat = pushed[0].replace(" ", "")
    assert "EqualTo(price,300)" in flat, pushed[0]
    rng = eng._predicate(Q.Range(field="price", gt=3.0, lte=10.0))
    plan2 = _formatted(eng.docmap().filter(rng))
    pushed2 = [l for l in plan2.splitlines() if "PushedFilters" in l][0]
    f2 = pushed2.replace(" ", "")
    assert "GreaterThanOrEqual(price,301)" in f2 and \
        "LessThanOrEqual(price,1000)" in f2, pushed2


def _span_near(clauses, slop, in_order):
    return {"span_near": {"clauses": clauses, "slop": slop, "in_order": in_order}}


def _st(term):
    return {"span_term": {"text": term}}


def _contain(kind, in_order):
    return {kind: {"big": _span_near([_st("the"), _st("of")], 4, in_order),
                   "little": _st("a")}}


POSITIONAL_SHAPES = {
    "intervals_match": {"intervals": {"text": {"match": {
        "query": "error handling", "max_gaps": 3, "ordered": True}}}},
    "intervals_any_of": {"intervals": {"text": {"any_of": {"intervals": [
        {"match": {"query": "error"}}, {"match": {"query": "handling"}}]}}}},
    **{f"intervals_all_of_{'ordered' if o else 'unordered'}": {
        "intervals": {"text": {"all_of": {"ordered": o, "max_gaps": 3, "intervals": [
            {"any_of": {"intervals": [{"match": {"query": "error"}},
                                      {"match": {"query": "the"}}]}},
            {"match": {"query": "handling"}}]}}}} for o in (True, False)},
    "intervals_filter": {"intervals": {"text": {"match": {
        "query": "the of", "max_gaps": 4,
        "filter": {"not_containing": {"match": {"query": "a"}}}}}}},
    "span_near_ordered": _span_near([_st("error"), _st("handling")], 2, True),
    "span_near_unordered": _span_near([_st("error"), _st("handling")], 2, False),
    "span_near_gaps": _span_near(
        [_st("the"), {"span_gap": {"text": 1}}, _st("of")], 2, True),
    "span_near_span_multi": _span_near(
        [{"span_multi": {"match": {"prefix": {"text": "err"}}}}, _st("handling")],
        2, True),
    **{f"{kind}_{'ordered' if o else 'unordered'}": _contain(kind, o)
       for kind in ("span_containing", "span_within") for o in (True, False)},
    "sloppy_distinct": {"match_phrase": {"text": {"query": "the of a", "slop": 4}}},
    "sloppy_repeated": {"match_phrase": {"text": {"query": "the of the", "slop": 4}}},
}


@pytest.mark.parametrize("shape", sorted(POSITIONAL_SHAPES) + ["span_near_masked"])
def test_positional_scorers_have_no_python_eval(engine, shape):
    """Interval, span and sloppy-phrase scoring runs on the lockstep
    Arrow kernels (a ``MapInArrow`` over per-slot position columns) for
    every shape: no plan carries a per-row Python eval node."""
    if shape == "span_near_masked":
        from opensearch_spark.query.multifield import MultiFieldEngine

        meng = MultiFieldEngine({"text": engine, "alias": engine}, "text")
        df = meng.score_span_near_masked(
            [("text", "error"), ("alias", "handling")], slop=2, in_order=False
        )
    else:
        df = engine.search(POSITIONAL_SHAPES[shape], size=10)
    nodes = _plan_nodes(df)
    assert "ArrowEvalPython" not in nodes and "BatchEvalPython" not in nodes, nodes
    assert "MapInArrow" in nodes, nodes


PIN_SURVIVAL_SEARCHES = [
    ({"match": {"text": "error handling"}}, {}),
    ({"match": {"text": {"query": "error handling", "operator": "and"}}}, {}),
    ({"match": {"text": {"query": "slow query planner", "minimum_should_match": 2}}}, {}),
    ({"term": {"text": "timeout"}}, {}),
    ({"term": {"text": "Timeout"}}, {}),
    ({"match_phrase": {"text": "error handling"}}, {}),
    ({"match_phrase": {"text": {"query": "slow planner", "slop": 2}}}, {}),
    (_dis_max("error handling", "timeout"), {}),
    ({"dis_max": {"queries": [{"match_phrase": {"text": "error handling"}},
                              {"match": {"text": "the"}}]}}, {}),
    ({"bool": {"must": [{"match": {"text": "error"}}],
               "filter": [{"term": {"role": "user"}}]}}, {}),
    ({"bool": {"should": [{"match": {"text": "timeout"}}],
               "must_not": [{"match": {"text": "error"}}]}}, {}),
    ({"match_all": {}}, {}),
    ({"intervals": {"text": {"match": {"query": "slow planner", "max_gaps": 2}}}}, {}),
    ({"match": {"text": "error handling"}}, {"source_cols": ["role", "text"]}),
    ({"match": {"text": "error"}}, {"sort": [("turn_idx", "asc")]}),
    ({"match": {"text": "error"}}, {"search_after": [5.0, "conv-00000100", 0]}),
    ({"match": {"text": "error"}}, {"min_score": 3.0, "from_": 2}),
    ({"match": {"text": "error"}}, {"terminate_after": 3}),
    ({"match": {"text": "error"}}, {"derived": {"tl": "length(text)"},
                                    "source_cols": ["tl"]}),
    ({"match": {"text": "error"}}, {"script_fields": {"twice": {
        "source": "score * 2", "fields": []}}}),
]


def test_pins_survive_searches(spark, index_dir):
    """Searches never drop or replace a view over a pin (either would
    uncache it): after 20 searches of mixed shapes and options on a
    persisted handle, the session cache manager still finds every pin
    and the docmap view."""
    from opensearch_spark.index.reader import _PINS, InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    cache = spark._jsparkSession.sharedState().cacheManager()
    found = lambda df: cache.lookupCachedData(df._jdf).isDefined()  # noqa: E731
    idx = InvertedIndex(spark, index_dir).persist()
    try:
        eng = SearchEngine(idx)
        assert len(PIN_SURVIVAL_SEARCHES) == 20
        for q, kw in PIN_SURVIVAL_SEARCHES:
            eng.search(q, size=10, **kw).collect()
        for key in _PINS:
            assert found(idx.__dict__[key]), key
        assert found(spark.table(idx.docmap_relation().sql))
    finally:
        idx.unpersist()


def test_term_stats_load_once_per_handle(spark, index_dir, monkeypatch):
    """The first term-stats miss loads the whole dictionary into the
    handle's memo and marks it complete, unpersisted handles too: a
    second search with new terms on the same handle runs no dictionary
    job, and a term the memo lacks is absent without a lookup."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    idx = InvertedIndex(spark, index_dir)
    eng = SearchEngine(idx)
    assert eng.search({"match": {"text": "error handling"}}, size=10).collect()
    assert idx.__dict__.get("_term_stats_complete")
    loads = []
    monkeypatch.setattr(idx, "_load_term_stats", lambda: loads.append(1))
    assert eng.search({"match": {"text": "timeout planner"}}, size=10).collect()
    lookup = lambda: idx.term_stats(["slow", "query", "Unseen"])  # noqa: E731
    assert _jobs_in_group(spark, "memo-lookup", lookup) == 0
    assert len(idx.term_stats(["slow", "query", "Unseen"])) == 2
    assert loads == []


def test_unpersisted_searches_leave_no_views(spark, index_dir, monkeypatch):
    """An unpersisted handle registers no views of its own: its tables
    enter each statement through request views, which are dropped, so
    searches through per-request handles (a routed search opens one
    each time) leave the session catalog as they found it.  A routed
    handle shares its parent's term-statistics memo and loads none."""
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    def temp_views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    before = temp_views()
    idx = InvertedIndex(spark, index_dir)
    eng = SearchEngine(idx)
    for q, kw in PIN_SURVIVAL_SEARCHES[:4] + PIN_SURVIVAL_SEARCHES[13:]:
        eng.search(q, size=10, **kw).collect()
    loads = []
    monkeypatch.setattr(InvertedIndex, "_load_term_stats", lambda self: loads.append(1))
    for conv in ("conv-00000001", "conv-00000002"):
        routed = SearchEngine(idx.routed(conv))
        routed.search({"match": {"text": "error handling"}}, size=10).collect()
    assert loads == []
    assert temp_views() == before
