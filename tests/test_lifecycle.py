"""Document lifecycle: soft deletes hide docs immediately (stats frozen
until merge — reference semantics), merge expunges tombstones
physically, update_by_query rewrites matched docs."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.lifecycle import delete_by_query, update_by_query
from opensearch_spark.index.merge import merge_index
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.transcripts import generate


@pytest.fixture()
def lifecycle_idx(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, generate(spark, 120, partitions=4), d, IndexConfig(n_segments=4))
    return d


def test_soft_delete_hides_docs(spark, lifecycle_idx):
    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    q = {"match": {"text": "error handling"}}
    before = eng.search(q, size=5).collect()
    assert before
    victim = (before[0]["conv_id"], before[0]["turn_idx"])
    n = delete_by_query(eng, {"ids": {"values": [list(victim)]}})
    assert n == 1
    after = eng.search(q, size=5).collect()
    assert victim not in [(r["conv_id"], r["turn_idx"]) for r in after]
    # scores of surviving docs unchanged: stats frozen until merge
    surv = {(r["conv_id"], r["turn_idx"]): r["score"] for r in before[1:]}
    for r in after:
        k = (r["conv_id"], r["turn_idx"])
        if k in surv:
            assert r["score"] == pytest.approx(surv[k], rel=1e-12)
    # idempotent re-delete
    assert delete_by_query(eng, {"ids": {"values": [list(victim)]}}) == 0


def test_tombstone_frame_runs_no_job(spark, lifecycle_idx):
    """Tombstones are read with the schema every writer writes, so
    building the frame a search anti-joins runs no inference job."""
    from opensearch_spark.index.lifecycle import tombstone_docids

    from test_plans import _jobs_in_group

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    hit = eng.search({"match": {"text": "timeout"}}, size=1).collect()[0]
    assert delete_by_query(eng, {"ids": {"values": [[hit["conv_id"], hit["turn_idx"]]]}}) == 1
    dels = []
    assert _jobs_in_group(
        spark, "tombstones", lambda: dels.append(tombstone_docids(spark, lifecycle_idx))
    ) == 0
    assert dels[0].schema.simpleString() == "struct<_docid:bigint>"
    assert dels[0].count() == 1


def test_merge_expunges_deletes(spark, lifecycle_idx, tmp_path):
    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    q = {"match": {"text": "timeout"}}
    hit = eng.search(q, size=1).collect()[0]
    victim = (hit["conv_id"], hit["turn_idx"])
    delete_by_query(eng, {"ids": {"values": [list(victim)]}})
    n_before = eng.index.stats["n_docs"]

    dst = str(tmp_path / "merged")
    merge_index(spark, lifecycle_idx, dst, hot_blocks=4)
    midx = InvertedIndex(spark, dst)
    meng = SearchEngine(midx)
    # physically gone: docmap shrinks, stats updated, postings expunged
    assert midx.stats["n_docs"] == n_before - 1
    assert midx.stats["expunged"] == 1
    assert midx.docmap().filter(
        (F.col("conv_id") == victim[0]) & (F.col("turn_idx") == victim[1])
    ).count() == 0
    got = meng.search(q, size=1000).collect()
    assert victim not in [(r["conv_id"], r["turn_idx"]) for r in got]
    # df in the rebuilt dictionary reflects the expunge
    old_df = {r["term"]: r["df"] for r in eng.index.dictionary().filter(F.col("term") == "timeout").collect()}
    new_df = {r["term"]: r["df"] for r in midx.dictionary().filter(F.col("term") == "timeout").collect()}
    assert new_df["timeout"] == old_df["timeout"] - 1


def test_update_by_query(spark, lifecycle_idx, tmp_path):
    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    dst = str(tmp_path / "updated")
    update_by_query(
        spark,
        eng,
        {"term": {"role": "tool"}},
        lambda df: df.withColumn("text", F.concat(F.col("text"), F.lit(" zzupdated"))),
        dst,
        IndexConfig(n_segments=4),
    )
    ueng = SearchEngine(InvertedIndex(spark, dst))
    n_tool = eng.count({"term": {"role": "tool"}})
    assert ueng.count({"term": {"text": "zzupdated"}}) == n_tool
    # non-matching docs untouched
    assert ueng.index.docmap().count() == eng.index.docmap().count()


def test_update_by_query_does_not_resurrect_deleted(spark, lifecycle_idx, tmp_path):
    """A tombstoned doc must not reappear (live) in the index rebuilt by
    update_by_query — the reference's scroll+bulk only sees live docs."""
    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    q = {"match": {"text": "error handling"}}
    victim_row = eng.search(q, size=1).collect()[0]
    victim = (victim_row["conv_id"], victim_row["turn_idx"])
    assert delete_by_query(eng, {"ids": {"values": [list(victim)]}}) == 1
    n_live = eng.index.docmap().count() - 1

    dst = str(tmp_path / "upd_after_delete")
    update_by_query(
        spark,
        eng,
        {"term": {"role": "tool"}},
        lambda df: df.withColumn("text", F.concat(F.col("text"), F.lit(" zzupdated"))),
        dst,
        IndexConfig(n_segments=4),
    )
    ueng = SearchEngine(InvertedIndex(spark, dst))
    assert ueng.index.docmap().count() == n_live
    hits = ueng.search(q, size=10).collect()
    assert victim not in [(r["conv_id"], r["turn_idx"]) for r in hits]


# ---------------------------------------------------------------- _update


def test_update_doc_partial_merge(spark, lifecycle_idx):
    from opensearch_spark.index.lifecycle import update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    hit = eng.search({"match": {"text": "error"}}, size=1).collect()[0]
    ids = {"conv_id": hit["conv_id"], "turn_idx": hit["turn_idx"]}
    out = update_doc(
        spark, eng, ids, doc={"text": "completely rewritten error text"}
    )
    assert out == {"result": "updated"}
    # reopen: the new version is visible, the old tombstoned
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    rows = eng2.search(
        {"match": {"text": {"query": "completely rewritten", "operator": "and"}}},
        size=5,
        source_cols=["text"],
    ).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [
        (ids["conv_id"], ids["turn_idx"])
    ]
    assert rows[0]["text"] == "completely rewritten error text"
    # exactly one live version of the id
    from opensearch_spark.index.lifecycle import tombstone_docids

    dm = eng2.index.docmap().filter(
        (F.col("conv_id") == ids["conv_id"])
        & (F.col("turn_idx") == ids["turn_idx"])
    )
    dels = tombstone_docids(spark, lifecycle_idx)
    assert dm.count() == 2
    assert dm.join(dels, "_docid", "anti").count() == 1


def test_update_doc_noop_and_script(spark, lifecycle_idx):
    import os

    from opensearch_spark.index.lifecycle import update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    hit = eng.search({"match": {"text": "error"}}, size=1,
                     source_cols=["text", "role"]).collect()[0]
    ids = {"conv_id": hit["conv_id"], "turn_idx": hit["turn_idx"]}
    mdir = os.path.join(lifecycle_idx, "manifests")
    before = sorted(os.listdir(mdir))
    # identical partial doc -> noop, zero writes
    out = update_doc(spark, eng, ids, doc={"role": hit["role"]})
    assert out == {"result": "noop"}
    assert sorted(os.listdir(mdir)) == before
    # scripted update (ctx._source analog)
    out = update_doc(
        spark, eng, ids,
        script=lambda s: {**s, "text": s["text"] + " scripted suffix"},
    )
    assert out == {"result": "updated"}
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    rows = eng2.search(
        {"match_phrase": {"text": "scripted suffix"}}, size=5
    ).collect()
    assert (ids["conv_id"], ids["turn_idx"]) in [
        (r["conv_id"], r["turn_idx"]) for r in rows
    ]


def test_update_doc_upsert(spark, lifecycle_idx):
    from opensearch_spark.index.lifecycle import update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    ids = {"conv_id": "c-upsert", "turn_idx": 0}
    # missing without upsert -> error
    with pytest.raises(KeyError, match="document missing"):
        update_doc(spark, eng, ids, doc={"text": "x"})
    row = dict(eng.index.docmap().select(
        *[c for c in eng.index.plan["input_fields"]]
    ).limit(1).collect()[0].asDict())
    row.update({"conv_id": "c-upsert", "turn_idx": 0,
                "text": "upserted document text"})
    out = update_doc(spark, eng, ids, doc={"text": "ignored"}, upsert=row)
    assert out == {"result": "created"}
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    rows = eng2.search(
        {"match": {"text": {"query": "upserted document", "operator": "and"}}},
        size=5,
    ).collect()
    assert ("c-upsert", 0) in [(r["conv_id"], r["turn_idx"]) for r in rows]
    # second update now finds it (updated, not created)
    out = update_doc(spark, eng2, ids, doc={"role": "assistant"},
                     detect_noop=False)
    assert out == {"result": "updated"}


def test_update_doc_scripted_upsert(spark, lifecycle_idx):
    from opensearch_spark.index.lifecycle import update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    base = dict(eng.index.docmap().select(
        *[c for c in eng.index.plan["input_fields"]]
    ).limit(1).collect()[0].asDict())
    base.update({"conv_id": "c-sups", "turn_idx": 7,
                 "text": "seed upsert text"})
    out = update_doc(
        spark, eng, {"conv_id": "c-sups", "turn_idx": 7},
        script=lambda s: {**s, "text": s["text"] + " scripted-over-upsert"},
        upsert=base, scripted_upsert=True,
    )
    assert out == {"result": "created"}
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    rows = eng2.search(
        {"match_phrase": {"text": "scripted-over-upsert"}}, size=5,
        source_cols=["text"],
    ).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [("c-sups", 7)]
    assert rows[0]["text"] == "seed upsert text scripted-over-upsert"
    with pytest.raises(ValueError, match="requires a script"):
        update_doc(spark, eng2, {"conv_id": "nope", "turn_idx": 0},
                   doc={"text": "x"}, upsert=base, scripted_upsert=True)


def test_next_batch_id_reserves_intent_sentinels(tmp_path):
    """r4 review: the in-flight sentinel is batch-<id>-intent.json —
    its id must be reserved even without a committed manifest, else a
    crashed append's id gets reused and recovery misattributes data."""
    import os

    from opensearch_spark.index.lifecycle import _next_batch_id

    idx = tmp_path / "idx"
    mdir = idx / "manifests"
    mdir.mkdir(parents=True)
    assert _next_batch_id(str(idx)) == 0
    (mdir / "batch-0000000002.json").write_text("{}")
    assert _next_batch_id(str(idx)) == 3
    (mdir / "batch-0000000005-intent.json").write_text("{}")
    assert _next_batch_id(str(idx)) == 6
    assert os.path.isdir(str(mdir))


def test_update_doc_failed_append_keeps_doc_live(spark, lifecycle_idx):
    """r4 review: the replacement append commits BEFORE the tombstone —
    a failing append (here: a script returning a type createDataFrame
    rejects) must leave the old version live and searchable."""
    from opensearch_spark.index.lifecycle import tombstone_docids, update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    hit = eng.search({"match": {"text": "error"}}, size=1).collect()[0]
    ids = {"conv_id": hit["conv_id"], "turn_idx": hit["turn_idx"]}
    with pytest.raises(Exception):
        update_doc(
            spark, eng, ids,
            script=lambda s: {**s, "turn_idx": "not-an-int"},
        )
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    dm = eng2.index.docmap().filter(
        (F.col("conv_id") == ids["conv_id"])
        & (F.col("turn_idx") == ids["turn_idx"])
    )
    dels = tombstone_docids(spark, lifecycle_idx)
    live = dm if dels is None else dm.join(dels, "_docid", "anti")
    assert live.count() == 1  # still exactly one LIVE version, no loss
    # and a subsequent good update self-heals the leftover intent
    out = update_doc(spark, eng2, ids, doc={"text": "post-failure update"})
    assert out == {"result": "updated"}
    eng3 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    import os

    mdir = os.path.join(lifecycle_idx, "manifests")
    assert not [f for f in os.listdir(mdir) if f.startswith("update-intent-")]
    rows = eng3.search(
        {"match": {"text": {"query": "post-failure update", "operator": "and"}}},
        size=5,
    ).collect()
    assert (ids["conv_id"], ids["turn_idx"]) in [
        (r["conv_id"], r["turn_idx"]) for r in rows
    ]


def test_update_doc_crash_before_tombstone_heals(spark, lifecycle_idx):
    """Simulated crash AFTER the replacement append committed but BEFORE
    the tombstone write: the leftover update intent must finish the
    tombstone on the next update_doc call."""
    import json
    import os

    from opensearch_spark.index.lifecycle import (
        _update_intent_path,
        tombstone_docids,
        update_doc,
    )

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    hits = eng.search({"match": {"text": "the"}}, size=3).collect()
    a, b = hits[0], hits[1]
    ids_a = {"conv_id": a["conv_id"], "turn_idx": a["turn_idx"]}
    # a real update commits batch manifest 0
    out = update_doc(spark, eng, ids_a, doc={"text": "first real update"})
    assert out == {"result": "updated"}
    # manufacture the crash state: an update intent pointing at the
    # COMMITTED batch 0 with victim b, tombstone never written
    eng2 = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    victim_docid = int(
        eng2.index.docmap()
        .filter(
            (F.col("conv_id") == b["conv_id"])
            & (F.col("turn_idx") == b["turn_idx"])
        )
        .select("_docid")
        .collect()[0]["_docid"]
    )
    with open(_update_intent_path(lifecycle_idx, 0), "w") as f:
        json.dump({"batch": 0, "old_docid": victim_docid}, f)
    # any subsequent update (of a THIRD, unrelated doc) heals it first
    c = hits[2]
    update_doc(
        spark, eng2,
        {"conv_id": c["conv_id"], "turn_idx": c["turn_idx"]},
        doc={"text": "third update"}, detect_noop=False,
    )
    dels = tombstone_docids(spark, lifecycle_idx)
    assert dels.filter(F.col("_docid") == victim_docid).count() == 1
    mdir = os.path.join(lifecycle_idx, "manifests")
    assert not [f for f in os.listdir(mdir) if f.startswith("update-intent-")]


def test_handle_is_a_snapshot(spark, lifecycle_idx, monkeypatch):
    """A handle keeps the tables it opened: a second search on it reads
    no parquet, and after ``append_batch`` it still answers from its
    snapshot (same doc count, same postings, same rows and scores),
    while a reopened handle sees the batch."""
    from pyspark.sql.readwriter import DataFrameReader

    from opensearch_spark.index.lifecycle import _append_cfg
    from opensearch_spark.streaming.incremental import append_batch

    idx = InvertedIndex(spark, lifecycle_idx)
    eng = SearchEngine(idx)
    q = {"match": {"text": "error"}}
    before = eng.search(q, size=1000).collect()
    n_docs = idx.stats["n_docs"]
    reads = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        reads.append(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    assert eng.search(q, size=1000).collect() == before
    assert reads == []
    monkeypatch.undo()
    batch = generate(spark, 160, partitions=2).filter(F.col("conv_id") >= "conv-00000120")
    append_batch(spark, batch, lifecycle_idx, _append_cfg(eng), batch_id=0)
    assert idx.stats["n_docs"] == n_docs
    assert eng.search(q, size=1000).collect() == before
    fresh = idx.reopen()
    assert fresh.stats["n_docs"] > n_docs
    ids = lambda rows: {(r["conv_id"], r["turn_idx"]) for r in rows}  # noqa: E731
    after = SearchEngine(fresh).search(q, size=1000).collect()
    assert any(c >= "conv-00000120" for c, _ in ids(after) - ids(before))


def test_update_doc_twice_on_one_engine(spark, lifecycle_idx):
    """``update_doc`` reads the live docmap, not the engine's snapshot:
    an upsert then an update of the same new id through one engine
    give ``created`` then ``updated``, leaving one live version, which
    that engine's own search and count then find."""
    from opensearch_spark.index.lifecycle import update_doc

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    assert eng.search({"match": {"text": "error"}}, size=5).collect()
    row = dict(eng.index.docmap().select(
        *eng.index.plan["input_fields"]
    ).limit(1).collect()[0].asDict())
    row.update({"conv_id": "c-twice", "turn_idx": 0, "text": "first twice version"})
    ids = {"conv_id": "c-twice", "turn_idx": 0}
    assert update_doc(spark, eng, ids, doc={"text": "x"}, upsert=row) == {"result": "created"}
    assert update_doc(spark, eng, ids, doc={"text": "second twice version"}) == {
        "result": "updated"}
    want = [("c-twice", 0, "second twice version")]
    for e in (eng, SearchEngine(InvertedIndex(spark, lifecycle_idx))):
        rows = e.search({"term": {"conv_id": "c-twice"}}, size=10,
                        source_cols=["text"]).collect()
        assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows] == want
    assert eng.count({"match": {"text": "second twice version"}}) >= 1
    assert eng.count({"term": {"conv_id": "c-twice"}}) == 1


def test_request_cache_sees_appended_docs(spark, lifecycle_idx):
    """A request cache over a long-lived engine answers a miss after
    ``append_batch`` from the new commit, not from the engine's
    snapshot, and caches that answer."""
    from opensearch_spark.index.lifecycle import _append_cfg
    from opensearch_spark.query.request_cache import RequestCache
    from opensearch_spark.streaming.incremental import append_batch

    eng = SearchEngine(InvertedIndex(spark, lifecycle_idx))
    cache = RequestCache(eng)
    q = {"match": {"text": "quokka"}}
    assert cache.search(q, size=10).collect() == []
    row = dict(eng.index.docmap().select(
        *eng.index.plan["input_fields"]
    ).limit(1).collect()[0].asDict())
    row.update({"conv_id": "c-quokka", "turn_idx": 0, "text": "a quokka appears"})
    batch = spark.createDataFrame([row], eng.index.docmap().select(
        *eng.index.plan["input_fields"]).schema)
    append_batch(spark, batch, lifecycle_idx, _append_cfg(eng), batch_id=7)
    for _ in range(2):  # a miss on the new commit, then a hit
        rows = cache.search(q, size=10).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [("c-quokka", 0)]
    assert cache.stats["misses"] == 2 and cache.stats["hits"] == 1
