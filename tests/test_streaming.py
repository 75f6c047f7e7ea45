"""Streaming surface: incremental index build (exactly-once appends,
rank-identity with an equivalent batch build) and the percolator.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.streaming.incremental import start_incremental_index
from opensearch_spark.streaming.percolator import Percolator
from opensearch_spark.transcripts import generate

N1, N2 = 200, 300  # conv id split: batch part [0,200), streamed part [200,300)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    idx = str(root / "idx")
    ckpt = str(root / "ckpt")
    os.makedirs(src, exist_ok=True)

    cfg = IndexConfig(n_segments=4)
    # batch bootstrap: conversations [0, N1) via the streaming path too
    # (first file), then two more files appended -> three micro-batches
    all_docs = generate(spark, N2, partitions=4)
    part1 = all_docs.filter(F.col("conv_id") < f"conv-{N1:08d}")
    part2 = all_docs.filter(
        (F.col("conv_id") >= f"conv-{N1:08d}") & (F.col("conv_id") < f"conv-{250:08d}")
    )
    part3 = all_docs.filter(F.col("conv_id") >= f"conv-{250:08d}")

    schema = all_docs.schema
    for i, part in enumerate([part1, part2, part3]):
        part.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_incremental_index(spark, stream, idx, cfg, ckpt, available_now=True)
        q.awaitTermination(300)
    return idx


def test_incremental_rank_identical_to_batch(spark, stream_dirs, tmp_path_factory):
    """Streamed index over the same corpus must give rank-identical
    results to a one-shot batch build (global stats converge)."""
    batch_dir = str(tmp_path_factory.mktemp("batchidx") / "idx")
    build_index(spark, generate(spark, N2, partitions=4), batch_dir, IndexConfig(n_segments=8))
    se_stream = SearchEngine(InvertedIndex(spark, stream_dirs))
    se_batch = SearchEngine(InvertedIndex(spark, batch_dir))
    for q in [
        {"match": {"text": "error handling"}},
        {"match": {"text": {"query": "error handling", "operator": "and"}}},
        {"term": {"text": "timeout"}},
        {"match_phrase": {"text": "error handling"}},
    ]:
        a = se_stream.search(q, size=10).collect()
        b = se_batch.search(q, size=10).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in a] == [
            (r["conv_id"], r["turn_idx"]) for r in b
        ], q
        for ra, rb in zip(a, b):
            assert ra["score"] == pytest.approx(rb["score"], rel=1e-6)


def test_incremental_stats_converge(spark, stream_dirs):
    idx = InvertedIndex(spark, stream_dirs)
    n_docmap = idx.docmap().count()
    assert idx.stats["n_docs"] == n_docmap
    # docIDs dense and unique across batches
    ids = idx.docmap().select("_docid").distinct().count()
    assert ids == n_docmap


def test_incremental_batch_manifests(stream_dirs):
    mans = sorted(glob.glob(os.path.join(stream_dirs, "manifests", "batch-*.json")))
    assert len(mans) >= 3
    offsets = []
    for m in mans:
        with open(m) as f:
            d = json.load(f)
        if d.get("n_docs"):
            offsets.append((d["doc_offset"], d["n_docs"]))
    offsets.sort()
    acc = offsets[0][0]
    for off, n in offsets:
        assert off == acc
        acc += n


def test_percolator(spark, corpus_pdf):
    from opensearch_spark.analysis import analyzer as ana

    queries = {
        "q_match": {"match": {"text": "error handling"}},
        "q_and": {"match": {"text": {"query": "error handling", "operator": "and"}}},
        "q_phrase": {"match_phrase": {"text": "error handling"}},
        "q_bool": {
            "bool": {
                "must": [{"match": {"text": "timeout"}}],
                "must_not": [{"term": {"role": "tool"}}],
            }
        },
    }
    perc = Percolator(queries)
    docs = spark.createDataFrame(corpus_pdf)
    out = perc.percolate(docs, id_cols=["conv_id", "turn_idx"]).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], set()).add((r["conv_id"], r["turn_idx"]))

    toks = {
        (r.conv_id, r.turn_idx): ana.tokenize(r.text)
        for r in corpus_pdf.itertuples()
    }
    roles = {(r.conv_id, r.turn_idx): r.role for r in corpus_pdf.itertuples()}
    exp_match = {k for k, t in toks.items() if "error" in t or "handling" in t}
    exp_and = {k for k, t in toks.items() if "error" in t and "handling" in t}
    exp_phrase = {
        k
        for k, t in toks.items()
        if any(t[i] == "error" and t[i + 1] == "handling" for i in range(len(t) - 1))
    }
    exp_bool = {
        k for k, t in toks.items() if "timeout" in t and roles[k] != "tool"
    }
    assert got.get("q_match", set()) == exp_match
    assert got.get("q_and", set()) == exp_and
    assert got.get("q_phrase", set()) == exp_phrase
    assert got.get("q_bool", set()) == exp_bool


def test_data_stream_rollover_and_fanout_search(spark, tmp_path):
    """Data stream (DataStream.java / MetadataRolloverService.java):
    writes hit only the newest generation, rollover on max_docs cuts a
    new backing index, and search fans out across generations with
    PER-GENERATION statistics (per-shard QUERY_THEN_FETCH scoring)."""
    from opensearch_spark.index.builder import IndexConfig
    from opensearch_spark.streaming.datastream import DataStream

    docs = generate(spark, 40, partitions=2)
    cfg = IndexConfig(n_segments=2)
    ds = DataStream(spark, str(tmp_path / "ds"), cfg).create(docs.schema)
    assert ds.generations() == [1]

    ds.append(docs, batch_id=0)
    # condition not met -> no roll; met -> roll
    assert ds.rollover(max_docs=10**9, schema=docs.schema) is False
    assert ds.rollover(max_docs=1, schema=docs.schema) is True
    assert ds.generations() == [1, 2]

    docs2 = generate(spark, 10, seed=7, partitions=2)
    ds.append(docs2, batch_id=0)  # batch ids are per-backing-index
    st = ds.stats()
    assert st["n_generations"] == 2
    assert st["n_docs"] == docs.count() + docs2.count()
    assert st["per_generation"][2]["n_docs"] == docs2.count()

    hits = ds.search({"match": {"text": "error handling"}}, size=10).collect()
    assert 0 < len(hits) <= 10
    # fan-out actually reaches both generations: per-generation
    # single-index searches must union to the stream's result set
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    per_gen = []
    for g in ds.generations():
        eng = SearchEngine(InvertedIndex(spark, ds._gen_dir(g)))
        per_gen.extend(
            (r["conv_id"], r["turn_idx"], round(r["score"], 6))
            for r in eng.search({"match": {"text": "error handling"}}, size=50).collect()
        )
    merged = sorted(per_gen, key=lambda t: (-t[2], t[0], t[1]))[: len(hits)]
    got = [(r["conv_id"], r["turn_idx"], round(r["score"], 6)) for r in hits]
    assert got == merged

    # the empty write index right after a rollover matches nothing but
    # search still works (engines() skips empty generations)
    assert ds.rollover(max_docs=1, schema=docs.schema) is True
    assert len(ds.search({"match": {"text": "error handling"}}, size=5).collect()) == 5


def test_data_stream_keeps_one_engine_per_generation(spark, tmp_path, monkeypatch):
    """A generation's engine serves the stream's searches until that
    generation's commit changes: a second search loads no dictionary,
    and an append reopens only the write generation."""
    from opensearch_spark.streaming.datastream import DataStream

    docs = generate(spark, 20, partitions=2)
    cfg = IndexConfig(n_segments=2)
    ds = DataStream(spark, str(tmp_path / "ds"), cfg).create(docs.schema)
    ds.append(docs, batch_id=0)
    assert ds.rollover(max_docs=1, schema=docs.schema)
    later = generate(spark, 6, seed=7, partitions=1)
    ds.append(later, batch_id=0)
    q = {"match": {"text": "error handling"}}
    first = ds.search(q, size=10).collect()
    engines = ds.engines()
    loads = []
    real = InvertedIndex._load_term_stats
    monkeypatch.setattr(
        InvertedIndex, "_load_term_stats", lambda self: loads.append(self.index_dir) or real(self)
    )
    assert ds.search(q, size=10).collect() == first
    assert loads == []
    ds.append(later.withColumn("conv_id", F.concat(F.lit("b1-"), "conv_id")), batch_id=1)
    ds.search(q, size=10).collect()
    assert loads == [ds.write_index()]
    after = ds.engines()
    assert after[0] is engines[0] and after[1] is not engines[1]


def test_incremental_index_sort_honored_and_guarded(spark, tmp_path):
    """Appends to a sorted incremental index keep each new segment in
    the configured order; a cfg whose index_sort disagrees with the
    index's plan is refused (mixed-order segments would contradict
    plan.json)."""
    from opensearch_spark.streaming.incremental import (
        append_batch,
        init_index_dir,
    )

    idx = str(tmp_path / "inc_sorted")
    docs = generate(spark, 40, partitions=2)
    cfg = IndexConfig(n_segments=2, index_sort=[("ts", "desc")])
    init_index_dir(spark, idx, cfg, docs.schema)
    append_batch(spark, docs.filter(F.col("conv_id") < "conv-00000020"), idx, cfg, 0)
    append_batch(spark, docs.filter(F.col("conv_id") >= "conv-00000020"), idx, cfg, 1)
    dm = spark.read.parquet(os.path.join(idx, "data", "_row=d"))
    pdf = dm.select("_seg", "_docid", "ts").toPandas()
    for _, g in pdf.groupby("_seg"):
        ts = list(g.sort_values("_docid")["ts"])
        assert ts == sorted(ts, reverse=True)
    with pytest.raises(ValueError, match="index_sort mismatch"):
        append_batch(spark, docs, idx, IndexConfig(n_segments=2), 2)
