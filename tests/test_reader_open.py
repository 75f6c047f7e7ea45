"""Opening an index handle runs no Spark job: each table's schema comes
from its parquet footers and the term-statistics memo from the
dictionary files, both read on the driver.  So the first search on a
fresh handle runs only its own query's jobs, on every index layout a
handle meets: a build, an index grown by ``append_batch`` (whose
dictionary holds per-batch deltas), a ``merge_index`` compaction, a
resized index, a restored snapshot and docmaps of mapped and
``timestamp_ntz`` fields."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.reader import InvertedIndex, _footer_schema
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.transcripts import generate

from test_plans import _jobs_in_group

# a term only the appended batch's dictionary delta holds
DELTA_TERM = "zzdeltaonly"
QUERY = {"match": {"text": "error handling"}}


@pytest.fixture(scope="module")
def layouts(spark, index_dir, tmp_path_factory):
    """Index directories by layout name."""
    from opensearch_spark.index import snapshot as snap
    from opensearch_spark.index.mapping import Mappings, create_index_from_json
    from opensearch_spark.index.merge import merge_index
    from opensearch_spark.index.resize import split_index
    from opensearch_spark.streaming.incremental import append_batch

    root = tmp_path_factory.mktemp("layouts")
    cfg = IndexConfig(n_segments=4)
    appended = str(root / "appended")
    build_index(spark, generate(spark, 60, partitions=2), appended, cfg)
    batch = generate(spark, 12, seed=5, partitions=1).withColumn(
        "conv_id", F.concat(F.lit("b0-"), "conv_id")
    ).withColumn("text", F.concat("text", F.lit(f" {DELTA_TERM}")))
    append_batch(spark, batch, appended, cfg, batch_id=0)
    merged = str(root / "merged")
    merge_index(spark, appended, merged)
    resized = str(root / "resized")
    split_index(spark, index_dir, resized, 16)
    repo, restored = str(root / "repo"), str(root / "restored")
    snap.snapshot(spark, index_dir, repo, "s1")
    snap.restore(spark, repo, "s1", restored)
    mapped = str(root / "mapped")
    src = spark.createDataFrame(
        [(json.dumps({"doc_id": i, "text": f"row {i}", "d": "2018-10-29",
                      "t": "2018-10-29T12:12:11.5Z", "u": 2**64 - 1 - i,
                      "b": "aGVsbG8="}),) for i in range(4)],
        "_source string",
    )
    create_index_from_json(
        spark, src, mapped, id_fields=("doc_id",),
        mappings=Mappings({"d": {"type": "date"}, "t": {"type": "date_nanos"},
                           "u": {"type": "unsigned_long"}, "b": {"type": "binary"}}),
    )
    # a timestamp_ntz docmap column, which an Arrow-type conversion of
    # the footer would read as timestamp
    ntz = str(root / "ntz")
    build_index(spark, generate(spark, 10, partitions=1).withColumn(
        "seen", F.lit("2020-01-01 00:00:00").cast("timestamp_ntz")), ntz, cfg)
    return {"built": index_dir, "appended": appended, "merged": merged,
            "resized": resized, "restored": restored, "mapped": mapped, "ntz": ntz}


def _table_paths(idx):
    return {
        "_postings_table": idx.paths["postings"],
        "_docmap_table": idx.plan.get("docmap_dir") or idx.paths["docmap"],
        "_dictionary_table": idx.paths["dictionary"],
    }


@pytest.mark.parametrize("layout", ["built", "appended", "merged"])
def test_fresh_handle_first_search_runs_its_own_jobs(spark, layouts, layout):
    """The first search on a freshly opened unpersisted handle runs as
    many Spark jobs as its second: opening the tables and loading the
    term statistics run none."""
    eng = SearchEngine(InvertedIndex(spark, layouts[layout]))
    first = _jobs_in_group(spark, f"fresh-{layout}-1", lambda: eng.search(QUERY, size=10).collect())
    second = _jobs_in_group(spark, f"fresh-{layout}-2", lambda: eng.search(QUERY, size=10).collect())
    assert first == second >= 1


@pytest.mark.parametrize(
    "layout", ["built", "appended", "merged", "resized", "restored", "mapped", "ntz"]
)
def test_tables_open_with_sparks_schema_and_no_job(spark, layouts, layout):
    """Each table opens with the schema Spark's own inference gives it,
    without running a job.  The incremental dictionary is the exception
    (next test): its files disagree."""
    idx = InvertedIndex(spark, layouts[layout])
    for table, path in _table_paths(idx).items():
        got = []
        assert _jobs_in_group(
            spark, f"open-{layout}{table}", lambda: got.append(getattr(idx, table).schema)
        ) == 0
        if table == "_dictionary_table" and idx.plan.get("incremental"):
            continue
        assert got[0] == spark.read.parquet(path).schema, (layout, table)
    if layout == "mapped":
        types = {f.name: f.dataType.simpleString() for f in idx.docmap().schema.fields}
        assert (types["d"], types["t"], types["u"], types["b"]) == (
            "timestamp", "decimal(19,0)", "decimal(20,0)", "string")
    if layout == "ntz":
        assert idx.docmap().schema["seen"].dataType.simpleString() == "timestamp_ntz"


def test_incremental_dictionary_schema_is_deterministic(spark, layouts, tmp_path):
    """The base dictionary of an appended index carries ``tlen``, its
    deltas ``_batch``: the footer schema is their union whatever the
    file names, and the summed dictionary derives ``tlen`` for every
    term, the delta-only term included."""
    path = InvertedIndex(spark, layouts["appended"]).paths["dictionary"]
    schema = _footer_schema(path)
    assert schema.fieldNames()[:4] == ["term", "df", "total_tf", "n_blocks"]
    assert set(schema.fieldNames()) == {"term", "df", "total_tf", "n_blocks", "tlen", "_batch"}
    renamed = str(tmp_path / "dictionary")
    os.makedirs(renamed)
    for i, name in enumerate(sorted(os.listdir(path), reverse=True)):
        if not name.startswith(("_", ".")):
            shutil.copyfile(os.path.join(path, name), os.path.join(renamed, f"part-{i:05d}.parquet"))
    assert _footer_schema(renamed) == schema
    d = InvertedIndex(spark, layouts["appended"]).dictionary()
    assert d.filter(F.col("tlen") != F.length("term")).count() == 0
    assert d.filter(F.col("term") == DELTA_TERM).select("tlen").first()[0] == len(DELTA_TERM)


@pytest.mark.parametrize("layout", ["built", "appended", "merged"])
def test_term_stats_memo_equals_spark_dictionary(spark, layouts, layout):
    """The memo read from the dictionary files on the driver equals the
    Spark aggregation of ``dictionary()``, per-batch deltas summed."""
    idx = InvertedIndex(spark, layouts[layout])
    assert _jobs_in_group(spark, f"memo-{layout}", idx._load_term_stats) == 0
    memo = {t: v for t, v in idx.__dict__["_term_stats_cache"].items() if v is not None}
    want = {
        r["term"]: (r["df"], r["total_tf"], r["n_blocks"])
        for r in idx.dictionary().select("term", "df", "total_tf", "n_blocks").collect()
    }
    assert memo == want
    assert (DELTA_TERM in memo) == (layout != "built")
