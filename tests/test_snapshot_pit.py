"""Snapshot/restore repository + point-in-time readers
(snapshots/SnapshotsService.java, repositories/blobstore/
BlobStoreRepository.java, search/internal PitService.java).

Covers: restore == original results; incremental second snapshot
copies only the delta (tombstone files), not the unchanged segments;
blob GC keeps shared blobs alive; verify detects corruption; restore
refuses a dirty destination; PIT search is immune to a concurrent
delete_by_query and a compaction of the live index.
"""

from __future__ import annotations

import os

import pytest

from opensearch_spark.index import snapshot as snap
from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.lifecycle import delete_by_query
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.transcripts import generate


QUERY = {"match": {"text": "error handling"}}


def _hits(eng, q=QUERY, size=50):
    return [
        (r["conv_id"], r["turn_idx"], round(r["score"], 6))
        for r in eng.search(q, size=size).collect()
    ]


@pytest.fixture()
def built(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = generate(spark, 120, partitions=4)
    build_index(spark, docs, idx, IndexConfig(n_segments=4))
    return idx


def test_snapshot_restore_roundtrip_and_incremental(spark, tmp_path, built):
    repo = str(tmp_path / "repo")
    eng = SearchEngine(InvertedIndex(spark, built))
    before = _hits(eng)
    assert before

    s1 = snap.snapshot(spark, built, repo, "s1")
    # content-addressing dedupes even within one snapshot (the empty
    # _SUCCESS markers share a blob), so copied <= total
    assert 0 < s1["files_copied"] <= s1["files_total"]
    assert s1["files_total"] - s1["files_copied"] <= 4

    # mutate: tombstone some docs, then snapshot again — INCREMENTAL:
    # every segment blob is reused, only the new tombstone parquet (and
    # the tiny delete marker) are copied
    n_del = delete_by_query(eng, {"match": {"text": "handling"}})
    assert n_del > 0
    s2 = snap.snapshot(spark, built, repo, "s2")
    assert s2["files_total"] > s1["files_total"] - 2
    assert 0 < s2["files_copied"] <= s2["files_total"] - s1["files_total"] + 2
    assert s2["files_copied"] < s1["files_copied"]

    # restore s1 -> pristine pre-delete results
    dst = str(tmp_path / "restored")
    out = snap.restore(spark, repo, "s1", dst)
    assert out["files_restored"] == s1["files_total"]
    assert _hits(SearchEngine(InvertedIndex(spark, dst))) == before

    # restore s2 -> post-delete results (tombstones included)
    dst2 = str(tmp_path / "restored2")
    snap.restore(spark, repo, "s2", dst2)
    live = SearchEngine(InvertedIndex(spark, built))
    assert _hits(SearchEngine(InvertedIndex(spark, dst2))) == _hits(live)

    # bookkeeping + guards
    assert [s["name"] for s in snap.list_snapshots(repo)] == ["s1", "s2"]
    with pytest.raises(ValueError, match="not empty"):
        snap.restore(spark, repo, "s1", dst)
    with pytest.raises(ValueError, match="already exists"):
        snap.snapshot(spark, built, repo, "s1")
    with pytest.raises(ValueError, match="no such snapshot"):
        snap.restore(spark, repo, "nope", str(tmp_path / "x"))


def test_delete_snapshot_gc_and_verify(spark, tmp_path, built):
    repo = str(tmp_path / "repo")
    eng = SearchEngine(InvertedIndex(spark, built))
    snap.snapshot(spark, built, repo, "s1")
    delete_by_query(eng, {"match": {"text": "handling"}})
    snap.snapshot(spark, built, repo, "s2")

    # deleting s1 removes NO blobs still referenced by s2 (all of s1's
    # segment blobs are shared); s2 stays fully verifiable
    out = snap.delete_snapshot(repo, "s1")
    assert out["blobs_removed"] == 0
    assert snap.verify_snapshot(repo, "s2")["files_ok"] > 0
    assert [s["name"] for s in snap.list_snapshots(repo)] == ["s2"]

    # corrupt one blob -> verify raises
    blobs_root = os.path.join(repo, "blobs")
    victim = None
    for d, _dirs, files in os.walk(blobs_root):
        for f in files:
            p = os.path.join(d, f)
            if os.path.getsize(p) > 0:
                victim = p
                break
        if victim:
            break
    with open(victim, "r+b") as f:
        f.write(b"\x00CORRUPT")
    with pytest.raises(ValueError, match="corrupt"):
        snap.verify_snapshot(repo, "s2")

    # deleting the last snapshot empties the referenced blob set
    out = snap.delete_snapshot(repo, "s2")
    assert out["blobs_removed"] > 0
    assert snap.list_snapshots(repo) == []


def test_pit_survives_concurrent_deletes(spark, built):
    eng = SearchEngine(InvertedIndex(spark, built))
    before = _hits(eng)

    with snap.open_pit(spark, built) as pit:
        # concurrent mutations of the live index: two rounds of
        # tombstone appends land in the live deletes/ dir, never in
        # the hardlink-pinned commit
        n = delete_by_query(eng, {"match": {"text": "error"}})
        assert n > 0
        live_now = _hits(SearchEngine(InvertedIndex(spark, built)))
        assert live_now != before  # live view changed...
        assert _hits(pit.engine()) == before  # ...pinned view did not

        n2 = delete_by_query(
            SearchEngine(InvertedIndex(spark, built)),
            {"match": {"text": "w0001"}},  # hot Zipf-rank-1 vocab token
        )
        assert n2 > 0
        assert _hits(pit.engine()) == before

    # closed: directory gone, engine() refuses
    assert not os.path.isdir(pit.pit_dir)
    with pytest.raises(ValueError, match="closed"):
        pit.engine()


def test_pit_keeps_one_engine(spark, index_dir, tmp_path, monkeypatch):
    """A PIT's directory never changes, so ``engine()`` hands out one
    engine for the PIT's life: a second search loads no dictionary."""
    with snap.open_pit(spark, index_dir, str(tmp_path / "pits")) as pit:
        first = pit.engine()
        before = _hits(first)
        loads = []
        real = InvertedIndex._load_term_stats
        monkeypatch.setattr(
            InvertedIndex, "_load_term_stats", lambda self: loads.append(1) or real(self)
        )
        assert pit.engine() is first
        assert _hits(pit.engine()) == before
        assert loads == []
    with pytest.raises(ValueError, match="closed"):
        pit.engine()


def test_delete_snapshot_skips_gc_while_snapshot_in_progress(spark, index_dir, tmp_path):
    """Blob GC must not collect shared blobs while another snapshot is
    mid-flight (its manifest is uncommitted, so the live set cannot be
    known) — the generation-guard analog of BlobStoreRepository."""
    import os

    from opensearch_spark.index import snapshot as snap

    repo = str(tmp_path / "repo")
    snap.snapshot(spark, index_dir, repo, "g1")
    snap.snapshot(spark, index_dir, repo, "g2")
    # simulate an in-flight writer: a marker with no manifest yet
    marker = os.path.join(repo, "snapshots", "g3.json.inprogress")
    with open(marker, "w") as f:
        f.write("1")
    out = snap.delete_snapshot(repo, "g1")
    assert out["blobs_removed"] == 0 and "in progress" in out["gc_skipped"]
    # g2 (sharing every blob) must still verify
    snap.verify_snapshot(repo, "g2")
    os.remove(marker)
    # with no writer in flight, deleting g2 GCs the now-unreferenced blobs
    out2 = snap.delete_snapshot(repo, "g2")
    assert out2["blobs_removed"] > 0
