"""Snapshot / restore repository + point-in-time (PIT) readers.

Reference: the snapshot subsystem (``snapshots/SnapshotsService.java``,
``repositories/blobstore/BlobStoreRepository.java``) stores segment
files in a blob store CONTENT-ADDRESSED and INCREMENTALLY — a new
snapshot uploads only segment files the repository has not seen, and
deleting a snapshot garbage-collects blobs no remaining snapshot
references.  ``_search/point_in_time`` (``PitService.java``) pins a
Lucene IndexCommit so concurrent deletes/merges cannot change or
retire the files an open reader depends on.

Spark-first mapping (index = immutable parquet segments + JSON
manifests on shared storage):

- **Repository**: ``repo/blobs/<sha256[:2]>/<sha256>`` holds every
  distinct file once; ``repo/snapshots/<name>.json`` lists the
  relative paths + digests of one snapshot.  Hashing and copying are
  per-file and embarrassingly parallel — they run as an Arrow
  ``mapInPandas`` job over the file list, so a 1000-segment snapshot
  uses the cluster, not the driver (the driver only writes the final
  manifest, the commit point).  Unchanged segments between snapshots
  are skipped by digest — exactly the reference's incremental model
  (immutable segments make digests stable across snapshots).
- **PIT**: a hardlink clone of the index directory (O(metadata), zero
  data copy — the filesystem analog of ref-counting an IndexCommit):
  subsequent ``delete_by_query`` tombstones, incremental appends, or
  a compaction rewriting the live directory cannot perturb the pinned
  view.  ``close()`` drops the links.

Restores refuse a non-empty destination, snapshot manifests commit by
atomic rename, and ``verify`` re-digests blobs — torn snapshots are
detectable, never silently half-restored.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from typing import Dict, Iterator, List, Optional

import pandas as pd
from pyspark.sql import SparkSession

# directories (and top-level files) that make up an index commit
_INDEX_MEMBERS = ("data", "dictionary", "manifests", "deletes")
_INDEX_FILES = ("plan.json", "stats.json")


def _walk_index(index_dir: str) -> List[str]:
    """Relative paths of every file in the index commit, sorted."""
    out: List[str] = []
    for member in _INDEX_MEMBERS:
        root = os.path.join(index_dir, member)
        if not os.path.isdir(root):
            continue
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), index_dir)
                )
    for f in _INDEX_FILES:
        if os.path.isfile(os.path.join(index_dir, f)):
            out.append(f)
    return sorted(out)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _blob_path(repo_dir: str, digest: str) -> str:
    return os.path.join(repo_dir, "blobs", digest[:2], digest)


def _snapshots_dir(repo_dir: str) -> str:
    return os.path.join(repo_dir, "snapshots")


def _manifest_path(repo_dir: str, name: str) -> str:
    return os.path.join(_snapshots_dir(repo_dir), f"{name}.json")


def snapshot(
    spark: SparkSession, index_dir: str, repo_dir: str, name: str
) -> Dict:
    """Take snapshot ``name`` of ``index_dir`` into ``repo_dir``.

    Incremental: files whose sha256 already exists as a repo blob are
    NOT copied again (immutable segments keep digests stable between
    snapshots, so a snapshot after a small delete re-uses every
    segment blob and uploads only the new tombstone files — the
    reference's incremental upload).  Digest + copy run distributed
    (``mapInPandas`` over the file list); the driver only writes the
    manifest, atomically (tmp + rename), as the commit point.

    Returns ``{name, files_total, files_copied, bytes_copied}``.
    """
    if os.path.exists(_manifest_path(repo_dir, name)):
        raise ValueError(f"snapshot already exists: {name!r}")
    rels = _walk_index(index_dir)
    if not rels:
        raise ValueError(f"nothing to snapshot under {index_dir!r}")
    os.makedirs(os.path.join(repo_dir, "blobs"), exist_ok=True)
    os.makedirs(_snapshots_dir(repo_dir), exist_ok=True)
    # in-progress marker: an incremental snapshot SKIPS blobs that are
    # already present, so a concurrent delete_snapshot must not GC blobs
    # out from under it before the manifest commits (the reference
    # guards this with repository generations, BlobStoreRepository) —
    # delete_snapshot skips GC while any marker exists
    marker = _manifest_path(repo_dir, name) + ".inprogress"
    with open(marker, "w") as f:
        f.write(str(int(time.time() * 1000)))

    idx, repo = os.path.abspath(index_dir), os.path.abspath(repo_dir)

    def _digest_and_copy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests, sizes, copied = [], [], []
            for rel in pdf["rel"]:
                src = os.path.join(idx, rel)
                digest = _sha256(src)
                blob = _blob_path(repo, digest)
                did = False
                if not os.path.exists(blob):
                    os.makedirs(os.path.dirname(blob), exist_ok=True)
                    tmp = blob + f".tmp-{uuid.uuid4().hex}"
                    shutil.copyfile(src, tmp)
                    os.replace(tmp, blob)  # concurrent writers converge
                    did = True
                digests.append(digest)
                sizes.append(os.path.getsize(src))
                copied.append(did)
            yield pd.DataFrame(
                {"rel": pdf["rel"], "sha256": digests, "size": sizes, "copied": copied}
            )

    files_df = spark.createDataFrame(
        [(r,) for r in rels], "rel string"
    ).repartition(min(len(rels), 32))
    rows = (
        files_df.mapInPandas(
            _digest_and_copy, "rel string, sha256 string, size long, copied boolean"
        )
        .toPandas()
        .sort_values("rel")
    )
    manifest = {
        "name": name,
        "ts": int(time.time() * 1000),
        "index_dir": idx,
        "files": [
            {"rel": r.rel, "sha256": r.sha256, "size": int(r.size)}
            for r in rows.itertuples()
        ],
    }
    mp = _manifest_path(repo_dir, name)
    tmp = mp + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mp)
    os.remove(marker)
    return {
        "name": name,
        "files_total": len(rels),
        "files_copied": int(rows["copied"].sum()),
        "bytes_copied": int(rows.loc[rows["copied"], "size"].sum()),
    }


def list_snapshots(repo_dir: str) -> List[Dict]:
    """Snapshot names + timestamps + file counts, oldest first."""
    sd = _snapshots_dir(repo_dir)
    if not os.path.isdir(sd):
        return []
    out = []
    for f in sorted(os.listdir(sd)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(sd, f)) as fh:
            m = json.load(fh)
        out.append({"name": m["name"], "ts": m["ts"], "files": len(m["files"])})
    return sorted(out, key=lambda x: x["ts"])


def restore(
    spark: SparkSession, repo_dir: str, name: str, dst_index_dir: str
) -> Dict:
    """Materialize snapshot ``name`` at ``dst_index_dir`` (must not
    already contain an index).  Blobs are hard-linked when the
    filesystem allows (restore = O(metadata), like the reference
    recovering segments already present locally) and copied otherwise;
    the per-file work runs distributed like ``snapshot``."""
    mp = _manifest_path(repo_dir, name)
    if not os.path.isfile(mp):
        raise ValueError(f"no such snapshot: {name!r}")
    if os.path.isdir(dst_index_dir) and os.listdir(dst_index_dir):
        raise ValueError(f"restore destination not empty: {dst_index_dir!r}")
    with open(mp) as f:
        manifest = json.load(f)
    os.makedirs(dst_index_dir, exist_ok=True)
    repo, dst = os.path.abspath(repo_dir), os.path.abspath(dst_index_dir)

    def _materialize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = []
            for rel, digest in zip(pdf["rel"], pdf["sha256"]):
                blob = _blob_path(repo, digest)
                out = os.path.join(dst, rel)
                os.makedirs(os.path.dirname(out), exist_ok=True)
                try:
                    os.link(blob, out)
                except OSError:
                    shutil.copyfile(blob, out)
                ok.append(True)
            yield pd.DataFrame({"rel": pdf["rel"], "ok": ok})

    files = manifest["files"]
    fdf = spark.createDataFrame(
        [(f["rel"], f["sha256"]) for f in files], "rel string, sha256 string"
    ).repartition(min(len(files), 32))
    n = fdf.mapInPandas(_materialize, "rel string, ok boolean").count()
    return {"name": name, "files_restored": int(n)}


def verify_snapshot(repo_dir: str, name: str) -> Dict:
    """Re-digest every referenced blob; raises on a missing or corrupt
    blob (the repository integrity check)."""
    mp = _manifest_path(repo_dir, name)
    with open(mp) as f:
        manifest = json.load(f)
    bad = []
    for entry in manifest["files"]:
        blob = _blob_path(repo_dir, entry["sha256"])
        if not os.path.isfile(blob) or _sha256(blob) != entry["sha256"]:
            bad.append(entry["rel"])
    if bad:
        raise ValueError(f"snapshot {name!r} corrupt: {bad[:5]} (+{len(bad)-5 if len(bad)>5 else 0} more)")
    return {"name": name, "files_ok": len(manifest["files"])}


def delete_snapshot(repo_dir: str, name: str) -> Dict:
    """Drop a snapshot manifest and garbage-collect blobs no remaining
    snapshot references (the reference's snapshot-delete + blob GC).

    GC is SKIPPED (manifest still removed) while any snapshot is
    in-progress: an incremental snapshot skips blobs the repo already
    holds, so collecting them before its manifest commits would leave a
    committed manifest pointing at missing blobs.  Re-run the delete
    (or any later delete) once no ``.inprogress`` markers remain; a
    crashed snapshot leaves a stale marker — remove it manually after
    confirming no writer is alive (the repository repair step)."""
    mp = _manifest_path(repo_dir, name)
    if not os.path.isfile(mp):
        raise ValueError(f"no such snapshot: {name!r}")
    with open(mp) as f:
        victim = json.load(f)
    os.remove(mp)
    sd = _snapshots_dir(repo_dir)
    in_progress = [f for f in os.listdir(sd) if f.endswith(".inprogress")]
    if in_progress:
        return {
            "name": name,
            "blobs_removed": 0,
            "gc_skipped": f"snapshots in progress: {sorted(in_progress)}",
        }
    live: set = set()
    for other in list_snapshots(repo_dir):
        with open(_manifest_path(repo_dir, other["name"])) as f:
            live.update(e["sha256"] for e in json.load(f)["files"])
    removed = 0
    for entry in victim["files"]:
        d = entry["sha256"]
        if d in live:
            continue
        blob = _blob_path(repo_dir, d)
        if os.path.isfile(blob):
            os.remove(blob)
            removed += 1
    return {"name": name, "blobs_removed": removed}


# ------------------------------------------------------------------ PIT

class PointInTime:
    """An open point-in-time view of an index (``PitService.java``):
    a hardlink clone of the index commit, immune to concurrent
    ``delete_by_query`` tombstones, incremental appends, and
    compactions of the live directory.  Use ``engine()`` for a
    SearchEngine over the pinned view; ``close()`` releases it."""

    def __init__(self, spark: SparkSession, index_dir: str, pit_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.pit_dir = pit_dir
        self.pit_id = os.path.basename(pit_dir)
        self._closed = False
        self._engine = None

    def engine(self):
        """The one SearchEngine over the pinned view: its directory never
        changes, so the handle (dictionary memo, opened tables) serves
        every search until ``close()``."""
        from opensearch_spark.index.reader import InvertedIndex
        from opensearch_spark.query.executor import SearchEngine

        if self._closed:
            raise ValueError(f"point in time {self.pit_id} is closed")
        if self._engine is None:
            self._engine = SearchEngine(InvertedIndex(self.spark, self.pit_dir))
        return self._engine

    def close(self) -> None:
        if not self._closed:
            self._engine = None
            shutil.rmtree(self.pit_dir, ignore_errors=True)
            self._closed = True

    def __enter__(self) -> "PointInTime":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def open_pit(
    spark: SparkSession, index_dir: str, pit_root: Optional[str] = None
) -> PointInTime:
    """Pin the current index commit: hardlink-clone every index file
    into ``<pit_root>/pit-<id>`` (falls back to copy across devices).
    O(file count) metadata, zero data bytes moved on one filesystem —
    the analog of IndexCommit ref-counting, expressed with immutable
    files on shared storage."""
    pit_root = pit_root or os.path.join(index_dir, "_pits")
    pit_dir = os.path.join(pit_root, f"pit-{uuid.uuid4().hex[:12]}")
    os.makedirs(pit_dir, exist_ok=False)
    for rel in _walk_index(index_dir):
        src = os.path.join(index_dir, rel)
        dst = os.path.join(pit_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    return PointInTime(spark, index_dir, pit_dir)
