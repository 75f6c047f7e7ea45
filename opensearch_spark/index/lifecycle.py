"""Document lifecycle: soft deletes, delete-by-query, reindex,
update-by-query (SURVEY.md §2.1).

The reference deletes documents with tombstones (Lucene soft deletes)
that hide docs from search immediately but leave postings untouched
until a merge expunges them; ``_delete_by_query`` /
``_update_by_query`` / ``_reindex`` are scroll+bulk jobs over that
machinery (``modules/reindex/.../Reindexer.java``,
``AbstractAsyncBulkByScrollAction.java``).  Spark-first mapping:

- **tombstones**: a ``deletes/`` parquet of ``_docid`` rows next to the
  index; the reader anti-joins it lazily.  Corpus statistics (df, N,
  avgdl) intentionally do NOT change until compaction — exactly the
  reference's semantics where deleted docs still count until merge.
- **expunge**: ``merge_index`` drops tombstoned postings during the
  repack and rewrites the docmap/stats without them.
- **reindex / update_by_query**: read -> transform -> rebuild (or
  delete + stream-append) — plain DataFrame jobs.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensearch_spark.index.builder import IndexConfig, build_index, _paths


def deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def delete_by_query(engine, query) -> int:
    """Soft-delete every doc matching ``query`` (tombstone append).
    Returns the number of newly deleted docs.  Idempotent: re-running
    the same delete appends already-deleted ids which the distinct
    read-side union ignores."""
    ddir = deletes_dir(engine.index.index_dir)
    # a fresh handle: the engine's own is a snapshot that misses docs
    # appended since it was opened
    matched = engine.reopened()._score_with_deletes_applied(query).select("_docid")
    n = matched.count()
    matched.write.mode("append").parquet(ddir)
    with open(os.path.join(ddir, f"_delete-{int(time.time()*1000)}.json"), "w") as f:
        json.dump({"deleted": n}, f)
    return n


def tombstone_docids(spark: SparkSession, index_dir: str) -> Optional[DataFrame]:
    """The tombstone set (the DELETED ``_docid`` rows), or None when
    nothing was ever deleted.  (Renamed from the r2 ``live_docids`` —
    that name said the opposite of what it returns and invited an
    inverted join; the alias below keeps old callers working.)"""
    ddir = deletes_dir(index_dir)
    if "://" in index_dir:
        # object-storage index (s3a/hdfs/file URIs): probe via Hadoop FS
        from opensearch_spark.index.stats_api import _list_files_any

        files = _list_files_any(spark, ddir)
    elif not os.path.isdir(ddir):
        return None
    else:
        files = os.listdir(ddir)
    files = [f for f in files if f.endswith(".parquet") or "part-" in f]
    if not files:
        return None
    # every writer writes this schema: giving it spares a search an
    # inference job
    return spark.read.schema("_docid BIGINT").parquet(ddir).distinct()


def reindex(
    spark: SparkSession,
    src_docs: DataFrame,
    dst_index_dir: str,
    cfg: Optional[IndexConfig] = None,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> dict:
    """``_reindex``: read source docs, optionally transform, build the
    destination index (scroll-read + bulk-write collapses to one
    DataFrame job; Iceberg snapshot reads give the PIT semantics)."""
    if transform is not None:
        src_docs = transform(src_docs)
    return build_index(spark, src_docs, dst_index_dir, cfg or IndexConfig())


def update_by_query(
    spark: SparkSession,
    engine,
    query,
    transform: Callable[[DataFrame], DataFrame],
    dst_index_dir: str,
    cfg: Optional[IndexConfig] = None,
) -> dict:
    """``_update_by_query``: rebuild the index with ``transform`` applied
    to the docs matching ``query`` (non-matching docs unchanged).  An
    immutable-segment design updates by rewrite — the reference does the
    same via delete+reindex of each hit.

    Soft-deleted docs are EXCLUDED from the rebuild (r3 fix): the
    reference's scroll+bulk only ever sees live docs, so a tombstoned
    doc must not be resurrected by an unrelated update — the rewritten
    index starts with no tombstones and no deleted content."""
    engine = engine.reopened()  # every doc committed so far
    dm = engine.index.docmap()
    dels = tombstone_docids(spark, engine.index.index_dir)
    if dels is not None:
        dm = dm.join(F.broadcast(dels), "_docid", "anti")
    matched = engine._score_with_deletes_applied(query).select("_docid")
    src_cols = engine.index.plan.get("input_fields") or [
        c for c in dm.columns if not c.startswith("_") and c not in ("dl", "norm_byte")
    ]
    hit = dm.join(matched, "_docid", "semi").select(*src_cols)
    miss = dm.join(matched, "_docid", "anti").select(*src_cols)
    new_docs = transform(hit).select(*src_cols).unionByName(miss)
    return build_index(spark, new_docs, dst_index_dir, cfg or IndexConfig())


def update_doc(
    spark: SparkSession,
    engine,
    id_values: dict,
    doc: Optional[dict] = None,
    script: Optional[Callable[[dict], dict]] = None,
    upsert: Optional[dict] = None,
    doc_as_upsert: bool = False,
    scripted_upsert: bool = False,
    detect_noop: bool = True,
    batch_id: Optional[int] = None,
) -> dict:
    """``POST /<index>/_update/<id>`` (``action/update/UpdateHelper.java``
    — r4 VERDICT #7): single-document partial update / scripted update
    with upsert, expressed through the immutable-segment machinery as
    tombstone-old + append-new (the reference updates the same way:
    Lucene docs are immutable, update = delete + index of the merged
    source).

    - ``doc``: partial document — shallow-merged over the existing
      source (UpdateHelper.prepareUpdateIndexRequest; our schema is
      flat, so shallow merge == XContentHelper.update).
    - ``script``: ``fn(source_dict) -> source_dict`` — the Painless
      ctx._source analog (applied instead of ``doc``).
    - ``upsert`` / ``doc_as_upsert``: document to index when the id is
      missing (UpdateHelper.prepareUpsert).  ``scripted_upsert=True``
      runs ``script`` over the upsert source before indexing
      (UpdateHelper's UpdateOpType.CREATE branch); default False
      indexes the upsert doc as given, like the reference.
    - ``detect_noop`` (partial-doc updates only, like the reference):
      merged == existing -> ``{"result": "noop"}`` with ZERO writes.

    Returns ``{"result": "updated" | "created" | "noop", ...}``.  After
    a write, ``engine`` searches a new handle that sees it (its old
    handle, a snapshot, would miss the appended version).

    Scale note: the write path is one tombstone append + one 1-row
    ``append_batch`` (exactly-once manifest commit) — O(1) jobs, no
    index rewrite; heavy rewrites stay with ``update_by_query``."""
    from opensearch_spark.streaming.incremental import append_batch

    if (doc is None) == (script is None):
        raise ValueError("update_doc needs exactly one of doc / script")

    index_dir = engine.index.index_dir
    _complete_pending_updates(spark, index_dir)
    # the live docmap, not the engine's snapshot: a doc appended since
    # the engine's handle was opened must be found
    dm = engine.index.reopen().docmap()
    cond = None
    for k, v in id_values.items():
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    if cond is None:
        raise ValueError("id_values must name at least one id column")
    dels = tombstone_docids(spark, index_dir)
    live = dm.filter(cond)
    if dels is not None:
        live = live.join(F.broadcast(dels), "_docid", "anti")
    src_cols = engine.index.plan.get("input_fields") or [
        c
        for c in dm.columns
        if not c.startswith("_") and c not in ("dl", "norm_byte")
    ]
    rows = live.select("_docid", *src_cols).collect()
    if len(rows) > 1:
        raise ValueError(
            f"id {id_values} matches {len(rows)} live docs (ids must be unique)"
        )
    schema = _select_schema(dm, src_cols)

    def _append(source: dict, bid: int) -> None:
        vals = []
        for c in src_cols:
            v = source[c]
            # docs assembled from pandas rows carry pd.Timestamp /
            # np scalars, which createDataFrame rejects for the
            # Spark-native field types — coerce to python natives
            if hasattr(v, "to_pydatetime"):
                v = v.to_pydatetime()
            elif hasattr(v, "item") and type(v).__module__ == "numpy":
                v = v.item()
            vals.append(v)
        new_df = spark.createDataFrame([tuple(vals)], schema)
        append_batch(spark, new_df, index_dir, _append_cfg(engine), batch_id=bid)

    if rows:
        old = {c: rows[0][c] for c in src_cols}
        if script is not None:
            new = dict(script(dict(old)))
        else:
            new = {**old, **{k: v for k, v in doc.items()}}
        unknown = set(new) - set(src_cols)
        if unknown:
            raise ValueError(f"update fields not in the index schema: {sorted(unknown)}")
        if detect_noop and script is None and new == old:
            return {"result": "noop"}
        # commit order: append the replacement FIRST, tombstone second.
        # The reverse order could soft-delete the doc and then fail the
        # append (bad script value, index_sort mismatch, crash between
        # the writes) — silent data loss with no new version.  This
        # order's worst crash leaves BOTH versions briefly visible, and
        # the update intent written before the append lets the next
        # update_doc on this index finish the tombstone idempotently
        # (_complete_pending_updates).
        bid = batch_id if batch_id is not None else _next_batch_id(index_dir)
        ipath = _update_intent_path(index_dir, bid)
        with open(ipath, "w") as f:
            json.dump(
                {"batch": int(bid), "old_docid": int(rows[0]["_docid"])}, f
            )
        _append(new, bid)
        spark.createDataFrame(
            [(int(rows[0]["_docid"]),)], "_docid BIGINT"
        ).write.mode("append").parquet(deletes_dir(index_dir))
        os.remove(ipath)
        engine.index = engine.index.reopen()
        return {"result": "updated"}

    if upsert is None and not doc_as_upsert:
        raise KeyError(f"document missing: {id_values} (and no upsert given)")
    source = dict(upsert if upsert is not None else doc)
    if scripted_upsert:
        if script is None:
            raise ValueError("scripted_upsert requires a script")
        source = dict(script(dict(source)))
    missing = set(src_cols) - set(source)
    if missing:
        raise ValueError(f"upsert document missing fields: {sorted(missing)}")
    _append(
        source, batch_id if batch_id is not None else _next_batch_id(index_dir)
    )
    engine.index = engine.index.reopen()
    return {"result": "created"}


def _select_schema(dm: DataFrame, src_cols) -> "object":
    from pyspark.sql import types as T

    by_name = {f.name: f for f in dm.schema.fields}
    return T.StructType([
        T.StructField(c, by_name[c].dataType, True) for c in src_cols
    ])


def _update_intent_path(index_dir: str, batch_id: int) -> str:
    return os.path.join(
        _paths(index_dir)["manifests"], f"update-intent-{int(batch_id):010d}.json"
    )


def _complete_pending_updates(spark: SparkSession, index_dir: str) -> None:
    """Finish a crashed ``update_doc``'s tombstone half.

    The update intent records ``(batch, old_docid)`` before the
    replacement append.  Three states per leftover intent:

    - batch manifest committed -> the replacement is durable but the
      crash hit before the tombstone: (re-)write it (idempotent — the
      tombstone read side is a distinct union) and drop the intent;
    - neither manifest nor the append's own ``batch-*-intent.json``
      sentinel exists -> the append never started; the update simply
      did not happen (old doc still live): drop the record;
    - append intent without a manifest -> a half-committed append that
      ``append_batch``'s recovery owns (PartialBatchError repair); keep
      the update intent so the tombstone still lands after repair.
    """
    mdir = _paths(index_dir)["manifests"]
    if not os.path.isdir(mdir):
        return
    for fn in sorted(os.listdir(mdir)):
        if not (fn.startswith("update-intent-") and fn.endswith(".json")):
            continue
        path = os.path.join(mdir, fn)
        try:
            with open(path) as f:
                rec = json.load(f)
            bid = int(rec["batch"])
            old_docid = int(rec["old_docid"])
        except (OSError, ValueError, KeyError, TypeError):
            continue
        bman = os.path.join(mdir, f"batch-{bid:010d}.json")
        if os.path.exists(bman):
            spark.createDataFrame(
                [(old_docid,)], "_docid BIGINT"
            ).write.mode("append").parquet(deletes_dir(index_dir))
            os.remove(path)
        elif not os.path.exists(
            os.path.join(mdir, f"batch-{bid:010d}-intent.json")
        ):
            os.remove(path)


def _next_batch_id(index_dir: str) -> int:
    """Smallest unused incremental batch id (batch manifests are the
    committed record; intent files mark in-flight ones)."""
    mdir = _paths(index_dir)["manifests"]
    used = [-1]
    if os.path.isdir(mdir):
        for fn in os.listdir(mdir):
            if not (fn.startswith("batch-") and fn.endswith(".json")):
                continue
            core = fn[len("batch-"):-len(".json")]
            # in-flight sentinel: batch-<id>-intent.json
            # (streaming.incremental._intent_path) — its id is RESERVED
            # even without a committed manifest, else a crashed append's
            # id gets reused and _recover_batch "recovers" the crashed
            # batch's data as the new append's commit
            if core.endswith("-intent"):
                core = core[: -len("-intent")]
            try:
                used.append(int(core))
            except ValueError:
                pass
    return max(used) + 1


def _append_cfg(engine) -> IndexConfig:
    """IndexConfig reconstructed from the committed plan — appends must
    keep the index's segment count / ids / sort."""
    plan = engine.index.plan
    sort = plan.get("index_sort")
    return IndexConfig(
        n_segments=int(plan["n_segments"]),
        block_size=int(plan.get("block_size") or IndexConfig.block_size),
        codec=plan.get("codec", "varint"),
        stopwords=plan.get("stopwords"),
        analyzer=plan.get("analyzer"),
        search_analyzer=plan.get("search_analyzer"),
        id_cols=tuple(plan["id_cols"]),
        routing_col=plan.get("routing_col"),
        text_col=plan.get("text_col", "text"),
        store_positions=bool(plan.get("store_positions", True)),
        index_sort=[tuple(s) for s in sort] if sort else None,
        dictionary_partitions=int(
            plan.get("dictionary_partitions")
            or IndexConfig.dictionary_partitions
        ),
    )


# backwards-compatible alias for the r2 name (misleading; prefer tombstone_docids)
live_docids = tombstone_docids
