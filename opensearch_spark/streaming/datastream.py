"""Data streams: append-only, generation-rolled backing indexes.

The reference's data streams (SURVEY §1.1/§2.10;
``cluster/metadata/DataStream.java``, rollover in
``action/admin/indices/rollover/TransportRolloverAction.java``,
``MetadataRolloverService.java``) model a time-series stream as an
ordered list of hidden backing indexes ``.ds-<name>-<generation>``:
writes always target the newest generation, ``_rollover`` cuts a new
generation when the write index trips a condition (max_docs / max_age /
max_size), and searches fan out across ALL generations.

Spark mapping: each backing index is an incremental inverted index
(``streaming/incremental.py`` — the exactly-once append protocol), the
stream directory holds a tiny ``stream.json`` manifest (name,
generation list, per-generation creation time), and search unions the
per-generation scored frames.  Scoring is per-backing-index statistics
— exactly the reference's default QUERY_THEN_FETCH behavior where BM25
df/avgdl are per-shard-local (SURVEY §3.1), so a doc's score depends on
its generation's corpus, not the global one.

Scale notes: a generation is immutable once rolled (only the write
index appends), so per-generation postings stay merge-compacted and
the fan-out search is an embarrassingly parallel union — at 10^12
turns, generations bound both the append working set and the
incremental-build recovery window.
"""

from __future__ import annotations

import json
import os
import time
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensearch_spark.index.builder import IndexConfig
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.query.executor import SearchEngine
from opensearch_spark.query.request_cache import commit_fingerprint
from opensearch_spark.streaming import incremental as inc


class DataStream:
    """Handle to a data-stream directory."""

    def __init__(self, spark: SparkSession, root: str, cfg: IndexConfig):
        self.spark = spark
        self.root = root
        self.cfg = cfg
        # generation -> (commit fingerprint, engine), see _engine
        self._engines: Dict[int, Tuple[str, SearchEngine]] = {}

    # ---- manifest ----

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "stream.json")

    def _manifest(self) -> Dict:
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, m: Dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def _gen_dir(self, gen: int) -> str:
        # the reference's .ds-<name>-<generation> naming
        return os.path.join(self.root, f".ds-{gen:06d}")

    # ---- lifecycle ----

    def create(self, schema) -> "DataStream":
        os.makedirs(self.root, exist_ok=True)
        inc.init_index_dir(self.spark, self._gen_dir(1), self.cfg, schema)
        self._write_manifest(
            {
                "generation": 1,
                "generations": [
                    {"gen": 1, "created_unix": int(time.time())}
                ],
            }
        )
        return self

    def generations(self) -> List[int]:
        return [g["gen"] for g in self._manifest()["generations"]]

    def write_index(self) -> str:
        return self._gen_dir(self._manifest()["generation"])

    def append(self, docs: DataFrame, batch_id: int) -> Dict:
        """Append a batch to the WRITE index (newest generation) via the
        exactly-once incremental protocol."""
        return inc.append_batch(
            self.spark, docs, self.write_index(), self.cfg, batch_id=batch_id
        )

    def rollover(
        self,
        max_docs: Optional[int] = None,
        max_age_sec: Optional[float] = None,
        schema=None,
    ) -> bool:
        """Cut a new generation when the write index trips a condition
        (RolloverConditions: max_docs / max_age).  Returns True if
        rolled.  ``schema`` defaults to the write index's plan schema
        carrier (required only on actual rollover)."""
        m = self._manifest()
        cur = m["generation"]
        idx = InvertedIndex(self.spark, self._gen_dir(cur))
        n_docs = int(idx.stats["n_docs"])
        age = time.time() - m["generations"][-1]["created_unix"]
        trip = (max_docs is not None and n_docs >= max_docs) or (
            max_age_sec is not None and age >= max_age_sec
        )
        if not trip:
            return False
        if schema is None:
            raise ValueError("rollover needs the docs schema to init the new generation")
        new_gen = cur + 1
        inc.init_index_dir(
            self.spark, self._gen_dir(new_gen), self.cfg, schema
        )
        m["generation"] = new_gen
        m["generations"].append(
            {"gen": new_gen, "created_unix": int(time.time())}
        )
        self._write_manifest(m)
        return True

    # ---- search ----

    def _engine(self, gen: int) -> SearchEngine:
        """The generation's engine, kept until the generation's commit
        fingerprint changes (``RequestCache``'s rule): its handle's term
        statistics and opened tables serve every search until then, and
        an append reopens only the write generation."""
        key = commit_fingerprint(self._gen_dir(gen))
        held = self._engines.get(gen)
        if held is None or held[0] != key:
            held = (key, SearchEngine(InvertedIndex(self.spark, self._gen_dir(gen))))
            self._engines[gen] = held
        return held[1]

    def _live(self) -> List[Tuple[int, SearchEngine]]:
        """(generation, engine) of each non-empty generation (an empty
        write index has no stats to score with and matches nothing)."""
        out = []
        for g in self.generations():
            eng = self._engine(g)
            if int(eng.index.stats["n_docs"]) > 0:
                out.append((g, eng))
        return out

    def engines(self) -> List[SearchEngine]:
        """One engine per non-empty generation."""
        return [eng for _, eng in self._live()]

    def search(
        self,
        query,
        size: int = 10,
        round_scores: Optional[int] = None,
        indices_boost: Optional[Dict[int, float]] = None,
    ) -> DataFrame:
        """Fan-out search: per-generation scoring with that generation's
        own corpus statistics (per-shard QUERY_THEN_FETCH semantics),
        global top-k with (score desc, id asc) tie-break.
        ``round_scores`` rounds BEFORE the global ordering (the
        docs_index.topk float-stability contract).

        ``indices_boost`` = the reference's per-index boost map
        (SearchSourceBuilder ``indices_boost`` /
        SearchService.buildIndexBoost), keyed here by generation number
        (the backing ``.ds-<stream>-<gen>`` index): each generation's
        raw scores are multiplied by its factor before the global
        merge — the standard recency-weighting trick over a data
        stream's generations."""
        boosts = {int(k): float(v) for k, v in (indices_boost or {}).items()}
        parts = []
        for gen, eng in self._live():
            scored = eng._score_with_deletes_applied(query)
            b = boosts.get(gen, 1.0)
            if b != 1.0:
                scored = scored.withColumn(
                    "score", F.col("score") * F.lit(b)
                )
            dm = eng.index.docmap().select("_docid", *eng.id_cols)
            parts.append(scored.join(dm, "_docid").select(*eng.id_cols, "score"))
        if not parts:
            raise ValueError("data stream has no non-empty generations")
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        if round_scores is not None:
            u = u.withColumn("score", F.round(F.col("score"), round_scores))
        id_cols = list(self.cfg.id_cols)
        return (
            u.orderBy(F.desc("score"), *[F.asc(c) for c in id_cols])
            .limit(size)
        )

    def stats(self) -> Dict:
        gens = self.generations()
        per = {}
        for g in gens:
            st = InvertedIndex(self.spark, self._gen_dir(g)).stats
            per[g] = {"n_docs": int(st["n_docs"]), "sum_dl": int(st["sum_dl"])}
        return {
            "generation": max(gens),
            "n_generations": len(gens),
            "per_generation": per,
            "n_docs": sum(p["n_docs"] for p in per.values()),
        }
