"""Multi-field text search: per-field postings + real ``multi_match``.

The reference indexes every analyzed field into its own postings
(``index/mapper/TextFieldMapper.java:110-112``; per-field posting
formats via ``PerFieldMappingPostingFormatCodec.java``) with per-field
norms and collection statistics.  The Spark-native expression of
"per-field postings" is a **field-partitioned index layout**: one index
directory per text field (``<root>/field=<name>/``), each with its own
dictionary, norms and stats — reading one field's postings touches only
that field's files (partition pruning by construction), and per-field
``avgdl``/``doc_count`` are exact.  Doc IDs align across the per-field
indexes because every field index is built from the same docs with the
same routing and id-sort (``builder.build_index`` assigns docids by
segment offset + stable id order, independent of the text column).

``multi_match`` (``MultiMatchQueryBuilder.java``, 902 LoC; engine
``index/search/MultiMatchQuery.java``):

- ``best_fields``: dis_max over per-field match scores + tie_breaker.
- ``most_fields``: sum of per-field match scores.
- ``cross_fields`` (term-centric): each analyzed term is ONE clause
  that matches if the term occurs in ANY field; the clause score is the
  max over fields of the per-field BM25 term score (x field boost),
  scored with BLENDED term statistics exactly like Lucene's
  ``BlendedTermQuery.rewrite`` — df = max across fields, ttf = sum
  across fields (capped at each field's doc count), substituted into
  every field's per-term constant before scoring.  The former
  per-field-stats deviation is closed (late r3); the SQL oracle blends
  the same way (``greatest`` of the per-field dfs).
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opensearch_spark.query import dsl as Q
from opensearch_spark.query.executor import SearchEngine


class MultiFieldEngine:
    """A bundle of per-field :class:`SearchEngine` handles over aligned
    docids.  ``default_field`` supplies the docmap/id columns."""

    def __init__(self, engines: Dict[str, SearchEngine], default_field: str):
        self.engines = engines
        self.default_field = default_field
        self.spark = engines[default_field].spark
        self.id_cols = engines[default_field].id_cols

    @property
    def default(self) -> SearchEngine:
        return self.engines[self.default_field]

    def score_multi_match(self, q: Q.MultiMatch) -> DataFrame:
        """(_docid, score) for a multi_match over indexed text fields."""
        fields: List[Tuple[str, float]] = [(f, b) for f, b in q.fields]
        for f, _ in fields:
            if f not in self.engines:
                raise ValueError(f"field {f!r} has no per-field index")
        if q.type == "cross_fields":
            return self._cross_fields(q, fields)
        if q.type == "bool_prefix":
            # multi_match type bool_prefix (search_as_you_type's query
            # shape): a match_bool_prefix per field; the type's group
            # tie-breaker is 1.0 (MultiMatchQueryBuilder.Type.BOOL_PREFIX)
            # and dis_max with tie 1.0 is exactly the SUM of field scores
            parts = [
                self.engines[f]._score(Q.MatchBoolPrefix(
                    f, q.query, boost=boost,
                    operator=q.operator,
                    minimum_should_match=getattr(
                        q, "minimum_should_match", None),
                    analyzer=getattr(q, "analyzer", None),
                    fuzziness=getattr(q, "fuzziness", None),
                    prefix_length=getattr(q, "prefix_length", 0),
                    max_expansions=getattr(q, "max_expansions", 50),
                ))
                for f, boost in fields
            ]
            from functools import reduce as _reduce

            unioned = _reduce(DataFrame.unionByName, parts)
            out = unioned.groupBy("_docid").agg(F.sum("score").alias("score"))
            if q.boost != 1.0:
                out = out.withColumn("score", F.col("score") * F.lit(float(q.boost)))
            return out
        parts = []
        for i, (f, boost) in enumerate(fields):
            eng = self.engines[f]
            sub = eng._score(Q.Match(f, q.query, operator=q.operator, boost=boost))
            parts.append(sub.withColumn("cid", F.lit(i)))
        from functools import reduce

        unioned = reduce(DataFrame.unionByName, parts)
        grouped = unioned.groupBy("_docid").agg(
            F.max("score").alias("best"), F.sum("score").alias("total")
        )
        if q.type == "most_fields":
            score = F.col("total")
        else:  # best_fields
            score = F.col("best") + F.lit(float(q.tie_breaker)) * (
                F.col("total") - F.col("best")
            )
        return grouped.select(
            "_docid", (score * F.lit(float(q.boost))).alias("score")
        )

    def _cross_fields(self, q: Q.MultiMatch, fields) -> DataFrame:
        """Term-centric blending: per (term, doc) take the best field's
        BM25 score, then combine terms like a match query (sum +
        minimum_should_match over distinct matched terms).  Term
        statistics are blended across fields first, exactly like
        Lucene's ``BlendedTermQuery.rewrite`` (df = max over fields,
        ttf = sum over fields), then substituted into EVERY field's
        per-term constant — so a term rare in one field but common in
        another scores with the common field's (blended) idf in both,
        the whole point of cross_fields (BlendedTermQuery.java;
        index/search/MultiMatchQuery.java ``blendTerms``)."""
        tokens = self.default.index.analyze(q.query)
        if not tokens:
            return self.default._empty_scored()
        weights = dict(Counter(tokens))
        blended: Dict[str, Tuple[int, int]] = {}
        for f, _ in fields:
            st = self.engines[f].index.term_stats(list(weights))
            for t, df_, ttf_ in zip(st["term"], st["df"], st["total_tf"]):
                prev = blended.get(t, (0, 0))
                blended[t] = (max(prev[0], int(df_)), prev[1] + int(ttf_))
        parts = []
        for f, boost in fields:
            eng = self.engines[f]
            per = eng._per_term_scores(weights, stats_override=blended)
            if per is None:
                continue
            parts.append(
                eng._frame(per).withColumn("s", F.col("s").cast("double") * F.lit(float(boost)))
            )
        if not parts:
            return self.default._empty_scored()
        from functools import reduce

        unioned = reduce(DataFrame.unionByName, parts)
        # best field per (term, doc), then sum term clauses per doc
        per_term = unioned.groupBy("term", "_docid").agg(
            F.max("s").alias("ts"), F.max("weight").alias("weight")
        )
        required = len(tokens) if q.operator == "and" else 1
        grouped = per_term.groupBy("_docid").agg(
            F.sum(F.col("ts") * F.col("weight")).alias("score"),
            F.sum("weight").alias("matched"),
        )
        return (
            grouped.filter(F.col("matched") >= F.lit(int(required)))
            .select("_docid", (F.col("score") * F.lit(float(q.boost))).alias("score"))
        )

    def topk(self, q: Q.MultiMatch, k: int = 10, round_dp: int = 4) -> DataFrame:
        """Driver-comparable top-k (same contract as docs_index.topk)."""
        scored = self.score_multi_match(q)
        return self._topk_frame(scored, k, round_dp)

    def _topk_frame(self, scored: DataFrame, k: int, round_dp: int = 4) -> DataFrame:
        eng = self.default
        dm = eng.index.docmap().select("_docid", *eng.id_cols)
        order = [F.desc("score")] + [F.asc(c) for c in eng.id_cols]
        return (
            scored.join(dm, "_docid")
            .withColumn("score", F.round(F.col("score"), round_dp))
            .orderBy(*order)
            .limit(k)
            .select(*eng.id_cols, "score")
        )

    def score_span_near_masked(
        self,
        clauses: Sequence[Tuple[str, str]],
        slop: int = 0,
        in_order: bool = True,
        boost: float = 1.0,
    ) -> DataFrame:
        """``span_near`` whose clauses may live in DIFFERENT per-field
        indexes — the ``field_masking_span`` composition
        (``FieldMaskingSpanQueryBuilder.java``; registry
        ``SearchModule.java:1109-1138``).

        ``clauses`` = ordered [(field, span_term), ...].  Positions for
        each clause come from that field's own postings; they share one
        coordinate space because every per-field index is built from
        the same docs + routing and derived fields (``title``) are
        positional prefixes of the default field.  The minimal-interval
        algebra then runs over the merged per-doc position lists exactly
        as in the single-field ``span_near``.

        Scoring follows the reference's masking contract where
        expressible: length normalization uses the MASK (default)
        field's norms; idf sums each term against its OWN field's
        statistics (documented deviation — Lucene uses the mask field's
        weights throughout, which a per-field-stats engine cannot
        reproduce without cross-field df blending)."""
        from functools import reduce

        from opensearch_spark.query import bm25
        from opensearch_spark.query.executor import _intervals_count

        if not any(f == self.default_field for f, _ in clauses):
            raise ValueError(
                "at least one clause must be on the mask (default) field "
                "— its norms drive length normalization"
            )
        deng = self.default
        slot_names = [f"m{i}" for i in range(len(clauses))]
        idf_sum = 0.0
        parts: List[DataFrame] = []
        for i, (f, t) in enumerate(clauses):
            eng = self.engines[f]
            st = eng.index.term_stats([t])
            if st.empty:
                return deng._empty_scored()
            idf_sum += bm25.idf(
                int(st["df"].iloc[0]), eng.index.stats["doc_count"]
            )
            post = eng.index.postings_for_terms([t], with_positions=True)
            norm = "norm_byte" if f == self.default_field else "NULL"
            parts.append(post.selectExpr(
                "_docid", f"'{slot_names[i]}' AS term", "positions",
                f"CAST({norm} AS INT) AS norm_byte",
            ))
        # each slot is a pseudo-term of the mask-field doc; its norm is
        # the only non-null one, so the per-doc min() keeps it
        slop, in_order = int(slop), bool(in_order)
        return deng._score_positions(
            reduce(DataFrame.unionByName, parts),
            [[s] for s in slot_names],
            lambda runs, nd: _intervals_count(runs, nd, in_order, slop),
            idf_sum,
            boost,
        )
