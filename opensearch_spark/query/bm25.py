"""Okapi BM25 scoring, Lucene-9-compatible (SURVEY.md §4.6).

Reference defaults: ``LegacyBM25Similarity(k1=1.2, b=0.75)``
(``server/src/main/java/org/opensearch/index/similarity/SimilarityProviders.java:274-281``,
``SimilarityService.java:72``).  Effective Lucene 9 formula:

    idf    = ln(1 + (N - df + 0.5) / (df + 0.5))
    score  = idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

with ``dl`` the SmallFloat-byte4-quantized field length and
``avgdl = sumTotalTermFreq / docCount`` from **global** corpus stats (our
single-postings-table design gives DFS_QUERY_THEN_FETCH semantics for
free, SURVEY.md §3.1).  Per-term scores are computed in float64 and
rounded to float32 — the same double-compute-then-narrow Lucene does —
then summed across terms in float64.

Both the norm decode and the score are SQL text, not Column trees:
``norm_decode_sql`` is SmallFloat's byte4 decode as integer arithmetic,
and ``term_score_sql`` holds the formula once for every BM25 clause
(term, phrase, span, intervals, WAND bounds).  A caller puts them into
a ``selectExpr`` or a statement, so a scoring projection costs a
handful of py4j round trips to build, and the decode stays inside
whole-stage codegen: no Python in the per-posting hot path.
"""

from __future__ import annotations

import math

import numpy as np

from opensearch_spark import sqltext
from opensearch_spark.analysis import smallfloat as sfl

K1 = 1.2
B = 0.75


def idf(df: int, doc_count: int) -> float:
    """Lucene-9 BM25 idf on global stats (float64)."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def norm_decode_sql(norm_byte: str) -> str:
    """Quantized doc length (INT) from the 1-byte norm column
    ``norm_byte`` (0..255): SmallFloat.byte4ToInt as integer arithmetic.
    Values below ``NUM_FREE_VALUES`` are stored as-is; above, the byte is
    a 4-bit float (3 mantissa bits, subnormal below 8).  A handful of
    expression nodes where a 256-entry literal table costs every
    analyzer and optimizer pass of every statement that decodes norms;
    ``tests/test_smallfloat.py`` checks all 256 bytes against
    ``smallfloat.DECODE_TABLE``."""
    free = sfl.NUM_FREE_VALUES
    x = f"({norm_byte} - {free})"
    return (
        f"(CASE WHEN {norm_byte} < {free + 8} THEN {norm_byte}"
        f" ELSE {free} + shiftleft(({x} & 7) | 8, shiftright({x}, 3) - 1) END)"
    )


def term_score_sql(
    tf: str,
    idf: str,
    dl: str,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> str:
    """Per-(term, doc) BM25 score as SQL text over the expressions
    ``tf``, ``idf`` and ``dl``: float64 math narrowed to float32."""
    d = sqltext.double
    tf_d, dl_d = f"CAST({tf} AS DOUBLE)", f"CAST({dl} AS DOUBLE)"
    denom = f"({tf_d} + {d(k1)} * ({d(1.0 - b)} + {d(b)} * {dl_d} / {d(avgdl)}))"
    return f"CAST(({idf}) * {d(k1 + 1.0)} * {tf_d} / {denom} AS FLOAT)"


def term_score_np(
    tf: np.ndarray, idf_val: float, dl: np.ndarray, avgdl: float,
    k1: float = K1, b: float = B,
) -> np.ndarray:
    """Numpy twin of term_score_sql (used by WAND bounds + the oracle)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return (idf_val * (k1 + 1.0) * tf / denom).astype(np.float32)


def block_max_score(
    max_tf: np.ndarray, idf_val: float, min_dl: np.ndarray, avgdl: float,
    k1: float = K1, b: float = B,
) -> np.ndarray:
    """Upper bound of any score inside a block (block-max WAND metadata):
    monotonically increasing in tf, decreasing in dl, so (max_tf, min_dl)
    bounds the block (SURVEY.md §4.4)."""
    return term_score_np(max_tf, idf_val, min_dl, avgdl, k1, b)
