"""Per-field similarity modules beyond BM25.

The reference registers configurable similarities per field
(``index/similarity/SimilarityProviders.java``: ``BM25`` :274-281,
``boolean`` :287, ``LMDirichlet`` :380-387 (mu default 2000),
``LMJelinekMercer`` :395-403 (lambda default 0.1), ``DFI`` :343-352
(independence measures standardized/saturated/chisquared); wiring in
``index/similarity/SimilarityService.java:72-90``).  The Lucene scorers
they produce live in ``lucene/search/similarities/``:

- ``LMDirichletSimilarity``:  ``score = boost * (ln(1 + tf / (mu*p_c))
  + ln(mu / (dl + mu)))`` clamped at 0, with the collection model
  ``p_c = (ttf + 1) / (sumTotalTermFreq + 1)``
  (``LMSimilarity.DefaultCollectionModel``).
- ``LMJelinekMercerSimilarity``: ``score = boost * ln(1 +
  ((1-lambda) * tf / dl) / (lambda * p_c))`` clamped at 0.
- ``BooleanSimilarity``: score = boost, tf/norm-independent.
- ``DFISimilarity``: ``expected = (ttf+1) * dl / (sumTotalTermFreq+1)``;
  0 when ``tf <= expected`` else ``boost * log2(measure + 1)`` with the
  independence measures Standardized ``(tf-e)/sqrt(e)``, Saturated
  ``(tf-e)/e``, ChiSquared ``(tf-e)^2/e`` (``Independence*.java``).

Spark-first design: every similarity is a pure Catalyst expression,
written as SQL text (``score_sql``), over per-posting ``(tf, dl)`` plus
ONE per-term scalar (``tconst``) and engine-level constants — the
scoring stays inside whole-stage codegen exactly like the BM25 path,
and each class carries a numpy twin so the pure-Python oracle and
WAND-style bound checks cannot drift.  Per-term scores are computed in
float64 and narrowed to float32 (Lucene's SimScorer returns float),
then summed in float64 across clauses.

Scope (documented deviation): the engine applies the configured
similarity to the term/match scoring family (match, term, terms,
multi_match most/best over the default field path).  Positional
queries (phrase/span/intervals) and WAND pruning keep BM25 — WAND's
block-max bounds are derived from the BM25 formula, so the executor
disables pruning whenever a non-BM25 similarity is active.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from opensearch_spark import sqltext
from opensearch_spark.query import bm25

_LN2 = math.log(2.0)


class Similarity:
    """Interface: one scalar per term + a codegen-able score column."""

    name = "?"
    is_bm25 = False

    def term_const(self, df: int, ttf: int, n: int, sum_dl: float) -> float:
        """The single per-term broadcast scalar this similarity needs."""
        raise NotImplementedError

    def score_sql(self, tf: str, tconst: str, dl: str) -> str:
        """float32 per-(term, doc) score as SQL text over the expressions
        ``tf``, ``tconst`` and ``dl`` (``sqltext`` renders constants)."""
        raise NotImplementedError

    def score_np(self, tf, tconst: float, dl) -> np.ndarray:
        """Numpy twin of score_sql (oracle/tests)."""
        raise NotImplementedError


@dataclass
class BM25(Similarity):
    """Okapi BM25 (the default; SimilarityProviders.java:274-281)."""

    k1: float = bm25.K1
    b: float = bm25.B
    avgdl: float = 1.0
    name = "BM25"
    is_bm25 = True

    def term_const(self, df, ttf, n, sum_dl):
        return bm25.idf(int(df), int(n))

    def score_sql(self, tf, tconst, dl):
        return bm25.term_score_sql(tf, tconst, dl, self.avgdl, self.k1, self.b)

    def score_np(self, tf, tconst, dl):
        return bm25.term_score_np(tf, tconst, dl, self.avgdl, self.k1, self.b)


@dataclass
class LMDirichlet(Similarity):
    """LMDirichletSimilarity (mu default 2000, SimilarityProviders.java:380)."""

    mu: float = 2000.0
    name = "LMDirichlet"

    def term_const(self, df, ttf, n, sum_dl):
        # mu * p_c, with DefaultCollectionModel p_c = (ttf+1)/(sum_ttf+1)
        return self.mu * (float(ttf) + 1.0) / (float(sum_dl) + 1.0)

    def score_sql(self, tf, tconst, dl):
        mu = sqltext.double(self.mu)
        raw = (
            f"ln(1.0D + CAST({tf} AS DOUBLE) / ({tconst}))"
            f" + ln({mu} / (CAST({dl} AS DOUBLE) + {mu}))"
        )
        return f"CAST(greatest({raw}, 0.0D) AS FLOAT)"

    def score_np(self, tf, tconst, dl):
        tf = np.asarray(tf, dtype=np.float64)
        dl = np.asarray(dl, dtype=np.float64)
        raw = np.log(1.0 + tf / tconst) + np.log(self.mu / (dl + self.mu))
        return np.maximum(raw, 0.0).astype(np.float32)


@dataclass
class LMJelinekMercer(Similarity):
    """LMJelinekMercerSimilarity (lambda default 0.1,
    SimilarityProviders.java:395)."""

    lam: float = 0.1
    name = "LMJelinekMercer"

    def term_const(self, df, ttf, n, sum_dl):
        return (float(ttf) + 1.0) / (float(sum_dl) + 1.0)  # p_c

    def score_sql(self, tf, tconst, dl):
        raw = (
            f"ln(1.0D + ({sqltext.double(1.0 - self.lam)} * CAST({tf} AS DOUBLE)"
            f" / CAST({dl} AS DOUBLE)) / ({sqltext.double(self.lam)} * ({tconst})))"
        )
        return f"CAST(greatest({raw}, 0.0D) AS FLOAT)"

    def score_np(self, tf, tconst, dl):
        tf = np.asarray(tf, dtype=np.float64)
        dl = np.asarray(dl, dtype=np.float64)
        raw = np.log(1.0 + ((1.0 - self.lam) * tf / dl) / (self.lam * tconst))
        return np.maximum(raw, 0.0).astype(np.float32)


@dataclass
class Boolean(Similarity):
    """BooleanSimilarity: score = boost, norms/tf ignored
    (SimilarityProviders.java:287)."""

    name = "boolean"

    def term_const(self, df, ttf, n, sum_dl):
        return 1.0

    def score_sql(self, tf, tconst, dl):
        return f"CAST(({tconst}) AS FLOAT)"

    def score_np(self, tf, tconst, dl):
        return np.full(np.shape(tf), np.float32(tconst), dtype=np.float32)


class MatchOnly(Similarity):
    """match_only_text scoring (``MatchOnlyTextFieldMapper.java``: the
    field indexes ``IndexOptions.DOCS`` with norms omitted, so BM25
    sees freq=1 and norm=1 — the tf part collapses to
    (k1+1)/(1+k1) = 1 and every matched term contributes exactly its
    idf).  Positions are likewise absent in the reference (phrases
    re-scan _source); this engine keeps positions in its layout, so
    phrase queries still run — a documented superset."""

    name = "match_only"

    def term_const(self, df, ttf, n, sum_dl):
        return bm25.idf(int(df), int(n))

    def score_sql(self, tf, tconst, dl):
        return f"CAST(({tconst}) AS FLOAT)"

    def score_np(self, tf, tconst, dl):
        return np.full(np.shape(tf), np.float32(tconst), dtype=np.float32)


_MEASURES = ("standardized", "saturated", "chisquared")


@dataclass
class DFI(Similarity):
    """DFISimilarity with the three independence measures
    (SimilarityProviders.java:343-352)."""

    measure: str = "standardized"
    name = "DFI"

    def __post_init__(self):
        if self.measure not in _MEASURES:
            raise ValueError(f"independence_measure must be one of {_MEASURES}")

    def term_const(self, df, ttf, n, sum_dl):
        # expected = tconst * dl  with  tconst = (ttf+1)/(sum_ttf+1)
        return (float(ttf) + 1.0) / (float(sum_dl) + 1.0)

    def score_sql(self, tf, tconst, dl):
        tf_d = f"CAST({tf} AS DOUBLE)"
        exp = f"(({tconst}) * CAST({dl} AS DOUBLE))"
        if self.measure == "standardized":
            m = f"({tf_d} - {exp}) / sqrt({exp})"
        elif self.measure == "saturated":
            m = f"({tf_d} - {exp}) / {exp}"
        else:
            m = f"({tf_d} - {exp}) * ({tf_d} - {exp}) / {exp}"
        raw = (
            f"CASE WHEN {tf_d} <= {exp} THEN 0.0D"
            f" ELSE ln({m} + 1.0D) / {sqltext.double(_LN2)} END"
        )
        return f"CAST({raw} AS FLOAT)"

    def score_np(self, tf, tconst, dl):
        tf = np.asarray(tf, dtype=np.float64)
        exp = tconst * np.asarray(dl, dtype=np.float64)
        if self.measure == "standardized":
            m = (tf - exp) / np.sqrt(exp)
        elif self.measure == "saturated":
            m = (tf - exp) / exp
        else:
            m = (tf - exp) ** 2 / exp
        out = np.where(tf <= exp, 0.0, np.log(m + 1.0) / _LN2)
        return out.astype(np.float32)


class Scripted(Similarity):
    """ScriptedSimilarity analog (``index/similarity/
    ScriptedSimilarity.java``): the user supplies a function of Catalyst
    columns + per-term stats returning the score column.  ``fn`` receives
    keyword args ``tf, dl, df, ttf`` (Columns) and ``n, sum_dl, avgdl``
    (floats) and must return a Column; it runs JVM-side like any other
    similarity as long as it sticks to pyspark.sql.functions."""

    name = "scripted"

    def __init__(self, fn):
        self.fn = fn
        self._stats = (0.0, 0.0, 1.0)  # n, sum_dl, avgdl (bound by engine)

    # scripted needs df and ttf separately: the engine broadcasts both
    # (score_full_col receives them as columns via the stats frame).
    def term_const(self, df, ttf, n, sum_dl):
        return float(df)  # unused; kept for interface shape

    def score_full_col(
        self, tf: Column, dl: Column, df: Column, ttf: Column,
        n: float, sum_dl: float, avgdl: float,
    ) -> Column:
        return self.fn(
            tf=tf.cast("double"), dl=dl.cast("double"),
            df=df.cast("double"), ttf=ttf.cast("double"),
            n=float(n), sum_dl=float(sum_dl), avgdl=float(avgdl),
        ).cast("float")


def _dfr_normalization(spec: dict):
    """Term-frequency normalizations shared by DFR and IB
    (``SimilarityProviders.parseNormalization``: no/h1/h2/h3/z with the
    reference's default c/mu/z values).  Returns ``fn(tf, dl, avgdl,
    sum_dl, ttf) -> Column`` (all Columns except the floats)."""
    norm = spec.get("normalization", "h2")
    if norm == "no":
        return lambda tf, dl, avgdl, sum_dl, ttf: tf
    if norm == "h1":
        c = float(spec.get("normalization.h1.c", 1.0))
        return lambda tf, dl, avgdl, sum_dl, ttf: tf * F.lit(c * avgdl) / dl
    if norm == "h2":
        c = float(spec.get("normalization.h2.c", 1.0))
        return lambda tf, dl, avgdl, sum_dl, ttf: tf * F.log(
            F.lit(1.0) + F.lit(c * avgdl) / dl
        ) / F.lit(_LN2)
    if norm == "h3":
        mu = float(spec.get("normalization.h3.c", 800.0))
        return lambda tf, dl, avgdl, sum_dl, ttf: (
            (tf + F.lit(mu) * (ttf + F.lit(1.0)) / F.lit(sum_dl + 1.0))
            / (dl + F.lit(mu)) * F.lit(mu)
        )
    if norm == "z":
        z = float(spec.get("normalization.z.z", 0.30))
        return lambda tf, dl, avgdl, sum_dl, ttf: tf * F.pow(
            F.lit(avgdl) / dl, F.lit(z)
        )
    raise ValueError(f"unsupported normalization {norm!r}")


class DFR(Scripted):
    """Divergence-from-randomness (``SimilarityProviders.java:299``
    ``createDfrSimilarity``; basic models g/if/in/ine :96-101, after
    effects b/l :111-114, normalizations no/h1/h2/h3/z :206-226).

    Formulas are the PUBLISHED DFR framework (Amati & Van Rijsbergen,
    TOIS 2002) — ``score = gain * Inf1(tfn)`` with the classic
    definitions below.  Documented deviation: Lucene 9 refactored the
    after-effect/basic-model composition for provably monotone scores
    (LUCENE-8015), which can shift low-order terms vs the textbook
    forms; ranks are pinned by fixtures, not claimed bit-identical.

    - normalized tf ``tfn``: see ``_dfr_normalization``.
    - basic models (information content, log2):
      ``in``  tfn * log2((N+1)/(n+0.5))
      ``ine`` tfn * log2((N+1)/(ne+0.5)), ne = N*(1-((N-1)/N)^F)
      ``if``  tfn * log2((N+1)/(F+0.5))
      ``g``   lam=F/(N+F); log2(1/(1+lam)) + tfn*log2((1+lam)/lam)
    - after effects (first normalization): ``l`` 1/(1+tfn),
      ``b`` (F+1)/(n*(1+tfn))
    where N = docs, n = df, F = ttf."""

    name = "DFR"

    def __init__(self, spec: dict):
        model = spec.get("basic_model", "g")
        effect = spec.get("after_effect", "l")
        if model not in ("g", "if", "in", "ine"):
            raise ValueError(f"unsupported basic_model {model!r}")
        if effect not in ("b", "l"):
            raise ValueError(f"unsupported after_effect {effect!r}")
        tfn_fn = _dfr_normalization(spec)

        def fn(tf, dl, df, ttf, n, sum_dl, avgdl):
            tfn = tfn_fn(tf, dl, avgdl, sum_dl, ttf)
            Nn = F.lit(float(n))
            if model == "in":
                inf1 = tfn * F.log((Nn + 1) / (df + F.lit(0.5))) / F.lit(_LN2)
            elif model == "ine":
                ne = Nn * (
                    F.lit(1.0) - F.pow((Nn - 1) / Nn, ttf)
                )
                inf1 = tfn * F.log((Nn + 1) / (ne + F.lit(0.5))) / F.lit(_LN2)
            elif model == "if":
                inf1 = tfn * F.log((Nn + 1) / (ttf + F.lit(0.5))) / F.lit(_LN2)
            else:  # g
                lam = ttf / (Nn + ttf)
                inf1 = (
                    F.log(F.lit(1.0) / (1 + lam))
                    + tfn * F.log((1 + lam) / lam)
                ) / F.lit(_LN2)
            if effect == "l":
                gain = F.lit(1.0) / (F.lit(1.0) + tfn)
            else:  # b
                gain = (ttf + 1) / (df * (F.lit(1.0) + tfn))
            return F.greatest(gain * inf1, F.lit(0.0))

        super().__init__(fn)


class IB(Scripted):
    """Information-based similarity (``SimilarityProviders.java``
    ``createIBSimilarity``; distributions ll/spl :135-138, lambdas
    df/ttf :140-143; Lucene ``IBSimilarity``).  Published framework
    (Clinchant & Gaussier, SIGIR 2010):

    - ``lambda``: ``df`` (n+1)/(N+1), ``ttf`` (F+1)/(N+1)
    - ``ll``:  -ln(lam / (tfn + lam))
    - ``spl``: -ln((lam^(tfn/(tfn+1)) - lam) / (1 - lam))
    with tfn from the shared normalization set.  NOTE: Lucene's
    ``DistributionLL``/``DistributionSPL`` (which the reference's
    IBSimilarity delegates to) use NATURAL log, unlike the paper's
    log2 presentation and unlike Lucene's DFR basic models — we match
    Lucene's absolute scores (ranks identical either way)."""

    name = "IB"

    def __init__(self, spec: dict):
        dist = spec.get("distribution", "ll")
        lam_kind = spec.get("lambda", "df")
        if dist not in ("ll", "spl"):
            raise ValueError(f"unsupported distribution {dist!r}")
        if lam_kind not in ("df", "ttf"):
            raise ValueError(f"unsupported lambda {lam_kind!r}")
        tfn_fn = _dfr_normalization(spec)

        def fn(tf, dl, df, ttf, n, sum_dl, avgdl):
            tfn = tfn_fn(tf, dl, avgdl, sum_dl, ttf)
            Nn = F.lit(float(n))
            lam = (
                (df + 1) / (Nn + 1) if lam_kind == "df" else (ttf + 1) / (Nn + 1)
            )
            if dist == "ll":
                raw = -F.log(lam / (tfn + lam))
            else:  # spl
                # the SPL fraction is well-defined for lam > 1 (both
                # numerator and denominator negative — routine for
                # lambda='ttf' where lam = (F+1)/(N+1) exceeds 1 for
                # any term averaging >1 occurrence/doc) and ONLY
                # degenerates at lam == 1 (0/0).  Guard exactly that
                # neighborhood with the analytic limit
                # (lam^t - lam)/(1 - lam) -> 1 - t = 1/(tfn + 1) by
                # L'Hopital — never clamp lam itself, which would skew
                # every lam > 1 score; ANSI division is safe because
                # the branch condition removes the zero denominator
                t = tfn / (tfn + 1)
                denom = F.lit(1.0) - lam
                frac = F.when(
                    F.abs(denom) < F.lit(1e-9),
                    F.lit(1.0) / (tfn + 1),
                ).otherwise((F.pow(lam, t) - lam) / denom)
                raw = -F.log(F.greatest(frac, F.lit(1e-12)))
            return F.greatest(raw, F.lit(0.0))

        super().__init__(fn)


def from_spec(spec, avgdl: float = 1.0) -> Similarity:
    """Build a Similarity from a mapping-style settings dict
    (``{"type": "LMDirichlet", "mu": 500}`` — the shape
    SimilarityProviders.java parses from index settings)."""
    if isinstance(spec, Similarity):
        if isinstance(spec, BM25):
            spec.avgdl = avgdl
        return spec
    t = spec.get("type", "BM25")
    if t == "BM25":
        return BM25(
            k1=float(spec.get("k1", bm25.K1)),
            b=float(spec.get("b", bm25.B)),
            avgdl=avgdl,
        )
    if t == "LMDirichlet":
        return LMDirichlet(mu=float(spec.get("mu", 2000.0)))
    if t == "LMJelinekMercer":
        return LMJelinekMercer(lam=float(spec.get("lambda", 0.1)))
    if t == "boolean":
        return Boolean()
    if t in ("match_only", "match_only_text"):
        return MatchOnly()
    if t == "DFI":
        return DFI(measure=spec.get("independence_measure", "standardized"))
    if t == "DFR":
        return DFR(spec)
    if t == "IB":
        return IB(spec)
    raise ValueError(f"unknown similarity type: {t!r}")
