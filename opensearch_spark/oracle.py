"""Pure-Python (no Spark) reference oracle for BM25 top-k retrieval.

Implements the reference engine's match/term/bool/phrase semantics exactly
as documented in SURVEY.md §2.2/§4.6 — standard analyzer (the SAME code
path as the engine, so analyzer and oracle cannot drift), global collection
stats (single-shard / DFS semantics), Lucene-9 BM25 with SmallFloat-byte4
quantized norms, per-term scores narrowed to float32 then summed in
float64, and the deterministic (score desc, id_cols asc) tie-break.

Used by pytest (``python -m pytest -x -q``) as the golden-output generator
for rank-identity assertions against the Spark engine.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np

from opensearch_spark.analysis import analyzer as ana
from opensearch_spark.analysis import smallfloat as sfl

K1 = 1.2
B = 0.75


class OracleIndex:
    def __init__(
        self,
        rows: Sequence[dict],
        id_cols: Sequence[str] = ("conv_id", "turn_idx"),
        text_col: str = "text",
        stopwords=None,
        analyzer: Optional[Callable[[str], Tuple[List[str], List[int]]]] = None,
    ):
        """``analyzer`` (text -> (tokens, positions)) replaces the
        standard analyzer on both the index and the query side, for
        indexes built with a custom ``IndexConfig.analyzer`` chain."""
        self.id_cols = list(id_cols)
        self.text_col = text_col
        stop = ana.resolve_stopwords(stopwords)
        self.analyzer = analyzer
        self.rows = sorted(rows, key=lambda r: tuple(r[c] for c in id_cols))
        self.tokens: List[List[str]] = []
        self.positions: List[List[int]] = []
        for r in self.rows:
            if analyzer is not None:
                t, p = analyzer(r[text_col])
            else:
                t, p = ana.tokenize_with_positions(r[text_col], stop)
            self.tokens.append(t)
            self.positions.append(p)
        self.dl = np.array([len(t) for t in self.tokens], dtype=np.int64)
        self.dl_q = sfl.quantize_len(self.dl)
        self.doc_count = int((self.dl > 0).sum())
        self.sum_dl = int(self.dl.sum())
        self.avgdl = self.sum_dl / self.doc_count if self.doc_count else 0.0
        # postings: term -> {doc -> tf}, and term -> {doc -> [positions]}
        self.post: Dict[str, Dict[int, int]] = {}
        self.pos: Dict[str, Dict[int, List[int]]] = {}
        for d, (toks, poss) in enumerate(zip(self.tokens, self.positions)):
            for tok, p in zip(toks, poss):
                self.post.setdefault(tok, {})
                self.post[tok][d] = self.post[tok].get(d, 0) + 1
                self.pos.setdefault(tok, {}).setdefault(d, []).append(p)

    # ---- scoring primitives ----

    def idf(self, term: str) -> float:
        df = len(self.post.get(term, {}))
        return math.log(1.0 + (self.doc_count - df + 0.5) / (df + 0.5))

    def term_score(self, tf: int, idf: float, dl_q: int) -> float:
        """float64 math narrowed to float32, like the engine/Lucene."""
        denom = tf + K1 * (1.0 - B + B * dl_q / self.avgdl)
        return float(np.float32(idf * (K1 + 1.0) * tf / denom))

    # ---- query evaluation ----

    def match(
        self,
        query: str,
        operator: str = "or",
        minimum_should_match: Optional[int] = None,
        stopwords=None,
    ) -> Dict[int, float]:
        toks = self._query_tokens(query, stopwords)
        if not toks:
            return {}
        weights = Counter(toks)
        n_clauses = len(toks)
        required = (
            n_clauses if operator == "and" else (minimum_should_match or 1)
        )
        scores: Dict[int, float] = {}
        matched: Dict[int, int] = {}
        for term, w in weights.items():
            plist = self.post.get(term)
            if not plist:
                continue
            idf = self.idf(term)
            for d, tf in plist.items():
                s = self.term_score(tf, idf, int(self.dl_q[d]))
                scores[d] = scores.get(d, 0.0) + w * s
                matched[d] = matched.get(d, 0) + w
        return {d: s for d, s in scores.items() if matched[d] >= required}

    def _query_tokens(self, query: str, stopwords) -> List[str]:
        if self.analyzer is not None:
            return list(self.analyzer(query)[0])
        return ana.tokenize(query, ana.resolve_stopwords(stopwords))

    def term(self, value: str) -> Dict[int, float]:
        plist = self.post.get(value)
        if not plist:
            return {}
        idf = self.idf(value)
        return {
            d: self.term_score(tf, idf, int(self.dl_q[d]))
            for d, tf in plist.items()
        }

    def phrase(self, query: str, stopwords=None) -> Dict[int, float]:
        toks = self._query_tokens(query, stopwords)
        if not toks:
            return {}
        if len(toks) == 1:
            return self.term(toks[0])
        uniq = set(toks)
        if any(t not in self.post for t in uniq):
            return {}
        idf_sum = sum(self.idf(t) for t in uniq)
        cands = set(self.post[toks[0]])
        for t in uniq:
            cands &= set(self.post[t])
        out: Dict[int, float] = {}
        for d in cands:
            starts = self.pos[toks[0]][d]
            ptf = 0
            for s in starts:
                if all((s + i) in self.pos[t][d] for i, t in enumerate(toks)):
                    ptf += 1
            if ptf:
                denom = ptf + K1 * (1.0 - B + B * int(self.dl_q[d]) / self.avgdl)
                out[d] = float(np.float32(idf_sum * (K1 + 1.0) * ptf / denom))
        return out

    def topk(
        self, scores: Dict[int, float], k: int = 10
    ) -> List[Tuple[Tuple, float]]:
        """(id_tuple, score) list ordered (score desc, ids asc) — the
        deterministic tie-break of SURVEY.md §2.6."""
        keyed = [
            (tuple(self.rows[d][c] for c in self.id_cols), s)
            for d, s in scores.items()
        ]
        keyed.sort(key=lambda x: (-x[1], x[0]))
        return keyed[:k]

    def filter_ids(self, pred) -> set:
        """Filter-context doc set from a python predicate over source rows."""
        return {d for d, r in enumerate(self.rows) if pred(r)}

    def apply_bool(
        self,
        scored: Dict[int, float],
        filter_ids: Optional[set] = None,
        must_not_ids: Optional[set] = None,
    ) -> Dict[int, float]:
        out = dict(scored)
        if filter_ids is not None:
            out = {d: s for d, s in out.items() if d in filter_ids}
        if must_not_ids:
            out = {d: s for d, s in out.items() if d not in must_not_ids}
        return out
