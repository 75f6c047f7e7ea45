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
        cands = set(self.post[toks[0]])
        for t in uniq:
            cands &= set(self.post[t])
        ptf: Dict[int, float] = {}
        for d in cands:
            starts = self.pos[toks[0]][d]
            ptf[d] = sum(
                all((s + i) in self.pos[t][d] for i, t in enumerate(toks))
                for s in starts
            )
        return self.clause(ptf, uniq)

    def clause(self, tf: Dict[int, float], terms) -> Dict[int, float]:
        """One BM25 clause over per-doc frequencies ``tf`` with the idf
        summed over the distinct ``terms`` — how phrase, interval and
        span queries score; docs with tf 0 drop out."""
        idf_sum = sum(self.idf(t) for t in set(terms))
        out: Dict[int, float] = {}
        for d, f in tf.items():
            if f:
                denom = f + K1 * (1.0 - B + B * int(self.dl_q[d]) / self.avgdl)
                out[d] = float(np.float32(idf_sum * (K1 + 1.0) * f / denom))
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


# ---- positional enumerators ----
#
# Scalar, per-doc definitions of the interval, span and sloppy-phrase
# semantics.  The engine scores these shapes with the lockstep Arrow
# kernels in ``query/executor.py``; the tests pin those kernels to the
# enumerators below.


def find_intervals(
    pos: dict, terms: List[str], max_gaps: int, ordered: bool,
    gaps: Optional[List[int]] = None,
) -> List[Tuple[int, int]]:
    """Enumerate minimal intervals (start_pos, end_pos) containing all
    ``terms`` (in order when ``ordered``) with internal gap total
    (width - #terms) <= max_gaps (-1 = unbounded).  Positions per term
    are sorted int64 arrays.

    ``gaps[i]`` reserves a fixed run of that many positions between
    terms[i] and terms[i+1] (``span_gap`` clauses,
    ``SpanNearQueryBuilder.java:256`` -> ``SpanNearQuery.addGap``): the
    successor must start >= gaps[i]+1 after the predecessor, and the
    reserved run counts as matched length, not slop — the budget check
    becomes (width - #terms - sum(gaps)) <= max_gaps.  Like Lucene,
    gaps require ordered matching."""
    uniq = sorted(set(terms))
    k = len(uniq)
    out: List[Tuple[int, int]] = []
    if gaps is not None and not any(gaps):
        gaps = None
    if gaps is not None and not ordered:
        raise ValueError("span gaps require in_order=true (SpanNearQuery.addGap)")
    if ordered:
        seq = list(terms)
        step = [1 + (gaps[i] if gaps else 0) for i in range(len(seq) - 1)]
        total_len = len(seq) + (sum(gaps) if gaps else 0)
        cur = -1
        first = pos[seq[0]]
        while True:
            i0 = int(np.searchsorted(first, cur + 1))
            if i0 >= first.size:
                break
            chain = [int(first[i0])]
            ok = True
            for ti, t in enumerate(seq[1:]):
                pt = pos[t]
                j = int(np.searchsorted(pt, chain[-1] + step[ti]))
                if j >= pt.size:
                    ok = False
                    break
                chain.append(int(pt[j]))
            if not ok:
                break
            # tighten the start side: walk backward taking the largest
            # position of each earlier term below its successor
            for idx in range(len(seq) - 2, -1, -1):
                pt = pos[seq[idx]]
                j = int(np.searchsorted(pt, chain[idx + 1] - step[idx] + 1)) - 1
                chain[idx] = int(pt[j])
            width = chain[-1] - chain[0] + 1
            if max_gaps < 0 or (width - total_len) <= max_gaps:
                out.append((chain[0], chain[-1]))
            cur = chain[0]
        return out
    # unordered: classic sliding minimal-window enumeration over the
    # merged, term-tagged position stream
    events = sorted(
        (int(p), t) for t in uniq for p in pos[t]
    )
    n = len(events)
    need = {t: 0 for t in uniq}
    have = 0
    l = 0
    for r in range(n):
        t = events[r][1]
        need[t] += 1
        if need[t] == 1:
            have += 1
        while need[events[l][1]] > 1:
            need[events[l][1]] -= 1
            l += 1
        if have == k:
            width = events[r][0] - events[l][0] + 1
            if max_gaps < 0 or (width - k) <= max_gaps:
                out.append((events[l][0], events[r][0]))
            # drop the left term to look for the next minimal window
            need[events[l][1]] -= 1
            have -= 1
            l += 1
    return out


FILTER_RELATIONS = (
    "containing", "not_containing", "contained_by", "not_contained_by",
    "overlapping", "not_overlapping", "before", "after",
)


def filter_intervals(
    base: Sequence[Tuple[int, int]], filt: Sequence[Tuple[int, int]], rel: str
) -> int:
    """Count of ``base`` intervals kept by the intervals ``filter``
    relation ``rel`` against the filter source's intervals ``filt``
    (IntervalFilter.java -> Lucene Intervals.containing/notContaining/
    containedBy/notContainedBy/overlapping/nonOverlapping/before/after)."""

    def contains(a, b):
        return a[0] <= b[0] and a[1] >= b[1]

    def overlaps(a, b):
        return a[0] <= b[1] and b[0] <= a[1]

    tests = {
        "containing": lambda b, f: contains(b, f),
        "contained_by": lambda b, f: contains(f, b),
        "overlapping": overlaps,
        "before": lambda b, f: f[0] > b[1],
        "after": lambda b, f: f[1] < b[0],
    }
    test = tests[rel[4:] if rel.startswith("not_") else rel]
    hit = [any(test(b, f) for f in filt) for b in base]
    if rel.startswith("not_"):
        hit = [not h for h in hit]
    return sum(hit)


def sloppy_freq(pos: dict, terms: List[str], slop: int) -> float:
    """Lucene sloppy phrase frequency — a faithful simulation of the
    published SloppyPhraseMatcher algorithm (Lucene ``phraseFreq()``;
    reached from the reference via MatchQuery.java:332): every phrase
    position ``pp`` carries an OFFSET-ADJUSTED position ``pos - offset``;
    a priority queue ordered by ``(position, offset, ord)`` repeatedly
    pops the minimum pp and advances it, minimizing
    ``matchLength = end - min(position)`` (``end`` = the max adjusted
    position seen, monotone) until the advanced pp passes the
    second-smallest; each local minimum with ``matchLength <= slop``
    contributes ``1 / (1 + matchLength)`` to the frequency.  Because
    positions are offset-adjusted, OUT-OF-ORDER matches are counted
    exactly as Lucene counts them (a transposition costs 2 moves:
    "b a" matches "a b"~2 with weight 1/3, does NOT match slop 1) —
    the r3 ordered-interval deviation is closed.  Phrases with
    REPEATED terms resolve same-term collisions by advancing the
    lesser pp of any pair sharing an actual token position (Lucene's
    ``advanceRpts``/``collide``/``lesser`` rule); exhaustion during
    collision-resolution ends matching like any other exhaustion.
    Pinned against hand-traced Lucene outputs by
    tests/test_sloppy_fixture.py."""
    n = len(terms)
    arrs: List[np.ndarray] = []
    for t in terms:
        a = pos.get(t)
        if a is None or len(a) == 0:
            return 0.0
        arrs.append(np.asarray(a, dtype=np.int64))
    # pp state: [adjusted_position, offset, ord, idx_into_arr]
    pps = [[int(arrs[i][0]) - i, i, i, 0] for i in range(n)]
    end = max(pp[0] for pp in pps)

    def advance(pp) -> bool:
        i = pp[3] + 1
        arr = arrs[pp[2]]
        if i >= len(arr):
            return False
        pp[3] = i
        pp[0] = int(arr[i]) - pp[1]
        nonlocal end
        if pp[0] > end:
            end = pp[0]
        return True

    # repeat groups: ords of terms occurring more than once in the phrase
    by_term: dict = {}
    for i, t in enumerate(terms):
        by_term.setdefault(t, []).append(i)
    rpt_groups = [v for v in by_term.values() if len(v) > 1]

    def resolve_repeats() -> bool:
        """Advance the lesser of any same-term pp pair colliding on an
        actual token position until collision-free; False = exhausted."""
        for grp in rpt_groups:
            while True:
                coll = None
                for x in range(len(grp)):
                    for y in range(x + 1, len(grp)):
                        p1, p2 = pps[grp[x]], pps[grp[y]]
                        if p1[0] + p1[1] == p2[0] + p2[1]:
                            coll = (p1, p2)
                            break
                    if coll:
                        break
                if coll is None:
                    break
                p1, p2 = coll
                lesser = p1 if (p1[0], p1[1], p1[2]) <= (p2[0], p2[1], p2[2]) else p2
                if not advance(lesser):
                    return False
        return True

    if rpt_groups and not resolve_repeats():
        return 0.0

    key = lambda pp: (pp[0], pp[1], pp[2])  # PhraseQueue order
    live = sorted(pps, key=key)
    pp = live.pop(0)
    freq = 0.0
    match_length = end - pp[0]
    next_ = live[0][0]
    while True:
        if not advance(pp):
            break
        if rpt_groups:
            if not resolve_repeats():
                break
            live.sort(key=key)  # collision advances may reorder the queue
            next_ = live[0][0]
        if pp[0] > next_:  # done minimizing the current match length
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            live.append(pp)
            live.sort(key=key)
            pp = live.pop(0)
            next_ = live[0][0]
            match_length = end - pp[0]
        else:
            ml2 = end - pp[0]
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq += 1.0 / (1.0 + match_length)
    return float(freq)
