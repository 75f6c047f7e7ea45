"""Pin the slop>0 phrase semantics (FULL Lucene sloppy-freq parity).

The reference scores sloppy phrases with Lucene's sloppy frequency
(``SloppyPhraseMatcher`` reached via ``MatchQuery.java:332``): phrase
positions are offset-adjusted (``pos - offset``), a priority queue
repeatedly advances the minimum position minimizing
``matchLength = end - min``, and every local-minimum configuration
with ``matchLength <= slop`` contributes ``1 / (1 + matchLength)``.
Because positions are offset-adjusted this counts OUT-OF-ORDER
matches too: a transposition costs 2 moves ("b a" matches "a b"~2
with weight 1/3 and does NOT match slop 1).

Late r3 the engine implements the full algorithm
(oracle.sloppy_freq — a faithful simulation of the published
matcher, including the collide/lesser advance rule for repeated
terms).  This fixture pins it two ways:

1. ``sloppy_freq`` is asserted EXACTLY against a table of
   hand-traced Lucene outputs (in-order, out-of-order, repeats,
   multi-term reversals), and
2. the engine's end-to-end slop-2 scores over a built index are
   asserted against BM25 applied to those frequencies.
"""

from __future__ import annotations

import numpy as np
import pytest

from opensearch_spark.analysis import smallfloat as sfl
from opensearch_spark.query import bm25
from opensearch_spark.oracle import find_intervals, sloppy_freq

DOCS = [
    # (conv_id, turn_idx, text)
    ("c0", 0, "alpha beta gamma delta"),          # adjacent "alpha beta"
    ("c1", 0, "alpha x beta gamma"),              # gap 1
    ("c2", 0, "alpha x y beta"),                  # gap 2
    ("c3", 0, "alpha x y z beta"),                # gap 3 (outside slop 2)
    ("c4", 0, "beta alpha"),                      # transposed: 2 moves
    ("c5", 0, "alpha beta alpha beta"),           # two adjacent matches
    ("c6", 0, "gamma delta epsilon"),             # no match
]


def _positions(text, term):
    return np.array(
        [i for i, t in enumerate(text.split()) if t == term], dtype=np.int64
    )


def freq_of(text: str, terms, slop: int) -> float:
    pos = {t: _positions(text, t) for t in set(terms)}
    if any(p.size == 0 for p in pos.values()):
        return 0.0
    return sloppy_freq(pos, list(terms), slop)


# hand-traced Lucene SloppyPhraseMatcher outputs (text, phrase, slop, freq)
LUCENE_TRACES = [
    ("alpha beta gamma delta", ["alpha", "beta"], 2, 1.0),
    ("alpha x beta gamma", ["alpha", "beta"], 2, 0.5),
    ("alpha x y beta", ["alpha", "beta"], 2, 1 / 3),
    ("alpha x y z beta", ["alpha", "beta"], 2, 0.0),
    ("beta alpha", ["alpha", "beta"], 2, 1 / 3),   # transposition = 2 moves
    ("beta alpha", ["alpha", "beta"], 1, 0.0),     # slop 1 cannot transpose
    ("alpha beta alpha beta", ["alpha", "beta"], 2, 2.0),
    ("gamma delta epsilon", ["alpha", "beta"], 2, 0.0),
    ("a b c", ["a", "b", "c"], 0, 1.0),
    ("a c b", ["a", "b", "c"], 2, 1 / 3),          # adjacent swap = 2 moves
    ("c b a", ["a", "b", "c"], 4, 0.2),            # full reversal = 4 moves
    ("c b a", ["a", "b", "c"], 3, 0.0),
    ("a x b", ["a", "b"], 0, 0.0),
    ("a a", ["a", "a"], 0, 1.0),                   # repeat: distinct positions
    ("a x a", ["a", "a"], 1, 0.5),
    ("a", ["a", "a"], 2, 0.0),                     # one position, two pps
]


@pytest.mark.parametrize("text,terms,slop,want", LUCENE_TRACES)
def test_lucene_trace_parity(text, terms, slop, want):
    assert freq_of(text, terms, slop) == pytest.approx(want, abs=1e-12)


@pytest.fixture(scope="module")
def sloppy_engine(spark, tmp_path_factory):
    from opensearch_spark.index.builder import IndexConfig, build_index
    from opensearch_spark.index.reader import InvertedIndex
    from opensearch_spark.query.executor import SearchEngine

    d = str(tmp_path_factory.mktemp("sloppyidx"))
    df = spark.createDataFrame(DOCS, "conv_id string, turn_idx int, text string")
    build_index(spark, df, d, IndexConfig(n_segments=2))
    return SearchEngine(InvertedIndex(spark, d))


def test_engine_matches_lucene_semantics_exactly(sloppy_engine):
    """Engine slop-2 scores == BM25(Lucene sloppy freq) end-to-end —
    including the out-of-order doc c4, which the pre-r3 ordered
    enumeration missed entirely."""
    eng = sloppy_engine
    out = {
        (r["conv_id"], r["turn_idx"]): r["score"]
        for r in eng.search(
            {"match_phrase": {"text": {"query": "alpha beta", "slop": 2}}}, size=10
        ).collect()
    }
    N = eng.index.stats["doc_count"]
    avgdl = eng.index.stats["avgdl"]
    stats = eng.index.term_stats(["alpha", "beta"])
    idf_sum = float(sum(bm25.idf(int(d_), N) for d_ in stats["df"]))
    expected = {}
    for cid, tix, text in DOCS:
        tf = freq_of(text, ["alpha", "beta"], 2)
        if tf == 0:
            continue
        dl = len(text.split())
        dl_q = int(sfl.byte4_to_int(sfl.int_to_byte4(np.array([dl])))[0])
        s = float(
            bm25.term_score_np(
                np.array([tf]), idf_sum, np.array([dl_q]), avgdl, eng.k1, eng.b
            )[0]
        )
        expected[(cid, tix)] = s
    # the transposed doc MUST be a hit now
    assert ("c4", 0) in expected
    assert set(out) == set(expected)
    for k in expected:
        assert out[k] == pytest.approx(expected[k], rel=1e-6), k


# ---------------------------------------------------------------- batched walk

from hypothesis import given, settings
from hypothesis import strategies as st

from opensearch_spark.query.executor import (
    _filter_relation_keep,
    _intervals_count,
    _intervals_emit,
    _ordered_intervals_emit_flat,
    _sloppy_freq_krow_flat,
    _sloppy_freq_rpt_flat,
)


def _sloppy_freq_krow_batch(cols, slop):
    """``_sloppy_freq_krow_flat`` over per-doc lists: ``cols[i]`` holds
    phrase term i's sorted int64 positions per doc, ALREADY
    offset-adjusted (raw positions minus i), every array non-empty."""
    k, nd = len(cols), len(cols[0])
    lens = np.array([[a.size for a in c] for c in cols], np.int64).T
    offs = np.concatenate([np.zeros((1, k), np.int64), np.cumsum(lens, 0)[:-1]])
    return _sloppy_freq_krow_flat([np.concatenate(c) for c in cols], offs, lens, slop)

_poslist = st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                    max_size=8, unique=True).map(sorted)


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=12),
    slop=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=400, deadline=None)
def test_2term_batch_equals_scalar(docs, slop):
    """The vectorized walk at k=2 is value-identical to the scalar
    SloppyPhraseMatcher simulation on arbitrary position sets —
    including shared positions (same token can't be two terms in a
    real index, but the algebra must still agree)."""
    pa = [np.asarray(a, dtype=np.int64) for a, _ in docs]
    pb_raw = [np.asarray(b, dtype=np.int64) for _, b in docs]
    got = _sloppy_freq_krow_batch([pa, [b - 1 for b in pb_raw]], slop)
    for k, (a, b) in enumerate(zip(pa, pb_raw)):
        want = sloppy_freq({"t0": a, "t1": b}, ["t0", "t1"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12), (
            f"doc {k}: batch {got[k]} != scalar {want} "
            f"(A={a.tolist()}, B={b.tolist()}, slop={slop})"
        )


def test_2term_batch_trace_parity():
    """The k=2 batch path reproduces every two-term hand-traced Lucene row."""
    two = [(t, terms, slop, want) for t, terms, slop, want in LUCENE_TRACES
           if len(terms) == 2 and terms[0] != terms[1]]
    assert two
    for text, terms, slop, want in two:
        a = _positions(text, terms[0])
        b = _positions(text, terms[1])
        if a.size == 0 or b.size == 0:
            continue
        got = _sloppy_freq_krow_batch([[a], [b - 1]], slop)[0]
        assert got == pytest.approx(want, abs=1e-12)




@given(
    docs=st.lists(
        st.tuples(_poslist, _poslist, _poslist), min_size=1, max_size=10
    ),
    slop=st.integers(min_value=0, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_3term_batch_equals_scalar(docs, slop):
    """The argmin-queue k-row walk is value-identical to the scalar
    matcher for three distinct terms on arbitrary position sets."""
    cols = [
        [np.asarray(d[i], dtype=np.int64) - i for d in docs] for i in range(3)
    ]
    got = _sloppy_freq_krow_batch(cols, slop)
    for k, d in enumerate(docs):
        pos = {f"t{i}": np.asarray(d[i], dtype=np.int64) for i in range(3)}
        want = sloppy_freq(pos, ["t0", "t1", "t2"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12), (
            f"doc {k}: batch {got[k]} != scalar {want} "
            f"(docs={[list(x) for x in d]}, slop={slop})"
        )


@given(
    docs=st.lists(
        st.tuples(_poslist, _poslist, _poslist, _poslist),
        min_size=1, max_size=8,
    ),
    slop=st.integers(min_value=0, max_value=10),
)
@settings(max_examples=200, deadline=None)
def test_4term_batch_equals_scalar(docs, slop):
    """Same identity at k=4 (exercises deeper queue re-pops)."""
    cols = [
        [np.asarray(d[i], dtype=np.int64) - i for d in docs] for i in range(4)
    ]
    got = _sloppy_freq_krow_batch(cols, slop)
    for k, d in enumerate(docs):
        pos = {f"t{i}": np.asarray(d[i], dtype=np.int64) for i in range(4)}
        want = sloppy_freq(pos, ["t0", "t1", "t2", "t3"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12)


def test_krow_batch_trace_parity():
    """The k-row path reproduces every no-repeat hand-traced Lucene row
    (including the two-term ones — k=2 through the general kernel)."""
    cases = [
        (t, terms, slop, want)
        for t, terms, slop, want in LUCENE_TRACES
        if len(set(terms)) == len(terms) and len(terms) >= 2
    ]
    assert cases
    ran = 0
    for text, terms, slop, want in cases:
        arrs = [_positions(text, t) for t in terms]
        if any(a.size == 0 for a in arrs):
            continue
        cols = [[a - i] for i, a in enumerate(arrs)]
        got = _sloppy_freq_krow_batch(cols, slop)[0]
        assert got == pytest.approx(want, abs=1e-12), (terms, slop)
        ran += 1
    assert ran




def _rpt_flat(docs_per_unique):
    """Flat (flats, offs, lens) layout from per-unique-term per-doc
    position lists (the mapInArrow _list_col_runs contract)."""
    u = len(docs_per_unique)
    nd = len(docs_per_unique[0])
    lens = np.empty((nd, u), np.int64)
    offs = np.empty((nd, u), np.int64)
    flats = []
    for c in range(u):
        lc = np.fromiter(
            (len(a) for a in docs_per_unique[c]), dtype=np.int64, count=nd
        )
        lens[:, c] = lc
        offs[:, c] = np.concatenate(([0], np.cumsum(lc)[:-1]))
        flats.append(
            np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in docs_per_unique[c]]
            )
            if lc.sum()
            else np.zeros(0, np.int64)
        )
    return flats, offs, lens


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=10),
    slop=st.integers(min_value=0, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_rpt_flat_aba_equals_scalar(docs, slop):
    """The collision-aware lockstep kernel is value-identical to the
    scalar matcher for the phrase ["a", "b", "a"] (one repeat group)
    on arbitrary position sets."""
    flats, offs, lens = _rpt_flat(
        [[d[0] for d in docs], [d[1] for d in docs]]
    )
    got = _sloppy_freq_rpt_flat(flats, offs, lens, slop, [0, 1, 0])
    for k, (a, b) in enumerate(docs):
        pos = {
            "a": np.asarray(a, dtype=np.int64),
            "b": np.asarray(b, dtype=np.int64),
        }
        want = sloppy_freq(pos, ["a", "b", "a"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12), (
            f"doc {k}: rpt kernel {got[k]} != scalar {want} "
            f"(a={list(a)}, b={list(b)}, slop={slop})"
        )


@given(
    docs=st.lists(_poslist, min_size=1, max_size=12),
    slop=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_rpt_flat_aa_equals_scalar(docs, slop):
    """Identity for the pure-repeat phrase ["a", "a"] — the
    stopword-heavy '"the the"~N' shape the kernel exists for."""
    flats, offs, lens = _rpt_flat([docs])
    got = _sloppy_freq_rpt_flat(flats, offs, lens, slop, [0, 0])
    for k, a in enumerate(docs):
        want = sloppy_freq(
            {"a": np.asarray(a, dtype=np.int64)}, ["a", "a"], slop
        )
        assert got[k] == pytest.approx(want, abs=1e-12), (
            f"doc {k}: {got[k]} != {want} (a={list(a)}, slop={slop})"
        )


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=8),
    slop=st.integers(min_value=0, max_value=10),
)
@settings(max_examples=200, deadline=None)
def test_rpt_flat_abab_equals_scalar(docs, slop):
    """Identity for ["a", "b", "a", "b"] — two interacting repeat
    groups (deeper collision chains + queue re-pops)."""
    flats, offs, lens = _rpt_flat(
        [[d[0] for d in docs], [d[1] for d in docs]]
    )
    got = _sloppy_freq_rpt_flat(flats, offs, lens, slop, [0, 1, 0, 1])
    for k, (a, b) in enumerate(docs):
        pos = {
            "a": np.asarray(a, dtype=np.int64),
            "b": np.asarray(b, dtype=np.int64),
        }
        want = sloppy_freq(pos, ["a", "b", "a", "b"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12)


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=8),
    slop=st.integers(min_value=0, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_rpt_flat_aab_equals_scalar(docs, slop):
    """Identity for ["a", "a", "b"] — repeat group first, distinct
    term after (collision resolution at setup time)."""
    flats, offs, lens = _rpt_flat(
        [[d[0] for d in docs], [d[1] for d in docs]]
    )
    got = _sloppy_freq_rpt_flat(flats, offs, lens, slop, [0, 0, 1])
    for k, (a, b) in enumerate(docs):
        pos = {
            "a": np.asarray(a, dtype=np.int64),
            "b": np.asarray(b, dtype=np.int64),
        }
        want = sloppy_freq(pos, ["a", "a", "b"], slop)
        assert got[k] == pytest.approx(want, abs=1e-12)


def test_rpt_flat_trace_parity():
    """The repeat kernel reproduces every repeated-term hand-traced
    Lucene row."""
    cases = [
        (t, terms, slop, want)
        for t, terms, slop, want in LUCENE_TRACES
        if len(set(terms)) < len(terms)
    ]
    assert cases
    ran = 0
    for text, terms, slop, want in cases:
        uterms = sorted(set(terms))
        slot_term = [uterms.index(t) for t in terms]
        arrs = [_positions(text, t) for t in uterms]
        if any(a.size == 0 for a in arrs):
            continue
        flats, offs, lens = _rpt_flat([[a] for a in arrs])
        got = _sloppy_freq_rpt_flat(flats, offs, lens, slop, slot_term)[0]
        assert got == pytest.approx(want, abs=1e-12), (terms, slop)
        ran += 1
    assert ran


# ------------------------------------------------------- ordered intervals


def _ordered_scalar_count(docs, terms, max_gaps, gaps=None):
    out = []
    for d in docs:
        pos = {t: np.asarray(p, dtype=np.int64) for t, p in zip(terms, d)}
        out.append(len(find_intervals(pos, list(terms), max_gaps, True, gaps)))
    return np.asarray(out, dtype=np.int64)


def _flatten(docs, slot):
    vals = np.concatenate(
        [np.asarray(d[slot], dtype=np.int64) for d in docs] + [np.zeros(0, np.int64)]
    )
    lens = np.asarray([len(d[slot]) for d in docs], dtype=np.int64)
    return vals, lens


def _runs(docs, slots):
    return [_flatten(docs, s) for s in slots]


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=12),
    max_gaps=st.integers(min_value=-1, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_ordered_intervals_batch_k2(docs, max_gaps):
    """Lockstep ordered-interval counts == the scalar enumerator (k=2)."""
    got = _intervals_count(_runs(docs, [0, 1]), len(docs), True, max_gaps)
    want = _ordered_scalar_count(docs, ["t0", "t1"], max_gaps)
    assert (got == want).all(), (docs, max_gaps, got.tolist(), want.tolist())


@given(
    docs=st.lists(
        st.tuples(_poslist, _poslist, _poslist), min_size=1, max_size=10
    ),
    max_gaps=st.integers(min_value=-1, max_value=10),
    gap=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=300, deadline=None)
def test_ordered_intervals_batch_k3_gaps(docs, max_gaps, gap):
    """k=3 with a span_gap run reserved between slots 0 and 1."""
    gaps = [gap, 0]
    got = _intervals_count(_runs(docs, [0, 1, 2]), len(docs), True, max_gaps, gaps)
    want = _ordered_scalar_count(docs, ["t0", "t1", "t2"], max_gaps, gaps)
    assert (got == want).all(), (docs, max_gaps, gap)


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=10),
    max_gaps=st.integers(min_value=-1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_ordered_intervals_batch_repeated_term(docs, max_gaps):
    """Sequence [a, b, a]: slots 0 and 2 share one positions array,
    matching the scalar's per-term dict lookup."""
    got = _intervals_count(_runs(docs, [0, 1, 0]), len(docs), True, max_gaps)
    want = []
    for d in docs:
        pos = {
            "a": np.asarray(d[0], dtype=np.int64),
            "b": np.asarray(d[1], dtype=np.int64),
        }
        want.append(len(find_intervals(pos, ["a", "b", "a"], max_gaps, True)))
    assert (got == np.asarray(want)).all(), (docs, max_gaps)


# Positions far past any real doc length, mixed with small ones in one
# batch: the doc stride is derived from the batch's largest position,
# so long docs need no separate route.  2**31 - 2 is the int32 edge.
HUGE = int(1) << 23
EDGE = (int(1) << 31) - 2


def test_ordered_intervals_huge_position_fallback():
    """Docs with positions >= 2**23 (and one near 2**31) count like the
    scalar enumerator in the same batch as short docs."""
    docs = [
        ([HUGE + 1, HUGE + 7], [HUGE + 2, HUGE + 9]),
        ([0, 5], [1, 6]),
        ([2], [30]),
        ([0, HUGE + 7], [HUGE + 9, HUGE + 20]),
        ([3, EDGE - 1], [4, EDGE]),
    ]
    got = _intervals_count(_runs(docs, [0, 1]), len(docs), True, 1)
    want = _ordered_scalar_count(docs, ["t0", "t1"], 1)
    assert (got == want).all(), (got.tolist(), want.tolist())
    assert got.tolist() == [2, 2, 0, 1, 2]


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=10),
    max_gaps=st.integers(min_value=-1, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_ordered_intervals_emit_k2(docs, max_gaps):
    """The emit kernel returns exactly the scalar enumerator's
    (start, end) interval sets per doc (k=2)."""
    v0, l0 = _flatten(docs, 0)
    v1, l1 = _flatten(docs, 1)
    d, s, e = _ordered_intervals_emit_flat([v0, v1], [l0, l1], [1], 2, max_gaps)
    got = {}
    for dd, ss, ee in zip(d.tolist(), s.tolist(), e.tolist()):
        got.setdefault(dd, []).append((ss, ee))
    for kk, (a, b) in enumerate(docs):
        pos = {
            "t0": np.asarray(a, dtype=np.int64),
            "t1": np.asarray(b, dtype=np.int64),
        }
        want = find_intervals(pos, ["t0", "t1"], max_gaps, True)
        assert sorted(got.get(kk, [])) == sorted(want), (kk, docs, max_gaps)


def _emitted(out):
    return sorted(zip(*(a.tolist() for a in out)))


def _scalar_emitted(docs, k, max_gaps, ordered):
    names = [f"t{t}" for t in range(k)]
    want = []
    for kk, d in enumerate(docs):
        pos = {names[t]: np.asarray(d[t], dtype=np.int64) for t in range(k)}
        if all(p.size for p in pos.values()):
            want += [(kk, s, e) for s, e in find_intervals(pos, names, max_gaps, ordered)]
    return sorted(want)


def test_ordered_intervals_emit_huge_fallback():
    """Long and short docs in one batch through the emit kernel."""
    docs = [
        ([HUGE + 1, HUGE + 5], [HUGE + 2, HUGE + 8]),
        ([0, 4], [1, 5]),
        ([EDGE - 3], [EDGE]),
    ]
    d, s, e = _ordered_intervals_emit_flat(*zip(*_runs(docs, [0, 1])), [1], 2, 2)
    assert _emitted((d, s, e)) == _scalar_emitted(docs, 2, 2, True)
    assert d.size == 5


def _unordered_scalar_count(docs, k, max_gaps):
    out = []
    names = [f"t{t}" for t in range(k)]
    for d in docs:
        pos = {names[t]: np.asarray(d[t], dtype=np.int64) for t in range(k)}
        out.append(len(find_intervals(pos, names, max_gaps, False)))
    return np.asarray(out, dtype=np.int64)


@given(
    docs=st.lists(st.tuples(_poslist, _poslist), min_size=1, max_size=12),
    max_gaps=st.integers(min_value=-1, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_unordered_intervals_batch_k2(docs, max_gaps):
    """Lockstep unordered window counts == the scalar sweep (k=2) —
    including tied positions across terms (term-ordinal tie-break)."""
    got = _intervals_count(_runs(docs, [0, 1]), len(docs), False, max_gaps)
    want = _unordered_scalar_count(docs, 2, max_gaps)
    assert (got == want).all(), (docs, max_gaps, got.tolist(), want.tolist())


@given(
    docs=st.lists(
        st.tuples(_poslist, _poslist, _poslist), min_size=1, max_size=10
    ),
    max_gaps=st.integers(min_value=-1, max_value=10),
)
@settings(max_examples=300, deadline=None)
def test_unordered_intervals_batch_k3(docs, max_gaps):
    got = _intervals_count(_runs(docs, [0, 1, 2]), len(docs), False, max_gaps)
    want = _unordered_scalar_count(docs, 3, max_gaps)
    assert (got == want).all(), (docs, max_gaps)


def test_unordered_intervals_huge_fallback():
    """Long and short docs in one batch through the unordered kernel."""
    docs = [
        ([HUGE + 3, HUGE + 9], [HUGE + 1, HUGE + 4]),
        ([2, 9], [0, 3]),
        ([EDGE], [EDGE - 2]),
    ]
    got = _intervals_count(_runs(docs, [0, 1]), len(docs), False, 2)
    want = _unordered_scalar_count(docs, 2, 2)
    assert (got == want).all(), (got.tolist(), want.tolist())
    assert got.tolist() == [2, 2, 1]


_maybe_empty = st.lists(
    st.integers(min_value=0, max_value=40), min_size=0, max_size=8, unique=True
).map(sorted)


@given(
    docs=st.lists(
        st.tuples(_maybe_empty, _maybe_empty, _maybe_empty), min_size=1, max_size=10
    ),
    max_gaps=st.integers(min_value=-1, max_value=8),
    k=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=300, deadline=None)
def test_unordered_intervals_emit_equals_scalar(docs, max_gaps, k):
    """The unordered emit kernel returns exactly the scalar sweep's
    (start, end) windows per doc, for 1 to 3 terms, tied positions
    across terms, and docs missing a term (no window)."""
    out = _intervals_emit(_runs(docs, range(k)), False, max_gaps)
    assert _emitted(out) == _scalar_emitted(docs, k, max_gaps, False)


@given(
    docs=st.lists(
        st.tuples(_maybe_empty, _maybe_empty, _maybe_empty, _maybe_empty),
        min_size=1, max_size=10,
    ),
    b_ord=st.booleans(),
    f_ord=st.booleans(),
    b_gaps=st.integers(min_value=-1, max_value=6),
    f_gaps=st.integers(min_value=-1, max_value=6),
    f_k=st.integers(min_value=1, max_value=2),
)
@settings(max_examples=300, deadline=None)
def test_filter_relation_keep_equals_scalar(docs, b_ord, f_ord, b_gaps, f_gaps, f_k):
    """The vectorized intervals-``filter`` relation test keeps exactly
    the base intervals the scalar relation loop keeps, for all 8
    relations: ordered and unordered sources, a 1- and a 2-term filter
    source, tied positions, and docs without the filter terms."""
    from opensearch_spark.oracle import FILTER_RELATIONS, filter_intervals

    nd = len(docs)
    base = _intervals_emit(_runs(docs, [0, 1]), b_ord, b_gaps)
    filt = _intervals_emit(_runs(docs, [2, 3][:f_k]), f_ord, f_gaps)
    fnames = ["t2", "t3"][:f_k]
    for rel in FILTER_RELATIONS:
        keep = _filter_relation_keep(rel, base, filt, nd)
        got = np.bincount(base[0][keep], minlength=nd)
        for kk, d in enumerate(docs):
            pos = {f"t{t}": np.asarray(d[t], dtype=np.int64) for t in range(4)}
            b_iv = (
                find_intervals(pos, ["t0", "t1"], b_gaps, b_ord)
                if pos["t0"].size and pos["t1"].size else []
            )
            f_iv = (
                find_intervals(pos, fnames, f_gaps, f_ord)
                if all(pos[t].size for t in fnames) else []
            )
            assert got[kk] == filter_intervals(b_iv, f_iv, rel), (rel, kk, d)
