"""Seeded request streams for the benchmark workloads.

Pure functions of (workload, seed, corpus size): no Spark, no clock, no
global RNG, so the same seed always yields the same requests and the
engine only ever sees generated requests.  The *shape* sequence of every
stream is a fixed cycle; the seed draws the term constants (and the
bool-range cut-off and phrase bigrams).  A fixed cycle keeps the share
of each request class identical across seeds, so a run's median moves
with the engine, not with which shapes the seed happened to draw.

Each request is a dict::

    {"id": int, "cls": str, "kind": "search" | "rest",
     "body": <query DSL for SearchEngine.search | _search body>,
     "prune": None | True}
"""

from __future__ import annotations

from typing import Dict, List

import numpy as np

from opensearch_spark import transcripts

VOCAB_SIZE = transcripts.VOCAB_SIZE
STOPWORDS = [str(s) for s in transcripts.STOPWORDS]
# hot terms planted by the ingest workload's burst conversations
BURST_TERMS = ["error", "timeout"]

# The head of the serve cycle: five search classes, including the
# slowest one (the absent term).  The cycle runs them twice around a REST
# aggregation body, then the other search shapes and a second aggregation.
SERVE_HEAD = ["match_single", "term_absent_case", "match_or", "match_and", "match_msm"]
SERVE_CYCLE = SERVE_HEAD + ["agg"] + SERVE_HEAD + [
    "term", "match_stopword", "bool_range", "phrase", "dis_max", "agg",
]
# A short run covers only the start of the cycle, so the gated median is
# taken over its first SERVE_GATED searches (the head twice): the same
# classes on every run, whatever the speed of the box.
SERVE_GATED = 2 * len(SERVE_HEAD)
# the stream the untimed warm-up requests come from
WARM_STREAM = 1
# high-df reads run against the growing (then compacted) ingest index
INGEST_CYCLE = ["hot_term_pruned", "stopword_or", "sloppy_phrase",
                "intervals_not_containing"]

# shapes the pure-Python oracle (opensearch_spark.oracle) can score
ORACLE_CLASSES = {
    "match_single", "match_or", "match_and", "match_msm", "term",
    "term_absent_case", "match_stopword", "bool_range", "phrase",
    "stopword_or", "hot_term_pruned",
}


def zipf_term(rng: np.random.Generator) -> str:
    """A vocabulary word drawn with P(rank r) ~ 1/r (log-uniform rank),
    the same law the transcript generator draws its own words from, so
    query terms are as skewed as the corpus: a few hot, most rare."""
    rank = int(np.exp(rng.random() * np.log(VOCAB_SIZE)))
    return f"w{min(max(rank, 1), VOCAB_SIZE):04d}"


def _phrase_bigram(rng: np.random.Generator, n_convs: int, seed: int) -> str:
    """Two adjacent words of a generated turn, so the phrase has hits."""
    conv = int(rng.integers(0, n_convs))
    pdf = transcripts.generate_pandas(np.array([conv]), seed=seed)
    words = pdf["text"].iloc[int(rng.integers(0, len(pdf)))].split()
    i = int(rng.integers(0, len(words) - 1))
    return f"{words[i]} {words[i + 1]}"


def _agg_body(query: Dict) -> Dict:
    return {
        "size": 0,
        "query": query,
        "aggs": {
            "by_role": {"terms": {"field": "role"}},
            "per_hour": {"date_histogram": {"field": "ts", "calendar_interval": "hour"}},
            "avg_turn": {"avg": {"field": "turn_idx"}},
        },
    }


def _serve_request(cls: str, rng: np.random.Generator, n_convs: int, seed: int) -> Dict:
    z = lambda: zipf_term(rng)  # noqa: E731
    if cls == "match_single":
        return {"match": {"text": z()}}
    if cls == "match_or":
        return {"match": {"text": f"{z()} {z()}"}}
    if cls == "match_and":
        return {"match": {"text": {"query": f"{z()} {z()}", "operator": "and"}}}
    if cls == "match_msm":
        return {"match": {"text": {"query": f"{z()} {z()} {z()}",
                                   "minimum_should_match": 2}}}
    if cls == "term":
        return {"term": {"text": z()}}
    if cls == "term_absent_case":
        # indexed terms are lower-cased; the capitalised form matches nothing
        return {"term": {"text": z().capitalize()}}
    if cls == "match_stopword":
        return {"match": {"text": f"{STOPWORDS[int(rng.integers(len(STOPWORDS)))]} {z()}"}}
    if cls == "bool_range":
        span_s = transcripts.n_turns(n_convs) * transcripts.TURN_STEP_S
        cut = transcripts.EPOCH + np.timedelta64(int(span_s * rng.uniform(0.2, 0.8)), "s")
        return {"bool": {
            "must": [{"match": {"text": f"{z()} {z()}"}}],
            "filter": [{"range": {"ts": {"gte": str(cut).replace("T", " ")}}}],
            "must_not": [{"term": {"role": "tool"}}],
        }}
    if cls == "phrase":
        return {"match_phrase": {"text": _phrase_bigram(rng, n_convs, seed)}}
    if cls == "dis_max":
        return {"dis_max": {"queries": [{"match": {"text": z()}},
                                        {"match": {"text": z()}}],
                            "tie_breaker": 0.3}}
    if cls == "agg":
        return _agg_body({"match": {"text": f"{z()} {z()}"}})
    raise ValueError(cls)


def _ingest_request(cls: str, rng: np.random.Generator) -> Dict:
    stops = [STOPWORDS[i] for i in rng.permutation(len(STOPWORDS))]
    if cls == "stopword_or":
        return {"match": {"text": " ".join(stops)}}
    if cls == "sloppy_phrase":
        return {"match_phrase": {"text": {"query": " ".join(stops[:3]), "slop": 4}}}
    if cls == "intervals_not_containing":
        return {"intervals": {"text": {"match": {
            "query": " ".join(stops[:2]), "max_gaps": 4,
            "filter": {"not_containing": {"match": {"query": stops[2]}}},
        }}}}
    if cls == "hot_term_pruned":
        # a single hot term: at this index size a stopword alongside it
        # overlaps every block, so WAND would keep them all and fall back
        # to dense scoring (see NOTES.md)
        burst = BURST_TERMS[int(rng.integers(len(BURST_TERMS)))]
        return {"match": {"text": burst}}
    raise ValueError(cls)


def request_stream(workload: str, seed: int, n_convs: int, count: int,
                   stream: int = 0) -> List[Dict]:
    """The first ``count`` requests of ``workload``'s stream for ``seed``
    over a corpus of ``n_convs`` generated conversations.  ``stream``
    selects an independent stream of the same shapes (``WARM_STREAM``
    for the untimed warm-up)."""
    rng = np.random.default_rng([seed, stream, len(workload), sum(map(ord, workload))])
    cycle = {"serve": SERVE_CYCLE, "ingest": INGEST_CYCLE}[workload]
    out = []
    for i in range(count):
        cls = cycle[i % len(cycle)]
        if workload == "ingest":
            body = _ingest_request(cls, rng)
        else:
            body = _serve_request(cls, rng, n_convs, seed)
        out.append({
            "id": i,
            "cls": cls,
            "kind": "rest" if cls == "agg" else "search",
            "body": body,
            "prune": True if cls == "hot_term_pruned" else None,
        })
    return out


# at least this many burst conversations: their ~20 turns fill the top 10
# of a hot-term read, so the WAND threshold sits above every block that
# holds no burst, as it does with 0.1% bursts in a large corpus
MIN_BURST_CONVS = 3


def burst_conv_ids(seed: int, n_convs: int) -> List[int]:
    """Conversations of the ingest base corpus that carry hot-term
    bursts: 0.1% of them (at least ``MIN_BURST_CONVS``), the block-max
    WAND recipe."""
    rng = np.random.default_rng([seed, 1000])
    k = min(n_convs, max(MIN_BURST_CONVS, n_convs // 1000))
    return sorted(int(c) for c in rng.choice(n_convs, size=k, replace=False))


BURST_TEXT = " error timeout" * 24
