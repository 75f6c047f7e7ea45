"""Answer checks against the pure-Python oracle (``opensearch_spark.oracle``).

The oracle scores match (OR / AND / minimum_should_match), term, phrase
and bool(filter, must_not) over the same generated turns the engine
indexed.  A checked request must return the oracle's ids in the same
order, with scores equal to 1e-6 relative.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from opensearch_spark import transcripts
from opensearch_spark.oracle import OracleIndex

import traffic

REL_TOL = 1e-6


def corpus_pandas(n_convs: int, seed: int, burst_ids: Sequence[int] = (),
                  first_conv: int = 0) -> pd.DataFrame:
    """The turns of conversations [first_conv, n_convs) as the engine
    indexed them, generated driver-side."""
    pdf = transcripts.generate_pandas(np.arange(first_conv, n_convs), seed=seed)
    if len(burst_ids):
        burst = pdf["conv_id"].isin([f"conv-{c:08d}" for c in burst_ids])
        pdf.loc[burst, "text"] = pdf.loc[burst, "text"] + traffic.BURST_TEXT
    return pdf


def build_oracle(pdf: pd.DataFrame) -> OracleIndex:
    return OracleIndex(pdf.to_dict("records"))


def _match_args(body) -> Tuple[str, str, Optional[int]]:
    spec = body["match"]["text"]
    if isinstance(spec, str):
        return spec, "or", None
    return spec["query"], spec.get("operator", "or"), spec.get("minimum_should_match")


def expected(orc: OracleIndex, req: Dict, k: int) -> Optional[List[Tuple[Tuple, float]]]:
    """Oracle top-k for ``req``, or None when the oracle lacks the shape."""
    if req["cls"] not in traffic.ORACLE_CLASSES:
        return None
    body = req["body"]
    if "match" in body:
        query, op, msm = _match_args(body)
        scores = orc.match(query, op, msm)
    elif "term" in body:
        scores = orc.term(body["term"]["text"])
    elif "match_phrase" in body:
        scores = orc.phrase(body["match_phrase"]["text"])
    elif "bool" in body:
        b = body["bool"]
        query, op, msm = _match_args(b["must"][0])
        cut = pd.Timestamp(b["filter"][0]["range"]["ts"]["gte"])
        role = b["must_not"][0]["term"]["role"]
        scores = orc.apply_bool(
            orc.match(query, op, msm),
            filter_ids=orc.filter_ids(lambda r: r["ts"] >= cut),
            must_not_ids=orc.filter_ids(lambda r: r["role"] == role),
        )
    else:
        raise ValueError(f"no oracle mapping for {req['cls']}")
    return orc.topk(scores, k)


def mismatch(got: List[Tuple[Tuple, float]], gold: List[Tuple[Tuple, float]]) -> Optional[str]:
    """None when ``got`` is rank-identical to ``gold`` with scores equal
    to ``REL_TOL`` relative, else a one-line description."""
    if [g[0] for g in got] != [g[0] for g in gold]:
        return f"rank mismatch: engine={[g[0] for g in got]} oracle={[g[0] for g in gold]}"
    for (gid, gs), (_, os_) in zip(got, gold):
        if not math.isclose(gs, os_, rel_tol=REL_TOL, abs_tol=0.0):
            return f"score mismatch at {gid}: engine={gs!r} oracle={os_!r}"
    return None


def agg_mismatch(orc: OracleIndex, req: Dict, resp: Dict) -> Optional[str]:
    """Check a ``traffic._agg_body`` response against the oracle's match
    set: hit total, role counts, non-empty hourly buckets, mean turn."""
    query, op, msm = _match_args(req["body"]["query"])
    rows = [orc.rows[d] for d in orc.match(query, op, msm)]
    aggs = resp["aggregations"]
    # the default track_total_hits counts exactly up to 10,000
    if resp["hits"]["total"]["value"] != min(len(rows), 10_000):
        return f"hits.total {resp['hits']['total']['value']} != {len(rows)}"
    roles = Counter(r["role"] for r in rows)
    got = {b["key"]: b["doc_count"] for b in aggs["by_role"]["buckets"]}
    if got != dict(roles):
        return f"by_role {got} != {dict(roles)}"
    hours = Counter(int(pd.Timestamp(r["ts"]).floor("h").value // 10**6) for r in rows)
    got = {b["key"]: b["doc_count"] for b in aggs["per_hour"]["buckets"] if b["doc_count"]}
    if got != dict(hours):
        return f"per_hour differs in {len(set(got.items()) ^ set(hours.items()))} buckets"
    want = statistics.fmean(r["turn_idx"] for r in rows) if rows else None
    have = aggs["avg_turn"]["value"]
    if (want is None) != (have is None) or (want is not None and not math.isclose(have, want, rel_tol=1e-9)):
        return f"avg_turn {have} != {want}"
    return None
