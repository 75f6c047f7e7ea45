"""Request literals in the SQL-text scoring plans.

The dense BM25, phrase and WAND plans render query terms into SQL text.
Terms holding quotes, backslashes, percent signs, non-ASCII letters or
SQL-looking text must score exactly like the pure-Python oracle, and the
answer must not depend on ``spark.sql.parser.escapedStringLiterals``
(the session setting that changes how backslashes in SQL string
literals parse).  The index splits on ``|`` so such tokens survive
analysis intact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from opensearch_spark.analysis import chain
from opensearch_spark.index.builder import IndexConfig, build_index
from opensearch_spark.index.reader import InvertedIndex
from opensearch_spark.oracle import OracleIndex
from opensearch_spark.query.executor import SearchEngine
from tests.conftest import assert_rank_identical

SPECIAL = [
    "x' OR '1'='1", "o'neil", "it''s", "back\\slash", "\\'", "100%", "café",
    "東京",
]
FILLER = ["alpha", "beta", "gamma"]
ANALYZER = {"tokenizer": {"type": "pattern", "pattern": r"\|"}, "filter": []}


@pytest.fixture(scope="module")
def literal_index(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    vocab = np.array(SPECIAL + FILLER, dtype=object)
    rows = [
        {
            "conv_id": f"c{i:03d}",
            "turn_idx": i % 3,
            "text": "|".join(rng.choice(vocab, size=int(rng.integers(1, 7)))),
        }
        for i in range(48)
    ]
    d = str(tmp_path_factory.mktemp("literals") / "idx")
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(rows)), d,
        IndexConfig(n_segments=2, analyzer=ANALYZER),
    )
    eng = SearchEngine(InvertedIndex(spark, d))
    return eng, OracleIndex(rows, analyzer=chain.Analyzer.from_spec(ANALYZER))


@pytest.fixture(params=["true", "false"])
def escaped_literals(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, old)


@pytest.mark.parametrize("tok", SPECIAL)
def test_term_and_match_on_special_token(literal_index, escaped_literals, tok):
    eng, orc = literal_index
    for body, gold in (
        ({"term": {"text": tok}}, orc.term(tok)),
        ({"match": {"text": tok}}, orc.match(tok)),
    ):
        assert gold, tok
        rows = eng.search(body, size=50).collect()
        assert_rank_identical(rows, orc.topk(gold, 50))


def test_multi_term_match_phrase_and_wand(literal_index, escaped_literals):
    eng, orc = literal_index
    query = "|".join(SPECIAL[:5])
    cases = [
        ({"match": {"text": query}}, None, orc.match(query)),
        ({"match": {"text": query}}, True, orc.match(query)),
        (
            {"match": {"text": {"query": query, "minimum_should_match": 2}}},
            None, orc.match(query, minimum_should_match=2),
        ),
    ]
    for a, b in zip(SPECIAL, SPECIAL[1:]):
        pair = f"{a}|{b}"
        cases.append(({"match_phrase": {"text": pair}}, None, orc.phrase(pair)))
    for body, prune, gold in cases:
        rows = eng.search(body, size=50, prune=prune).collect()
        assert_rank_identical(rows, orc.topk(gold, 50))
    assert any(gold for body, _, gold in cases if "match_phrase" in body)


def test_sql_literals_round_trip(spark, escaped_literals):
    """Every rendered constant parses back to exactly the Python value:
    doubles bit for bit (an unsuffixed literal would be a DECIMAL) and
    strings character for character."""
    import math
    import struct

    from opensearch_spark import sqltext

    doubles = [
        1.2, 0.1, 1.0 / 3.0, -2.5, -0.0, 5e-324, 1e-300, 1.7976931348623157e308,
        float("inf"), float("-inf"), float("nan"),
    ]
    strings = SPECIAL + ["", "plain_ascii", "tab\there", "new\nline", "%_", "`"]
    exprs = [f"{sqltext.double(x)} AS d{i}" for i, x in enumerate(doubles)] + [
        f"{sqltext.string(s)} AS s{i}" for i, s in enumerate(strings)
    ]
    row = spark.range(1).selectExpr(*exprs).collect()[0]
    for i, x in enumerate(doubles):
        got = row[f"d{i}"]
        assert isinstance(got, float), (x, got)
        if math.isnan(x):
            assert math.isnan(got)
        else:
            assert struct.pack("<d", got) == struct.pack("<d", x), (x, got)
    assert [row[f"s{i}"] for i in range(len(strings))] == strings
