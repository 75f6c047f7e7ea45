"""SmallFloat byte4 quantization (norm encoding) — Lucene-compatible."""

import numpy as np

from opensearch_spark.analysis import smallfloat as sf


def test_free_values_exact():
    v = np.arange(sf.NUM_FREE_VALUES)
    assert (sf.quantize_len(v) == v).all()


def test_fixture_41_quantizes_to_40():
    # FIXTURES.md §4: a doc length that changes under byte4 quantization
    assert sf.quantize_len(np.array([41]))[0] == 40


def test_roundtrip_idempotent():
    v = np.arange(100_000)
    q = sf.quantize_len(v)
    assert (sf.quantize_len(q) == q).all()  # fixpoint
    assert (q <= v).all()  # quantization truncates (drops low bits)
    assert (np.diff(q) >= 0).all()  # monotone


def test_encode_is_monotone_byte():
    v = np.arange(1_000_000)
    b = sf.int_to_byte4(v).astype(np.int64)
    assert (np.diff(b) >= 0).all()
    assert b.max() <= 255


def test_decode_table_matches_decode():
    b = np.arange(256)
    assert (sf.DECODE_TABLE == sf.byte4_to_int(b)).all()


def test_relative_error_bounded():
    """4-bit mantissa: relative quantization error < 1/8 for large values."""
    v = np.arange(24, 5_000_000)
    q = sf.quantize_len(v)
    rel = (v - q) / v
    assert rel.max() < 0.125


def test_norm_decode_sql_matches_table(spark):
    """The SQL norm decode the scorers use equals the byte4 decode on
    every byte, as an INT."""
    from opensearch_spark.query.bm25 import norm_decode_sql

    df = spark.range(256).selectExpr("CAST(id AS INT) AS n").selectExpr(
        f"{norm_decode_sql('n')} AS dl"
    )
    assert df.schema["dl"].dataType.simpleString() == "int"
    assert [r["dl"] for r in df.collect()] == sf.DECODE_TABLE.tolist()
