"""Lucene-compatible SmallFloat byte4 norm quantization.

The reference engine stores the per-document field length ("norm") as one
byte using Lucene's ``SmallFloat.intToByte4`` / ``byte4ToInt`` pair — a
4-bit-mantissa floating-point encoding with 24 "free" exact values.  The
encode/decode pair is visible in the reference at
``server/src/main/java/org/opensearch/index/similarity/ScriptedSimilarity.java:80,258``
(norms written with ``SmallFloat.intToByte4(numTerms)`` and read back with
``SmallFloat.byte4ToInt``); BM25 scoring consumes the *decoded* quantized
length (SURVEY.md §4.6).

This is a clean-room numpy reimplementation of that public algorithm:

- values 0..23 are encoded exactly ("free" values),
- larger values v-24 are encoded with a 3-bit mantissa + implicit leading
  one + shift, i.e. decoded = v with all but the top 4 significant bits
  zeroed.

``DECODE_TABLE[b]`` gives byte4ToInt(b) for b in 0..255.
"""

from __future__ import annotations

import numpy as np

# longToInt4(Integer.MAX_VALUE): numBits=31, shift=27, mantissa=7 -> 7 | (28<<3)
_MAX_INT4 = 7 | ((27 + 1) << 3)  # 231
NUM_FREE_VALUES = 255 - _MAX_INT4  # 24


def _long_to_int4(v: np.ndarray) -> np.ndarray:
    """Vectorized longToInt4 over a non-negative int64 array."""
    v = np.asarray(v, dtype=np.int64)
    out = np.empty(v.shape, dtype=np.int64)
    small = v < 8  # numBits < 4 -> subnormal, stored as-is
    out[small] = v[small]
    big = ~small
    if big.any():
        vb = v[big]
        # numBits = position of highest set bit + 1
        num_bits = np.int64(np.floor(np.log2(vb.astype(np.float64)))) + 1
        # float log2 can be off by one at exact powers of two; fix up
        too_high = (np.int64(1) << (num_bits - 1)) > vb
        num_bits = num_bits - too_high
        too_low = (np.int64(1) << num_bits) <= vb
        num_bits = num_bits + too_low
        shift = num_bits - 4
        mantissa = (vb >> shift) & 0x07
        out[big] = mantissa | ((shift + 1) << 3)
    return out


def _int4_to_long(b: np.ndarray) -> np.ndarray:
    b = np.asarray(b, dtype=np.int64)
    bits = b & 0x07
    shift = (b >> 3) - 1
    sub = shift == -1
    out = np.where(sub, bits, (bits | 0x08) << np.maximum(shift, 0))
    return out


def int_to_byte4(v: np.ndarray) -> np.ndarray:
    """Vectorized SmallFloat.intToByte4: int64 array -> uint8 array."""
    v = np.asarray(v, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("negative field length")
    free = v < NUM_FREE_VALUES
    out = np.empty(v.shape, dtype=np.int64)
    out[free] = v[free]
    nf = ~free
    if nf.any():
        out[nf] = NUM_FREE_VALUES + _long_to_int4(v[nf] - NUM_FREE_VALUES)
    return out.astype(np.uint8)


def byte4_to_int(b: np.ndarray) -> np.ndarray:
    """Vectorized SmallFloat.byte4ToInt: uint8 array -> int64 array."""
    b = np.asarray(b).astype(np.int64) & 0xFF
    free = b < NUM_FREE_VALUES
    out = np.where(free, b, NUM_FREE_VALUES + _int4_to_long(b - NUM_FREE_VALUES))
    return out


# byte -> decoded length, for all 256 byte values (the reference the SQL
# decode, bm25.norm_decode_sql, is tested against)
DECODE_TABLE: np.ndarray = byte4_to_int(np.arange(256, dtype=np.int64))


def quantize_len(v: np.ndarray) -> np.ndarray:
    """Round-trip a length through the 1-byte norm: byte4ToInt(intToByte4(v))."""
    return byte4_to_int(int_to_byte4(v))
