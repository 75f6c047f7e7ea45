"""Varint / d-gap / positions codec round-trips (FIXTURES.md §5)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from opensearch_spark.index import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(arr)) == arr).all()


def test_varint_boundaries():
    # exact powers of 2^7k — the byte-length boundaries
    vals = np.array(
        [0, 1, 127, 128, 2**14 - 1, 2**14, 2**28 - 1, 2**28, 2**35, 2**62],
        dtype=np.uint64,
    )
    out = codec.varint_decode(codec.varint_encode(vals))
    assert (out == vals).all()


def test_byte_lengths_match_encoding():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**50, 5000).astype(np.uint64)
    enc = codec.varint_encode(vals)
    assert len(enc) == int(codec.varint_byte_lengths(vals).sum())


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=100, deadline=None)
def test_docdelta_roundtrip(ids):
    docs = np.array(sorted(ids), dtype=np.int64)
    base = int(docs[0])
    buf = codec.pack_doc_deltas(docs, base)
    assert (codec.unpack_doc_deltas(buf, base) == docs).all()


def test_positions_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        tfs = rng.integers(1, 8, rng.integers(1, 40))
        pos = np.concatenate(
            [np.sort(rng.choice(500, k, replace=False)) for k in tfs]
        )
        buf = codec.pack_positions(pos, tfs)
        assert (codec.unpack_positions(buf, tfs) == pos).all()


def test_large_deltas_over_2pow28():
    # FIXTURES.md §5: deltas >= 2^28 (10^12-doc address space)
    docs = np.array([0, 2**28, 2**29, 2**40, 2**40 + 1], dtype=np.int64)
    buf = codec.pack_doc_deltas(docs, 0)
    assert (codec.unpack_doc_deltas(buf, 0) == docs).all()


def test_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0
    assert codec.pack_positions(np.array([]), np.array([])) == b""


# ---------------------------------------------------------- FOR codec

import numpy as np
import pytest as _pytest

from opensearch_spark.index import codec as _c


@_pytest.mark.parametrize("seed", [1, 2, 3])
def test_for_block_roundtrip(seed):
    rng = np.random.RandomState(seed)
    for n in (0, 1, 7, 128, 300):
        for hi in (1, 2, 255, 1 << 20, 1 << 45):
            v = rng.randint(0, hi, size=n).astype(np.uint64)
            out = _c.for_decode_block(_c.for_encode_block(v), n)
            assert np.array_equal(out, v), (n, hi)


def test_for_zero_width():
    v = np.zeros(128, dtype=np.uint64)
    buf = _c.for_encode_block(v)
    assert buf == b"\x00"
    assert np.array_equal(_c.for_decode_block(buf, 128), v)


@_pytest.mark.parametrize("name", ["varint", "for"])
def test_codec_encode_blocks_roundtrip(name):
    import pyarrow as pa

    bc = _c.get_codec(name)
    for hi, block in [
        (1000, 128),  # 1-2 byte varints, full 128-value blocks
        (1, 1),  # 1-doc blocks of zeros (FOR width 0)
        (1 << 50, 128),  # multi-byte varints (up to 8 bytes), wide FOR
        (1 << 21, 1),  # 1-value blocks of 1-3 byte varints
    ]:
        rng = np.random.RandomState(9)
        vals = rng.randint(0, hi, size=1000, dtype=np.int64).astype(np.uint64)
        starts, ends = _c.block_bounds(1000, block)
        blocks = bc.encode_blocks(vals, starts, ends)
        out = np.concatenate(
            [bc.decode(b, e - s) for b, s, e in zip(blocks, starts, ends)]
        ).astype(np.uint64)
        assert np.array_equal(out, vals), (hi, block)
        # batch decode over all blocks == per-block decode
        counts = ends - starts
        batch = bc.decode_batch(*_c.bytes_binary(blocks), counts)
        assert np.array_equal(batch, out), (hi, block)
        # ... and over an Arrow binary array sliced at a non-zero offset
        k = 3
        arr = pa.array([bytes(b) for b in blocks], type=pa.binary()).slice(k)
        assert arr.offset == k
        sliced = bc.decode_batch(*_c.arrow_binary(arr), counts[k:])
        assert np.array_equal(sliced, out[starts[k]:]), (hi, block)


def _pos_deltas(pos, tfs):
    """Per-doc restarted position deltas (the builder's pos_bin values)."""
    deltas = np.diff(pos, prepend=np.int64(0))
    first = np.cumsum(tfs) - tfs
    deltas[first] = pos[first]
    return deltas


def _block_batch(bc, rng, n_docs):
    """Encode one posting block per entry of ``n_docs`` -> (Arrow batch of
    block rows, expected per-posting columns)."""
    import pyarrow as pa

    enc = lambda v: bc.encode_blocks(
        np.asarray(v).astype(np.uint64), np.array([0]), np.array([len(v)])
    )[0]
    rows = {k: [] for k in ("term", "base_doc", "n_docs", "docs_bin", "tfs_bin",
                            "norms_bin", "pos_bin")}
    want = {k: [] for k in ("term", "_docid", "tf", "norm_byte", "positions")}
    for i, n in enumerate(n_docs):
        base = int(rng.randint(0, 1 << 40, dtype=np.int64))
        gaps = rng.randint(1, 1 << 20, size=n)  # multi-byte varint gaps
        gaps[0] = 0
        tfs = rng.randint(1, 40, size=n)
        norms = rng.randint(0, 256, size=n).astype(np.uint8)
        pos = np.concatenate([np.sort(rng.choice(1 << 15, t, replace=False)) for t in tfs])
        for key, v in (("term", f"t{i // 3}"), ("base_doc", base), ("n_docs", int(n)),
                       ("docs_bin", enc(gaps)), ("tfs_bin", enc(tfs)),
                       ("norms_bin", norms.tobytes()), ("pos_bin", enc(_pos_deltas(pos, tfs)))):
            rows[key].append(v)
        want["term"] += [f"t{i // 3}"] * int(n)
        want["_docid"] += (base + np.cumsum(gaps)).tolist()
        want["tf"] += tfs.tolist()
        want["norm_byte"] += norms.tolist()
        ends = np.cumsum(tfs)
        want["positions"] += [pos[e - t : e].tolist() for t, e in zip(tfs, ends)]
    types = [pa.string(), pa.int64(), pa.int32()] + [pa.binary()] * 4
    rb = pa.RecordBatch.from_arrays(
        [pa.array(v, type=t) for v, t in zip(rows.values(), types)], names=list(rows)
    )
    return rb, want


@_pytest.mark.parametrize("name", ["varint", "for"])
@_pytest.mark.parametrize("max_positions", [_c.MAX_BATCH_POSITIONS, 500, 1])
def test_decode_record_batch_matches_blocks(name, max_positions):
    """The per-batch kernel over an Arrow batch sliced at a non-zero
    offset, with 1-doc and full blocks, equals the per-block decode; a
    batch whose positions pass ``max_positions`` is cut at block
    boundaries into several outputs, each with list offsets from 0."""
    import pyarrow as pa

    bc = _c.get_codec(name)
    rng = np.random.RandomState(5)
    n_docs = [1, 128, 1, 7, 128, 1, 1, 60, 128, 3]
    rb, want = _block_batch(bc, rng, n_docs)
    k = 2
    sliced = rb.slice(k)
    skip = sum(n_docs[:k])
    outs = list(_c.decode_record_batch(sliced, bc, True, max_positions))
    if max_positions == _c.MAX_BATCH_POSITIONS:
        assert len(outs) == 1
    else:
        assert len(outs) > 1
    for ob in outs:
        off = ob.column("positions").offsets.to_numpy()
        assert off[0] == 0
        # at most max_positions plus the last block's positions
        assert off[-1] <= max_positions + 128 * 40
    got = pa.Table.from_batches(outs).to_pydict()
    assert got == {k2: v[skip:] for k2, v in want.items()}
    # without positions: one batch, no positions column
    (plain,) = _c.decode_record_batch(sliced, bc, False)
    assert plain.schema.names == ["term", "_docid", "tf", "norm_byte"]
    assert plain.to_pydict() == {k2: v[skip:] for k2, v in want.items() if k2 != "positions"}


def test_for_denser_on_small_gaps():
    """FOR beats varint on dense (hot-term) gap runs — the reason the
    reference uses FOR blocks for postings."""
    gaps = np.ones(128, dtype=np.uint64)  # stopword-like: every doc
    for_size = len(_c.for_encode_block(gaps))
    varint_size = len(_c.varint_encode(gaps))
    assert for_size < varint_size
