"""Posting-block codec: d-gap + varint packing, numpy-vectorized.

The reference stores postings in 128-doc blocks with delta-encoded docIDs
and FOR/PForDelta compression (Lucene99 postings format, selected via
``server/src/main/java/org/opensearch/index/codec/CodecService.java:71-79``;
SURVEY.md §4.11).  We keep the same layout ideas — fixed-size blocks,
d-gapped docIDs, per-block skip metadata (base_doc / max_tf / min_norm for
block-max pruning) — but encode with LEB128 varints inside Parquet binary
columns; Parquet page compression (zstd/snappy) stacks on top.

All encode/decode paths are numpy-vectorized (loops only over the ≤10
bytes of a varint).  Decoding is per Arrow BATCH, not per block: a
binary column's data buffer holds its blocks back to back, and
concatenated LEB128 streams are one valid stream, so one varint decode
covers every block of a batch (FOR keeps a per-block loop behind the
same ``decode_batch`` method).  :func:`decode_record_batch` turns a
batch of block rows into per-posting columns with no per-block Python.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np

BLOCK_SIZE = 128  # docs per posting block, mirrors Lucene's 128-doc blocks
# positions per decoded output batch: the positions ListArray has int32
# offsets, so a batch is split well before 2^31 positions (this also
# bounds the memory of one output batch)
MAX_BATCH_POSITIONS = 1 << 28

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (1..10) for a uint64 array."""
    v = np.asarray(values).astype(np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += v >= t
    return nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes (vectorized)."""
    v = np.asarray(values).astype(np.uint64)
    if v.size == 0:
        return b""
    nbytes = varint_byte_lengths(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        m = nbytes > k
        byte = (v[m] >> np.uint64(7 * k)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nbytes[m] - 1 > k).astype(np.uint8) << 7
        out[offsets[m] + k] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lengths.max())):
        m = lengths > k
        vals[m] |= (b[starts[m] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * k
        )
    return vals


def pack_doc_deltas(doc_ids: np.ndarray, base_doc: int) -> bytes:
    """d-gap + varint pack a sorted docID array relative to base_doc."""
    d = np.asarray(doc_ids, dtype=np.int64)
    gaps = np.diff(d, prepend=np.int64(base_doc))
    return varint_encode(gaps.astype(np.uint64))


def unpack_doc_deltas(buf: bytes, base_doc: int) -> np.ndarray:
    """Inverse of pack_doc_deltas -> int64 docID array."""
    gaps = varint_decode(buf).astype(np.int64)
    return np.cumsum(gaps) + np.int64(base_doc)


def pack_positions(positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Pack concatenated per-doc position lists (delta-coded within doc).

    ``positions`` is the concatenation of each doc's sorted positions;
    ``tfs`` gives the per-doc counts (so boundaries are recoverable).
    """
    pos = np.asarray(positions, dtype=np.int64)
    if pos.size == 0:
        return b""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = np.diff(pos, prepend=np.int64(0))
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas[starts] = pos[starts]  # restart delta chain at each doc
    return varint_encode(deltas.astype(np.uint64))


def positions_from_deltas(deltas: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Segmented cumsum: per-doc delta runs -> absolute positions."""
    deltas = np.asarray(deltas).astype(np.int64)
    if deltas.size == 0:
        return deltas
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    cs = np.cumsum(deltas)
    base = np.zeros_like(deltas)
    base[starts[1:]] = cs[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return cs - base


def unpack_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of pack_positions -> concatenated absolute positions."""
    return positions_from_deltas(varint_decode(buf), tfs)


def block_bounds(n: int, block_size: int = BLOCK_SIZE) -> Tuple[np.ndarray, np.ndarray]:
    """Start/end offsets of fixed-size blocks covering n postings."""
    starts = np.arange(0, n, block_size, dtype=np.int64)
    ends = np.minimum(starts + block_size, n)
    return starts, ends


# --------------------------------------------------------------- FOR codec

def for_encode_block(vals: np.ndarray) -> bytes:
    """Frame-of-reference bit packing for one block: 1 header byte =
    bit width (max over the block), then the values packed at that
    width, LSB-first — the Lucene ``ForUtil`` layout idea
    (``Lucene99PostingsFormat`` 128-doc FOR blocks; SURVEY.md §4.11)."""
    v = np.asarray(vals).astype(np.uint64)
    if v.size == 0:
        return b"\x00"
    w = int(int(v.max()).bit_length())
    if w == 0:
        return b"\x00"
    bits = ((v[:, None] >> np.arange(w, dtype=np.uint64)) & np.uint64(1)).astype(np.uint8)
    return bytes([w]) + np.packbits(bits, bitorder="little").tobytes()


def for_decode_block(buf: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`for_encode_block` (needs the value count)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    w = int(b[0])
    if w == 0:
        return np.zeros(int(n), dtype=np.uint64)
    bits = np.unpackbits(b[1:], bitorder="little")
    m = bits[: int(n) * w].reshape(int(n), w).astype(np.uint64)
    return (m << np.arange(w, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)


class VarintCodec:
    """LEB128 stream codec: one shared encode pass, blocks sliced by
    byte offsets (fully vectorized — the build fast path)."""

    name = "varint"

    @staticmethod
    def encode_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray):
        v = np.asarray(values).astype(np.uint64)
        stream = varint_encode(v)
        off = np.concatenate(([0], np.cumsum(varint_byte_lengths(v))))
        return [stream[off[s] : off[e]] for s, e in zip(starts, ends)]

    @staticmethod
    def decode(buf: bytes, n: int) -> np.ndarray:
        return varint_decode(buf)

    @staticmethod
    def decode_batch(data: np.ndarray, offsets: np.ndarray, counts: np.ndarray) -> np.ndarray:
        """Values of consecutive blocks ``data[offsets[i]:offsets[i+1]]``
        (``counts[i]`` values each), concatenated: the blocks are
        adjacent in ``data``, so this is one stream decode."""
        return varint_decode(data[offsets[0] : offsets[-1]])


class ForCodec:
    """Per-block FOR bit packing (per-block width byte).  Denser than
    varint for small-gap runs (hot terms), at a per-block Python-loop
    encode cost."""

    name = "for"

    @staticmethod
    def encode_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray):
        v = np.asarray(values).astype(np.uint64)
        return [for_encode_block(v[s:e]) for s, e in zip(starts, ends)]

    @staticmethod
    def decode(buf: bytes, n: int) -> np.ndarray:
        return for_decode_block(buf, n)

    @staticmethod
    def decode_batch(data: np.ndarray, offsets: np.ndarray, counts: np.ndarray) -> np.ndarray:
        """Per-block widths: one :func:`for_decode_block` per block."""
        if counts.size == 0:
            return np.empty(0, dtype=np.uint64)
        return np.concatenate(
            [
                for_decode_block(data[offsets[i] : offsets[i + 1]], counts[i])
                for i in range(counts.size)
            ]
        )


CODECS = {c.name: c for c in (VarintCodec, ForCodec)}


def get_codec(name: str):
    return CODECS[name or "varint"]


# ------------------------------------------------------------ batch decode

Binary = Tuple[np.ndarray, np.ndarray]  # (uint8 data, int64 offsets, n + 1)


def arrow_binary(arr) -> Binary:
    """``(data, offsets)`` views of an Arrow binary array's buffers,
    honouring a non-zero slice offset (no copy of the data)."""
    import pyarrow as pa

    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets.astype(np.int64)


def bytes_binary(values) -> Binary:
    """``(data, offsets)`` of a sequence of byte strings."""
    lens = np.fromiter(map(len, values), dtype=np.int64)
    data = np.frombuffer(b"".join(values), dtype=np.uint8)
    return data, np.concatenate(([0], np.cumsum(lens)))


def decode_positions(bc, pos: Binary, n_docs: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Absolute positions of a run of blocks (``n_docs`` postings each,
    per-posting counts ``tfs``), concatenated."""
    ctf = np.concatenate(([0], np.cumsum(tfs)))
    ends = np.cumsum(n_docs)
    deltas = bc.decode_batch(*pos, ctf[ends] - ctf[ends - n_docs])
    return positions_from_deltas(deltas, tfs)


def decode_blocks(
    bc,
    base_doc: np.ndarray,
    n_docs: np.ndarray,
    docs: Binary,
    tfs: Binary,
    norms: Binary,
    pos: Optional[Binary] = None,
):
    """Decode a run of posting blocks into flat per-posting arrays
    ``(doc_ids int64, tfs int64, norms uint8, positions int64 | None)``.

    Each binary column is one ``(data, offsets)`` pair over all blocks.
    Doc ids are a segmented cumsum of the d-gaps (restarted at each
    block) plus ``base_doc``; norms are the data bytes themselves."""
    n = np.asarray(n_docs, dtype=np.int64)
    gaps = bc.decode_batch(*docs, n).astype(np.int64)
    cs = np.cumsum(gaps)
    before = np.concatenate(([0], cs))[np.cumsum(n) - n]
    doc_ids = cs + np.repeat(np.asarray(base_doc, dtype=np.int64) - before, n)
    tf = bc.decode_batch(*tfs, n).astype(np.int64)
    nd, no = norms
    norm = nd[no[0] : no[-1]]
    positions = decode_positions(bc, pos, n, tf) if pos is not None else None
    return doc_ids, tf, norm, positions


def decode_record_batch(
    rb, bc, with_positions: bool, max_positions: int = MAX_BATCH_POSITIONS
) -> Iterator:
    """Arrow batch of block rows (term, base_doc, n_docs, docs_bin,
    tfs_bin, norms_bin[, pos_bin]) -> Arrow batches of postings (term,
    _docid, tf, norm_byte[, positions]).  The positions column is one
    ListArray from flat values + offsets.  A batch holding more than
    ``max_positions`` positions is cut at block boundaries into several
    outputs (each at most ``max_positions`` plus one block's worth), so
    the int32 list offsets never overflow."""
    import pyarrow as pa

    if rb.num_rows == 0:
        return
    n = rb.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64)
    doc_ids, tf, norm, _ = decode_blocks(
        bc,
        rb.column("base_doc").to_numpy(zero_copy_only=False),
        n,
        arrow_binary(rb.column("docs_bin")),
        arrow_binary(rb.column("tfs_bin")),
        arrow_binary(rb.column("norms_bin")),
    )
    cols = [
        rb.column("term").take(np.repeat(np.arange(n.size), n)),
        pa.array(doc_ids, type=pa.int64()),
        pa.array(tf.astype(np.int32), type=pa.int32()),
        pa.array(norm.astype(np.int32), type=pa.int32()),
    ]
    names = ["term", "_docid", "tf", "norm_byte"]
    if not with_positions:
        yield pa.RecordBatch.from_arrays(cols, names=names)
        return
    pos_data, pos_off = arrow_binary(rb.column("pos_bin"))
    ctf = np.concatenate(([0], np.cumsum(tf)))
    ends = np.cumsum(n)
    starts = ends - n
    # a block goes to the output batch of the max_positions window its
    # first position falls in
    window = ctf[starts] // max_positions
    cuts = np.concatenate(([0], np.nonzero(np.diff(window))[0] + 1, [n.size]))
    for lo, hi in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
        p0, p1 = int(starts[lo]), int(ends[hi - 1])
        positions = decode_positions(bc, (pos_data, pos_off[lo : hi + 1]), n[lo:hi], tf[p0:p1])
        offsets = (ctf[p0 : p1 + 1] - ctf[p0]).astype(np.int32)
        plist = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), pa.array(positions, type=pa.int64())
        )
        yield pa.RecordBatch.from_arrays(
            [c.slice(p0, p1 - p0) for c in cols] + [plist], names=names + ["positions"]
        )
