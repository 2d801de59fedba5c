"""Delta-of-delta timestamp + Gorilla XOR value compression (SURVEY.md C23-C25).

Block format per sequence row (the engine's compressed-block struct,
SURVEY.md §1.3): timestamps as Gorilla §4.1-style delta-of-delta with
variable-width buckets, values as Gorilla §4.2-style XOR with
leading-zero/meaningful-bit control codes (Pelkonen et al., "Gorilla: A
Fast, Scalable, In-Memory Time Series Database", VLDB 2015 — public
paper; implementation written from scratch in numpy).

Encoding is fully vectorized per row: each element's variable-length
codeword is materialized into a (n, max_code_bits) bit matrix, the valid
prefix of each row is selected with a boolean mask, and ``np.packbits``
emits the byte stream — no per-value Python in the encoder. The batch
decoders are the serve read path (``decompress_blocks``, the raw-tier
scans): one loop step per value index finds the next codeword start of
every block in the chunk by a table lookup, then every codeword is
decoded and the values rebuilt with a segmented prefix in vectorized
passes, so their cost is the longest block's count in loop steps plus
work linear in the points. The scalar decoders walk control bits value
by value and stay as the test oracles.

Bit-exactness: pure integer ops, no floating point anywhere -> exact
round-trip (decode(encode(x)) == x) for any int64 input, asserted per
row by :func:`roundtrip_ok`. No fastmath anywhere (SURVEY.md §4.1).

dod codeword buckets (control prefix, payload bits):
  '0'                      dod == 0
  '10'   + 7  bits         dod in [-63, 64]
  '110'  + 9  bits         dod in [-255, 256]
  '1110' + 12 bits         dod in [-2047, 2048]
  '1111' + 64 bits         anything else
First timestamp: 64 raw bits. Second: delta in the '1111' fallback or a
bucket like any dod (we encode delta_0 = ts[1]-ts[0] through the same
bucket coder; dod_i = delta_i - delta_{i-1} afterwards).

xor codewords (prev = previous value's bits):
  '0'                      xor == 0
  '10' + 6 bits lead + 6 bits len + len bits   meaningful block
First value: 64 raw bits.
(We always emit the explicit lead/len form — the Gorilla "reuse previous
window" optimization trades ratio for state; correctness identical.)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

_DOD_BUCKETS = (
    # (payload_bits, lo, hi) — value stored as payload = dod - lo
    (7, -63, 64),
    (9, -255, 256),
    (12, -2047, 2048),
)
_PREFIXES = {7: (1, 0), 9: (1, 1, 0), 12: (1, 1, 1, 0), 64: (1, 1, 1, 1)}


def _bits_of(values: np.ndarray, width: int) -> np.ndarray:
    """(n,) uint64 -> (n, width) bool, MSB first. Vectorized."""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return ((values[:, None] >> shifts[None, :]) & np.uint64(1)).astype(bool)


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode one int64 timestamp array -> bytes.

    Layout: [u32 count][64-bit ts0][bucketed delta0][bucketed dod_i...],
    each bucket = control prefix + payload (dod - bucket_lo).
    """
    ts = np.asarray(ts, dtype=np.int64)
    n = ts.size
    header = np.uint32(n).tobytes()
    if n == 0:
        return header
    first = _bits_of(ts[:1].view(np.uint64), 64)[0]
    if n == 1:
        return header + np.packbits(first).tobytes()

    deltas = np.diff(ts)
    dods = np.empty_like(deltas)
    dods[0] = deltas[0]
    dods[1:] = deltas[1:] - deltas[:-1]

    # classify into buckets (vectorized)
    zero = dods == 0
    b7 = ~zero & (dods >= -63) & (dods <= 64)
    b9 = ~zero & ~b7 & (dods >= -255) & (dods <= 256)
    b12 = ~zero & ~b7 & ~b9 & (dods >= -2047) & (dods <= 2048)
    b64 = ~zero & ~b7 & ~b9 & ~b12

    m = dods.size
    code_len = np.ones(m, dtype=np.int64)  # '0' for zero
    code_len[b7] = 2 + 7
    code_len[b9] = 3 + 9
    code_len[b12] = 4 + 12
    code_len[b64] = 4 + 64

    max_bits = 68
    codes = np.zeros((m, max_bits), dtype=bool)
    # prefixes + payloads per class
    for sel, width, (plo, prefix) in (
        (b7, 7, (-63, _PREFIXES[7])),
        (b9, 9, (-255, _PREFIXES[9])),
        (b12, 12, (-2047, _PREFIXES[12])),
    ):
        if not sel.any():
            continue
        plen = len(prefix)
        codes[sel, :plen] = np.array(prefix, dtype=bool)
        payload = (dods[sel] - plo).astype(np.uint64)
        codes[sel, plen : plen + width] = _bits_of(payload, width)
    if b64.any():
        codes[b64, :4] = np.array(_PREFIXES[64], dtype=bool)
        codes[b64, 4:68] = _bits_of(dods[b64].view(np.uint64), 64)
    # zero class: codes row already all False, first bit False = '0'

    # flatten: take code_len[i] bits from row i
    valid = np.arange(max_bits)[None, :] < code_len[:, None]
    stream = np.concatenate([first, codes[valid]])
    return header + np.packbits(stream).tobytes()


def decode_dod(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_dod` (sequential control-bit walk)."""
    n = int(np.frombuffer(blob[:4], dtype=np.uint32)[0])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(blob[4:], dtype=np.uint8)).astype(np.uint8)
    pos = 0

    def take(k: int) -> int:
        nonlocal pos
        v = 0
        for b in bits[pos : pos + k]:
            v = (v << 1) | int(b)
        pos += k
        return v

    def wrap64(x: int) -> int:
        # int64 wrapping semantics: the encoder's np.diff wraps modulo
        # 2^64 (C int64), so the decoder must accumulate the same way —
        # unbounded Python ints would OverflowError on inputs whose
        # delta/dod arithmetic wraps (e.g. ts=[2**62, -2**62, ...]).
        return (x + 2**63) % 2**64 - 2**63

    out = np.empty(n, dtype=np.int64)
    out[0] = np.uint64(take(64)).astype(np.int64)
    if n == 1:
        return out
    prev_delta = 0
    prev = int(out[0])
    for i in range(1, n):
        if bits[pos] == 0:
            pos += 1
            dod = 0
        elif bits[pos + 1] == 0:
            pos += 2
            dod = take(7) - 63
        elif bits[pos + 2] == 0:
            pos += 3
            dod = take(9) - 255
        elif bits[pos + 3] == 0:
            pos += 4
            dod = take(12) - 2047
        else:
            pos += 4
            dod = int(np.uint64(take(64)).astype(np.int64))
        prev_delta = wrap64(prev_delta + dod)
        prev = wrap64(prev + prev_delta)
        out[i] = prev
    return out


# ---------------------------------------------------------------------------
# Batch decoders: the raw-tier read path
#
# One stream's codeword starts form a chain (each start is the previous
# one plus that codeword's length), and a codeword's length is a pure
# function of the 16 bits at its start. So the only sequential work is
# finding the starts: one loop step per value index, advancing every
# block still going by one table lookup on a 24-bit window (a handful of
# numpy calls per step, shared by all blocks of a chunk). Every codeword
# is then read from one 128-bit window and the values are rebuilt by a
# segmented prefix (XOR for values, two wrapping sums for
# delta-of-delta), all vectorized over the chunk's points. Cost: the
# longest block's count in loop steps, plus work linear in the points.
# The scalar decoders above are the oracles these are asserted
# bit-equal to in tests/test_codec.py.
# ---------------------------------------------------------------------------

_U64 = np.uint64
# points decoded per chunk by default: ~8 MB per uint64 array
_CHUNK_POINTS = 1 << 20
# codewords read per vectorized pass inside a chunk
_SLICE = 1 << 16
# dod payload by the codeword's 4-bit prefix (0, 10, 110, 1110):
# ((hi >> shift) & mask) - bias; prefix 1111 carries 64 raw bits instead
_DOD_SHIFT = np.array([0] * 8 + [55] * 4 + [52] * 2 + [48, 0], dtype=np.uint64)
_DOD_MASK = np.array(
    [0] * 8 + [0x7F] * 4 + [0x1FF] * 2 + [0xFFF, 0], dtype=np.uint64
)
_DOD_BIAS = np.array([0] * 8 + [63] * 4 + [255] * 2 + [2047, 0], dtype=np.uint64)


def _length_tables() -> tuple[np.ndarray, np.ndarray]:
    """Codeword length in bits by the 16 bits at its start (MSB first):
    XOR ``'0'`` -> 1, ``'10' lead(6) len-1(6) bits(len)`` -> 14 + len;
    dod by its ``0``/``10``/``110``/``1110``/``1111`` prefix."""
    w = np.arange(1 << 16, dtype=np.uint32)
    xor_len = np.where(w >> 15 == 0, 1, 15 + ((w >> 2) & 63))
    dod_len = np.array([1] * 8 + [9] * 4 + [12] * 2 + [16, 68])[w >> 12]
    return xor_len.astype(np.uint8), dod_len.astype(np.uint8)


_XOR_LEN, _DOD_LEN = _length_tables()


def _windows(words: np.ndarray, pos: np.ndarray):
    """128-bit windows at bit offsets ``pos`` of the MSB-first ``words``:
    (hi, lo) hold bits [pos, pos+64) and [pos+64, pos+128)."""
    idx = pos >> 6
    off = (pos & 63).astype(np.uint64)
    rs = _U64(63) - off
    w1 = words[idx + 1]
    # (w >> 1) >> (63 - off) is w >> (64 - off), also at off == 0,
    # where a single shift by 64 would be undefined
    hi = (words[idx] << off) | ((w1 >> _U64(1)) >> rs)
    lo = (w1 << off) | ((words[idx + 2] >> _U64(1)) >> rs)
    return hi, lo


def _segment_base(acc: np.ndarray, first: np.ndarray) -> np.ndarray:
    """``acc`` just before each segment's first index (0 at index 0)."""
    base = acc[np.maximum(first - 1, 0)]
    base[first == 0] = 0
    return base


def _xor_codes(hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    lead = (hi >> _U64(56)) & _U64(63)
    mlen = ((hi >> _U64(50)) & _U64(63)) + _U64(1)
    # the meaningful bits start 14 bits into the codeword
    mean = ((hi << _U64(14)) | (lo >> _U64(50))) >> (_U64(64) - mlen)
    xor = mean << ((_U64(64) - lead - mlen) & _U64(63))
    return np.where(hi >> _U64(63) == 1, xor, _U64(0))


def _xor_prefix(flat: np.ndarray, first: np.ndarray, lens: np.ndarray):
    acc = np.bitwise_xor.accumulate(flat)
    return acc ^ np.repeat(_segment_base(acc, first), lens)


def _dod_codes(hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    nib = (hi >> _U64(60)).astype(np.intp)
    # uint64 subtraction wraps to the two's-complement negative exactly
    # like the scalar path
    small = ((hi >> _DOD_SHIFT[nib]) & _DOD_MASK[nib]) - _DOD_BIAS[nib]
    return np.where(nib == 15, (hi << _U64(4)) | (lo >> _U64(60)), small)


def _segmented_sum(x: np.ndarray, first: np.ndarray, lens: np.ndarray):
    acc = np.cumsum(x, dtype=np.uint64)  # wraps modulo 2^64 like int64
    return acc - np.repeat(_segment_base(acc, first), lens)


def _dod_prefix(flat: np.ndarray, first: np.ndarray, lens: np.ndarray):
    # flat holds ts0 then dod_1.. per block (dod_1 is the first delta):
    # deltas are the segmented sum of the dods, timestamps that of ts0
    # followed by the deltas
    ts0 = flat[first]
    flat[first] = 0
    deltas = _segmented_sum(flat, first, lens)
    deltas[first] = ts0
    return _segmented_sum(deltas, first, lens)


def _codeword_starts(w32, first_bit, counts, length_table):
    """Bit offset of every coded value (all but each block's first),
    block after block: block i's codewords start at ``first_bit[i] +
    64`` and each next one a codeword length further on."""
    c_off = np.concatenate(([0], np.cumsum(counts)))
    starts = np.empty(int(c_off[-1]), dtype=np.intp)
    if not starts.size:
        return starts
    # length-sorted, so the blocks still going at step i are a prefix
    order = np.argsort(-counts, kind="stable")
    base = c_off[:-1][order]
    pos = first_bit[order] + 64
    going = np.searchsorted(-counts[order], -np.arange(counts.max()), side="left")
    for i, a in enumerate(going.tolist()):
        p = pos[:a]
        if i:
            # the 16 bits at p: bit p % 8 onwards of byte p // 8's word
            p += length_table[(w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF]
        starts[base[:a] + i] = p
    return starts


def _decode_chunk(data, offsets, ns, header, length_table, codes, prefix):
    """Decode the blocks ``data[offsets[i]:offsets[i+1]]`` (one chunk)
    into their values as one flat uint64 array."""
    b0 = int(offsets[0])
    nb = int(offsets[-1]) - b0
    padded = np.zeros(((nb + 7) // 8 + 3) * 8, dtype=np.uint8)
    padded[:nb] = data[b0 : b0 + nb]
    words = padded.view(">u8").astype(np.uint64)
    # w32[i] is bytes i..i+3 as one big-endian word (a view, no copy)
    w32 = np.ndarray((nb,), dtype=">u4", buffer=padded, strides=(1,))

    first_bit = 8 * (offsets[:-1] - b0 + header)
    counts = np.maximum(ns - 1, 0)
    short = ValueError("codec block holds fewer codewords than its count")
    try:
        starts = _codeword_starts(w32, first_bit, counts, length_table)
    except IndexError:  # walked off the end of the chunk
        raise short from None
    if (starts >= np.repeat(8 * (offsets[1:] - b0), counts)).any():
        raise short

    nonempty = ns > 0
    lens = ns[nonempty]
    flat = np.empty(int(lens.sum()), dtype=np.uint64)
    first = np.cumsum(lens) - lens
    is_first = np.zeros(flat.size, dtype=bool)
    is_first[first] = True
    flat[is_first] = _windows(words, first_bit[nonempty])[0]
    # codewords in slices, so the window temporaries stay small
    coded = np.empty(starts.size, dtype=np.uint64)
    for k in range(0, starts.size, _SLICE):
        coded[k : k + _SLICE] = codes(*_windows(words, starts[k : k + _SLICE]))
    flat[~is_first] = coded
    return prefix(flat, first, lens)


def _decode_blocks(data, offsets, header, length_table, codes, prefix, chunk_points):
    """All blocks' values as one flat uint64 array, plus their counts.

    ``data[offsets[i]:offsets[i+1]]`` is block i: a little-endian u32
    point count, the rest of a ``header``-byte header, then its bit
    stream. Blocks are decoded in runs whose first points fall within
    one ``chunk_points`` window, which bounds the per-point arrays.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    block_start = offsets[:-1]
    if block_start.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if (offsets[1:] - block_start < 4).any():
        raise ValueError("codec block shorter than its 4-byte count header")
    ns = (
        data[block_start[:, None] + np.arange(4)]
        .view("<u4")
        .ravel()
        .astype(np.int64)
    )
    point_off = np.concatenate(([0], np.cumsum(ns)))
    run = point_off[:-1] // max(int(chunk_points), 1)
    cuts = np.concatenate(([0], np.flatnonzero(np.diff(run)) + 1, [run.size]))
    out = np.empty(int(point_off[-1]), dtype=np.uint64)
    for a, b in zip(cuts[:-1], cuts[1:]):
        out[point_off[a] : point_off[b]] = _decode_chunk(
            data, offsets[a : b + 1], ns[a:b], header, length_table, codes, prefix
        )
    return out, ns


def _join_blobs(blobs: list[bytes]):
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), offsets


def _arrow_blobs(col):
    """(data, offsets) of an Arrow binary column, without copying."""
    import pyarrow as pa

    if col.null_count:
        raise ValueError("null codec block")
    _, off_buf, data_buf = col.buffers()
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offsets = np.frombuffer(off_buf, dtype=width)[
        col.offset : col.offset + len(col) + 1
    ]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    return data, offsets.astype(np.int64)


def _decode_xor_flat(data, offsets, chunk_points=_CHUNK_POINTS):
    return _decode_blocks(
        data, offsets, 5, _XOR_LEN, _xor_codes, _xor_prefix, chunk_points
    )


def decode_xor_batch(
    blobs: list[bytes], chunk_elems: int = _CHUNK_POINTS
) -> list[np.ndarray]:
    """Vectorized inverse of :func:`encode_xor` over many blobs.

    Bit-identical to calling :func:`decode_xor` per blob (asserted in
    tests). ``chunk_elems`` bounds the points decoded at once: blobs are
    decoded in runs whose first points fall in one window of that many
    points.
    """
    if not blobs:
        return []
    data, offsets = _join_blobs(blobs)
    flat, ns = _decode_xor_flat(data, offsets, chunk_elems)
    is_float = [len(b) > 4 and b[4] == 1 for b in blobs]
    return [
        v.view(np.float64 if f else np.int64)
        for v, f in zip(np.split(flat, np.cumsum(ns)[:-1]), is_float)
    ]


def decode_dod_batch(
    blobs: list[bytes], chunk_elems: int = _CHUNK_POINTS
) -> list[np.ndarray]:
    """Vectorized inverse of :func:`encode_dod` over many blobs
    (bit-identical to per-blob :func:`decode_dod`); ``chunk_elems`` as
    in :func:`decode_xor_batch`."""
    if not blobs:
        return []
    data, offsets = _join_blobs(blobs)
    flat, ns = _decode_blocks(
        data, offsets, 4, _DOD_LEN, _dod_codes, _dod_prefix, chunk_elems
    )
    return [v.view(np.int64) for v in np.split(flat, np.cumsum(ns)[:-1])]


def encode_xor(values: np.ndarray) -> bytes:
    """Gorilla-style XOR encode one int64/float64 array -> bytes.

    Values are handled as raw 64-bit patterns (ints pass through
    ``int64 -> uint64``; floats via their IEEE bits) so round-trip is
    bit-exact for both.
    """
    values = np.asarray(values)
    if values.dtype == np.float64:
        raw = values.view(np.uint64)
        kind = 1
    else:
        raw = values.astype(np.int64).view(np.uint64)
        kind = 0
    n = raw.size
    header = np.uint32(n).tobytes() + bytes([kind])
    if n == 0:
        return header
    first = _bits_of(raw[:1], 64)[0]
    if n == 1:
        return header + np.packbits(first).tobytes()

    xors = raw[1:] ^ raw[:-1]
    m = xors.size
    zero = xors == 0
    nz = ~zero
    # leading zeros via bit_length; meaningful length = 64 - lead - trail
    lead = np.zeros(m, dtype=np.int64)
    trail = np.zeros(m, dtype=np.int64)
    if nz.any():
        x = xors[nz]
        # vectorized leading zeros: 64 - bit_length
        bl = np.zeros(x.size, dtype=np.int64)
        tmp = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            hi = tmp >> np.uint64(shift)
            has = hi > 0
            bl[has] += shift
            tmp = np.where(has, hi, tmp)
        bl += 1  # bit_length of a nonzero number
        lead_nz = 64 - bl
        # trailing zeros: bit_length of (x & -x) minus 1
        low = x & (~x + np.uint64(1))
        tl = np.zeros(x.size, dtype=np.int64)
        tmp = low
        for shift in (32, 16, 8, 4, 2, 1):
            hi = tmp >> np.uint64(shift)
            has = hi > 0
            tl[has] += shift
            tmp = np.where(has, hi, tmp)
        trail_nz = tl  # bit_length(low)-1 == index of the single set bit
        lead[nz] = np.minimum(lead_nz, 63)
        trail[nz] = trail_nz
    mean_len = 64 - lead - trail  # meaningful bits, in [1, 64] for nz

    code_len = np.ones(m, dtype=np.int64)  # '0'
    code_len[nz] = 2 + 6 + 6 + mean_len[nz]
    # size the bit matrix to this batch's LONGEST meaningful block, not
    # 64: typical walk data xors carry ~8-16 meaningful bits, so this
    # quarters the matrix work (measured ~3x on the encoder)
    max_mean = int(mean_len[nz].max()) if nz.any() else 0
    max_bits = 2 + 6 + 6 + max_mean
    codes = np.zeros((m, max(max_bits, 1)), dtype=bool)
    if nz.any():
        codes[nz, 0] = True  # '10' prefix
        codes[nz, 1] = False
        codes[nz, 2:8] = _bits_of(lead[nz].astype(np.uint64), 6)
        # store mean_len - 1 in 6 bits (so 64 fits)
        codes[nz, 8:14] = _bits_of((mean_len[nz] - 1).astype(np.uint64), 6)
        # left-align each value's meaningful bits inside a max_mean-wide
        # window: v << (max_mean - mean_len) puts v's bits at columns
        # 14..14+mean_len-1 directly, and the code_len mask below cuts
        # exactly there — no per-bit scatter needed
        shifted = xors[nz] >> trail[nz].astype(np.uint64)
        aligned = shifted << (max_mean - mean_len[nz]).astype(np.uint64)
        codes[nz, 14 : 14 + max_mean] = _bits_of(aligned, max_mean)

    valid = np.arange(codes.shape[1])[None, :] < code_len[:, None]
    stream = np.concatenate([first, codes[valid]])
    return header + np.packbits(stream).tobytes()


def encode_xor_batch(values: np.ndarray, lengths: np.ndarray) -> list[bytes]:
    """Encode MANY rows at once; byte-identical to per-row
    :func:`encode_xor` (asserted in tests/test_codec.py).

    ``values`` is every row's data concatenated (an Arrow list column's
    flat buffer, widened to int64/float64), ``lengths`` the per-row
    counts (zeros allowed). All classification/bit work runs as ~10
    vectorized ops over the whole batch instead of ~10 per row — the
    per-row remainder is one slice + one ``np.packbits``.
    """
    values = np.asarray(values)
    if values.dtype == np.float64:
        raw = values.view(np.uint64)
        kind = 1
    else:
        raw = values.astype(np.int64).view(np.uint64)
        kind = 0
    lengths = np.asarray(lengths, dtype=np.int64)
    n_rows = lengths.size
    starts = np.concatenate(([0], np.cumsum(lengths)))
    if int(starts[-1]) != raw.size:
        raise ValueError("lengths do not sum to len(values)")
    headers = [
        np.uint32(int(n)).tobytes() + bytes([kind]) for n in lengths
    ]

    N = raw.size
    # coded positions = every position except each row's first
    pos_mask = np.zeros(N, dtype=bool)
    if N:
        pos_mask[:] = True
        pos_mask[starts[:-1][lengths > 0]] = False
    coded_idx = np.flatnonzero(pos_mask)
    xors = (
        raw[coded_idx] ^ raw[coded_idx - 1]
        if coded_idx.size
        else np.empty(0, dtype=np.uint64)
    )
    m = xors.size

    if m:
        zero = xors == 0
        nz = ~zero
        lead = np.zeros(m, dtype=np.int64)
        trail = np.zeros(m, dtype=np.int64)
        if nz.any():
            x = xors[nz]
            bl = np.zeros(x.size, dtype=np.int64)
            tmp = x.copy()
            for shift in (32, 16, 8, 4, 2, 1):
                hi = tmp >> np.uint64(shift)
                has = hi > 0
                bl[has] += shift
                tmp = np.where(has, hi, tmp)
            bl += 1
            lead[nz] = np.minimum(64 - bl, 63)
            low = x & (~x + np.uint64(1))
            tl = np.zeros(x.size, dtype=np.int64)
            tmp = low
            for shift in (32, 16, 8, 4, 2, 1):
                hi = tmp >> np.uint64(shift)
                has = hi > 0
                tl[has] += shift
                tmp = np.where(has, hi, tmp)
            trail[nz] = tl
        mean_len = 64 - lead - trail

        code_len = np.ones(m, dtype=np.int64)
        code_len[nz] = 2 + 6 + 6 + mean_len[nz]
        max_mean = int(mean_len[nz].max()) if nz.any() else 0
        codes = np.zeros((m, max(2 + 6 + 6 + max_mean, 1)), dtype=bool)
        if nz.any():
            codes[nz, 0] = True
            codes[nz, 2:8] = _bits_of(lead[nz].astype(np.uint64), 6)
            codes[nz, 8:14] = _bits_of((mean_len[nz] - 1).astype(np.uint64), 6)
            shifted = xors[nz] >> trail[nz].astype(np.uint64)
            aligned = shifted << (max_mean - mean_len[nz]).astype(np.uint64)
            codes[nz, 14 : 14 + max_mean] = _bits_of(aligned, max_mean)
        valid = np.arange(codes.shape[1])[None, :] < code_len[:, None]
        flat = codes[valid]  # all rows' coded bits, row-major
        n_coded = np.maximum(lengths - 1, 0)
        row_of_coded = np.repeat(np.arange(n_rows), n_coded)
        bits_per_row = np.bincount(
            row_of_coded, weights=code_len.astype(np.float64), minlength=n_rows
        ).astype(np.int64)
        bit_offsets = np.concatenate(([0], np.cumsum(bits_per_row)))
    else:
        flat = np.empty(0, dtype=bool)
        bit_offsets = np.zeros(n_rows + 1, dtype=np.int64)

    nonempty = lengths > 0
    first_bits = (
        _bits_of(raw[starts[:-1][nonempty]], 64)
        if nonempty.any()
        else np.empty((0, 64), dtype=bool)
    )
    first_row_idx = np.cumsum(nonempty) - 1  # index into first_bits per row

    out: list[bytes] = []
    for r in range(n_rows):
        if lengths[r] == 0:
            out.append(headers[r])
            continue
        fb = first_bits[first_row_idx[r]]
        if lengths[r] == 1:
            out.append(headers[r] + np.packbits(fb).tobytes())
            continue
        stream = np.concatenate(
            [fb, flat[bit_offsets[r] : bit_offsets[r + 1]]]
        )
        out.append(headers[r] + np.packbits(stream).tobytes())
    return out


def decode_xor(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_xor`."""
    n = int(np.frombuffer(blob[:4], dtype=np.uint32)[0])
    kind = blob[4]
    dtype = np.float64 if kind == 1 else np.int64
    if n == 0:
        return np.empty(0, dtype=dtype)
    bits = np.unpackbits(np.frombuffer(blob[5:], dtype=np.uint8)).astype(np.uint8)
    pos = 0

    def take(k: int) -> int:
        nonlocal pos
        v = 0
        for b in bits[pos : pos + k]:
            v = (v << 1) | int(b)
        pos += k
        return v

    out = np.empty(n, dtype=np.uint64)
    prev = np.uint64(take(64))
    out[0] = prev
    for i in range(1, n):
        if bits[pos] == 0:
            pos += 1
        else:
            pos += 2
            lead = take(6)
            mean_len = take(6) + 1
            mean = take(mean_len)
            trail = 64 - lead - mean_len
            prev = prev ^ (np.uint64(mean) << np.uint64(trail))
        out[i] = prev
    return out.view(dtype)


# ---------------------------------------------------------------------------
# Spark surface: compress sequence rows into blocks + round-trip gate
# ---------------------------------------------------------------------------

COMPRESSED_SCHEMA = (
    "doc_id string, source string, n int, t0 bigint, "
    "dod binary, xor binary"
)

# with_stats=True appends per-block value bounds for scan pruning
# (operators/rawquery.py): computed DURING encoding from the same flat
# buffer, so they are free at write time and available at read time
# without decoding — the parquet row-group min/max story, one level up.
COMPRESSED_SCHEMA_STATS = COMPRESSED_SCHEMA + ", v_min bigint, v_max bigint"


def compress_sequences(
    seq_df,
    t0_epoch: int = 1704067200,
    step_seconds: int = 1,
    with_stats: bool = False,
    t0_col: str | None = None,
):
    """Sequence table -> compressed blocks (SURVEY.md §1.3 struct).

    Runs inside ``mapInArrow``: the list column's flat values buffer and
    value lengths feed numpy directly (no pandas, no per-row objects).

    - Timestamps follow the implicit-index model ``t0 + pos*step``, so a
      row's dod blob is a pure function of its (start, LENGTH) — blobs
      are memoized per distinct pair within the task (the encoder
      itself stays general for arbitrary timestamps).
    - ``t0_col``: optional int64 column holding each sequence's OWN
      start time (staggered ingest). With a shared ``t0_epoch`` every
      block covers [t0, t0+n); a time-range predicate can then only
      prune short blocks (payload-proportional savings, see
      BENCH/ADDENDUM.md). With per-row starts, block time ranges are
      disjoint-ish and :func:`...rawquery.prune_blocks_by_time`
      becomes structural — the 100 TB ingest shape.
    - Values: short-row batches (< 512 tokens mean) use the
      cross-row-vectorized :func:`encode_xor_batch` (3x on short rows,
      where per-call overhead dominates); long rows encode per row
      (slightly less index traffic). Both byte-identical.
    - ``with_stats=True`` adds ``v_min``/``v_max`` per block (null for
      empty blocks) via segment reduceat over the flat buffer — the
      metadata :func:`tsclust_spark.operators.rawquery.prune_blocks_by_value`
      prunes on.
    """

    def encode(batches: Iterator) -> Iterator:
        import pyarrow as pa

        dod_cache: dict[tuple[int, int], bytes] = {}

        def dod_for(t0: int, n: int) -> bytes:
            blob = dod_cache.get((t0, n))
            if blob is None:
                ts = t0 + np.arange(n, dtype=np.int64) * step_seconds
                blob = dod_cache[(t0, n)] = encode_dod(ts)
            return blob

        fields = [
            ("doc_id", pa.string()),
            ("source", pa.string()),
            ("n", pa.int32()),
            ("t0", pa.int64()),
            ("dod", pa.binary()),
            ("xor", pa.binary()),
        ]
        if with_stats:
            fields += [("v_min", pa.int64()), ("v_max", pa.int64())]
        out_schema = pa.schema(fields)
        for batch in batches:
            tok = batch.column(batch.schema.get_field_index("tokens"))
            lengths = np.asarray(
                tok.value_lengths().to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
            values = tok.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            if lengths.size and lengths.mean() < 512:
                xor_out = encode_xor_batch(values, lengths)
            else:
                bounds = np.concatenate(([0], np.cumsum(lengths)))
                xor_out = [
                    encode_xor(values[bounds[r] : bounds[r + 1]])
                    for r in range(lengths.size)
                ]
            if t0_col is not None:
                t0s = (
                    batch.column(batch.schema.get_field_index(t0_col))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
            else:
                t0s = np.full(lengths.size, t0_epoch, dtype=np.int64)
            dod_out = [
                dod_for(int(t0s[r]), int(lengths[r]))
                for r in range(lengths.size)
            ]
            arrays = [
                batch.column(batch.schema.get_field_index("doc_id")),
                batch.column(batch.schema.get_field_index("source")),
                pa.array(lengths.astype(np.int32), pa.int32()),
                pa.array(t0s, pa.int64()),
                pa.array(dod_out, pa.binary()),
                pa.array(xor_out, pa.binary()),
            ]
            if with_stats:
                # segment min/max over the flat buffer: reduceat with
                # empty segments dropped (an empty segment would wrongly
                # read the NEXT segment's first element), then scattered
                # back with a null mask for the empty rows
                nonempty = lengths > 0
                vmin = np.zeros(lengths.size, dtype=np.int64)
                vmax = np.zeros(lengths.size, dtype=np.int64)
                if values.size:
                    bounds = np.concatenate(([0], np.cumsum(lengths)))
                    starts = bounds[:-1][nonempty]
                    vmin[nonempty] = np.minimum.reduceat(values, starts)
                    vmax[nonempty] = np.maximum.reduceat(values, starts)
                arrays += [
                    pa.Array.from_pandas(vmin, mask=~nonempty, type=pa.int64()),
                    pa.Array.from_pandas(vmax, mask=~nonempty, type=pa.int64()),
                ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    cols = ["doc_id", "source", "tokens"] + ([t0_col] if t0_col else [])
    return seq_df.select(*cols).mapInArrow(
        encode,
        schema=COMPRESSED_SCHEMA_STATS if with_stats else COMPRESSED_SCHEMA,
    )


def decompress_blocks(blocks_df):
    """Compressed blocks -> sequence rows: the raw-tier READ path.

    Inverse of :func:`compress_sequences` (asserted in
    tests/test_codec.py: decompress(compress(seq)) token arrays are
    bit-identical to the input).  Runs inside ``mapInArrow``: the batch
    decoder reads the ``xor`` column's Arrow buffers in place and its
    flat output becomes the list column's values buffer, so no per-row
    Python object is built on either side.
    """

    def decode(batches: Iterator) -> Iterator:
        import pyarrow as pa

        out_schema = pa.schema(
            [
                ("doc_id", pa.string()),
                ("source", pa.string()),
                ("t0", pa.int64()),
                ("tokens", pa.list_(pa.int32())),
            ]
        )
        for batch in batches:
            flat, lens = _decode_xor_flat(
                *_arrow_blobs(batch.column(batch.schema.get_field_index("xor")))
            )
            offsets = np.concatenate(([0], np.cumsum(lens)))
            tokens = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(flat.view(np.int64).astype(np.int32), pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    batch.column(batch.schema.get_field_index("source")),
                    batch.column(batch.schema.get_field_index("t0")),
                    tokens,
                ],
                schema=out_schema,
            )

    return blocks_df.select("doc_id", "source", "t0", "xor").mapInArrow(
        decode, schema="doc_id string, source string, t0 bigint, tokens array<int>"
    )


def roundtrip_ok(seq_df, **kwargs):
    """C25 bit-exactness gate: decode(encode(row)) == row, per row.

    Output: ``(doc_id, ok boolean)`` — all-true == pass.  Encode is the
    per-row reference coder; decode goes through the vectorized batch
    decoders, so the gate certifies the production read path against
    the original data (the scalar decoders are certified against the
    batch ones separately in tests/test_codec.py).
    """

    def check(batches: Iterator) -> Iterator:
        import pandas as pd

        t0 = kwargs.get("t0_epoch", 1704067200)
        step = kwargs.get("step_seconds", 1)
        for pdf in batches:
            toks = pdf["tokens"].to_numpy()
            arrays = [np.asarray(t, dtype=np.int64) for t in toks]
            ts_arrays = [
                t0 + np.arange(a.size, dtype=np.int64) * step
                for a in arrays
            ]
            d_dec = decode_dod_batch([encode_dod(t) for t in ts_arrays])
            x_dec = decode_xor_batch([encode_xor(a) for a in arrays])
            oks = np.fromiter(
                (
                    np.array_equal(d, t) and np.array_equal(x, a)
                    for d, t, x, a in zip(d_dec, ts_arrays, x_dec, arrays)
                ),
                dtype=bool,
                count=len(arrays),
            )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "ok": oks})

    return seq_df.mapInPandas(check, schema="doc_id string, ok boolean")
