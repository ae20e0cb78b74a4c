"""Posting-block codec: docID delta + varint, numpy-vectorized.

Semantics follow the reference's VByte/gap encoding
(src/ir/index/compression.py:73-257 — little-endian base-128 varint with
continuation MSB, gap encoding of sorted doc_ids), re-implemented as
vectorized numpy kernels so Arrow-batched UDFs encode/decode thousands of
blocks per call with no per-row Python. PForDelta can slot in behind the
same ``encode_block``/``decode_block`` interface (codec is pluggable per
SURVEY.md §7 risk notes).

Block layout (one blob per (term, block_key) group):
    varint stream of 3n values:
        n   doc-id deltas  (first is doc_id[0] - block_base, then diffs)
        n   tfs
        n   dls
    where block_base = block_key << span_bits. Sorted-unique doc_ids per
    block → all deltas non-negative and < 2^span_bits.

Per-block metadata kept as columns (n, min/max doc_id, max_tf, min_dl)
powers block-max WAND upper bounds: UB(t) = score(max_tf, min_dl), the
reference's term upper bound (src/ir/retrieval/query_optimization.py:164-189)
tightened per block.
"""

from __future__ import annotations

import numpy as np

_MASK7 = np.uint64(0x7F)


def varint_byte_lengths(vals: np.ndarray) -> np.ndarray:
    """Bytes each value will occupy in the varint stream."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    nb = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nb


def varint_encode(vals: np.ndarray) -> np.ndarray:
    """uint64 array → uint8 varint stream (little-endian base-128,
    continuation MSB set on all but the last byte of each value)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    nb = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        idx = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & _MASK7).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = byte | cont
    return out


def varint_decode(buf: np.ndarray) -> np.ndarray:
    """uint8 varint stream → uint64 array."""
    b = np.ascontiguousarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) > 0
    is_last = ~cont
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    value_idx = np.cumsum(np.concatenate(([0], is_last[:-1].astype(np.int64))))
    offset = np.arange(b.size, dtype=np.int64) - starts[value_idx]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * offset.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def encode_block(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_base: int
) -> bytes:
    """Sorted unique int64 doc_ids (+ parallel tf/dl) → delta+varint blob."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    gaps = np.empty(d.shape, dtype=np.uint64)
    if d.size:
        gaps[0] = np.uint64(int(d[0]) - int(block_base))
        np.subtract(d[1:], d[:-1], out=gaps[1:].view(np.int64))
    stream = np.concatenate(
        [gaps, np.asarray(tfs, dtype=np.uint64), np.asarray(dls, dtype=np.uint64)]
    )
    return varint_encode(stream).tobytes()


def decode_block(data: bytes, n: int, block_base: int):
    """blob → (doc_ids int64, tfs int64, dls int64)."""
    stream = varint_decode(np.frombuffer(data, dtype=np.uint8))
    assert stream.size == 3 * n, f"corrupt block: {stream.size} != 3*{n}"
    gaps = stream[:n].astype(np.int64)
    doc_ids = np.cumsum(gaps) + np.int64(block_base)
    tfs = stream[n : 2 * n].astype(np.int64)
    dls = stream[2 * n :].astype(np.int64)
    return doc_ids, tfs, dls


def compression_ratio(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, base: int) -> float:
    """vs the reference's 4-byte-per-int baseline (compression.py:642-699)."""
    raw = 4 * 3 * len(doc_ids)
    enc = len(encode_block(doc_ids, tfs, dls, base))
    return enc / raw if raw else 1.0


# ------------------------------------------------- Elias Gamma / Delta
# Reference semantics (src/ir/index/compression.py:260-639):
#   gamma(n) = 0^L ++ binary(n),  L = bit_length(n) - 1  → 2L+1 bits, and
#     the code read as an unsigned MSB-first field of width 2L+1 IS n.
#   delta(n) = gamma(bit_length(n)) ++ low (bit_length(n)-1) bits of n.
# Both are therefore "write value v in a w-bit MSB-first field", which a
# generic vectorized bit-packer handles with no per-value Python in the
# encode path. n ≥ 1 required (the reference raises on 0).


def gamma_bit_lengths(vals: np.ndarray) -> np.ndarray:
    """Bits gamma(n) occupies: 2*floor(log2 n) + 1. Matches the JVM column
    form ``2*(length(bin(n))-1)+1`` used by the oracle-checked size stats."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if (v < 1).any():
        raise ValueError("Gamma encoding requires positive integers")
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        bl += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(1)
    return 2 * bl - 1


def delta_bit_lengths(vals: np.ndarray) -> np.ndarray:
    """Bits delta(n) occupies: gamma_bits(bit_length(n)) + bit_length(n)-1."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    bl = (gamma_bit_lengths(v) + 1) // 2  # bit_length(n)
    return gamma_bit_lengths(bl.astype(np.uint64)) + bl - 1


def _pack_bits(vals: np.ndarray, widths: np.ndarray) -> tuple[np.ndarray, int]:
    """MSB-first bit-pack each vals[i] into a widths[i]-bit field,
    concatenated; → (uint8 stream, total_bits). Vectorized over the TOTAL
    bit count (one searchsorted + one scatter-or), no per-value loop."""
    total = int(widths.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8), 0
    ends = np.cumsum(widths)
    starts = ends - widths
    idx = np.arange(total, dtype=np.int64)
    seg = np.searchsorted(ends, idx, side="right")
    shift = (widths[seg] - 1 - (idx - starts[seg])).astype(np.uint64)
    bits = ((vals[seg] >> shift) & np.uint64(1)).astype(np.uint8)
    out = np.zeros((total + 7) // 8, dtype=np.uint8)
    np.bitwise_or.at(out, idx >> 3, bits << (7 - (idx & 7)).astype(np.uint8))
    return out, total


def _unpack_bits(stream: np.ndarray, total_bits: int) -> np.ndarray:
    b = np.unpackbits(np.ascontiguousarray(stream, dtype=np.uint8))
    return b[:total_bits]


def gamma_encode(vals: np.ndarray) -> tuple[bytes, int]:
    """uint64 (all ≥ 1) → (MSB-first Elias-gamma stream, total_bits).
    Bit-exact with the reference's string codes ('00101' for 5, …)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    return (lambda s: (s[0].tobytes(), s[1]))(_pack_bits(v, gamma_bit_lengths(v)))


def gamma_decode(data: bytes, total_bits: int) -> np.ndarray:
    """Inverse of gamma_encode. Per-code loop (decode is the parity/test
    path; varint remains the production block codec)."""
    bits = _unpack_bits(np.frombuffer(data, dtype=np.uint8), total_bits)
    out, pos, n = [], 0, bits.size
    while pos < n:
        zeros = 0
        while bits[pos] == 0:
            zeros += 1
            pos += 1
        width = zeros + 1
        val = 0
        for _ in range(width):
            val = (val << 1) | int(bits[pos])
            pos += 1
        out.append(val)
    return np.asarray(out, dtype=np.uint64)


def delta_encode(vals: np.ndarray) -> tuple[bytes, int]:
    """uint64 (all ≥ 1) → (MSB-first Elias-delta stream, total_bits).
    Field value = gamma-prefix ∘ offset as ONE integer: the gamma code of
    b=bit_length(n) reads as b, the trailing b-1 bits are n - 2^(b-1), so
    the field is (b << (b-1)) | offset at width γbits(b) + b - 1."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    bl = ((gamma_bit_lengths(v) + 1) // 2).astype(np.uint64)  # bit_length
    # the packed field is one uint64: its width is γbits(bl) + bl - 1,
    # which exceeds 64 for bit_length ≥ 55 ((bl << (bl-1)) wraps on
    # uint64 and the stream decodes garbage) — reject instead of wrap.
    # Doc-id gaps never approach 2^54; this is a safety net, not a limit
    # a posting stream can hit.
    if v.size and int(bl.max()) > 54:
        raise ValueError(
            "delta_encode: value with bit_length "
            f"{int(bl.max())} > 54 — its Elias-delta code exceeds the "
            "64-bit packing field"
        )
    offset = v - (np.uint64(1) << (bl - np.uint64(1)))
    field = (bl << (bl - np.uint64(1))) | offset
    widths = gamma_bit_lengths(bl) + bl.astype(np.int64) - 1
    s, total = _pack_bits(field, widths)
    return s.tobytes(), total


def delta_decode(data: bytes, total_bits: int) -> np.ndarray:
    bits = _unpack_bits(np.frombuffer(data, dtype=np.uint8), total_bits)
    out, pos = [], 0
    while pos < bits.size:
        zeros = 0
        while bits[pos] == 0:
            zeros += 1
            pos += 1
        bl = 0
        for _ in range(zeros + 1):  # gamma-coded bit_length(n)
            bl = (bl << 1) | int(bits[pos])
            pos += 1
        val = 1
        for _ in range(bl - 1):
            val = (val << 1) | int(bits[pos])
            pos += 1
        out.append(val)
    return np.asarray(out, dtype=np.uint64)


# ------------------------------------------------------------ PForDelta
# Patched Frame-of-Reference (PForDelta — Zukowski et al., "Super-Scalar
# RAM-CPU Cache Compression", ICDE 2006; the north rule names it alongside
# varint as the posting-block codec family). Layout per stream, fully
# self-describing so three streams (gaps/tfs/dls) can be chained in one
# block blob and decoded sequentially:
#
#     byte 0            : b  (frame bit width, 0..63)
#     varint            : n  (value count)
#     varint            : n_exc (exception count)
#     ceil(n*b/8) bytes : low b bits of EVERY value, MSB-first per value
#     varint stream     : exception positions as deltas (first = pos0,
#                         then pos[i] - pos[i-1]; strictly increasing)
#     varint stream     : exception high parts (v >> b, each ≥ 1)
#
# b is chosen EXHAUSTIVELY as the width minimizing the exact encoded byte
# size (ties → smallest b) — deterministic, so an independent
# re-implementation (the DuckDB oracle) reproduces byte counts from the
# closed-form cost alone:
#
#   cost(b) = 1 + varint_bytes(n) + varint_bytes(n_exc(b)) + ceil(n*b/8)
#           + Σ varint_bytes(pos deltas)  + Σ varint_bytes(v >> b)
#             over values with bit_length(v) > b
#
# Reference parity: the reference ships VByte/Gamma/Delta only
# (src/ir/index/compression.py:73-639); PForDelta is the north-rule
# extension filling the "varint/PForDelta block compression" requirement.


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        bl += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(1)
    return bl


def _varint_bytes_scalar(x: int) -> int:
    return 1 if x == 0 else (x.bit_length() + 6) // 7


def pfor_choose_width(vals: np.ndarray) -> tuple[int, int]:
    """(b*, total_bytes) minimizing the exact encoded size; ties → smaller
    b. Loop over candidate widths (≤ max bit_length ≤ 64 iterations), each
    iteration vectorized."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = v.size
    bl = _bit_lengths(v)
    max_bl = int(bl.max()) if n else 0
    fixed = 1 + _varint_bytes_scalar(n)
    best_b, best_cost = 0, None
    for b in range(max_bl + 1):
        mask = bl > b
        n_exc = int(mask.sum())
        cost = fixed + _varint_bytes_scalar(n_exc) + (n * b + 7) // 8
        if n_exc:
            # high parts: v >> b has bit_length bl - b
            cost += int(((bl[mask] - b + 6) // 7).sum())
            pos = np.flatnonzero(mask).astype(np.uint64)
            deltas = np.empty(pos.shape, dtype=np.uint64)
            deltas[0] = pos[0]
            deltas[1:] = pos[1:] - pos[:-1]
            cost += int(varint_byte_lengths(deltas).sum())
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    return best_b, int(best_cost if best_cost is not None else fixed + 1)


def pfor_encode(vals: np.ndarray) -> bytes:
    """uint64 array → self-describing PForDelta stream (layout above)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = v.size
    b, _ = pfor_choose_width(v)
    head = bytes([b]) + varint_encode(np.array([n], dtype=np.uint64)).tobytes()
    if n == 0:
        return head + varint_encode(np.array([0], dtype=np.uint64)).tobytes()
    bl = _bit_lengths(v)
    mask = bl > b
    n_exc = int(mask.sum())
    parts = [head, varint_encode(np.array([n_exc], dtype=np.uint64)).tobytes()]
    if b:
        low = v & ((np.uint64(1) << np.uint64(b)) - np.uint64(1))
        packed, _ = _pack_bits(low, np.full(n, b, dtype=np.int64))
        parts.append(packed.tobytes())
    if n_exc:
        pos = np.flatnonzero(mask).astype(np.uint64)
        deltas = np.empty(pos.shape, dtype=np.uint64)
        deltas[0] = pos[0]
        deltas[1:] = pos[1:] - pos[:-1]
        parts.append(varint_encode(deltas).tobytes())
        parts.append(varint_encode(v[mask] >> np.uint64(b)).tobytes())
    return b"".join(parts)


def _varint_decode_count(buf: np.ndarray, offset: int, count: int):
    """Decode exactly ``count`` varints starting at ``offset`` →
    (values, next_offset). Varints are self-terminating (MSB clear on the
    final byte), so the consumed span is found by scanning terminators."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    is_last = (buf[offset:] & 0x80) == 0
    ends = np.flatnonzero(is_last)
    stop = offset + int(ends[count - 1]) + 1
    return varint_decode(buf[offset:stop]), stop


def pfor_decode_at(buf: np.ndarray, offset: int = 0):
    """Decode one PForDelta stream at ``offset`` → (uint64 values,
    next_offset). Sequential chaining = block decode."""
    b = int(buf[offset])
    (narr, off) = _varint_decode_count(buf, offset + 1, 1)
    n = int(narr[0])
    (earr, off) = _varint_decode_count(buf, off, 1)
    n_exc = int(earr[0])
    if n == 0:
        return np.empty(0, dtype=np.uint64), off
    if b:
        nbytes = (n * b + 7) // 8
        bits = np.unpackbits(buf[off : off + nbytes])[: n * b].reshape(n, b)
        weights = (np.uint64(1) << np.arange(b - 1, -1, -1, dtype=np.uint64))
        vals = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        off += nbytes
    else:
        vals = np.zeros(n, dtype=np.uint64)
    if n_exc:
        deltas, off = _varint_decode_count(buf, off, n_exc)
        highs, off = _varint_decode_count(buf, off, n_exc)
        pos = np.cumsum(deltas.astype(np.int64))
        vals[pos] |= highs << np.uint64(b)
    return vals, off


def pfor_decode(data: bytes) -> np.ndarray:
    vals, _ = pfor_decode_at(np.frombuffer(data, dtype=np.uint8), 0)
    return vals


def encode_block_pfor(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_base: int
) -> bytes:
    """PForDelta twin of ``encode_block``: same (sorted-unique doc_ids,
    tfs, dls, base) contract, blob = pfor(gaps) ++ pfor(tfs) ++ pfor(dls)
    (each stream self-describing, decoded sequentially)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    gaps = np.empty(d.shape, dtype=np.uint64)
    if d.size:
        gaps[0] = np.uint64(int(d[0]) - int(block_base))
        np.subtract(d[1:], d[:-1], out=gaps[1:].view(np.int64))
    return (
        pfor_encode(gaps)
        + pfor_encode(np.asarray(tfs, dtype=np.uint64))
        + pfor_encode(np.asarray(dls, dtype=np.uint64))
    )


def decode_block_pfor(data: bytes, n: int, block_base: int):
    """blob → (doc_ids int64, tfs int64, dls int64); inverse of
    ``encode_block_pfor``. ``n`` is validated against the stream headers."""
    buf = np.frombuffer(data, dtype=np.uint8)
    gaps, off = pfor_decode_at(buf, 0)
    tfs, off = pfor_decode_at(buf, off)
    dls, off = pfor_decode_at(buf, off)
    assert gaps.size == tfs.size == dls.size == n, (
        f"corrupt pfor block: {gaps.size}/{tfs.size}/{dls.size} != {n}"
    )
    doc_ids = np.cumsum(gaps.astype(np.int64)) + np.int64(block_base)
    return doc_ids, tfs.astype(np.int64), dls.astype(np.int64)


# Pluggable block-codec registry (SURVEY.md §7 "keep codec pluggable").
# "varint" is the production default — its byte layout is pinned by the
# oracle-checked compression stats; "pfor" is selected via the ``codec``
# parameter on build_blocked_postings / merge_segments / wand_topk.
BLOCK_CODECS: dict = {
    "varint": (encode_block, decode_block),
    "pfor": (encode_block_pfor, decode_block_pfor),
}


def pfor_stats(doc_ids: np.ndarray) -> dict:
    """Per-posting-list PForDelta size report over the SAME totalized gap
    stream as ``compare_compression`` (first gap = doc_id[0] + 1): chosen
    width, exception count, encoded bytes (actual encoder output — the
    DuckDB oracle reproduces the number from the closed-form cost)."""
    g = _gaps(np.asarray(doc_ids))
    b, cost = pfor_choose_width(g)
    blob = pfor_encode(g)
    assert len(blob) == cost, f"pfor cost model drift: {len(blob)} != {cost}"
    n_exc = int((_bit_lengths(g) > b).sum())
    raw = 4 * len(g)
    return {
        "n": int(len(g)),
        "b": int(b),
        "n_exceptions": n_exc,
        "compressed_size": len(blob),
        "compression_ratio": len(blob) / raw if raw else 1.0,
    }


def _gaps(doc_ids: np.ndarray) -> np.ndarray:
    """Reference encode_gaps (compression.py:410-434): first gap is the
    first doc_id itself — which its gamma path REJECTS for doc_id 0. We
    totalize with first gap = doc_id[0] + 1 (offset from −1) so dense
    0-based ids encode; documented deviation, applied identically in the
    DuckDB oracle."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    g = np.empty(d.shape, dtype=np.uint64)
    if d.size:
        g[0] = np.uint64(int(d[0]) + 1)
        np.subtract(d[1:], d[:-1], out=g[1:].view(np.int64))
    return g


def compare_compression(doc_ids: np.ndarray) -> dict:
    """Reference compare_compression (compression.py:642-699): gap-encode
    one sorted posting list under VByte / Gamma / Delta, report sizes vs
    the 4-bytes-per-int baseline. Bit counts → bytes via ceil, per list."""
    g = _gaps(np.asarray(doc_ids))
    raw = 4 * len(g)
    vb = int(varint_byte_lengths(g).sum())
    gb = (int(gamma_bit_lengths(g).sum()) + 7) // 8
    db = (int(delta_bit_lengths(g).sum()) + 7) // 8
    return {
        "original_size": raw,
        "vbyte": {"compressed_size": vb, "compression_ratio": vb / raw if raw else 1.0},
        "gamma": {"compressed_size": gb, "compression_ratio": gb / raw if raw else 1.0},
        "delta": {"compressed_size": db, "compression_ratio": db / raw if raw else 1.0},
    }


# ----------------------------------------------------------- Elias-Fano
# Quasi-succinct monotone-list codec (Vigna 2013; the doc-id list format
# of modern engines). Beyond the reference's codec set (compression.py
# ships VByte/Gamma/Delta only) — listed in the comparison suite because
# it is the standard answer for sorted doc-id lists at scale: n*l low
# bits + a unary high-bits bitmap, ~2 + log2(universe/n) bits/element,
# with O(1) select-based random access in real deployments.


def ef_params(vals: np.ndarray) -> tuple[int, int, int]:
    """(n, l, total_bits) for a strictly-increasing non-negative array.
    l = floor(log2(u/n)) with u = max+1 (computed as bit_length(u//n)-1,
    exact because floor(log2 x) = bit_length(floor x)-1 for x ≥ 1);
    total_bits = n*l + (max >> l) + n (low stream + high bitmap)."""
    n = len(vals)
    if n == 0:
        return 0, 0, 0
    mx = int(vals[-1])
    u = mx + 1
    ratio = u // n
    l = ratio.bit_length() - 1 if ratio >= 1 else 0
    return n, l, n * l + (mx >> l) + n


def ef_encode(vals: np.ndarray) -> tuple[bytes, int]:
    """Elias-Fano encode a strictly-increasing non-negative int64 array →
    (payload, l). Layout: n*l low bits (LSB-first per value), then the
    high bitmap with bit (v_i >> l) + i set; both packed little-endian.
    Vectorized: the only Python-level loop is over the l bit positions
    (≤ 63), never over values."""
    v = np.asarray(vals, dtype=np.int64)
    n, l, total_bits = ef_params(v)
    if n == 0:
        return b"", 0
    if n > 1 and not (v[1:] > v[:-1]).all():
        raise ValueError("ef_encode requires a strictly increasing array")
    if int(v[0]) < 0:
        raise ValueError("ef_encode requires non-negative values")
    bits = np.zeros(total_bits, dtype=np.uint8)
    for j in range(l):  # low bits: value i bit j at position i*l + j
        bits[j::l][:n] = (v >> j) & 1
    hi = (v >> l) + np.arange(n, dtype=np.int64)
    bits[n * l + hi] = 1
    return np.packbits(bits, bitorder="little").tobytes(), l


def ef_decode(data: bytes, n: int, l: int) -> np.ndarray:
    """Inverse of ef_encode."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    lows = np.zeros(n, dtype=np.int64)
    for j in range(l):
        lows |= bits[j::l][:n].astype(np.int64) << j
    positions = np.flatnonzero(bits[n * l:])[:n]
    high = positions - np.arange(n, dtype=np.int64)
    return (high << l) | lows


def encode_block_ef(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_base: int
) -> bytes:
    """Elias-Fano twin of ``encode_block``: doc ids (sorted unique,
    rebased to the block span) as a quasi-succinct EF stream, tf/dl as
    self-describing PFor streams. Layout:
    [1B l][varint ef_nbytes][ef payload][pfor(tfs)][pfor(dls)]."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64) - np.int64(block_base)
    payload, l = ef_encode(d) if d.size else (b"", 0)
    header = bytes([l]) + varint_encode(
        np.array([len(payload)], dtype=np.uint64)
    ).tobytes()
    return (
        header
        + payload
        + pfor_encode(np.asarray(tfs, dtype=np.uint64))
        + pfor_encode(np.asarray(dls, dtype=np.uint64))
    )


def decode_block_ef(data: bytes, n: int, block_base: int):
    """Inverse of ``encode_block_ef`` → (doc_ids, tfs, dls) int64."""
    buf = np.frombuffer(data, dtype=np.uint8)
    l = int(buf[0])
    nb, off = _varint_decode_count(buf, 1, 1)
    ef_nbytes = int(nb[0])
    payload = buf[off:off + ef_nbytes].tobytes()
    doc_ids = ef_decode(payload, n, l) + np.int64(block_base)
    off += ef_nbytes
    tfs, off = pfor_decode_at(buf, off)
    dls, off = pfor_decode_at(buf, off)
    assert tfs.size == dls.size == n, (
        f"corrupt ef block: {tfs.size}/{dls.size} != {n}"
    )
    return doc_ids, tfs.astype(np.int64), dls.astype(np.int64)


BLOCK_CODECS["ef"] = (encode_block_ef, decode_block_ef)


# ------------------------------------------- batch encode / decode
# One call per batch of blocks (a whole partition in the segment kernels).
# varint: one interleaved [gaps | tfs | dls]-per-block stream, so each
# direction is ONE vectorized varint pass. pfor/ef pick parameters per
# block, so they loop their (vectorized) block codec over the batch.


def _block_layout(n: np.ndarray):
    """Block id and stream position of each block's gap values, for the
    interleaved [gaps | tfs | dls] layout of blocks sized ``n``."""
    starts = np.cumsum(n) - n
    gid = np.repeat(np.arange(n.size), n)
    return starts, gid, 2 * starts[gid] + np.arange(gid.size, dtype=np.int64)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    n: np.ndarray,
    base: np.ndarray,
    codec: str = "varint",
) -> list:
    """Encode consecutive blocks (block i owns the next ``n[i]`` ≥ 1
    postings, doc-sorted, based at ``base[i]``) → one blob per block,
    byte-identical to ``BLOCK_CODECS[codec][0]`` applied block by block."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    n = np.asarray(n, dtype=np.int64)
    if codec != "varint":
        enc_fn = BLOCK_CODECS[codec][0]
        ends = np.cumsum(n)
        return [
            enc_fn(d[e - k:e], tfs[e - k:e], dls[e - k:e], int(b))
            for e, k, b in zip(ends, n, base)
        ]
    starts, gid, pos = _block_layout(n)
    gaps = np.empty(d.size, dtype=np.uint64)
    gaps[1:] = (d[1:] - d[:-1]).astype(np.uint64)
    gaps[starts] = (d[starts] - np.asarray(base, dtype=np.int64)).astype(np.uint64)
    stream = np.empty(3 * d.size, dtype=np.uint64)
    stream[pos] = gaps
    stream[pos + n[gid]] = np.asarray(tfs, dtype=np.uint64)
    stream[pos + 2 * n[gid]] = np.asarray(dls, dtype=np.uint64)
    enc = varint_encode(stream).tobytes()
    nbytes = np.add.reduceat(varint_byte_lengths(stream), 3 * starts)
    ends = np.cumsum(nbytes)
    return [enc[e - k:e] for e, k in zip(ends, nbytes)]


def decode_blocks(data, n: np.ndarray, base: np.ndarray, codec: str = "varint"):
    """Inverse of ``encode_blocks``: blobs (with their ``n`` and ``base``)
    → (doc_ids, tfs, dls) int64, the blocks' postings concatenated in
    input order. varint joins the blobs, decodes them with ONE
    ``varint_decode``, splits the stream by ``n`` and takes a segmented
    cumsum for the doc ids. Each block is checked on its own: a blob that
    does not hold exactly 3·n whole values raises ValueError."""
    n = np.asarray(n, dtype=np.int64)
    base = np.asarray(base, dtype=np.int64)
    if codec != "varint":
        dec_fn = BLOCK_CODECS[codec][1]
        parts = [dec_fn(x, int(k), int(b)) for x, k, b in zip(data, n, base)]
        return tuple(np.concatenate(c) for c in zip(*parts or [[np.empty(0, np.int64)] * 3]))
    nbytes = np.fromiter(map(len, data), dtype=np.int64, count=n.size)
    buf = np.frombuffer(b"".join(data), dtype=np.uint8)
    # values per blob = its terminator bytes; a blob ending mid-value
    # would run its last value into the next blob
    is_last = (buf & 0x80) == 0
    ends = np.cumsum(nbytes)
    seen = np.concatenate(([0], np.cumsum(is_last)))
    bad = seen[ends] - seen[ends - nbytes] != 3 * n
    bad[nbytes > 0] |= ~is_last[ends[nbytes > 0] - 1]
    if bad.any():
        raise ValueError(f"corrupt block {int(np.argmax(bad))}: not 3*n whole varints")
    stream = varint_decode(buf)
    starts, gid, pos = _block_layout(n)
    gaps = stream[pos].astype(np.int64)
    run = np.cumsum(gaps)
    before = np.concatenate(([0], run))[starts]  # gap total before each block
    doc_ids = run + np.repeat(base - before, n)
    return (
        doc_ids,
        stream[pos + n[gid]].astype(np.int64),
        stream[pos + 2 * n[gid]].astype(np.int64),
    )
