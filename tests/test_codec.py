"""Codec round-trip properties (FIXTURES.md §7 cases + hypothesis)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from news_information_retrieval_system_spark.index.codec import (
    BLOCK_CODECS,
    compression_ratio,
    decode_block,
    decode_blocks,
    encode_block,
    encode_blocks,
    varint_decode,
    varint_encode,
)

FIXTURE_ARRAYS = [
    [],
    [0],
    [7],
    list(range(100)),  # dense run, gap 1
    [0, 1 << 14, 1 << 30, (1 << 40) + 5],  # sparse, gaps > 2^14
    list(range(127)),
    list(range(128)),
    list(range(129)),
    [2**62, 2**62 + 1, 2**63 - 1],  # max-int64-ish
]


@pytest.mark.parametrize("vals", FIXTURE_ARRAYS)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.tolist() == arr.tolist()


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**20 - 1), min_size=1, max_size=200, unique=True
    ),
    st.integers(min_value=0, max_value=2**30),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip_property(doc_offsets, base):
    doc_ids = np.sort(np.array(doc_offsets, dtype=np.int64)) + base
    n = len(doc_ids)
    tfs = (doc_ids % 13 + 1).astype(np.int64)
    dls = (doc_ids % 57 + 1).astype(np.int64)
    blob = encode_block(doc_ids, tfs, dls, base)
    d2, t2, l2 = decode_block(blob, n, base)
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == dls.tolist()


def test_negative_doc_ids_roundtrip():
    # xxhash64-derived ids are signed; block_base = block_key << span via
    # arithmetic shift keeps offsets in [0, 2^span)
    span = 14
    ids = np.sort(np.array([-5_000_000_001, -5_000_000_000, -4_999_999_123], dtype=np.int64))
    bk = ids[0] >> span
    assert (ids >> span == bk).all() or True
    # group per block as the builder would
    for key in np.unique(ids >> span):
        sel = ids[(ids >> span) == key]
        base = int(key) << span
        blob = encode_block(sel, np.ones_like(sel), np.ones_like(sel), base)
        d2, _, _ = decode_block(blob, len(sel), base)
        assert d2.tolist() == sel.tolist()


def test_compression_beats_baseline_on_dense_runs():
    ids = np.arange(10_000, dtype=np.int64)
    tfs = np.ones(10_000, dtype=np.int64)
    dls = np.full(10_000, 30, dtype=np.int64)
    # gaps of 1, tf 1, dl 30 → ~1 byte per int vs 4-byte baseline
    assert compression_ratio(ids, tfs, dls, 0) < 0.3


# ---------------------------------------------------- Elias Gamma / Delta
from news_information_retrieval_system_spark.index.codec import (  # noqa: E402
    compare_compression,
    delta_bit_lengths,
    delta_decode,
    delta_encode,
    gamma_bit_lengths,
    gamma_decode,
    gamma_encode,
    varint_byte_lengths,
)


def _bitstr(data: bytes, total_bits: int) -> str:
    b = np.frombuffer(data, dtype=np.uint8)
    return "".join(str((b[i // 8] >> (7 - i % 8)) & 1) for i in range(total_bits))


def test_gamma_reference_examples():
    """Bit-exact with reference compression.py:278-290 docstrings."""
    for n, code in [(1, "1"), (5, "00101"), (13, "0001101")]:
        s, tb = gamma_encode(np.array([n], dtype=np.uint64))
        assert _bitstr(s, tb) == code


def test_delta_reference_examples():
    """Bit-exact with reference compression.py:478-486 docstrings."""
    for n, code in [(1, "1"), (5, "01101"), (13, "00100101")]:
        s, tb = delta_encode(np.array([n], dtype=np.uint64))
        assert _bitstr(s, tb) == code


@given(st.lists(st.integers(min_value=1, max_value=2**40), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_gamma_delta_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    s, tb = gamma_encode(arr)
    assert gamma_decode(s, tb).tolist() == vals
    assert tb == int(gamma_bit_lengths(arr).sum())
    s, tb = delta_encode(arr)
    assert delta_decode(s, tb).tolist() == vals
    assert tb == int(delta_bit_lengths(arr).sum())


def test_bit_length_formulas_match_column_expressions():
    """The JVM/SQL size expressions used by the compression_compare oracle
    (2*(bitlen-1)+1 and 2*(bitlen(bitlen)-1)+1 + bitlen-1) must equal the
    real encoders' output sizes value-for-value."""
    v = np.arange(1, 5000, dtype=np.uint64)
    bl = np.frompyfunc(int.bit_length, 1, 1)(v.astype(object)).astype(np.int64)
    assert (gamma_bit_lengths(v) == 2 * (bl - 1) + 1).all()
    blbl = np.frompyfunc(int.bit_length, 1, 1)(bl.astype(object)).astype(np.int64)
    assert (delta_bit_lengths(v) == 2 * (blbl - 1) + 1 + bl - 1).all()
    # varint byte CASE used in SQL
    cases = np.select(
        [v < 128, v < 16384, v < 2097152, v < 268435456], [1, 2, 3, 4], 5
    )
    assert (varint_byte_lengths(v) == cases).all()


def test_compare_compression_reference_example():
    """Reference compare_compression docstring (compression.py:653-656):
    doc_ids [3,7,10,15,22,30,35] → vbyte ratio 0.25 (7 one-byte gaps /
    28-byte baseline). Our first gap is doc_id[0]+1=4, still one byte."""
    stats = compare_compression(np.array([3, 7, 10, 15, 22, 30, 35]))
    assert stats["original_size"] == 28
    assert stats["vbyte"]["compressed_size"] == 7
    assert stats["vbyte"]["compression_ratio"] == 0.25
    # gamma bits: gaps [4,4,3,5,7,8,5] → 5+5+3+5+5+7+5 = 35 bits → 5 bytes
    assert stats["gamma"]["compressed_size"] == 5
    # delta bits: [4,4,3,5,7,8,5] → 5+5+4+5+5+8+5 = 37 bits → 5 bytes
    assert stats["delta"]["compressed_size"] == 5


def _block_batch(seed=5, n_blocks=40):
    """Doc-sorted blocks of 1..60 postings in 2^14-doc spans, some based
    below zero."""
    rng = np.random.default_rng(seed)
    n = rng.integers(1, 60, n_blocks)
    base = rng.integers(-3, 40, n_blocks) << 14
    d = np.concatenate(
        [np.sort(rng.choice(1 << 14, k, replace=False)) + b for k, b in zip(n, base)]
    )
    return d, rng.integers(1, 300, d.size), rng.integers(1, 5000, d.size), n, base


@pytest.mark.parametrize("codec", ["varint", "pfor", "ef"])
def test_batch_codec_equals_per_block_codec(codec):
    """encode_blocks/decode_blocks (one call per partition) produce and
    read exactly the blobs of the per-block codec."""
    d, tf, dl, n, base = _block_batch()
    enc_fn = BLOCK_CODECS[codec][0]
    ends = np.cumsum(n)
    want = [
        enc_fn(d[e - k:e], tf[e - k:e], dl[e - k:e], int(b))
        for e, k, b in zip(ends, n, base)
    ]
    blobs = encode_blocks(d, tf, dl, n, base, codec)
    assert blobs == want
    for got, exp in zip(decode_blocks(blobs, n, base, codec), (d, tf, dl)):
        assert got.dtype == np.int64 and (got == exp).all()
    empty = decode_blocks([], np.array([], np.int64), np.array([], np.int64), codec)
    assert [x.size for x in empty] == [0, 0, 0]


def test_batch_decode_rejects_damaged_blob():
    """The joined-stream varint decode keeps the per-block check: a blob
    cut short, or one ending mid-value (which would run into the next
    blob), raises instead of shifting every later block's postings."""
    d, tf, dl, n, base = _block_batch()
    blobs = encode_blocks(d, tf, dl, n, base)
    for bad in (blobs[7][:-1], blobs[7] + b"\x80"):
        with pytest.raises(ValueError, match="corrupt block 7"):
            decode_blocks(blobs[:7] + [bad] + blobs[8:], n, base)
