"""Varint/delta codec property + edge tests (SURVEY §5.1; codec is §4.3.2's
posting-block compression — reference stores uncompressed rows,
``model/Index.java:14-40``)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.functions.codec import (
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known_values():
    # 0 and 127 fit one byte; 128 needs two (LEB128)
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300
    )
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, arr)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
@settings(max_examples=200, deadline=None)
def test_postings_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.int64))
    out = decode_postings(encode_postings(arr))
    np.testing.assert_array_equal(out, arr)


def test_delta_gaps_positive():
    ids = np.array([5, 9, 10, 1000], dtype=np.int64)
    gaps = delta_encode(ids)
    assert gaps[0] == 5
    assert (gaps[1:] > 0).all()  # strictly increasing ids → positive gaps
    np.testing.assert_array_equal(delta_decode(gaps), ids)


def test_varint_large_array_compresses():
    # dense doc ids → gap 1 → one byte per posting (the point of the codec)
    ids = np.arange(10_000, dtype=np.int64)
    enc = encode_postings(ids)
    assert len(enc) == 10_000  # 1 absolute (gap 0 → 1 byte) + 9999 gap-1 bytes


def test_group_encoder_sliced_list_array():
    """make_group_encoder must honor Arrow list offsets even on SLICED
    batches (offsets then index into the un-sliced child array)."""
    import numpy as np
    import pyarrow as pa

    from searchengine_spark.functions.codec import varint_decode
    from searchengine_spark.operators.postings import make_group_encoder

    ps_type = pa.list_(pa.struct([("doc_id", pa.int64()), ("tf", pa.int32())]))
    rows = [
        [(5, 2), (9, 1)],
        [(1, 3), (2, 1), (300, 7)],
        [(4, 1)],
    ]
    ps = pa.array(
        [[{"doc_id": d, "tf": t} for d, t in r] for r in rows], type=ps_type
    )
    shard = pa.array([0, 0, 1], pa.int64())
    tid = pa.array([7, 8, 7], pa.int64())
    batch = pa.record_batch([shard, tid, ps], names=["shard", "term_id", "ps"])
    sliced = batch.slice(1, 2)  # offsets base != 0
    enc = make_group_encoder(block_size=2)
    out = pa.Table.from_batches(list(enc(iter([sliced])))).to_pydict()
    # group (0, 8): 3 postings → 2 blocks of sizes 2,1; group (1, 7): 1 block
    assert out["count"] == [2, 1, 1]
    assert out["min_doc"] == [1, 300, 4]
    assert out["max_doc"] == [2, 300, 4]
    assert out["block_max_tf"] == [3, 7, 1]
    # gaps: absolute at block start
    g0 = varint_decode(out["doc_gaps"][0])
    assert list(g0) == [1, 1]  # doc 1 absolute, then gap 1 → doc 2
    g1 = varint_decode(out["doc_gaps"][1])
    assert list(g1) == [300]
