"""Varbyte/delta codec property tests (FIXTURES.md §4). Each roundtrip
test takes a list of blocks: every block must roundtrip on its own, and
the multi-block decode of the whole column must equal the per-block
decodes concatenated."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_engine_spark.codec import (
    decode_doc_id_blocks,
    decode_doc_ids,
    decode_positions,
    encode_doc_ids,
    encode_positions,
    varbyte_decode,
    varbyte_decode_blocks,
    varbyte_encode,
)

MAX_ID = 2**63 - 1

BOUNDARIES = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**28 - 1, 2**28, 2**63 - 1, 2**64 - 1]


def test_varbyte_boundaries():
    a = np.array(BOUNDARIES, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(a)), a)


def test_empty():
    assert varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
    assert decode_doc_ids(encode_doc_ids(np.empty(0, dtype=np.int64))).size == 0


@given(st.lists(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=128), max_size=5))
@settings(max_examples=200, deadline=None)
@example([[2**64 - 1], list(range(128)), [0]])
@example([])
def test_varbyte_roundtrip(blocks):
    arrays = [np.array(xs, dtype=np.uint64) for xs in blocks]
    blobs = [varbyte_encode(a) for a in arrays]
    for a, blob in zip(arrays, blobs):
        assert np.array_equal(varbyte_decode(blob), a)
    vals, counts = varbyte_decode_blocks(blobs)
    assert np.array_equal(vals, np.concatenate([np.empty(0, dtype=np.uint64), *arrays]))
    assert counts.tolist() == [a.size for a in arrays]


@given(
    st.lists(
        st.sets(st.integers(min_value=-MAX_ID, max_value=MAX_ID), min_size=1, max_size=128),
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
@example([{-MAX_ID}, {MAX_ID}, {-MAX_ID, 0, MAX_ID}, {MAX_ID - 1, MAX_ID}])
@example([set(range(-64, 64)), set(range(MAX_ID - 127, MAX_ID + 1))])
@example([])
def test_doc_id_roundtrip(blocks):
    arrays = [np.array(sorted(ids), dtype=np.int64) for ids in blocks]
    blobs = [encode_doc_ids(a) for a in arrays]
    for a, blob in zip(arrays, blobs):
        assert np.array_equal(decode_doc_ids(blob), a)
    ids, counts = decode_doc_id_blocks(blobs)
    assert ids.dtype == np.int64
    assert np.array_equal(ids, np.concatenate([np.empty(0, dtype=np.int64), *arrays]))
    assert counts.tolist() == [a.size for a in arrays]


@given(
    st.lists(
        st.lists(
            st.lists(st.integers(min_value=1, max_value=10000), min_size=1, max_size=30, unique=True),
            max_size=40,
        ),
        max_size=4,
    )
)
@settings(max_examples=100, deadline=None)
@example([[[1]], [[7, 3]], [[1]]])
@example([])
def test_positions_roundtrip(blocks):
    pbs, lbs, cats, lenss = [], [], [], []
    for plists in blocks:
        plists = [sorted(p) for p in plists]
        lens = np.array([len(p) for p in plists], dtype=np.uint64)
        cat = np.array([x for p in plists for x in p], dtype=np.uint64)
        pb, lb = encode_positions(cat, lens)
        dp, dl = decode_positions(pb, lb)
        assert np.array_equal(dl, lens)
        assert np.array_equal(dp, cat)
        pbs.append(pb)
        lbs.append(lb)
        cats.append(cat)
        lenss.append(lens)
    dp, dl = decode_positions(b"".join(pbs), b"".join(lbs))
    assert np.array_equal(dl, np.concatenate([np.empty(0, dtype=np.uint64), *lenss]))
    assert np.array_equal(dp, np.concatenate([np.empty(0, dtype=np.uint64), *cats]))
