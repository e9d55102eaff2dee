"""Varbyte/delta codec property tests (FIXTURES.md §4). Each roundtrip
test takes a list of blocks and encodes them as one column with the
multi-block encoders: every block must decode on its own, and the
multi-block decode of the whole column must equal the per-block decodes
concatenated. ``test_encode_batch_roundtrip`` decodes the index's own
block encoder output the same way, with no Spark session."""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from search_engine_spark import constants as C
from search_engine_spark.codec import (
    decode_doc_id_blocks,
    decode_positions,
    encode_doc_id_blocks,
    encode_position_blocks,
    varbyte_decode,
    varbyte_decode_blocks,
    varbyte_encode_blocks,
)
from search_engine_spark.index import _encode_batch
from search_engine_spark.query import _bm25_w_np

MAX_ID = 2**63 - 1

BOUNDARIES = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**28 - 1, 2**28, 2**63 - 1, 2**64 - 1]


def _bounds(sizes) -> tuple[np.ndarray, np.ndarray]:
    """Block [start, end) ranges of consecutive blocks of these sizes."""
    ends = np.cumsum(np.asarray(sizes, dtype=np.int64))
    return ends - np.asarray(sizes, dtype=np.int64), ends


def _cat(arrays, dtype) -> np.ndarray:
    return np.concatenate([np.empty(0, dtype=dtype), *arrays])


def test_varbyte_boundaries():
    a = np.array(BOUNDARIES, dtype=np.uint64)
    starts, ends = _bounds([1] * a.size)
    blobs = varbyte_encode_blocks(a, starts, ends)
    assert [varbyte_decode(x).tolist() for x in blobs] == [[v] for v in BOUNDARIES]
    vals, counts = varbyte_decode_blocks(blobs)
    assert np.array_equal(vals, a) and counts.tolist() == [1] * a.size


def test_empty():
    empty = np.empty(0, dtype=np.int64)
    assert varbyte_encode_blocks(empty.astype(np.uint64), [], []) == []
    assert varbyte_encode_blocks(empty.astype(np.uint64), [0], [0]) == [b""]
    assert varbyte_decode(b"").size == 0
    ids, counts = decode_doc_id_blocks(encode_doc_id_blocks(empty, [0], [0]))
    assert ids.size == 0 and counts.tolist() == [0]
    assert encode_position_blocks([], [0], [0]) == ([b""], [b""])


@given(st.lists(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=128), max_size=5))
@settings(max_examples=200, deadline=None)
@example([[2**64 - 1], list(range(128)), [0]])
@example([])
def test_varbyte_roundtrip(blocks):
    arrays = [np.array(xs, dtype=np.uint64) for xs in blocks]
    blobs = varbyte_encode_blocks(_cat(arrays, np.uint64), *_bounds([a.size for a in arrays]))
    assert len(blobs) == len(arrays)
    for a, blob in zip(arrays, blobs):
        assert np.array_equal(varbyte_decode(blob), a)
    vals, counts = varbyte_decode_blocks(blobs)
    assert np.array_equal(vals, _cat(arrays, np.uint64))
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
    blobs = encode_doc_id_blocks(_cat(arrays, np.int64), *_bounds([a.size for a in arrays]))
    assert len(blobs) == len(arrays)
    for a, blob in zip(arrays, blobs):
        ids, counts = decode_doc_id_blocks([blob])
        assert np.array_equal(ids, a) and counts.tolist() == [a.size]
    ids, counts = decode_doc_id_blocks(blobs)
    assert ids.dtype == np.int64
    assert np.array_equal(ids, _cat(arrays, np.int64))
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
    blocks = [[sorted(p) for p in plists] for plists in blocks]
    pbs, lbs = encode_position_blocks([p for plists in blocks for p in plists], *_bounds([len(b) for b in blocks]))
    assert len(pbs) == len(lbs) == len(blocks)
    cats = [np.array([x for p in plists for x in p], dtype=np.uint64) for plists in blocks]
    lenss = [np.array([len(p) for p in plists], dtype=np.uint64) for plists in blocks]
    for pb, lb, cat, lens in zip(pbs, lbs, cats, lenss):
        dp, dl = decode_positions(pb, lb)
        assert np.array_equal(dl, lens)
        assert np.array_equal(dp, cat)
    dp, dl = decode_positions(b"".join(pbs), b"".join(lbs))
    assert np.array_equal(dl, _cat(lenss, np.uint64))
    assert np.array_equal(dp, _cat(cats, np.uint64))


def _postings_batch(seed: int, groups) -> tuple[pd.DataFrame, list[tuple]]:
    """An encoder input batch sorted by (term, shard, doc_id), with the
    merged postings it stands for. Group i is (term t{i//2}, shard i%2)
    with ``n`` distinct doc ids, pinned to ±MAX_ID when ``extremes``.
    A doc may arrive as up to three rows (the stem channel's duplicates)
    that split its positions between them, so a row's list may be
    empty."""
    rng = np.random.default_rng(seed)
    rows, merged = [], []
    for i, (n, extremes) in enumerate(groups):
        term, shard = f"t{i // 2}", i % 2
        ids = rng.integers(-MAX_ID, MAX_ID, size=n, endpoint=True)
        if extremes:
            ids[:2] = [-MAX_ID, MAX_ID][:n]
        for doc in np.unique(ids).tolist():
            n_rows = int(rng.integers(1, 4))
            pos = np.sort(rng.choice(np.arange(1, 6001), size=int(rng.integers(0, 6)), replace=False))
            owner = rng.integers(0, n_rows, size=pos.size)
            tfs, ufs = rng.integers(1, 5, size=n_rows), rng.integers(0, 2, size=n_rows)
            dl = int(rng.integers(1, 2000))
            for r in range(n_rows):
                rows.append((term, shard, doc, int(tfs[r]), dl, int(ufs[r]), pos[owner == r].astype(np.int16)))
            merged.append((term, shard, doc, int(tfs.sum()), dl, int(ufs.max()), pos.tolist()))
    pdf = pd.DataFrame(rows, columns=["term", "shard", "doc_id", "tf", "doclen", "uf", "positions"])
    return pdf.astype({"tf": np.int16, "uf": np.int8}), merged


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    groups=st.lists(
        st.tuples(st.sampled_from([1, 127, 128, 129, 259]) | st.integers(1, 300), st.booleans()),
        min_size=1,
        max_size=6,
    ),
    avgdl=st.floats(min_value=1.0, max_value=500.0),
)
@settings(max_examples=60, deadline=None)
@example(seed=0, groups=[(1, True), (127, False), (128, True), (129, False), (259, True)], avgdl=37.5)
def test_encode_batch_roundtrip(seed, groups, avgdl):
    """The production block encoder, decoded by codec's block decoders:
    duplicate rows come back merged (tf summed, uf maxed, positions
    unioned), the block metadata matches the decoded postings, and
    max_wtf is the canonical weight's block max at idf 1, bit for bit."""
    pdf, merged = _postings_batch(seed, groups)
    out = _encode_batch(pdf, avgdl)
    n = out["n"].to_numpy()
    ids, counts = decode_doc_id_blocks(out["doc_bytes"].tolist())
    assert counts.tolist() == n.tolist()
    streams = {}
    for col in ("tf", "dl", "uf", "plen"):
        streams[col], counts = varbyte_decode_blocks(out[f"{col}_bytes"].tolist())
        assert counts.tolist() == n.tolist()
    pos, plen = decode_positions(b"".join(out["pos_bytes"]), b"".join(out["plen_bytes"]))
    assert np.array_equal(plen, streams["plen"])
    plists = np.split(pos, np.cumsum(plen.astype(np.int64))[:-1]) if plen.size else []
    decoded = list(
        zip(
            np.repeat(out["term"].to_numpy(), n).tolist(),
            np.repeat(out["shard"].to_numpy(), n).tolist(),
            ids.tolist(),
            streams["tf"].tolist(),
            streams["dl"].tolist(),
            streams["uf"].tolist(),
            [p.tolist() for p in plists],
        )
    )
    assert decoded == merged

    ends = np.cumsum(n)
    starts = ends - n
    assert (n > 0).all()
    assert out["min_doc_id"].tolist() == ids[starts].tolist()
    assert out["max_doc_id"].tolist() == ids[ends - 1].tolist()
    keys = list(zip(out["term"], out["shard"]))
    for i, (key, block_id) in enumerate(zip(keys, out["block_id"])):
        first = i == 0 or keys[i - 1] != key
        assert block_id == (0 if first else out["block_id"][i - 1] + 1)
        last = i == len(keys) - 1 or keys[i + 1] != key
        assert n[i] == C.BLOCK_SIZE or (last and n[i] <= C.BLOCK_SIZE)
    w = _bm25_w_np(streams["tf"].astype(np.int64), streams["uf"].astype(np.int64), streams["dl"].astype(np.int64), 1.0, avgdl)
    want = np.array([max(w[s:e]) for s, e in zip(starts, ends)])
    assert np.array_equal(out["max_wtf"].to_numpy().view(np.uint64), want.view(np.uint64))
