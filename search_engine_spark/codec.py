"""Delta + varbyte posting-block codec (numpy-vectorized, no per-element
Python loops over postings) — the only module that knows the byte format
of a posting block. Each stream has one multi-block encoder here and its
exact inverse next to it: tf/dl/uf/plen (:func:`varbyte_encode_blocks` /
:func:`varbyte_decode_blocks`), doc ids (:func:`encode_doc_id_blocks` /
:func:`decode_doc_id_blocks`) and positions
(:func:`encode_position_blocks` / :func:`decode_positions`). The index
encoder (``index._encode_batch``) only decides where blocks start.

Format: standard LEB128-style varbyte — each value is encoded
little-endian in 7-bit groups, 0x80 continuation bit set on every byte
except the last. Doc-id streams are sorted int64, mapped to uint64 by
offsetting +2^63 (order-preserving), then delta-encoded (first value of
each block absolute). Positions are delta-encoded within each doc (first
position absolute). This is the Spark-side replacement for the
reference's delimited-string postings (`url^tf pos1 pos2~...`,
/root/reference/src/cis5550/jobs/Indexer.java:34,252-283) — binary blocks
instead of strings, per BASELINE.json north_star.
"""

from __future__ import annotations

import numpy as np

_U63 = np.uint64(1) << np.uint64(63)


def varbyte_encode_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """Encode a uint64 array in one pass and cut it into one blob per
    value range [starts[i], ends[i]) — the inverse of
    :func:`varbyte_decode_blocks`. Varbyte is value-wise independent, so
    slicing the one buffer at value offsets needs no re-encoding."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    # Exact byte count per value: 1 + #{thresholds <= value}
    n = np.ones(a.size, dtype=np.int64)
    for k in range(1, 10):
        n += (a >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    off = np.zeros(a.size + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    out = np.zeros(int(off[-1]), dtype=np.uint8)
    for k in range(10):
        mask = n > k
        if not mask.any():
            break
        vals = (a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (n[mask] - 1 > k).astype(np.uint8) << 7
        out[off[:-1][mask] + k] = vals.astype(np.uint8) | cont
    raw = out.tobytes()
    return [raw[off[s] : off[e]] for s, e in zip(starts, ends)]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode to a uint64 array. Vectorized via end-marker scan."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.nonzero(is_last)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # position of each byte within its value
    value_idx = np.cumsum(is_last) - is_last  # 0-based value index per byte
    within = np.arange(b.size, dtype=np.int64) - starts[value_idx]
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * within.astype(np.uint64))
    out = np.zeros(ends.size, dtype=np.uint64)
    np.add.at(out, value_idx, contrib)
    return out


def varbyte_decode_blocks(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a column of varbyte blobs (one per block) in ONE
    :func:`varbyte_decode` pass over their concatenation → (values,
    per-blob value counts). Exact because every blob holds whole values;
    the counts are read off the terminator bytes."""
    joined = b"".join(blobs)
    n_vals = np.cumsum(np.frombuffer(joined, dtype=np.uint8) < 0x80)
    ends = np.cumsum([len(x) for x in blobs], dtype=np.int64)
    through = np.concatenate(([0], n_vals))[ends]  # values ending by each blob's end
    return varbyte_decode(joined), np.diff(through, prepend=0)


def _segmented_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """uint64 cumsum restarted at each segment of ``counts`` values (a
    count may be 0): one cumsum minus its running total before each
    segment. uint64 arithmetic is modular, so this equals every
    segment's own cumsum bit for bit."""
    csum = np.cumsum(deltas, dtype=np.uint64)
    before = np.concatenate((np.zeros(1, dtype=np.uint64), csum))[np.cumsum(counts) - counts]
    return csum - np.repeat(before, counts)


def encode_doc_id_blocks(doc_ids: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """Sorted int64 doc ids → offset to uint64 → delta → varbyte, one
    blob per block [starts[i], ends[i]). The delta resets to the absolute
    value at each block start, so every block decodes standalone — the
    inverse of :func:`decode_doc_id_blocks`."""
    u = np.ascontiguousarray(doc_ids, dtype=np.int64).astype(np.uint64) + _U63  # order-preserving
    starts, ends = np.asarray(starts, dtype=np.int64), np.asarray(ends, dtype=np.int64)
    deltas = np.empty(u.size, dtype=np.uint64)
    deltas[1:] = u[1:] - u[:-1]
    first = starts[ends > starts]
    deltas[first] = u[first]
    return varbyte_encode_blocks(deltas, starts, ends)


def decode_doc_id_blocks(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Column of doc-id blobs → (doc ids, per-block counts): one varbyte
    pass, then one segmented cumsum over the blocks."""
    deltas, counts = varbyte_decode_blocks(blobs)
    return (_segmented_cumsum(deltas, counts) - _U63).astype(np.int64), counts


def encode_position_blocks(plists, starts: np.ndarray, ends: np.ndarray) -> tuple[list[bytes], list[bytes]]:
    """Per-doc sorted 1-based position lists → (pos blobs, plen blobs),
    one of each per block of docs [starts[i], ends[i]). Positions are
    delta-coded within each doc (first absolute), so a block's pos blob
    is the concatenation of its docs' streams — the inverse of
    :func:`decode_positions` over the joined blobs."""
    plens = np.fromiter((len(p) for p in plists), count=len(plists), dtype=np.int64)
    flat = (
        np.concatenate([np.asarray(p, dtype=np.uint64) for p in plists])
        if plens.sum()
        else np.empty(0, dtype=np.uint64)
    )
    row_off = np.zeros(plens.size + 1, dtype=np.int64)
    np.cumsum(plens, out=row_off[1:])
    deltas = np.empty_like(flat)
    deltas[1:] = flat[1:] - flat[:-1]
    first = row_off[:-1][plens > 0]
    deltas[first] = flat[first]
    starts, ends = np.asarray(starts, dtype=np.int64), np.asarray(ends, dtype=np.int64)
    return (
        varbyte_encode_blocks(deltas, row_off[starts], row_off[ends]),
        varbyte_encode_blocks(plens.astype(np.uint64), starts, ends),
    )


def decode_positions(pos_buf: bytes, len_buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Joined pos and plen blobs → (positions, per-doc lengths): one
    varbyte pass each, then one segmented cumsum over the docs."""
    lengths = varbyte_decode(len_buf)
    return _segmented_cumsum(varbyte_decode(pos_buf), lengths.astype(np.int64)), lengths
