"""Delta + varbyte posting-block codec (numpy-vectorized, no per-element
Python loops over postings).

Format: standard LEB128-style varbyte — each value is encoded
little-endian in 7-bit groups, 0x80 continuation bit set on every byte
except the last. Doc-id streams are sorted int64, mapped to uint64 by
offsetting +2^63 (order-preserving), then delta-encoded (first value
absolute). This is the Spark-side replacement for the reference's
delimited-string postings (`url^tf pos1 pos2~...`,
/root/reference/src/cis5550/jobs/Indexer.java:34,252-283) — binary blocks
instead of strings, per BASELINE.json north_star.
"""

from __future__ import annotations

import numpy as np

_U63 = np.uint64(1) << np.uint64(63)


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a uint64 array; returns (uint8 buffer, per-value byte
    lengths). The lengths let callers slice one big encoded buffer into
    arbitrary sub-ranges (block boundaries) without re-encoding —
    varbyte is value-wise independent."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    if a.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # Exact byte count per value: 1 + #{thresholds <= value}
    n = np.ones(a.size, dtype=np.int64)
    for k in range(1, 10):
        n += (a >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    offsets = np.zeros(a.size, dtype=np.int64)
    np.cumsum(n[:-1], out=offsets[1:])
    out = np.zeros(int(n.sum()), dtype=np.uint8)
    for k in range(10):
        mask = n > k
        if not mask.any():
            break
        vals = (a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (n[mask] - 1 > k).astype(np.uint8) << 7
        out[offsets[mask] + k] = vals.astype(np.uint8) | cont
    return out, n


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array. Fully vectorized: ~10 numpy passes."""
    return varbyte_encode_with_lengths(values)[0].tobytes()


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


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Sorted int64 doc ids → offset to uint64 → delta → varbyte."""
    d = np.ascontiguousarray(doc_ids, dtype=np.int64)
    u = d.astype(np.uint64) + _U63  # order-preserving shift into uint64
    deltas = np.empty(u.size, dtype=np.uint64)
    if u.size:
        deltas[0] = u[0]
        deltas[1:] = u[1:] - u[:-1]
    return varbyte_encode(deltas)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    deltas = varbyte_decode(buf)
    u = np.cumsum(deltas, dtype=np.uint64)
    return (u - _U63).astype(np.int64)


def decode_doc_id_blocks(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Multi-block :func:`decode_doc_ids` → (doc ids, per-block counts):
    one varbyte pass, then one uint64 cumsum minus its running total at
    each block start. uint64 arithmetic is modular, so this equals every
    block's own cumsum bit for bit."""
    deltas, counts = varbyte_decode_blocks(blobs)
    u = np.cumsum(deltas, dtype=np.uint64)
    before = np.concatenate((np.zeros(1, dtype=np.uint64), u))[np.cumsum(counts) - counts]
    return (u - np.repeat(before, counts) - _U63).astype(np.int64), counts


def encode_positions(positions_concat: np.ndarray, lengths: np.ndarray) -> tuple[bytes, bytes]:
    """Per-doc 1-based position lists, concatenated. Delta within each doc
    (first absolute). Returns (pos_bytes, len_bytes)."""
    p = np.ascontiguousarray(positions_concat, dtype=np.uint64)
    ln = np.ascontiguousarray(lengths, dtype=np.uint64)
    if p.size:
        deltas = np.empty_like(p)
        deltas[0] = p[0]
        deltas[1:] = p[1:] - p[:-1]
        # reset delta at each doc boundary to the absolute first position
        starts = np.zeros(ln.size, dtype=np.int64)
        np.cumsum(ln[:-1].astype(np.int64), out=starts[1:])
        deltas[starts] = p[starts]
        buf = varbyte_encode(deltas)
    else:
        buf = b""
    return buf, varbyte_encode(ln)


def decode_positions(pos_buf: bytes, len_buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    lengths = varbyte_decode(len_buf)
    deltas = varbyte_decode(pos_buf)
    if deltas.size == 0:
        return deltas, lengths
    starts = np.zeros(lengths.size, dtype=np.int64)
    np.cumsum(lengths[:-1].astype(np.int64), out=starts[1:])
    # segmented cumsum: subtract the running total at each segment start
    csum = np.cumsum(deltas, dtype=np.uint64)
    seg_id = np.zeros(deltas.size, dtype=np.int64)
    seg_id[starts[1:]] = 1
    seg_id = np.cumsum(seg_id)
    base = np.zeros(lengths.size, dtype=np.uint64)
    base[1:] = csum[starts[1:] - 1]
    # within-segment cumsum; first delta of each segment is absolute
    positions = csum - base[seg_id]
    return positions, lengths
