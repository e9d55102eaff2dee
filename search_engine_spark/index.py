"""Inverted-index construction.

Pipeline of the one index build, ``sink.IndexSink.build`` (all lazy
DataFrame ops until the sink writes):

  corpus(repo,path,commit,lang,content)
    → with_doc_id (doc_id = xxhash64, content_sha invariant)
    → tokenize / tokenize_url (narrow, codegen)       [tokenize.py]
    → doc_postings: groupBy(doc_id, term)             [1 shuffle, partial agg; cached]
    → doclen = Σ tf per doc over the cached postings  [sink.py docs table]
    → stem channel at the posting level, doclen join  [sink.encoder_input]
    → repartition(bucket, shard % FILES_PER_BUCKET)   [1 shuffle, sink.publish_buckets]
    → encode blocks (mapInPandas, Arrow)              [_encode_batch → codec.py]
    → write partitioned by term bucket                [sink.py]

The generic registry entries and the unit tests build in-memory blocks
from token-level postings with :func:`build_block_index` — the same
encoder behind a plain (term, shard) exchange.

Skew design: the reference concatenates all of a term's postings into one
KVS cell via foldByKey (/root/reference/src/cis5550/jobs_archive/
IndexerParallel.java:235) — a single hot key does all the work. Here a
posting belongs to (term, shard) where shard = pmod(doc_id,
N_DOC_SHARDS), so the hottest term fans out over N_DOC_SHARDS
independent reducers (bounded group size df_max/N_DOC_SHARDS); this is
the salted two-stage aggregation the north_rule mandates, with the salt
chosen so it doubles as the document-sharding used at query time
(document-partitioned index, the standard distributed-search layout).
Within a (term, shard) group, postings are doc_id-sorted and cut into
BLOCK_SIZE blocks with per-block max impact (block-max metadata for
WAND-style pruning). The encoder owns only that geometry, the merge of
duplicate stem rows and the block-max reduce: every byte stream comes
from codec.py's block encoders, and the bound is query.py's canonical
BM25 weight at idf 1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import constants as C
from .codec import encode_doc_id_blocks, encode_position_blocks, varbyte_encode_blocks
from .query import _bm25_w_np


def doc_postings(tokens: DataFrame, compact: bool = False) -> DataFrame:
    """(doc_id, term, pos[, is_url]) → (doc_id, term, tf, positions
    [, uf]). One shuffle on (doc_id, term) with map-side partial
    aggregation. When tokens carry is_url (tokenize_url), the
    URL-bonus flag uf = max(is_url) rides the SAME aggregation — no extra
    pass or join (Search.java:98 bonus, precomputed at build time).

    ``compact=True`` (the sink's scale path) narrows the wire types:
    positions and tf to smallint, uf to tinyint. Safe by construction —
    a position (and therefore any tf) is bounded by the tokenizer's
    MAX_PAGE_LEN/MAX_URL_LEN truncation at ≲6.1k ≪ 32767 regardless of
    corpus size. Positions dominate the bytes of the build's two big
    data movements (the postings exchange/cache and the encode
    exchange); halving the element width cuts real shuffle volume —
    the currency of a distributed build — not just memory. The Arrow
    batches reaching the block encoder carry int16/int8; the encoder
    casts to the codec's uint64 explicitly, so encoded output is
    byte-identical either way. Default False preserves the oracle-facing
    int schema of the generic entries."""
    pos_col = F.col("pos").cast("smallint") if compact else F.col("pos")
    aggs = [
        F.count("*").cast("smallint" if compact else "int").alias("tf"),
        F.sort_array(F.collect_list(pos_col)).alias("positions"),
    ]
    if "is_url" in tokens.columns:
        aggs.append(F.max("is_url").cast("tinyint" if compact else "int").alias("uf"))
    return tokens.groupBy("doc_id", "term").agg(*aggs)


def doc_stats(tokens: DataFrame) -> DataFrame:
    """(doc_id) → doclen = number of surviving token occurrences.
    NOTE: a doc whose tokens are ALL filtered has no token rows and drops
    out here; prefer :func:`doc_stats_direct` when the corpus frame is at
    hand — it is narrow (no shuffle) and keeps empty docs with doclen 0,
    matching the Python oracle's N/avgdl accounting (oracle.py)."""
    return tokens.groupBy("doc_id").agg(F.count("*").cast("int").alias("doclen"))


def doc_stats_direct(
    corpus_with_ids: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    url_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """(doc_id) → doclen computed as size(filtered token array): one
    NARROW projection — no explode, no shuffle — and docs whose tokens are
    all filtered (empty/whitespace files) survive with doclen 0, so N and
    avgdl agree with the oracle's whole-corpus accounting. With
    ``url_cols``, doclen counts the URL-injected stream (reference
    Indexer.java:236-238)."""
    from .tokenize import _token_array, full_text_col

    arr = (
        _token_array(full_text_col(content_col, url_cols), truncate=False)
        if url_cols
        else _token_array(F.col(content_col))
    )
    return corpus_with_ids.select(
        F.col(id_col).alias("doc_id"), F.size(arr).cast("int").alias("doclen")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """(term) → df (document frequency). postings is unique per
    (doc_id, term) so a plain count is df."""
    return postings.groupBy("term").agg(F.count("*").alias("df"))


def corpus_stats(dstats: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — two driver scalars."""
    row = dstats.agg(F.count("*").alias("n"), F.avg("doclen").alias("avgdl")).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def with_shard(df: DataFrame, n_shards: int = C.N_DOC_SHARDS) -> DataFrame:
    return df.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int"))


INDEX_SCHEMA = (
    "term string, shard int, block_id int, n int, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, uf_bytes binary, "
    "pos_bytes binary, plen_bytes binary, "
    "min_doc_id long, max_doc_id long, max_wtf double"
)


def _encode_batch(pdf: pd.DataFrame, avgdl: float) -> pd.DataFrame:
    """Vectorized block encoder over a batch sorted by (term, shard,
    doc_id) containing only COMPLETE (term, shard) groups.

    One varbyte pass per stream for the whole batch (varbyte is
    value-wise independent), then per-block byte-range slicing — no
    per-group Python beyond a memoryview slice per block. This is why
    the build sustains throughput despite vocab × shard producing
    millions of small groups.
    """
    n_rows = len(pdf)
    term = pdf["term"].to_numpy()
    shard = pdf["shard"].to_numpy(dtype=np.int32)
    doc = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["doclen"].to_numpy(dtype=np.int64)
    ufs = pdf["uf"].to_numpy(dtype=np.int64)
    plists = pdf["positions"].to_numpy()

    # merge duplicate (term, shard, doc) rows — the posting-level stem
    # channel (build: raw postings ∪ stem-renamed postings) can deliver
    # up to one row per raw term mapping to the same stem, plus the raw
    # form itself; rows are adjacent after the sort, so merging is a
    # reduceat: tf sums, uf maxes, positions concat+sort. Token-level
    # aggregated inputs (tests) have no duplicates and skip this block.
    if n_rows > 1:
        dup = (term[1:] == term[:-1]) & (shard[1:] == shard[:-1]) & (doc[1:] == doc[:-1])
        if dup.any():
            new_row = np.ones(n_rows, dtype=bool)
            new_row[1:] = ~dup
            starts = np.nonzero(new_row)[0]
            tfs = np.add.reduceat(tfs, starts)
            ufs = np.maximum.reduceat(ufs, starts)
            ends = np.empty(starts.size, dtype=np.int64)
            ends[:-1] = starts[1:]
            ends[-1] = n_rows
            plists = np.array(
                [
                    plists[s] if e == s + 1 else np.sort(np.concatenate([np.asarray(p) for p in plists[s:e]]))
                    for s, e in zip(starts, ends)
                ],
                dtype=object,
            )
            term, shard, doc, dls = term[starts], shard[starts], doc[starts], dls[starts]
            n_rows = starts.size

    # group / block geometry
    new_group = np.ones(n_rows, dtype=bool)
    new_group[1:] = (term[1:] != term[:-1]) | (shard[1:] != shard[:-1])
    gid = np.cumsum(new_group) - 1
    group_start_idx = np.nonzero(new_group)[0]
    row_in_group = np.arange(n_rows) - group_start_idx[gid]
    new_block = new_group | (row_in_group % C.BLOCK_SIZE == 0)
    block_start_idx = np.nonzero(new_block)[0]
    n_blocks = block_start_idx.size
    block_end_idx = np.empty(n_blocks, dtype=np.int64)
    block_end_idx[:-1] = block_start_idx[1:]
    block_end_idx[-1] = n_rows
    block_id = (row_in_group[block_start_idx] // C.BLOCK_SIZE).astype(np.int32)

    doc_bytes = encode_doc_id_blocks(doc, block_start_idx, block_end_idx)
    tf_bytes = varbyte_encode_blocks(tfs.astype(np.uint64), block_start_idx, block_end_idx)
    dl_bytes = varbyte_encode_blocks(dls.astype(np.uint64), block_start_idx, block_end_idx)
    uf_bytes = varbyte_encode_blocks(ufs.astype(np.uint64), block_start_idx, block_end_idx)
    pos_bytes, plen_bytes = encode_position_blocks(plists, block_start_idx, block_end_idx)

    # block-max impact metadata: the canonical BM25 weight at idf 1
    # (multiplying by 1.0 is exact), so the bound is exact for every
    # posting, URL-bonus-bearing ones included
    max_wtf = np.maximum.reduceat(_bm25_w_np(tfs, ufs, dls, 1.0, avgdl), block_start_idx)

    return pd.DataFrame(
        {
            "term": term[block_start_idx],
            "shard": shard[block_start_idx],
            "block_id": block_id,
            "n": (block_end_idx - block_start_idx).astype(np.int32),
            "doc_bytes": doc_bytes,
            "tf_bytes": tf_bytes,
            "dl_bytes": dl_bytes,
            "uf_bytes": uf_bytes,
            "pos_bytes": pos_bytes,
            "plen_bytes": plen_bytes,
            "min_doc_id": doc[block_start_idx],
            "max_doc_id": doc[block_end_idx - 1],
            "max_wtf": max_wtf,
        }
    )


def _encoder_stream(avgdl: float):
    """mapInPandas encoder: batches arrive sorted by (term, shard,
    doc_id) within the partition; a (term, shard) group may span Arrow
    batches, so rows of the trailing (possibly incomplete) group are
    carried into the next batch and flushed at end-of-partition."""

    def encode(iterator):
        leftover: pd.DataFrame | None = None
        for pdf in iterator:
            if leftover is not None and len(leftover):
                pdf = pd.concat([leftover, pdf], ignore_index=True)
            if not len(pdf):
                continue
            term = pdf["term"].to_numpy()
            shard = pdf["shard"].to_numpy()
            last_t, last_s = term[-1], shard[-1]
            tail_mask = (term == last_t) & (shard == last_s)
            # rows of the final group (contiguous tail since sorted)
            tail_start = len(pdf) - int(tail_mask[::-1].argmin() if not tail_mask.all() else len(pdf))
            complete, leftover = pdf.iloc[:tail_start], pdf.iloc[tail_start:]
            if len(complete):
                yield _encode_batch(complete, avgdl)
        if leftover is not None and len(leftover):
            yield _encode_batch(leftover, avgdl)

    return encode


def build_block_index(
    postings: DataFrame,
    dstats: DataFrame,
    avgdl: float,
    n_shards: int = C.N_DOC_SHARDS,
) -> DataFrame:
    """(doc_id, term, tf, positions) ⋈ doc_stats → encoded block rows.

    Physical plan: shuffle-join on doc_id (AQE-sized), hash-repartition
    on (term, shard) — the salted aggregation; the shard component caps
    any hot term's share of one task at df_max/n_shards — then a
    partition-local sort feeds the streaming Arrow encoder. The sort is
    within-partition only (no global exchange) and the encoder is one
    numpy pass per batch.
    """
    if "uf" not in postings.columns:
        postings = postings.withColumn("uf", F.lit(0))
    enriched = with_shard(postings.join(dstats, "doc_id"), n_shards)
    ordered = enriched.repartition("term", "shard").sortWithinPartitions(
        "term", "shard", "doc_id"
    )
    return ordered.mapInPandas(_encoder_stream(float(avgdl)), schema=INDEX_SCHEMA)

