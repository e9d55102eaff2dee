"""Bounded decode cache in the BM25 shard scorer (round-4 verdict
watch-item): at |Q|≈10³ eval-suite width an unbounded per-shard cache
holds decoded float64 arrays for EVERY live block in the shard at once.
_bm25_shard_scorer runs queries in term-clustered order and evicts a
term's decoded streams after its last consuming query, so the peak
footprint is bounded by one term-cluster's streams — asserted here
against the exact per-term byte bound at a 100-query synthetic set —
while per-query results stay bit-identical to the same scorer run with
one query."""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.index import (
    build_block_index,
    corpus_stats,
    doc_postings,
    doc_stats,
    term_stats,
)
from search_engine_spark.query import _bm25_shard_scorer, bm25_idf
from search_engine_spark.tokenize import tokenize

N_QUERIES = 100
VOCAB = 40  # distinct terms; 100 queries → ~2.5 queries share each term


@pytest.fixture(scope="module")
def built(spark):
    # doc i holds 5 consecutive vocabulary terms (wrapping), so every
    # term appears in ~5 docs and blocks have non-trivial streams
    rows = [
        (i, " ".join(f"t{(i + j) % VOCAB:02d}" for j in range(5)))
        for i in range(1, 201)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    toks = tokenize(docs)
    postings = doc_postings(toks)
    dstats = doc_stats(toks)
    tstats = term_stats(postings)
    N, avgdl = corpus_stats(dstats)
    dfs = {r["term"]: int(r["df"]) for r in tstats.collect()}
    blocks_pdf = build_block_index(postings, dstats, avgdl).toPandas()
    return N, avgdl, dfs, blocks_pdf


def _single(per_query, qid, avgdl, shard_pdf):
    """(doc_id, score) of ``qid`` scored alone, as bm25_topk_blocks does."""
    out = _bm25_shard_scorer({qid: per_query[qid]}, 10, float(avgdl), 1.0)(shard_pdf)
    return out.drop(columns="query_id")


def test_peak_cache_bounded_at_100_queries(built):
    N, avgdl, dfs, blocks_pdf = built
    # 100 single-term queries over a 40-term vocabulary: queries SHARE
    # terms (the adversarial case for naive eviction) — term-clustered
    # order makes sharers adjacent, so the cache still never holds more
    # than one term's streams at the measurement point
    qterms = {f"q{j:03d}": [f"t{j % VOCAB:02d}"] for j in range(N_QUERIES)}
    per_query = {
        qid: ({t: bm25_idf(N, dfs[t]) for t in ts}, 1.0) for qid, ts in qterms.items()
    }
    stats: dict = {}
    fn = _bm25_shard_scorer(per_query, 10, float(avgdl), 1.0, stats)

    checked = 0
    for _shard, g in blocks_pdf.groupby("shard"):
        out = fn(g)
        # per-term bound: 4 decoded streams (doc/tf/dl/uf) × n values ×
        # 8 bytes, summed over the term's blocks in THIS shard
        per_term = g.groupby("term")["n"].sum() * 4 * 8
        bound = int(per_term.max())
        assert stats["peak_cache_bytes"] <= bound, (
            f"peak {stats['peak_cache_bytes']} exceeds per-term bound {bound}"
        )
        assert stats["peak_cache_bytes"] > 0
        # bit-identity vs the scorer run with this one query
        for qid in list(qterms)[:: 7]:  # sample 15 queries per shard
            single = _single(per_query, qid, avgdl, g)
            mine = out[out["query_id"] == qid].drop(columns="query_id").reset_index(drop=True)
            assert np.array_equal(
                mine["doc_id"].to_numpy(), single["doc_id"].to_numpy()
            )
            assert np.array_equal(
                mine["score"].to_numpy(), single["score"].to_numpy()
            )  # exact float64 equality
            checked += 1
        stats.clear()
    assert checked > 0


def test_multi_term_queries_still_identical(built):
    """Queries with overlapping multi-term sets — eviction must never
    change values, only force re-decodes."""
    N, avgdl, dfs, blocks_pdf = built
    qterms = {
        f"q{j:02d}": sorted({f"t{j % VOCAB:02d}", f"t{(j + 3) % VOCAB:02d}", f"t{(j + 17) % VOCAB:02d}"})
        for j in range(30)
    }
    per_query = {
        qid: ({t: bm25_idf(N, dfs[t]) for t in ts}, 1.0) for qid, ts in qterms.items()
    }
    fn = _bm25_shard_scorer(per_query, 10, float(avgdl), 1.0)
    for _shard, g in blocks_pdf.groupby("shard"):
        out = fn(g)
        for qid in qterms:
            single = _single(per_query, qid, avgdl, g)
            mine = out[out["query_id"] == qid].drop(columns="query_id").reset_index(drop=True)
            assert np.array_equal(mine["doc_id"].to_numpy(), single["doc_id"].to_numpy())
            assert np.array_equal(mine["score"].to_numpy(), single["score"].to_numpy())
