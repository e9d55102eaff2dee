"""Every public top-k entry of query.py rejects k < 1 with ValueError on
the driver, before it launches any Spark job. Without the check, k=0
crashed inside the block scorer's Python worker while the DataFrame path
returned an empty frame, and k=-1 made the block scorer return all but
one of a shard's candidates."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from search_engine_spark import query as Q
from search_engine_spark.index import (
    build_block_index,
    corpus_stats,
    doc_postings,
    doc_stats,
    term_stats,
)
from search_engine_spark.tokenize import tokenize


@pytest.fixture(scope="module")
def ix(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "alpha beta")],
        "doc_id long, content string",
    )
    toks = tokenize(docs)
    postings = doc_postings(toks)
    dstats = doc_stats(toks)
    N, avgdl = corpus_stats(dstats)
    return SimpleNamespace(
        toks=toks, postings=postings, dstats=dstats, tstats=term_stats(postings),
        N=N, avgdl=avgdl, blocks=build_block_index(postings, dstats, avgdl),
    )


ENTRIES = {
    "bm25_topk_df": lambda x, k: Q.bm25_topk_df(
        x.postings, x.dstats, x.tstats, x.N, x.avgdl, "alpha beta", k
    ),
    "bm25_score_terms": lambda x, k: Q.bm25_score_terms(
        x.postings, x.dstats, x.tstats, x.N, x.avgdl, ["alpha", "beta"], 1.0, k
    ),
    "bm25_topk_blocks": lambda x, k: Q.bm25_topk_blocks(
        x.blocks, x.tstats, x.N, x.avgdl, "alpha beta", k
    ),
    "bm25_topk_batch": lambda x, k: Q.bm25_topk_batch(
        x.blocks, x.tstats, x.N, x.avgdl, {"a": "alpha beta", "b": "gamma"}, k
    ),
    "phrase_topk_blocks": lambda x, k: Q.phrase_topk_blocks(
        x.blocks, x.tstats, x.N, x.avgdl, terms=["alpha", "beta"], k=k
    ),
    "phrase_topk_df": lambda x, k: Q.phrase_topk_df(
        x.toks, x.postings, x.dstats, x.tstats, x.N, x.avgdl, ["alpha", "beta"], k
    ),
}


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_topk_rejects_k_below_one(spark, ix, entry, k):
    sc = spark.sparkContext
    group = f"k-check-{entry}-{k}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="k >= 1"):
            ENTRIES[entry](ix, k)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
