"""Blended BM25+PageRank scoring (Search.java:111-114 weights) against a
pure-Python recomputation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark import constants as C
from search_engine_spark.index import corpus_stats, doc_postings, doc_stats, term_stats
from search_engine_spark.ops.pagerank import pagerank
from search_engine_spark.query import bm25_topk_df, blend_with_pagerank
from search_engine_spark.tokenize import tokenize


def test_blend_matches_python(spark, corpus):
    tokens = tokenize(corpus)
    postings = doc_postings(tokens).cache()
    dstats = doc_stats(tokens).cache()
    tstats = term_stats(postings)
    N, avgdl = corpus_stats(dstats)
    top = bm25_topk_df(postings, dstats, tstats, N, avgdl, "import def", k=50)

    # deterministic little graph over doc_ids
    ids = sorted(r["doc_id"] for r in dstats.select("doc_id").collect())
    edges = [(ids[i], ids[(i * 7 + 3) % len(ids)]) for i in range(len(ids))]
    edges = [(s, d) for s, d in edges if s != d]
    edf = spark.createDataFrame(edges, "src long, dst long")
    pr = pagerank(edf, fixed_iters=2, checkpoint=False).cache()

    got = [
        (r["doc_id"], r["score"])
        for r in blend_with_pagerank(top, pr, k=20).collect()
    ]

    base = {r["doc_id"]: r["score"] for r in top.collect()}
    ranks = {r["node"]: r["rank"] for r in pr.collect()}
    expect = sorted(
        (
            (
                d,
                C.TFIDF_WEIGHT * math.log(s)
                + C.PAGERANK_WEIGHT * math.log(ranks.get(d, 1.0 - C.PR_DECAY)),
            )
            for d, s in base.items()
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:20]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert gs == pytest.approx(es, abs=1e-12)
    postings.unpersist()
    dstats.unpersist()
    pr.unpersist()
