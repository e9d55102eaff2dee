"""Rank-identity gate (BASELINE.json north_star): the Spark engine's
top-k (docIDs, ranks, float64 scores) must be BIT-IDENTICAL to the
pure-Python oracle ranker on the reference query set, on both physical
paths (uncompressed DataFrame and compressed block index with block-max
pruning). k=200 per Search.java:25; tie-break (score DESC, doc_id ASC).

Both engines check the index the engine ships: ``IndexSink.build``
writes it, ``IndexSink.read`` opens it, and the DataFrame path scores
its postings as decoded from the blocks."""

import pytest

from search_engine_spark import constants as C
from search_engine_spark.corpus import reference_queries, with_doc_id
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import bm25_topk_blocks, bm25_topk_df
from search_engine_spark.sink import IndexSink
from search_engine_spark.streaming import decode_block_postings

RAW_COLS = ("repo", "path", "commit", "lang", "content")


def _sink_engine(spark, root, corpus, url_cols):
    """Build ``corpus`` with the production sink and open it: (postings
    decoded from the blocks, doclen, df, blocks, N, avgdl)."""
    sink = IndexSink(str(root), n_buckets=2, n_doc_buckets=1)
    sink.build(corpus.select(*RAW_COLS), url_cols=url_cols)
    blocks, tstats, dstats, meta = sink.read(spark)
    blocks, tstats, dstats = blocks.cache(), tstats.cache(), dstats.cache()
    postings = decode_block_postings(blocks).cache()
    return postings, dstats, tstats, blocks, meta["N"], meta["avgdl"]


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    postings, dstats, tstats, index_df, N, avgdl = _sink_engine(
        spark, tmp_path_factory.mktemp("rank") / "plain", corpus, None
    )
    docs = [(r["doc_id"], r["content"]) for r in corpus.select("doc_id", "content").collect()]
    oi = OracleIndex(docs)
    assert oi.N == N and abs(oi.avgdl - avgdl) < 1e-12
    return postings, dstats, tstats, index_df, N, avgdl, oi


@pytest.mark.parametrize("qid,query", reference_queries())
def test_rank_identity(engine, qid, query):
    postings, dstats, tstats, index_df, N, avgdl, oi = engine
    expected = oi.query(query, k=C.TOP_K)
    got_df = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_df(postings, dstats, tstats, N, avgdl, query, k=C.TOP_K).collect()
    ]
    got_blk = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_blocks(index_df, tstats, N, avgdl, query, k=C.TOP_K).collect()
    ]
    assert got_df == expected, f"DataFrame path diverges for {query!r}"
    assert got_blk == expected, f"Block path diverges for {query!r}"


# --- URL-injected engine: reference Indexer.java:236-238 token injection +
# --- Search.java:98 URL bonus, with planted empty/whitespace/all-filtered
# --- docs exercising the doclen-0 accounting (ADVICE round 1)

EXTRA_DOCS = [
    ("orgx/empty", "src/empty.py", "c0", "python", ""),
    ("orgx/blank", "src/blank.md", "c1", "md", "   \n\t  "),
    ("orgx/skips", "src/allskip.js", "c2", "js", "http www com " + "y" * 25),
]


@pytest.fixture(scope="module")
def url_engine(spark, corpus, tmp_path_factory):
    extra = with_doc_id(
        spark.createDataFrame(
            EXTRA_DOCS, "repo string, path string, commit string, lang string, content string"
        )
    )
    full = corpus.unionByName(extra)
    postings, dstats, tstats, index_df, N, avgdl = _sink_engine(
        spark, tmp_path_factory.mktemp("rank") / "url", full, ("repo", "path")
    )
    docs = [
        (r["doc_id"], f'{r["repo"]}/{r["path"]}', r["content"])
        for r in full.select("doc_id", "repo", "path", "content").collect()
    ]
    oi = OracleIndex(docs)
    assert oi.N == N == 200 + len(EXTRA_DOCS)
    assert abs(oi.avgdl - avgdl) < 1e-12
    return postings, dstats, tstats, index_df, N, avgdl, oi


URL_QUERIES = reference_queries() + [
    (100, "file17"),  # pure path token — unsearchable before injection
    (101, "src"),  # hot URL token (in every path) — max bonus coverage
    (102, "py mod3"),  # extension + module dir
    (103, "def file5"),  # mixed content + path terms
    (104, "empty"),  # matches a planted empty doc only via its path
    (105, "import"),
    (106, "def return"),
    (107, "file3"),
    (108, "src mod1"),
    (109, "the of and"),  # all stopwords
    (110, "zzzmissing"),  # absent term
]


@pytest.mark.parametrize("qid,query", URL_QUERIES)
def test_rank_identity_url(url_engine, qid, query):
    postings, dstats, tstats, index_df, N, avgdl, oi = url_engine
    expected = oi.query(query, k=C.TOP_K)
    got_df = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_df(postings, dstats, tstats, N, avgdl, query, k=C.TOP_K).collect()
    ]
    got_blk = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_blocks(index_df, tstats, N, avgdl, query, k=C.TOP_K).collect()
    ]
    assert got_df == expected, f"DataFrame path diverges for {query!r}"
    assert got_blk == expected, f"Block path diverges for {query!r}"


def test_url_bonus_changes_scores(url_engine, engine):
    """A pure path token ranks docs under the URL engine and nothing
    under the content-only engine — the injection is actually live."""
    _p, _d, _t, _idx, _N, _a, oi_url = url_engine
    _p2, _d2, _t2, _idx2, _N2, _a2, oi_plain = engine
    assert oi_url.query("file17") and not oi_plain.query("file17")


def test_sha256_invariant(spark, corpus):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) is
    preserved end-to-end vs the source table."""
    import pyspark.sql.functions as F

    recomputed = corpus.select("doc_id", F.sha2("content", 256).alias("sha2"))
    joined = corpus.select("doc_id", "content_sha").join(recomputed, "doc_id")
    bad = joined.where(F.col("content_sha") != F.col("sha2")).count()
    assert bad == 0
