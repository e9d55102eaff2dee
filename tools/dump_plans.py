"""Reproduce the PLANS.md physical-plan audit:
    python tools/dump_plans.py > /tmp/plans.txt
Requires .data/corpus_sf0.01.parquet and the sf0.01 bench index (run
`SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py` once)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from search_engine_spark import constants as C
from search_engine_spark.corpus import with_doc_id
from search_engine_spark.index import (
    build_block_index,
    corpus_stats,
    doc_postings,
    doc_stats,
    term_stats,
)
from search_engine_spark.query import bm25_score_terms
from search_engine_spark.session import build_session
from search_engine_spark.sink import encoder_input
from search_engine_spark.tokenize import tokenize


def main() -> None:
    spark = build_session(8, "plans", shuffle_partitions=16)
    corpus = with_doc_id(spark.read.parquet(".data/corpus_sf0.01.parquet"))
    # the registry's raw recipe
    tokens = tokenize(corpus)
    postings, dstats = doc_postings(tokens), doc_stats(tokens)
    tstats = term_stats(postings)

    def cap(title, df):
        print(f"\n===== {title} =====")
        df.explain("formatted")

    cap("postings (tokenize -> groupBy)", postings)
    N, avgdl = corpus_stats(dstats)
    # IndexSink.build's encoder input: cached compact raw postings,
    # doclen = sum of tf per doc
    raw = doc_postings(tokens, compact=True).withColumn("uf", F.lit(0).cast("tinyint")).persist()
    doclen = raw.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("doclen"))
    with encoder_input(raw, doclen, C.N_DOC_SHARDS, C.N_TERM_BUCKETS) as enriched:
        cap("sink encoder input (stem channel -> doclen join -> shard, bucket)", enriched)
    raw.unpersist()
    cap("in-memory block index (join -> repartition -> sort -> mapInPandas)",
        build_block_index(postings, dstats, avgdl))
    cap("bm25 DataFrame path",
        bm25_score_terms(postings, dstats, tstats, N, avgdl, ["import", "def"], 1.0, 10))
    blocks = spark.read.parquet(".data/bench_index_sf0.01/blocks")
    cap("block scan term filter (pushdown)",
        blocks.where(F.col("term").isin(["import", "def"])).select("term", "shard", "doc_bytes"))
    spark.stop()


if __name__ == "__main__":
    main()
