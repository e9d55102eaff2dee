"""Physical-plan regression gates for the scale claims in PLANS.md:
each test pins the plan SHAPE (what shuffles, what broadcasts, what
stays JVM-side), not timings — the properties that decide whether an
operator survives a 100× scale-up. Complements the per-stage audit in
tools/dump_plans.py and the stemmer plan gate in test_tokenizer.py."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import generate_corpus, with_doc_id

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    d.count()
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_stratified_sample_is_shuffle_free_and_jvm_side(docs):
    """The sampling gate must stay a row-local JVM predicate: no
    Exchange (the whole point — membership never needs a shuffle) and
    no Python evaluation (md5/conv are builtins)."""
    from search_engine_spark.ops.sampling import stratified_sample

    plan = _plan(stratified_sample(docs, {"en": 0.3}, default_fraction=0.05))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_result_assembly_broadcasts_ranked_side(spark):
    """search_results joins the ≤k ranked rows back to the corpus; the
    plan must broadcast the tiny ranked side (BroadcastHashJoin), never
    sort-merge the corpus against it."""
    import __spark_entry__ as E

    df = E.queries()["search_results"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lsh_dedup_has_no_cartesian_and_flat_plan_size(spark):
    """embedding_dup_pairs_lsh: candidates come from a (table, code)
    equi-join — the plan must contain no cartesian/nested-loop join, and
    its node count must be flat in the embedding dimension (hyperplanes
    ship inside the UDF closure, not as plan literals)."""
    from search_engine_spark.ops.dedup import embedding_dup_pairs_lsh

    def mk(dim):
        rows = [(i, [float((i * 31 + j) % 7 - 3) for j in range(dim)]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        return embedding_dup_pairs_lsh(emb, threshold=0.9, dim=dim)

    p_small, p_large = _plan(mk(8)), _plan(mk(768))
    for p in (p_small, p_large):
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    # flat in dim: a 96× larger vector must not grow the plan text
    # beyond noise (plan literals would scale it ~linearly in dim)
    assert len(p_large) < 1.2 * len(p_small), (len(p_small), len(p_large))


def test_ivf_probe_is_broadcast_equi_join(spark):
    """IVF probe: query→cluster rows broadcast into an equi-join on the
    cluster id; no shuffle of the corpus side before candidate scoring
    (the only Exchange is the per-query top-k window)."""
    from search_engine_spark.ops.similarity import ivf_cosine_topk

    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(rows[:3], "query_id long, q_vec array<double>")
    plan = _plan(ivf_cosine_topk(emb, qs, k=5, n_clusters=4, n_probe=2))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_df_path_single_doc_shuffle(spark):
    """BM25 DataFrame path: idf/doclen ride broadcasts; the only
    exchanges are the doc_id score fold and the final top-k — the corpus
    postings are never joined by sort-merge."""
    from search_engine_spark.index import corpus_stats, doc_postings, doc_stats, term_stats
    from search_engine_spark.query import bm25_score_terms
    from search_engine_spark.tokenize import tokenize

    tokens = tokenize(with_doc_id(generate_corpus(spark, 200)))
    postings, dstats = doc_postings(tokens), doc_stats(tokens)
    tstats = term_stats(postings)
    N, avgdl = corpus_stats(dstats)
    df = bm25_score_terms(postings, dstats, tstats, N, avgdl, ["join", "scan"], 1.0, 10)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curation_pipeline_single_shuffle_jvm_side(docs):
    """curate(): the ONLY exchange end-to-end is the dedup hash
    aggregation (annotate, the quality floor, and the mixture gate are
    all narrow projections/filters), and nothing drops to Python."""
    from search_engine_spark.ops.curation import curate

    plan = _plan(curate(docs.select("doc_id", "text"), {"en": 0.5}, default_fraction=0.1))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_decontaminate_broadcasts_benchmark_side(docs, spark):
    """The benchmark shingle set must ride a broadcast into the corpus
    scan (BroadcastHashJoin); a sort-merge there would shuffle the
    100 TB corpus against a kilobyte-scale eval set."""
    from search_engine_spark.ops.decontam import decontaminate

    bench = docs.select("doc_id", "text").orderBy("doc_id").limit(5)
    plan = _plan(decontaminate(docs.select("doc_id", "text"), bench, n=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_sequences_bucket_window_no_global_sort(docs):
    """Packing must window per bucket: one hash exchange, and never an
    Exchange SinglePartition (a global window would serialize the whole
    corpus through one task)."""
    from search_engine_spark.ops.packing import pack_sequences

    plan = _plan(pack_sequences(docs, budget=256, n_buckets=32))
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_generation_scales_partitions_with_cores(spark):
    """The corpus file count is the downstream scan-parallelism floor:
    a large corpus must generate >= 3 slices per core, while tiny test
    corpora stay compact (bounded by ~200 docs/file)."""
    from search_engine_spark.corpus import generate_corpus

    par = spark.sparkContext.defaultParallelism
    big = generate_corpus(spark, 50_000)
    assert big.rdd.getNumPartitions() >= min(3 * par, 250)
    tiny = generate_corpus(spark, 200)
    assert tiny.rdd.getNumPartitions() == 1


def test_redact_pii_shuffle_free_jvm_side(docs):
    """PII redaction must pipeline with the scan: no Exchange, no
    Python — regexp_count/regexp_replace are codegen builtins."""
    from search_engine_spark.ops.curation import redact_pii

    plan = _plan(redact_pii(docs.select("doc_id", "text")))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_line_dedup_broadcast_anti_join_three_exchanges(docs):
    """line_dedup's scale contract: the hot-line set builds through
    partial-aggregated exchanges (count-distinct = pre-distinct + agg)
    and reaches the corpus line stream as the BUILD side of an anti
    join — never a cartesian, never Python, and exactly three hash
    exchanges (line-df pre-distinct, line-df agg, doc reassembly)."""
    from search_engine_spark.ops.dedup import line_dedup

    d = docs.select(
        "doc_id", F.concat_ws("\n", "text", F.lit("footer line")).alias("text")
    )
    plan = _plan(line_dedup(d, min_df=2))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_duplicate_spans_two_exchanges_no_python(docs):
    """duplicate_spans' scale contract: the window-fingerprint stream is
    a narrow generate (md5 is a JVM builtin), the hot-set build is one
    partial-aggregated count-distinct (two hash exchanges incl. the
    pre-distinct), and the stream joins the hot set without a cartesian
    or any Python evaluation."""
    from search_engine_spark.ops.dedup import duplicate_spans

    plan = _plan(duplicate_spans(docs.select("doc_id", "text"), span=5))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_curate_v2_composed_plan_no_cartesian_no_python(docs):
    """The composed curation chain must inherit its stages' plan
    contracts: no cartesian product anywhere, zero Python evaluation
    (every stage is native-function), and the final mixture gate stays
    a row-local filter (md5/conv are JVM builtins)."""
    from search_engine_spark.ops.curation import curate_v2

    plan = _plan(
        curate_v2(
            docs.select("doc_id", "text", "lang"),
            {"en": 0.5},
            max_ppl=100.0,
            default_fraction=0.1,
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_composed_neardup_pipeline_has_shingle_cap(spark):
    """Scale-facing composed dedup (neardup_dedup) must run the Jaccard
    self-join over the CAPPED shingle universe: the entry pins a non-None
    cap, and the capped pairs stage carries the hot-shingle df filter
    (`_df <= cap`) in its plan. The final composed frame can't show it —
    dup_clusters checkpoints the pair graph eagerly — so the gate sits on
    the pairs stage, exactly where the quadratic blow-up would live. The
    uncapped exact mode is reserved for the bare jaccard_dedup entry."""
    import __spark_entry__ as E

    assert E.NEARDUP_MAX_SHINGLE_DF is not None

    from search_engine_spark.ops.dedup import jaccard_dup_pairs

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    capped = _plan(jaccard_dup_pairs(d, max_shingle_df=E.NEARDUP_MAX_SHINGLE_DF))
    assert "_df" in capped, capped
    assert "_df" not in _plan(jaccard_dup_pairs(d))  # exact/oracle mode


def test_retired_discovery_decoder_prunes_posting_streams(spark, tmp_path):
    """compact_into_index's retired-doc discovery must never read the
    tf/dl/uf/position streams (they dominate block bytes): the
    doc-stream-only decoder's scan schema is term + shard + doc_bytes
    and nothing else — Parquet column pruning, verified in the plan."""
    from search_engine_spark.sink import IndexSink
    from search_engine_spark.streaming import decode_block_doc_ids

    root = str(tmp_path / "idx")
    IndexSink(root, n_buckets=8).build(generate_corpus(spark, 50))
    blocks = spark.read.option("basePath", f"{root}/blocks").parquet(f"{root}/blocks")
    plan = _plan(decode_block_doc_ids(blocks.where("shard in (0, 1)")))
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"term", "shard", "doc_bytes"}, plan


def test_subtoken_channel_single_scan_no_shuffle(docs):
    """The subtoken channel must read the corpus ONCE (a union of two
    branches would scan the parquet twice — 2x I/O at 100 TB) and stay
    a narrow generate chain: no Exchange, no Python."""
    from search_engine_spark.tokenize import tokenize_subtokens

    plan = _plan(tokenize_subtokens(docs.select("doc_id", "text"), content_col="text"))
    assert plan.count("FileScan") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_block_query_plans_one_shard_exchange_and_pruned_streams(spark, tmp_path):
    """The three block-index query paths: BM25 single and batch scans
    never read the position streams (they dominate block bytes), the
    phrase scan reads them, and each plan has exactly ONE shard
    exchange — the per-shard scorer's."""
    import re

    from search_engine_spark.query import (
        bm25_topk_batch,
        bm25_topk_blocks,
        phrase_topk_blocks,
    )
    from search_engine_spark.sink import IndexSink

    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(generate_corpus(spark, 50))
    blocks, tstats, _dstats, meta = sink.read(spark)
    t1, t2 = [r["term"] for r in tstats.orderBy(F.desc("df"), "term").limit(2).collect()]
    N, avgdl = meta["N"], meta["avgdl"]
    plans = {
        "single": _plan(bm25_topk_blocks(blocks, tstats, N, avgdl, f"{t1} {t2}", 10)),
        "batch": _plan(bm25_topk_batch(blocks, tstats, N, avgdl, {"a": t1, "b": t2}, 10)),
        "phrase": _plan(phrase_topk_blocks(blocks, tstats, N, avgdl, terms=[t1, t2], k=10)),
    }
    for name, plan in plans.items():
        # the scan's column list (ReadSchema is truncated for wide scans)
        m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
        assert m, plan
        read_cols = {c.split("#")[0] for c in m.group(1).split(",")}
        positions = {"pos_bytes", "plen_bytes"}
        assert read_cols & positions == (positions if name == "phrase" else set()), (name, plan)
        assert plan.count("hashpartitioning(shard") == 1, (name, plan)
