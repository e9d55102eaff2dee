"""Checkpoint/resume/lineage gate for the index sink (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

The Spark upgrade of the reference's crawl_old-probe resumability
(/root/reference/src/cis5550/jobs/Indexer.java:196-233,287-294):
kill the build after wave i, resume, and the final index must be
byte-identical to a single-shot build; every committed bucket carries a
manifest entry whose content hash re-verifies against the files on disk.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark import constants as C
from search_engine_spark import fsutil
from search_engine_spark.query import bm25_topk_blocks
from search_engine_spark.sink import IndexSink, read_manifest, term_bucket_py

N_BUCKETS = 8


def _index_fingerprint(spark, root):
    """Order-insensitive xor-hash over every block row of the index."""
    blocks = spark.read.parquet(os.path.join(root, "blocks"))
    return blocks.agg(
        F.expr(
            "bit_xor(xxhash64(term, shard, block_id, n, doc_bytes, tf_bytes, "
            "dl_bytes, pos_bytes, plen_bytes, min_doc_id, max_doc_id))"
        ).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]


@pytest.fixture(scope="module")
def raw_corpus(corpus):
    return corpus.select("repo", "path", "commit", "lang", "content")


def test_doc_id_injectivity_gate(spark, raw_corpus, tmp_path_factory):
    """The 64-bit doc_id loud-failure contract (corpus.py widening note):
    the sink build fails fast on a corpus with duplicated (repo, path,
    commit) rows instead of silently merging postings. A forced hash
    collision is test_sink_build_resolves_collisions' "fail" case."""
    from search_engine_spark.corpus import IdCollisionError

    # the build gate fires before any bucket commits
    root = str(tmp_path_factory.mktemp("sink") / "dupgate")
    with pytest.raises(IdCollisionError):
        IndexSink(root, n_buckets=N_BUCKETS).build(raw_corpus.union(raw_corpus.limit(3)))
    assert not read_manifest(root)


def test_resolve_id_collisions(spark, raw_corpus):
    """Deterministic collision remap (the 10^12-scale answer that keeps a
    single-long doc_id): forced mod-8 collisions resolve to injective ids,
    the smallest key tuple in each group keeps its original id, the remap
    is bit-identical across runs, and duplicate KEY rows still raise."""
    from search_engine_spark.corpus import (
        IdCollisionError,
        resolve_id_collisions,
        with_doc_id,
    )

    df = with_doc_id(raw_corpus.limit(40)).withColumn(
        "doc_id", F.pmod(F.col("doc_id"), F.lit(8)).cast("long")
    )
    rows = df.select("repo", "path", "commit", "doc_id").collect()
    n_groups = len({r["doc_id"] for r in rows})
    keepers = {}  # id -> smallest key tuple
    for r in rows:
        k = (r["repo"], r["path"], r["commit"])
        if r["doc_id"] not in keepers or k < keepers[r["doc_id"]]:
            keepers[r["doc_id"]] = k

    resolved, n_remapped = resolve_id_collisions(df)
    out = resolved.select("repo", "path", "commit", "doc_id").collect()
    assert len({r["doc_id"] for r in out}) == 40  # injective now
    assert n_remapped == 40 - n_groups
    by_key = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in out}
    for old_id, key in keepers.items():
        assert by_key[key] == old_id  # smallest key kept the original id

    again, n2 = resolve_id_collisions(df)
    assert n2 == n_remapped
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, resolved.collect()))

    # collision-free input is a no-op (and cheap: remains the same frame)
    clean, n0 = resolve_id_collisions(with_doc_id(raw_corpus.limit(10)))
    assert n0 == 0 and clean.count() == 10

    # duplicate key rows are double ingestion, never remapped
    dup = df.limit(3)
    with pytest.raises(IdCollisionError, match="duplicate"):
        resolve_id_collisions(dup.union(dup))


def test_sink_build_resolves_collisions(spark, raw_corpus, tmp_path_factory, monkeypatch):
    """on_id_collision='resolve' builds through a colliding id assignment:
    the docs table comes out injective, meta.json records the remap count,
    and the default 'fail' mode still raises on the same corpus."""
    from search_engine_spark import corpus as corpus_mod
    from search_engine_spark import sink as sink_mod
    from search_engine_spark.corpus import IdCollisionError

    def colliding(df):
        return corpus_mod.with_doc_id(df).withColumn(
            "doc_id", F.pmod(F.col("doc_id"), F.lit(64)).cast("long")
        )

    monkeypatch.setattr(sink_mod, "with_doc_id", colliding)
    small = raw_corpus.limit(120)
    n_groups = colliding(small).select("doc_id").distinct().count()

    root = str(tmp_path_factory.mktemp("sink") / "collide_fail")
    with pytest.raises(IdCollisionError):
        IndexSink(root, n_buckets=N_BUCKETS).build(small)

    root = str(tmp_path_factory.mktemp("sink") / "collide_resolve")
    r = IndexSink(root, n_buckets=N_BUCKETS).build(small, on_id_collision="resolve")
    assert r["meta"]["id_collisions_resolved"] == 120 - n_groups
    docs = spark.read.parquet(os.path.join(root, "docs"))
    assert docs.select("doc_id").distinct().count() == docs.count() == 120

    with pytest.raises(ValueError, match="on_id_collision"):
        IndexSink(root, n_buckets=N_BUCKETS).build(small, on_id_collision="nope")


class _Crash(Exception):
    pass


def _crash_after_manifests(n):
    """A ``fsutil._rename`` stand-in: the process "dies" at the first
    rename after ``n`` manifest commits have landed."""
    real, landed = fsutil._rename, []

    def rename(src, dst):
        if len(landed) >= n:
            raise _Crash(dst)
        real(src, dst)
        if os.sep + "_manifest" + os.sep in dst:
            landed.append(dst)

    return rename


def test_build_resume_identical(spark, raw_corpus, tmp_path_factory, monkeypatch):
    single = str(tmp_path_factory.mktemp("sink") / "single")
    resumed = str(tmp_path_factory.mktemp("sink") / "resumed")

    # single-shot build
    r1 = IndexSink(single, n_buckets=N_BUCKETS).build(raw_corpus, buckets_per_wave=3)
    assert r1["status"] == "committed" and r1["built"] == N_BUCKETS

    # crashed build: wave 1's manifests land (3 of 8 buckets commit),
    # then the process dies before wave 2 publishes
    sink2 = IndexSink(resumed, n_buckets=N_BUCKETS)
    with monkeypatch.context() as m:
        m.setattr(fsutil, "_rename", _crash_after_manifests(3))
        with pytest.raises(_Crash):
            sink2.build(raw_corpus, buckets_per_wave=3)
    committed_mid = {e["bucket"] for e in read_manifest(resumed)}
    assert len(committed_mid) == 3

    # simulate the rename-vs-manifest crash window: orphan bucket dir
    orphan = os.path.join(resumed, "blocks", "bucket=7")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "garbage.parquet"), "wb") as f:
        f.write(b"not parquet")

    # resume: finishes the remaining buckets, repairs the orphan
    r3 = sink2.build(raw_corpus, buckets_per_wave=3)
    assert r3["status"] == "committed"
    assert r3["meta"]["resumed_buckets"] == 3
    assert r3["built"] == N_BUCKETS - 3

    f_single = _index_fingerprint(spark, single)
    f_resumed = _index_fingerprint(spark, resumed)
    assert (f_single["h"], f_single["n"]) == (f_resumed["h"], f_resumed["n"])

    shutil.rmtree(single)
    shutil.rmtree(resumed)


@pytest.fixture(scope="module")
def crashed_mid_build(raw_corpus, tmp_path_factory):
    """An 8-bucket build that died after wave 1's 3 manifests."""
    root = str(tmp_path_factory.mktemp("sink") / "crashed")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", _crash_after_manifests(3))
        with pytest.raises(_Crash):
            IndexSink(root, n_buckets=N_BUCKETS).build(raw_corpus, buckets_per_wave=3)
    return root


@pytest.mark.parametrize(
    "sink_kw, build_kw, key",
    [
        ({"n_buckets": 2 * N_BUCKETS}, {}, "n_buckets"),
        ({}, {"n_shards": C.N_DOC_SHARDS + 1}, "n_shards"),
        ({}, {"url_cols": None}, "url_cols"),
        ({}, {"url_cols": ("path",)}, "url_cols"),
    ],
)
def test_resume_under_another_layout_raises(
    spark, raw_corpus, crashed_mid_build, sink_kw, build_kw, key
):
    """Resuming committed buckets under another layout would mix two
    layouts in one index; it must fail before any Spark job runs."""
    before = read_manifest(crashed_mid_build)
    sc = spark.sparkContext
    group = f"layout-check-{sink_kw}-{build_kw}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=key):
            IndexSink(crashed_mid_build, **{"n_buckets": N_BUCKETS, **sink_kw}).build(
                raw_corpus, buckets_per_wave=3, **build_kw
            )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert read_manifest(crashed_mid_build) == before


def test_build_resumes_after_crashed_fold_swap(spark, raw_corpus, tmp_path_factory):
    """A fold that died inside a bucket swap leaves ``bucket=N.old`` next
    to (or instead of) ``bucket=N``. A later build must repair that —
    restore the missing bucket, discard the leftover — not choke on the
    ``.old`` name, and end with the same index as an undisturbed build."""
    root = str(tmp_path_factory.mktemp("sink") / "foldcrash")
    sink = IndexSink(root, n_buckets=N_BUCKETS)
    sink.build(raw_corpus, buckets_per_wave=4)
    clean = _index_fingerprint(spark, root)
    blocks = os.path.join(root, "blocks")
    # died between the swap's renames: the content sits only in .old
    os.rename(os.path.join(blocks, "bucket=2"), os.path.join(blocks, "bucket=2.old"))
    # died before the .old cleanup: both present
    shutil.copytree(os.path.join(blocks, "bucket=5"), os.path.join(blocks, "bucket=5.old"))
    # and one bucket left uncommitted, so the resumed build runs a wave
    os.remove(os.path.join(root, "_manifest", "bucket_00006.json"))

    r = sink.build(raw_corpus, buckets_per_wave=4)
    assert r["status"] == "committed" and r["built"] == 1
    assert sorted(os.listdir(blocks)) == [f"bucket={b}" for b in range(N_BUCKETS)]
    assert sink.verify(spark) == []
    got = _index_fingerprint(spark, root)
    assert (got["h"], got["n"]) == (clean["h"], clean["n"])
    shutil.rmtree(root)


@pytest.fixture(scope="module")
def built(spark, raw_corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sink") / "idx")
    sink = IndexSink(root, n_buckets=N_BUCKETS)
    sink.build(raw_corpus, buckets_per_wave=4)
    yield sink, root
    shutil.rmtree(root, ignore_errors=True)


def test_manifest_metrics_and_lineage(spark, built):
    sink, root = built
    entries = read_manifest(root)
    assert {e["bucket"] for e in entries} == set(range(N_BUCKETS))
    for e in entries:
        assert e["status"] == "committed"
        assert e["wall_ms"] >= 0 and e["engine"]
        if e["n_blocks"]:
            assert e["n_postings"] > 0 and e["payload_bytes"] > 0
    assert sum(e["n_terms"] for e in entries) > 0
    # lineage re-verification against the files on disk
    assert sink.verify(spark) == []
    # tampering is detected
    victim = max(entries, key=lambda e: e["n_blocks"])["bucket"]
    p = os.path.join(root, "_manifest", f"bucket_{victim:05d}.json")
    entry = json.load(open(p))
    entry["content_hash"] ^= 1
    json.dump(entry, open(p, "w"))
    assert sink.verify(spark) == [victim]
    entry["content_hash"] ^= 1
    json.dump(entry, open(p, "w"))


def test_bucket_pruned_query_matches_full_scan(spark, built):
    sink, root = built
    blocks, tstats, dstats, meta = sink.read(spark)
    terms = ["import", "def", "return"]
    pruned = sink.blocks_for_terms(spark, terms)
    # pruning only touches the owning buckets
    want = sorted({term_bucket_py(t, N_BUCKETS) for t in terms})
    got_buckets = sorted(
        r["bucket"] for r in pruned.select("bucket").distinct().collect()
    )
    assert set(got_buckets) <= set(want)
    # and the pruned scan yields the same top-k as the full scan
    N, avgdl = meta["N"], meta["avgdl"]
    full = bm25_topk_blocks(blocks, tstats, N, avgdl, "import def return", k=50).collect()
    fast = bm25_topk_blocks(pruned, tstats, N, avgdl, "import def return", k=50).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in fast]


def test_batch_query_bit_identical_to_per_query(spark, built):
    """bm25_topk_batch (whole query set, ONE job) must be bit-identical —
    docs, float64 scores, ranks — to looping bm25_topk_blocks, including
    the all-stopword and absent-term edge queries."""
    from search_engine_spark.query import bm25_topk_batch

    sink, root = built
    blocks, tstats, dstats, meta = sink.read(spark)
    N, avgdl = meta["N"], meta["avgdl"]
    qs = {
        "q0": "import",
        "q1": "def return",
        "q2": "src mod1 file3",
        "q3": "the of and",  # all stopwords → STOPWORD_PENALTY path
        "q4": "zzzmissing",  # absent term → zero rows
        "q5": "",  # normalizes to nothing → zero rows
    }
    batch = bm25_topk_batch(blocks, tstats, N, avgdl, qs, k=50).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    for qid, q in qs.items():
        expected = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(bm25_topk_blocks(blocks, tstats, N, avgdl, q, k=50).collect())
        ]
        assert got.get(qid, []) == expected, f"batch diverges for {qid}={q!r}"


def test_search_results_assembly(spark, built):
    """Result assembly (Search.java:325-345): ranked ids join back to the
    docs side table; output is rank-ordered and carries repo/path/lang."""
    sink, root = built
    res = sink.search_results(spark, "import def", k=10).collect()
    assert 0 < len(res) <= 10
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    for r in res:
        assert r["repo"] and r["path"] and r["lang"] and r["commit"]


def test_search_results_hit_anchored_preview(spark, raw_corpus, built):
    """With the corpus supplied, search_results adds a preview: a
    20-token window of the CONTENT token stream starting at the doc's
    first match position (Search.java:329-337 snippet analog). The
    window must start at a token whose stem (or raw form) is a query
    term, and reproduce the document's own token sequence."""
    import re

    from search_engine_spark import constants as C
    from search_engine_spark.query import normalize_query
    from search_engine_spark.stemmer import porter_stem

    sink, root = built
    query = "import def"
    terms, _w = normalize_query(query)
    res = sink.search_results(spark, query, k=10, corpus=raw_corpus).collect()
    assert res
    rows = {
        (r["repo"], r["path"], r["commit"]): r["preview"]
        for r in res
    }
    src = {
        (d["repo"], d["path"], d["commit"]): d["content"]
        for d in raw_corpus.collect()
    }
    split = re.compile(C.TOKEN_SPLIT_RE)
    for key, preview in rows.items():
        toks = [
            t
            for t in split.split(src[key].lower()[: C.MAX_PAGE_LEN])
            if t and len(t) <= C.MAX_WORD_LEN and t not in C.SKIP_WORDS
        ]
        ptoks = preview.split(" ")
        # first preview token is a hit, window is the doc's own stream
        first = ptoks[0]
        assert porter_stem(first) in terms or first in terms
        start = toks.index(first)
        # the hit is the FIRST match in the doc
        assert all(
            porter_stem(t) not in terms and t not in terms for t in toks[:start]
        )
        assert toks[start : start + 20] == ptoks


def test_url_token_searchable(spark, built):
    """URL injection (Indexer.java:236-238): a pure path token (the
    filename stem) retrieves its doc from the PRIMARY index."""
    sink, root = built
    res = sink.search_results(spark, "file3", k=5).collect()
    assert res, "path token 'file3' should hit via URL injection"
    assert any("file3." in r["path"] for r in res)


def test_meta_roundtrip(built):
    _, root = built
    meta = json.load(open(os.path.join(root, "meta.json")))
    assert meta["n_buckets"] == N_BUCKETS
    assert meta["N"] == 200 and meta["avgdl"] > 0
    assert meta["bm25_k1"] == C.BM25_K1 and meta["bm25_b"] == C.BM25_B
    # the build's layer timings, read by name by perfbench (--trace 1)
    assert set(meta["phase_timings_s"]) == {
        "doc_stats", "encode_write", "lineage_readback", "encode_commit", "side_tables",
    }
