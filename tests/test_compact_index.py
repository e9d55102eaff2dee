"""Streaming store → block index compaction gate (the reference's
publish step, Indexer.java:287-294, as an incremental LSM merge):

batch build → stream new + CHANGED docs → compact_into_index →
  * BM25 top-k over the compacted index EXACTLY equals a from-scratch
    rebuild over the logically-equivalent corpus (same doc ids AND bit-
    equal float64 scores: postings/doclen/N/avgdl/df all match and the
    scorer rescores survivors exactly — the encoded-avgdl bound drift
    only loosens pruning, covered by wtf_scale);
  * buckets NOT touched by new or retired postings are byte-identical
    to their pre-compaction files (the incremental-cost claim: fold
    I/O ∝ touched data, never index size);
  * folded docs leave the live store view; a replayed compaction is a
    no-op; the manifest lineage still verifies.
Plus a round-trip gate for the block decoder compaction rests on.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from search_engine_spark.corpus import generate_corpus, with_doc_id
from search_engine_spark.index import doc_postings
from search_engine_spark.query import bm25_topk_blocks, normalize_query
from search_engine_spark.sink import IndexSink, term_bucket_py, wtf_scale_of
from search_engine_spark.stemmer import porter_stem
from search_engine_spark.streaming import (
    compact_into_index,
    decode_block_postings,
    incremental_index_stream,
    read_live_postings,
)
from search_engine_spark.tokenize import tokenize

N_BUCKETS = 32

# narrow-vocabulary docs so the touched-bucket set is a small subset of
# N_BUCKETS and the untouched-byte-identity claim is actually exercised
# (generated docs carry rich vocab — retiring one touches most buckets)
_NARROW = [
    ("nrw", "a.py", "c1", "py", "zqalpha komodo zqbeta zqalpha"),
    ("nrw", "b.py", "c1", "py", "komodo zqgamma zqalpha"),
    ("nrw", "c.py", "c1", "py", "zqdelta zqbeta komodo komodo"),
]
_CHANGED_V2 = [
    ("nrw", "a.py", "c2", "py", "zqepsilon komodo zqalpha"),
    ("nrw", "b.py", "c2", "py", "zqgamma zqgamma zqzeta"),
]
_NEW = [
    ("nrw", "d.py", "c1", "py", "zqeta komodo zqalpha zqtheta"),
    ("nrw", "e.py", "c1", "py", "zqbeta zqiota"),
]

QUERIES = ["komodo", "zqalpha zqbeta", "zqgamma", "import zqepsilon", "zqzeta komodo"]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _topk(spark, sink, q, k=10):
    blocks, tstats, _d, meta = sink.read(spark)
    return [
        (r["doc_id"], r["score"])
        for r in bm25_topk_blocks(
            blocks, tstats, meta["N"], meta["avgdl"], q, k=k,
            wtf_scale=wtf_scale_of(meta),
        ).collect()
    ]


def _bucket_hashes(root):
    out = {}
    broot = os.path.join(root, "blocks")
    for d in sorted(os.listdir(broot)):
        if not d.startswith("bucket="):
            continue
        files = {}
        for f in sorted(os.listdir(os.path.join(broot, d))):
            if f.startswith(".") or f.startswith("_"):
                continue
            with open(os.path.join(broot, d, f), "rb") as fh:
                files[f] = hashlib.sha256(fh.read()).hexdigest()
        out[int(d.split("=")[1])] = files
    return out


def test_decode_block_postings_roundtrip(spark, tmp_path):
    """The decoder is the exact inverse of the encoder — postings in,
    blocks, postings out, set-identical (incl. positions and doclen)."""
    corpus = generate_corpus(spark, 60)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(corpus, url_cols=None)
    blocks, _t, dstats, _m = sink.read(spark)
    got = {
        (r["term"], r["doc_id"], r["tf"], r["doclen"], tuple(r["positions"]))
        for r in decode_block_postings(blocks).collect()
    }
    ids = with_doc_id(corpus)
    from search_engine_spark.tokenize import stem_vocab

    toks = tokenize(ids)
    vocab = stem_vocab(toks)
    stemmed = (
        toks.join(F.broadcast(vocab), "term")
        .where(F.col("stem") != F.col("term"))
        .select("doc_id", F.col("stem").alias("term"), "pos")
    )
    postings = doc_postings(toks.unionByName(stemmed))
    exp = {
        (r["term"], r["doc_id"], r["tf"], r["doclen"], tuple(r["positions"]))
        for r in postings.join(dstats, "doc_id").collect()
    }
    assert got == exp


def test_compact_into_index_equals_rebuild(spark, tmp_path):
    batch = generate_corpus(spark, 60).unionByName(_mk(spark, _NARROW)).cache()
    batch.count()
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=N_BUCKETS)
    sink.build(batch, url_cols=None)
    pre = _bucket_hashes(sink.root)

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    stream_docs = _mk(spark, _CHANGED_V2 + _NEW)
    stream_docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted"
    assert res["n_new_docs"] == 4
    assert res["n_retired"] == 2  # a.py@c1, b.py@c1 superseded

    # untouched buckets: not rewritten, byte-identical
    post = _bucket_hashes(sink.root)
    untouched = [b for b in pre if b not in res["touched_buckets"]]
    assert len(untouched) >= N_BUCKETS // 2, (
        f"touched {res['touched_buckets']} covers too much — the narrow-"
        "vocab fixture no longer exercises incrementality"
    )
    for b in untouched:
        assert post[b] == pre[b], f"untouched bucket {b} changed"

    # from-scratch rebuild over the logically-equivalent corpus
    final = (
        batch.join(
            _mk(spark, _CHANGED_V2).select("repo", "path"),
            ["repo", "path"],
            "left_anti",
        )
        .unionByName(stream_docs)
    )
    sink2 = IndexSink(str(tmp_path / "idx2"), n_buckets=N_BUCKETS)
    sink2.build(final, url_cols=None)
    _b, _t, _d, meta2 = sink2.read(spark)
    _b, _t, _d, meta1 = sink.read(spark)
    assert meta1["N"] == meta2["N"]
    assert meta1["avgdl"] == meta2["avgdl"]
    assert meta1["encoded_avgdl"] != meta1["avgdl"]  # stats advanced, encode pinned
    for qs in QUERIES:
        assert _topk(spark, sink, qs) == _topk(spark, sink2, qs), qs

    # lineage verifies; folded docs leave the live store; replay is a no-op
    assert sink.verify(spark) == []
    assert read_live_postings(spark, store).count() == 0
    assert compact_into_index(spark, sink, store)["status"] == "noop"
    batch.unpersist()


def _decoded_content(spark, sink):
    """Full logical index content: every posting with its URL-bonus flag."""
    blocks, _t, _d, _m = sink.read(spark)
    return {
        (r["term"], r["doc_id"], r["tf"], r["doclen"], r["uf"], tuple(r["positions"]))
        for r in decode_block_postings(blocks).collect()
    }


def test_compact_url_channel_equals_rebuild(spark, tmp_path):
    """The URL-injected channel (sink DEFAULT, Indexer.java:236-238)
    folds too: the stream ingests with tokenize_url, the store carries
    the uf bonus flag, and the compacted index's DECODED content —
    including uf — exactly equals a from-scratch URL-channel rebuild."""
    url_cols = ("repo", "path")
    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=url_cols)

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    stream_docs = _mk(spark, _CHANGED_V2 + _NEW)
    stream_docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(
        spark, corpus_dir, store, str(tmp_path / "ckpt"), url_cols=url_cols
    )
    assert q.awaitTermination(120)

    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted"
    assert res["n_new_docs"] == 4 and res["n_retired"] == 2

    final = (
        batch.join(
            _mk(spark, _CHANGED_V2).select("repo", "path"),
            ["repo", "path"],
            "left_anti",
        ).unionByName(stream_docs)
    )
    sink2 = IndexSink(str(tmp_path / "idx2"), n_buckets=8)
    sink2.build(final, url_cols=url_cols)

    assert _decoded_content(spark, sink) == _decoded_content(spark, sink2)
    # "py" is a URL (path) token on every doc: scores ride the uf bonus
    for qs in ("py", "komodo", "zqepsilon py"):
        assert _topk(spark, sink, qs) == _topk(spark, sink2, qs), qs


def test_compact_replay_after_partial_crash(spark, tmp_path):
    """Crash window between the bucket swaps and the docs swap: buckets
    already hold the folded postings while the docs table (and fold
    markers) still say they are pending. The replay must converge to the
    same state as a clean fold — NOT double-count the new docs' tf by
    merging already-swapped blocks with re-added store rows."""
    import shutil

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=None)

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    stream_docs = _mk(spark, _CHANGED_V2 + _NEW)
    stream_docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    docs_dir = os.path.join(sink.root, "docs")
    docs_backup = str(tmp_path / "docs_pre")
    shutil.copytree(docs_dir, docs_backup)
    meta_backup = open(os.path.join(sink.root, "meta.json")).read()

    assert compact_into_index(spark, sink, store)["status"] == "compacted"

    # rewind to the crash window: buckets are swapped, docs/meta/markers
    # are pre-fold
    shutil.rmtree(docs_dir)
    shutil.copytree(docs_backup, docs_dir)
    with open(os.path.join(sink.root, "meta.json"), "w") as fh:
        fh.write(meta_backup)
    shutil.rmtree(os.path.join(store, "_folded"))

    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted"

    final = (
        batch.join(
            _mk(spark, _CHANGED_V2).select("repo", "path"),
            ["repo", "path"],
            "left_anti",
        ).unionByName(stream_docs)
    )
    sink2 = IndexSink(str(tmp_path / "idx2"), n_buckets=8)
    sink2.build(final, url_cols=None)
    assert _decoded_content(spark, sink) == _decoded_content(spark, sink2)
    for qs in QUERIES:
        assert _topk(spark, sink, qs) == _topk(spark, sink2, qs), qs


def test_compact_replay_after_docs_swap_crash(spark, tmp_path):
    """The LATE crash window: buckets AND the docs table are swapped but
    the crash hit before the meta rewrite and the fold markers. The
    replay then sees an empty fold set (the anti-join runs against the
    already-updated docs table) and takes the nothing-to-re-encode path
    — which must still refresh meta before marking folded, or N/avgdl
    stay pre-fold forever and BM25 silently diverges from a rebuild."""
    import shutil

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=None)
    meta_backup = open(os.path.join(sink.root, "meta.json")).read()

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    stream_docs = _mk(spark, _CHANGED_V2 + _NEW)
    stream_docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    assert compact_into_index(spark, sink, store)["status"] == "compacted"

    # rewind to the crash point: blocks + docs are post-fold, meta is
    # pre-fold, no fold markers
    with open(os.path.join(sink.root, "meta.json"), "w") as fh:
        fh.write(meta_backup)
    shutil.rmtree(os.path.join(store, "_folded"))

    res = compact_into_index(spark, sink, store)
    assert res["status"] == "folded_empty"  # nothing left to re-encode...

    # ...but meta and df must now equal a from-scratch rebuild
    final = (
        batch.join(
            _mk(spark, _CHANGED_V2).select("repo", "path"),
            ["repo", "path"],
            "left_anti",
        ).unionByName(stream_docs)
    )
    sink2 = IndexSink(str(tmp_path / "idx2"), n_buckets=8)
    sink2.build(final, url_cols=None)
    _b, t1, _d, meta1 = sink.read(spark)
    _b, t2, _d, meta2 = sink2.read(spark)
    assert meta1["N"] == meta2["N"]
    assert meta1["avgdl"] == meta2["avgdl"]
    assert {(r["term"], r["df"]) for r in t1.collect()} == {
        (r["term"], r["df"]) for r in t2.collect()
    }
    for qs in QUERIES:
        assert _topk(spark, sink, qs) == _topk(spark, sink2, qs), qs
    # and the replay marked the commits folded: next call is a clean noop
    assert compact_into_index(spark, sink, store)["status"] == "noop"


def _dir_hashes(root, sub, prefix):
    """sha256 of every data file per partition dir (``prefix=NN``)."""
    out = {}
    sroot = os.path.join(root, sub)
    for d in sorted(os.listdir(sroot)):
        if not d.startswith(prefix + "="):
            continue
        files = {}
        for f in sorted(os.listdir(os.path.join(sroot, d))):
            if f.startswith(".") or f.startswith("_"):
                continue
            with open(os.path.join(sroot, d, f), "rb") as fh:
                files[f] = hashlib.sha256(fh.read()).hexdigest()
        out[int(d.split("=")[1])] = files
    return out


def _stream_and_fold(spark, tmp_path, sink, rows, ck="ckpt"):
    corpus_dir = str(tmp_path / f"in_{ck}")
    store = str(tmp_path / f"store_{ck}")
    os.makedirs(corpus_dir)
    _mk(spark, rows).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / ck))
    assert q.awaitTermination(120)
    return store, compact_into_index(spark, sink, store)


def test_docs_dbucket_incremental_rewrite(spark, tmp_path):
    """The docs metadata table is dbucket-partitioned and a fold rewrites
    ONLY the dbuckets holding a new or retired doc (the round-4 closure of
    the full-docs-rewrite O(index) fold term) — every other dbucket dir is
    byte-identical."""
    batch = generate_corpus(spark, 60).unionByName(_mk(spark, _NARROW)).cache()
    batch.count()
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=N_BUCKETS)
    sink.build(batch, url_cols=None)
    docs_root = os.path.join(sink.root, "docs")
    assert any(d.startswith("dbucket=") for d in os.listdir(docs_root))
    assert "dbucket" not in sink.docs(spark).columns  # logical view is clean
    pre = _dir_hashes(sink.root, "docs", "dbucket")
    n_db = sink.n_doc_buckets

    pre_docs = spark.read.parquet(docs_root)
    retired_db = {
        int(r["dbucket"])
        for r in pre_docs.where(
            (F.col("repo") == "nrw") & F.col("path").isin("a.py", "b.py")
        ).select("dbucket").collect()
    }

    _store, res = _stream_and_fold(spark, tmp_path, sink, _CHANGED_V2 + _NEW)
    assert res["status"] == "compacted"
    assert res["n_new_docs"] == 4 and res["n_retired"] == 2

    post_docs = spark.read.parquet(docs_root)
    new_db = {
        int(r["dbucket"])
        for r in post_docs.where(
            (F.col("repo") == "nrw")
            & (F.col("path").isin("d.py", "e.py") | (F.col("commit") == "c2"))
        ).select("dbucket").collect()
    }
    post = _dir_hashes(sink.root, "docs", "dbucket")
    changed = {db for db in pre if post.get(db) != pre[db]}
    assert changed <= (retired_db | new_db), (
        f"dbuckets {changed - (retired_db | new_db)} rewritten without a "
        "new/retired doc — the fold is not delta-proportional on docs"
    )
    untouched = [db for db in pre if db not in (retired_db | new_db)]
    assert len(untouched) >= n_db // 2  # the claim is actually exercised
    for db in untouched:
        assert post[db] == pre[db], f"untouched dbucket {db} changed"
    batch.unpersist()


def test_fold_journal_bounds_replay_refresh(spark, tmp_path):
    """Crash window: blocks + docs swapped, journal present, meta
    pre-fold. The replay takes the folded_empty path, converges N/avgdl
    to the post-fold values and clears the journal."""
    import json
    import shutil

    from search_engine_spark.streaming.jobs import _read_fold_txn, _write_fold_txn

    batch = generate_corpus(spark, 60).unionByName(_mk(spark, _NARROW)).cache()
    batch.count()
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=N_BUCKETS)
    sink.build(batch, url_cols=None)
    meta_backup = open(os.path.join(sink.root, "meta.json")).read()

    store, res = _stream_and_fold(spark, tmp_path, sink, _CHANGED_V2 + _NEW)
    assert res["status"] == "compacted"
    touched = res["touched_buckets"]
    assert _read_fold_txn(sink.root) is None  # clean fold clears the journal

    # rewind to the crash point, with the journal the crash would leave
    with open(os.path.join(sink.root, "meta.json"), "w") as fh:
        fh.write(meta_backup)
    shutil.rmtree(os.path.join(store, "_folded"))
    _write_fold_txn(sink.root, touched, res["folded"])

    res2 = compact_into_index(spark, sink, store)
    assert res2["status"] == "folded_empty"
    assert _read_fold_txn(sink.root) is None  # replay cleared it

    # N/avgdl advanced to post-fold truth despite the rewound meta
    meta_now = json.load(open(os.path.join(sink.root, "meta.json")))
    docs_now = spark.read.parquet(os.path.join(sink.root, "docs"))
    row = docs_now.agg(F.count("*").alias("n"), F.avg("doclen").alias("a")).collect()[0]
    assert meta_now["N"] == row["n"] and abs(meta_now["avgdl"] - row["a"]) < 1e-12
    assert compact_into_index(spark, sink, store)["status"] == "noop"
    batch.unpersist()


def test_corrupt_fold_journal_forces_full_refresh(spark, tmp_path):
    """An unreadable journal leaves the crashed attempt's touched set
    unknown; the replay must still converge (fail-wide) — meta refreshed,
    journal cleared, every query served."""
    import shutil

    from search_engine_spark.streaming.jobs import _fold_txn_path, _read_fold_txn

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=None)
    meta_backup = open(os.path.join(sink.root, "meta.json")).read()

    store, res = _stream_and_fold(spark, tmp_path, sink, _CHANGED_V2 + _NEW)
    assert res["status"] == "compacted"
    folded_meta = sink._meta()

    with open(os.path.join(sink.root, "meta.json"), "w") as fh:
        fh.write(meta_backup)
    shutil.rmtree(os.path.join(store, "_folded"))
    with open(_fold_txn_path(sink.root), "w") as fh:
        fh.write("{not json")

    res2 = compact_into_index(spark, sink, store)
    assert res2["status"] == "folded_empty"
    assert _read_fold_txn(sink.root) is None  # cleared after the replay
    meta = sink._meta()
    assert (meta["N"], meta["avgdl"]) == (folded_meta["N"], folded_meta["avgdl"])
    for qs in QUERIES:
        assert _topk(spark, sink, qs)  # index still serves


def test_predbucket_docs_layout_still_folds(spark, tmp_path):
    """A pre-dbucket index (flat docs dir, no n_doc_buckets in meta —
    built by an earlier engine) still folds via the full-rewrite branch
    and converges to the rebuild."""
    import json
    import shutil

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=None)

    # devolve to the pre-upgrade layout
    docs_root = os.path.join(sink.root, "docs")
    flat = sink.docs(spark)
    flat.write.parquet(docs_root + ".flat")
    shutil.rmtree(docs_root)
    os.rename(docs_root + ".flat", docs_root)
    mp = os.path.join(sink.root, "meta.json")
    meta = json.load(open(mp))
    meta.pop("n_doc_buckets", None)
    with open(mp, "w") as fh:
        json.dump(meta, fh)

    _store, res = _stream_and_fold(spark, tmp_path, sink, _CHANGED_V2 + _NEW)
    assert res["status"] == "compacted"
    assert res["n_new_docs"] == 4 and res["n_retired"] == 2

    final = (
        batch.join(
            _mk(spark, _CHANGED_V2).select("repo", "path"),
            ["repo", "path"],
            "left_anti",
        ).unionByName(_mk(spark, _CHANGED_V2 + _NEW))
    )
    sink2 = IndexSink(str(tmp_path / "idx2"), n_buckets=8)
    sink2.build(final, url_cols=None)
    assert _decoded_content(spark, sink) == _decoded_content(spark, sink2)
    for qs in QUERIES:
        assert _topk(spark, sink, qs) == _topk(spark, sink2, qs), qs


def test_compact_store_gcs_folded_commits(spark, tmp_path):
    """After a fold, the store's postings rows for folded commits
    are dead bytes (served by the index, excluded by every read path) —
    compact_store must reclaim them, keep the docmap ledger's history,
    and leave the store in a layout the RESUMED stream can keep writing
    into (partition-dir empty rewrite, not a flat part file)."""
    from search_engine_spark.streaming import (
        compact_store,
        folded_commits,
        read_live_postings,
    )

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=None)

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    _mk(spark, _NEW).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    assert q.awaitTermination(120)

    # a fold that retires nothing touches exactly the buckets of the new
    # docs' raw and stemmed terms
    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted"
    assert res["n_retired"] == 0 and res["n_new_docs"] == 2
    terms = {t for row in _NEW for t in row[4].split()}
    assert res["touched_buckets"] == sorted(
        {term_bucket_py(t, 8) for t in terms | {porter_stem(t) for t in terms}}
    )
    assert len(folded_commits(store)) == 1
    assert spark.read.parquet(f"{store}/postings").count() > 0  # dead bytes

    stats = compact_store(spark, store)
    # folded postings reclaimed; docmap history intact
    assert stats["postings"]["rows_after"] == 0
    assert stats["docmap"]["rows_after"] == 2
    assert spark.read.parquet(f"{store}/postings").count() == 0

    # the RESUMED stream writes new commit partitions next to the empty
    # rewrite — every read path must still work (layout regression gate)
    _mk(spark, _CHANGED_V2).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    assert q.awaitTermination(120)
    assert read_live_postings(spark, store).count() > 0
    # and the NEXT fold sees only the new commits (folded GC didn't
    # disturb replay bookkeeping)
    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted"
    assert res["n_new_docs"] == 2 and res["n_retired"] == 2


def test_reopened_index_prunes_with_its_own_layout(spark, tmp_path):
    """An index opened without its build arguments (``IndexSink(root)``,
    default n_buckets) prunes buckets with the n_buckets it was built
    with: the same blocks and search results as the building sink."""
    root = str(tmp_path / "idx")
    builder = IndexSink(root, n_buckets=2)
    builder.build(_mk(spark, _NARROW), url_cols=None)
    reopened = IndexSink(root)
    assert reopened.n_buckets != 2

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(reopened.search_results(spark, "komodo")) == rows(
        builder.search_results(spark, "komodo")
    )
    assert len(rows(builder.search_results(spark, "komodo"))) == 3
    for q in QUERIES:
        terms = normalize_query(q)[0]
        assert rows(reopened.blocks_for_terms(spark, terms)) == rows(
            builder.blocks_for_terms(spark, terms)
        ), q


def test_fold_leaves_no_stale_cached_read(spark, tmp_path):
    """A df frame cached from ``read`` before a fold must not answer a
    new ``read`` after it: the fold's directory swaps bypass Spark's
    cache manager, so the fold refreshes the index path itself."""
    import pyarrow.parquet as pq

    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(_mk(spark, _NARROW), url_cols=None)
    cached = sink.read(spark)[1].cache()
    try:
        cached.count()
        corpus_dir = str(tmp_path / "in")
        os.makedirs(corpus_dir)
        _mk(spark, _CHANGED_V2 + _NEW).coalesce(1).write.mode("append").parquet(corpus_dir)
        store = str(tmp_path / "store")
        q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)
        assert compact_into_index(spark, sink, store)["status"] == "compacted"

        got = {(r["term"], r["df"]) for r in sink.read(spark)[1].collect()}
        # uncached: Σ n per term straight from the block files
        dfs = (
            pq.read_table(os.path.join(sink.root, "blocks"), columns=["term", "n"])
            .group_by("term").aggregate([("n", "sum")]).to_pydict()
        )
        exp = set(zip(dfs["term"], dfs["n_sum"]))
        assert {"zqepsilon", "zqzeta", "zqeta", "zqtheta", "zqiota"} <= {t for t, _ in exp}
        assert got == exp
    finally:
        cached.unpersist()


def test_store_channel_pinned_across_restarts(spark, tmp_path):
    """A store remembers its tokenization channel: restarting the stream
    with different url_cols must fail before ingesting a single row."""
    import pytest

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    _mk(spark, _NARROW).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(
        spark, corpus_dir, store, str(tmp_path / "ck1"), url_cols=("repo", "path")
    )
    assert q.awaitTermination(120)
    from search_engine_spark.streaming import store_url_cols

    assert store_url_cols(store) == ["repo", "path"]
    with pytest.raises(ValueError, match="url_cols"):
        incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck2"))


def test_old_docmap_schema_still_reads_and_folds(spark, tmp_path):
    """A store whose earlier docmap commits were written by an input
    WITHOUT a passthrough column (pre-upgrade schema) must still read
    and fold: _read_committed merges commit schemas, nulling the column
    for old rows, instead of sampling one arbitrary file's schema."""
    import shutil

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=N_BUCKETS)
    sink.build(batch)

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    _mk(spark, _NEW).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(
        spark, corpus_dir, store, str(tmp_path / "ck"),
        url_cols=("repo", "path"),
    )
    assert q.awaitTermination(120)

    # simulate the pre-upgrade commit: strip `lang` from its docmap
    from search_engine_spark.streaming import committed_commits

    token = next(iter(committed_commits(store)))
    part = os.path.join(store, "docmap", f"commit_id={token}")
    old_rows = spark.read.parquet(part).drop("lang").collect()
    old = spark.createDataFrame(old_rows)
    tmp = part + ".rewrite"
    old.write.parquet(tmp)
    shutil.rmtree(part)
    os.rename(tmp, part)

    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted" and res["n_new_docs"] == 2
    folded = sink.docs(spark).where(F.col("path").isin("d.py", "e.py"))
    assert folded.count() == 2
    assert folded.where(F.col("lang").isNull()).count() == 2


def test_premeta_store_with_history_fails_closed(spark, tmp_path):
    """A store with committed history but NO _store_meta.json (created
    before the channel guard, or foreign) must refuse new ingest: its
    historical tokenization channel is unverifiable, and stamping the
    new stream's channel onto it would silently mix term spaces."""
    import pytest

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    _mk(spark, _NARROW).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    assert q.awaitTermination(120)

    os.remove(os.path.join(store, "_store_meta.json"))  # pre-guard store
    with pytest.raises(ValueError, match="cannot be verified"):
        incremental_index_stream(
            spark, corpus_dir, store, str(tmp_path / "ck2"),
            url_cols=("repo", "path"),
        )


def test_compact_channel_mismatch_raises(spark, tmp_path):
    """A plain-tokenized store must not fold into a URL-channel index."""
    import pytest

    batch = _mk(spark, _NARROW)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.build(batch, url_cols=("repo", "path"))

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    _mk(spark, _NEW).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)

    with pytest.raises(ValueError, match="channel mismatch"):
        compact_into_index(spark, sink, store)
