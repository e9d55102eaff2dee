"""Structured Streaming gates: incremental index equals batch-built
index over the same files; windowed watermark aggregation matches the
batch groundtruth; the custom stateful operator accumulates across
micro-batches exactly."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import generate_corpus, with_doc_id
from search_engine_spark.index import doc_postings
from search_engine_spark.streaming import (
    incremental_index_stream,
    read_events_stream,
    running_user_totals,
    windowed_event_counts,
)
from search_engine_spark.tokenize import tokenize

SF_DIR = "/root/testdata/sf0.001"


def _await(query, timeout=120):
    assert query.awaitTermination(timeout), "stream did not finish in time"


def test_incremental_index_matches_batch(spark, tmp_path):
    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(corpus_dir)
    full = generate_corpus(spark, 120).cache()
    # two arrival waves: files 0..59 then 60..119
    a = full.where(F.xxhash64("repo", "path", "commit") % 2 == 0)
    b = full.subtract(a)
    a.coalesce(1).write.mode("append").parquet(corpus_dir)

    q = incremental_index_stream(spark, corpus_dir, store, ckpt)
    _await(q)
    n_after_first = spark.read.parquet(f"{store}/postings").count()
    assert n_after_first > 0

    b.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, ckpt)
    _await(q)

    streamed = spark.read.parquet(f"{store}/postings")
    assert streamed.count() > n_after_first
    batch = doc_postings(tokenize(with_doc_id(full)))
    s = {
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"]))
        for r in streamed.select("doc_id", "term", "tf", "positions").collect()
    }
    e = {
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"]))
        for r in batch.collect()
    }
    assert s == e

    # restart with nothing new: checkpoint makes re-ingestion a no-op
    q = incremental_index_stream(spark, corpus_dir, store, ckpt)
    _await(q)
    assert spark.read.parquet(f"{store}/postings").count() == len(s)

    # re-delivery of ALREADY-SEEN docs in a new file (fresh checkpoint —
    # simulating an upstream replay the stream checkpoint can't catch):
    # the anti-join guard drops them, so aggregates never double-count
    a.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ckpt2"))
    _await(q)
    assert spark.read.parquet(f"{store}/postings").count() == len(s)
    full.unpersist()


def test_upsert_by_path_merge_on_read_and_compact(spark, tmp_path):
    """MERGE semantics for CHANGED docs: v2 of a (repo, path) supersedes
    v1 in the live view (merge-on-read), and compact_store physically
    retires v1 so raw == live afterwards."""
    from search_engine_spark.streaming import (
        compact_store,
        live_doc_ids,
        read_live_postings,
    )

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    v1 = generate_corpus(spark, 60).cache()

    v1.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    _await(q)

    # new commits of 20 existing paths, with changed content
    changed = (
        v1.limit(20)
        .withColumn("commit", F.concat(F.lit("v2-"), "commit"))
        .withColumn("content", F.concat(F.lit("updated revision "), "content"))
        .cache()
    )
    changed.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    _await(q)

    # raw store holds BOTH versions; live view exactly one per path
    assert spark.read.parquet(f"{store}/docmap").count() == 80
    assert live_doc_ids(spark, store).count() == 60

    # live postings == batch build over the latest corpus (v2 wins)
    latest = changed.unionByName(v1.join(changed.select("repo", "path"), ["repo", "path"], "left_anti"))
    expected = doc_postings(tokenize(with_doc_id(latest)))
    key = lambda rows: {
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"])) for r in rows
    }
    live_rows = key(
        read_live_postings(spark, store).select("doc_id", "term", "tf", "positions").collect()
    )
    assert live_rows == key(expected.collect())

    # compaction: postings shrink to exactly the live rows; the
    # docmap LEDGER keeps its full version history (it is what detects a
    # re-delivered superseded version)
    stats = compact_store(spark, store)
    assert stats["docmap"]["rows_before"] == stats["docmap"]["rows_after"] == 80
    raw_rows = key(
        spark.read.parquet(f"{store}/postings").select("doc_id", "term", "tf", "positions").collect()
    )
    assert raw_rows == live_rows
    # live view is unchanged by compaction (masking became a no-op)
    assert key(
        read_live_postings(spark, store).select("doc_id", "term", "tf", "positions").collect()
    ) == live_rows

    # a re-delivered SUPERSEDED version after compaction must NOT win:
    # v1 rows of the changed paths arrive again in a mixed batch (plus a
    # brand-new doc so the whole-batch token skip can't fire). The ledger
    # still knows v1's doc_ids, so only the new doc ingests and v2 stays
    # live.
    extra = generate_corpus(spark, 61).join(
        v1.select("repo", "path", "commit"), ["repo", "path", "commit"], "left_anti"
    )
    redelivered = v1.join(changed.select("repo", "path"), ["repo", "path"], "left_semi")
    redelivered.unionByName(extra).coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck1"))
    _await(q)
    assert live_doc_ids(spark, store).count() == 61
    # the changed paths still serve v2: no replayed-v1 doc_id is live
    v1_changed_ids = {
        r["doc_id"] for r in with_doc_id(redelivered).select("doc_id").collect()
    }
    live_now = {r["doc_id"] for r in live_doc_ids(spark, store).collect()}
    assert not (v1_changed_ids & live_now)
    v1.unpersist()
    changed.unpersist()


def test_partial_batch_replay_never_double_counts(spark, tmp_path):
    """The atomic-commit protocol: a crash after SOME of the three table
    writes but before the marker leaves partials that are (a) invisible
    to every read path and (b) OVERWRITTEN (not appended to) when the
    batch replays — so postings can never double-count."""
    from search_engine_spark.streaming import (
        committed_commits,
        compact_store,
        read_live_postings,
    )

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    docs = generate_corpus(spark, 40).cache()
    docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)
    committed = committed_commits(store)
    assert len(committed) == 1
    live_before = read_live_postings(spark, store).count()

    # simulate the crash window: a partial postings partition for a batch
    # whose marker never landed (copy the committed partition's data)
    (token,) = committed
    src = f"{store}/postings/commit_id={token}"
    partial = f"{store}/postings/commit_id=c40-deadbeefdeadbeef"
    shutil.copytree(src, partial)
    # (a) invisible: live postings unchanged despite the raw rows
    assert read_live_postings(spark, store).count() == live_before
    raw = spark.read.parquet(f"{store}/postings").count()
    assert raw == 2 * live_before  # partial IS on disk, just unreadable

    # (b) replay of the same data (fresh checkpoint — upstream redelivery)
    # computes the SAME token, finds it committed, and no-ops
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck2"))
    _await(q)
    assert committed_commits(store) == committed
    assert read_live_postings(spark, store).count() == live_before

    # (c) compaction garbage-collects the uncommitted partial
    compact_store(spark, store)
    assert spark.read.parquet(f"{store}/postings").count() == live_before
    assert not os.path.isdir(partial)
    docs.unpersist()


def test_compaction_crash_recovery(spark, tmp_path):
    """compact_store's swap: a crash that leaves src absent with the data
    in .old (the window between the two renames) is repaired on the next
    invocation, and stale .tmp leftovers are discarded."""
    from search_engine_spark.streaming import compact_store, read_live_postings

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    docs = generate_corpus(spark, 30).cache()
    docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)
    n_live = read_live_postings(spark, store).count()

    # simulate crash between os.rename(src, old) and os.rename(tmp, src)
    src = f"{store}/postings"
    os.rename(src, f"{src}.old")
    os.makedirs(f"{src}.tmp")  # stale tmp from the dead attempt
    stats = compact_store(spark, store)
    assert os.path.isdir(src) and not os.path.isdir(f"{src}.old")
    assert not os.path.isdir(f"{src}.tmp")
    assert stats["postings"]["rows_after"] == n_live
    assert read_live_postings(spark, store).count() == n_live

    # the DOCMAP swap-crash is the dangerous one: live_doc_ids reads the
    # docmap, so recovery must run BEFORE the live set is computed — a
    # compaction that read an absent ledger would see zero live docs and
    # rewrite the whole store to empty
    dm = f"{store}/docmap"
    os.rename(dm, f"{dm}.old")
    stats = compact_store(spark, store)
    assert os.path.isdir(dm) and not os.path.isdir(f"{dm}.old")
    assert stats["postings"]["rows_after"] == n_live  # NOT wiped
    assert read_live_postings(spark, store).count() == n_live
    docs.unpersist()


def test_compaction_with_empty_live_set(spark, tmp_path):
    """Every live doc version tokenizes to NOTHING (v2 of each path has
    empty content) → the compacted postings rewrite is an EMPTY
    table. The rewrite must stay readable (schema-bearing part file, not
    a data-less partitionBy dir) and the store must survive further
    reads and compactions — regression gate for the empty-kept swap bug
    (round-3 advice)."""
    from search_engine_spark.streaming import (
        compact_store,
        live_doc_ids,
        read_live_postings,
    )

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    v1 = generate_corpus(spark, 12).cache()
    v1.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)

    # v2 of EVERY path: empty content → zero postings
    v2 = v1.withColumn("commit", F.concat(F.lit("v2-"), "commit")).withColumn(
        "content", F.lit("")
    )
    v2.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)
    assert read_live_postings(spark, store).count() == 0

    stats = compact_store(spark, store)
    assert stats["postings"]["rows_after"] == 0
    # the original data was discarded and the store still READS — both
    # through the committed filter and as a raw parquet dir
    assert spark.read.parquet(f"{store}/postings").count() == 0
    assert read_live_postings(spark, store).count() == 0
    # docmap keeps full committed history (24 version rows), and a
    # second compaction over the emptied store is a clean no-op
    assert stats["docmap"]["rows_after"] == 24
    stats2 = compact_store(spark, store)
    assert stats2["postings"]["rows_after"] == 0

    # the RESUMED stream writes commit_id=... partition dirs next to the
    # empty rewrite; partition discovery must not see conflicting depths
    # (the empty rewrite keeps the partitioned layout via a never-
    # committed gc0 partition, not a flat part file)
    v3 = v1.withColumn("commit", F.concat(F.lit("v3-"), "commit"))
    v3.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)
    assert read_live_postings(spark, store).count() > 0
    assert live_doc_ids(spark, store).count() == 12  # v3 wins every path
    v1.unpersist()


def test_batch_token_collision_backstop(spark, tmp_path):
    """The whole-batch skip is keyed by a 64-bit (count, xor-of-xxhash64)
    token; a colliding token from a DIFFERENT doc set must not silently
    drop the batch. Simulated by pre-committing a marker with exactly
    the token the incoming batch will compute, with no docmap rows
    behind it: the exact backstop (all doc_ids already committed?) must
    detect the mismatch and ingest the batch under a seq-salted token."""
    from search_engine_spark.streaming import committed_commits, read_live_postings
    from search_engine_spark.streaming.jobs import _mark_committed, _write_store_meta

    corpus_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(corpus_dir)
    docs = generate_corpus(spark, 25).cache()
    docs.coalesce(1).write.mode("append").parquet(corpus_dir)

    # the token process_batch will derive for this batch
    sig = (
        with_doc_id(docs)
        .dropDuplicates(["doc_id"])
        .agg(F.count("*").alias("n"), F.bit_xor(F.xxhash64("doc_id")).alias("x"))
        .collect()[0]
    )
    token = f"c{int(sig['n'])}-{int(sig['x']) & (2**64 - 1):016x}"
    # any real store with committed history carries its channel meta
    # (stores with markers but no meta now fail closed at stream start)
    _write_store_meta(store, None)
    _mark_committed(store, token, 0, int(sig["n"]))  # forged/colliding marker

    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck"))
    _await(q)
    # the batch was NOT dropped: ingested under the seq-salted token
    assert read_live_postings(spark, store).count() > 0
    committed = committed_commits(store)
    assert f"{token}-x1" in committed and len(committed) == 2
    assert spark.read.parquet(f"{store}/docmap").count() == 25

    # a TRUE replay (same docs, fresh checkpoint) is still a no-op: the
    # backstop finds every doc_id already committed and skips
    docs.coalesce(1).write.mode("append").parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck2"))
    _await(q)
    assert committed_commits(store) == committed
    assert spark.read.parquet(f"{store}/docmap").count() == 25
    docs.unpersist()


def test_read_paths_on_empty_store(spark, tmp_path):
    """A brand-new (or never-committed) store reads as empty frames with
    the right schema, not AttributeError on None."""
    from search_engine_spark.streaming import (
        live_doc_ids,
        read_live_postings,
    )

    store = str(tmp_path / "store")  # does not even exist on disk
    assert live_doc_ids(spark, store).count() == 0
    p = read_live_postings(spark, store)
    assert p.count() == 0
    assert set(p.columns) == {"doc_id", "term", "tf", "positions", "uf", "commit_id"}


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ev") / "in")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # two files split by time so the watermark advances between batches
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.where(F.col("event_id") <= mid).coalesce(1).write.mode("append").parquet(d)
    ev.where(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(d)
    return d


def test_windowed_counts_with_watermark(spark, events_dir, tmp_path):
    out = windowed_event_counts(read_events_stream(spark, events_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r["win_start"], r["win_end"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # append mode emits only watermark-closed windows; every emitted row
    # must equal the batch groundtruth, and the early windows must have
    # been emitted (watermark advanced past them after batch 1)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expect = {
        (r["win_start"], r["win_end"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
        .collect()
    }
    assert got, "watermark never closed any window"
    for k, v in got.items():
        assert expect[k] == v, f"window {k}: streamed {v} != batch {expect[k]}"


def test_running_user_totals_stateful(spark, events_dir, tmp_path):
    totals = running_user_totals(read_events_stream(spark, events_dir))
    q = (
        totals.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    rows = spark.sql("SELECT * FROM user_totals").collect()
    # update mode: one snapshot per user per batch touching it; the MAX n
    # snapshot per user is the final state — must equal the batch totals
    final: dict[int, tuple[int, float]] = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n"] > cur[0]:
            final[r["user_id"]] = (r["n"], r["total"])
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expect = {
        r["user_id"]: (r["n"], r["total"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(final) == set(expect)
    for u in expect:
        assert final[u][0] == expect[u][0]
        assert abs(final[u][1] - expect[u][1]) < 1e-6
