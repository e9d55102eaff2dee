"""Structured Streaming jobs.

The reference has NO streaming — its closest shape is the crawler's
iterative frontier loop (`while(urlQueue.count()!=0) urlQueue =
urlQueue.flatMap(λ)`, /root/reference/src/cis5550/jobs/Crawler.java:
1402-1405), which is batch BFS. These jobs are the Spark-native stream
capabilities a continuously-ingesting 100 TB corpus needs:

- :func:`incremental_index_stream` — new corpus files appear in a
  directory; each micro-batch tokenizes its documents and lands their
  postings in the index store under a per-batch commit
  partition. The write protocol is ATOMIC PER BATCH:

  * every batch writes into its own ``commit_id=<token>`` partition
    directory (``mode=overwrite`` on that directory), where ``token``
    is derived from the batch's doc_id SET (count + xor of id hashes) —
    content-addressed, so the same data gets the same token under ANY
    batch numbering (incl. after a checkpoint reset);
  * a marker file ``_commits/<token>.json`` is written
    (``fsutil.atomic_write_json``) only AFTER postings and docmap
    have both landed;
  * read paths (:func:`read_live_postings` etc.) filter to committed
    tokens, so a crash between the two writes leaves invisible
    partials, and the replay — same data ⇒ same token — OVERWRITES
    them before committing. A batch is always fully redone or fully
    skipped; postings can never double-count.

  Duplicate doc_ids (same repo/path/commit re-delivered, in-batch or
  across batches) are dropped before writing — in-batch dropDuplicates,
  whole-batch skip when the token is already committed, anti-join
  against committed ids for mixed batches. CHANGED docs (same
  repo/path, new commit) are handled as a MERGE sink split LSM-style:
  writes stay cheap and append-shaped, the tiny ``docmap`` ledger
  records every ingested version with a monotonic commit ``seq``,
  :func:`read_live_postings` masks superseded versions at read time
  (merge-on-read), and :func:`compact_store` physically retires them
  (and any uncommitted partials) offline. ``Trigger.AvailableNow``
  drains everything pending then stops, which is both the test mode and
  the nightly-catch-up mode on a cluster.
- :func:`windowed_event_counts` — event-time tumbling windows with a
  watermark for late data.
- :func:`running_user_totals` — custom stateful operator via
  ``applyInPandasWithState``: running per-user event count/value totals
  carried in GroupState across micro-batches.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..corpus import CORPUS_SCHEMA, with_doc_id
from ..fsutil import atomic_write_json, read_json, recover_dirs, swap_dir
from ..index import doc_postings, with_shard
from ..sink import (
    encoder_input,
    persisted,
    publish_buckets,
    recover_index,
    refresh_side_tables,
    with_bucket,
    write_docs,
)
from ..tokenize import tokenize, tokenize_url

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_corpus_stream(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(corpus_dir)
    )


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def _commits_dir(store_dir: str) -> str:
    return f"{store_dir}/_commits"


def committed_commits(store_dir: str) -> dict[str, int]:
    """token → monotonic commit seq, from the marker files. The marker
    set is the store's source of truth for what is readable: data
    partitions without a marker are crash leftovers, invisible to read
    paths and garbage-collected by :func:`compact_store`."""
    d = _commits_dir(store_dir)
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.endswith(".json"):
            rec = read_json(os.path.join(d, f))
            out[rec["token"]] = int(rec["seq"])
    return out


def _mark_committed(store_dir: str, token: str, seq: int, n_docs: int) -> None:
    """Atomic commit point: tmp write + rename AFTER all data landed."""
    atomic_write_json(
        os.path.join(_commits_dir(store_dir), f"{token}.json"),
        {"token": token, "seq": seq, "n_docs": n_docs},
    )


def _read_committed(spark: SparkSession, store_dir: str, name: str) -> DataFrame | None:
    """Table rows filtered to COMMITTED batch partitions. None when the
    table has no data yet. The committed-token set is marker-file-sized
    (one per micro-batch); an isin over it is a broadcast-able predicate
    — at very long stream lifetimes (10^5+ batches) swap the isin for a
    broadcast join against a commits table; the protocol is unchanged."""
    if not os.path.isdir(f"{store_dir}/{name}"):
        return None
    committed = sorted(committed_commits(store_dir))
    # mergeSchema: docmap carries the input's passthrough metadata
    # columns, so a store whose early commits were written by an input
    # with FEWER columns (e.g. pre-lang) must not have its schema
    # sampled from one arbitrary file — merge unions all commit schemas
    # and nulls the columns absent in older partitions.
    df = spark.read.option("mergeSchema", "true").parquet(f"{store_dir}/{name}")
    return df.where(F.col("commit_id").isin(committed))


def _store_meta_path(store_dir: str) -> str:
    return f"{store_dir}/_store_meta.json"


def _write_store_meta(store_dir: str, url_cols) -> None:
    """Record the store's tokenization channel once; a later stream (or
    compaction) against the same store must agree — mixing term spaces
    (URL-injected vs plain) inside one store would corrupt merge-on-read
    and folds silently."""
    want = {"url_cols": list(url_cols) if url_cols else []}
    p = _store_meta_path(store_dir)
    if os.path.exists(p):
        have = read_json(p)
        if have.get("url_cols", []) != want["url_cols"]:
            raise ValueError(
                f"store {store_dir} was ingested with url_cols="
                f"{have.get('url_cols')}, asked for {want['url_cols']}"
            )
        return
    if committed_commits(store_dir):
        # fail CLOSED: a store with committed history but no meta file
        # (created before the channel guard existed, or foreign) has an
        # unverifiable tokenization channel — stamping the new stream's
        # channel onto it would let mixed term spaces through the very
        # check this file exists to enforce.
        raise ValueError(
            f"store {store_dir} has committed history but no "
            "_store_meta.json, so its tokenization channel cannot be "
            "verified. Write _store_meta.json manually with the "
            "url_cols its history was actually ingested under "
            '(e.g. {"url_cols": []}) before streaming into it.'
        )
    atomic_write_json(p, want)


def store_url_cols(store_dir: str) -> list[str]:
    p = _store_meta_path(store_dir)
    if not os.path.exists(p):
        return []
    return list(read_json(p).get("url_cols", []))


def incremental_index_stream(
    spark: SparkSession,
    corpus_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    url_cols: tuple[str, ...] | None = None,
):
    """Start (and return) the incremental indexing query — the streaming
    upgrade of the reference's crawl_old skip-probe (Indexer.java:213-229)
    with the per-batch atomic commit protocol described in the module
    docstring.

    ``url_cols``: tokenize with the sink's URL-token injection channel
    (tokenize_url — Indexer.java:236-238 parity) so the store's postings
    carry the uf URL-bonus flag and fold cleanly into a URL-channel
    index (sink default). Must match the target index's meta.url_cols
    for compact_into_index; recorded in the store's _store_meta.json and
    enforced across restarts.

    DEPLOYMENT REQUIREMENT (applies to the whole store, not just
    compaction): the marker-file commit protocol relies on POSIX
    single-filesystem semantics — atomic renames for the commit point
    and :func:`compact_store`'s swaps (``fsutil``), and
    immediately-consistent directory listings for
    :func:`committed_commits`. ``store_dir`` must therefore live on
    one POSIX filesystem reachable from the driver (NFS/Lustre on a
    cluster is fine). On an object store (S3/GCS: no atomic rename,
    eventually-consistent listings) substitute a transactional table
    format or metastore for the marker set — Delta/Iceberg commit logs
    are the standard cluster replacement; the batch token/seq protocol
    itself is unchanged."""
    _write_store_meta(store_dir, url_cols)
    stream = read_corpus_stream(spark, corpus_dir)

    def process_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # re-ingest guard: a duplicate (repo, path, commit) — within the
        # batch or vs previously committed ids — would silently double its
        # postings rows and corrupt tf/doclen aggregates. In-batch:
        # dropDuplicates. Across batches: the content-addressed token
        # skips a wholly-seen batch BEFORE tokenizing; a mixed batch
        # anti-joins the already-committed ids. A CHANGED doc (same
        # repo/path, new commit) gets a NEW doc_id; the stale version is
        # masked by read_live_postings and retired by compact_store.
        # persist the id'd batch: four consumers follow (signature agg,
        # anti-join, tokenize, docmap write) — without the cache each one
        # re-scans and re-hashes the batch source (micro-batch-sized, so
        # the cache is cheap; the sink's no-token-cache rule is about the
        # FULL-corpus stream, not a batch)
        ids = with_doc_id(batch_df).dropDuplicates(["doc_id"]).persist()
        try:
            sig = ids.agg(
                F.count("*").alias("n"), F.bit_xor(F.xxhash64("doc_id")).alias("x")
            ).collect()[0]
            n_docs = int(sig["n"])
            # 'c' prefix keeps partition-value type inference firmly string
            token = f"c{n_docs}-{(int(sig['x'] or 0)) & (2**64 - 1):016x}"
            committed = committed_commits(store_dir)
            seen_src = _read_committed(spark, store_dir, "docmap")
            seq = max(committed.values(), default=-1) + 1
            if token in committed:
                # The (count, xor-of-xxhash64) token says this exact doc
                # set was already committed (a replay). Trusting the
                # 64-bit signature alone would turn a collision — xor is
                # linear and the inputs are externally supplied, so
                # adversarial collisions are constructible — into SILENT
                # loss of a whole batch. Exact backstop (cheap: only
                # runs on a token match, i.e. replays): every doc_id
                # must already be in the committed docmap. If any is
                # missing this is a colliding DIFFERENT batch — process
                # it under a seq-salted token instead of dropping it
                # (deterministic across a crash-replay of the same
                # attempt: the stream is the single writer, so the
                # replay recomputes the same seq).
                missing = (
                    n_docs
                    if seen_src is None
                    else ids.join(
                        seen_src.select("doc_id"), "doc_id", "left_anti"
                    ).limit(1).count()
                )
                if missing == 0:
                    return  # true replay — already fully committed, no-op
                token = f"{token}-x{seq}"
            fresh = ids
            if seen_src is not None:
                fresh = ids.join(seen_src.select("doc_id"), "doc_id", "left_anti")
            # the postings are the store's only copy of the batch's terms:
            # doclen (Σ tf) is derived from them where it is needed, by
            # compact_into_index
            toks = (
                tokenize_url(fresh, url_cols) if url_cols else tokenize(fresh)
            )
            posted = doc_postings(toks)
            if "uf" not in posted.columns:
                posted = posted.withColumn("uf", F.lit(0).cast("int"))
            # each table writes into ITS OWN commit partition with overwrite:
            # a replay of a crashed attempt (same data ⇒ same token) rewrites
            # the partial files instead of appending next to them
            posted.write.mode("overwrite").parquet(
                f"{store_dir}/postings/commit_id={token}"
            )
            # docmap: the tiny content-free ledger (every input column except
            # content/content_sha, so repo/path/commit plus passthrough
            # metadata like lang) that makes upsert-by-path resolvable at
            # read time (live_doc_ids), re-delivery of ANY previously
            # ingested version detectable (the anti-join above), and the
            # docs side table reconstructible when compact_into_index folds
            # the batch into the block index — LSM merge-on-read. seq is
            # the monotonic ingest clock (max committed + 1 at commit time;
            # the stream is the single writer).
            fresh.drop("content", "content_sha").withColumn(
                "seq", F.lit(seq)
            ).write.mode("overwrite").parquet(f"{store_dir}/docmap/commit_id={token}")
            # the commit point: only now does the batch become readable
            _mark_committed(store_dir, token, seq, n_docs)
        finally:
            ids.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _winners(docmap: DataFrame) -> DataFrame:
    """THE upsert-resolution rule, shared by every consumer (read-time
    masking in :func:`live_doc_ids`, fold-time winner selection in
    :func:`compact_into_index`): for each (repo, path) the LATEST
    ingested version wins — later commit seq beats earlier (seq is the
    stream's monotonic ingest clock); within a batch the tie breaks on
    (commit, doc_id) descending for determinism. One definition on
    purpose: if the merge-on-read view and the fold ever disagreed about
    which version is live, a superseded version could be folded into the
    index while reads mask it — silent divergence."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(
        F.desc("seq"), F.desc("commit"), F.desc("doc_id")
    )
    return docmap.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    ).drop("_rn")


def live_doc_ids(spark: SparkSession, store_dir: str) -> DataFrame:
    """Resolve upsert-by-path over the tiny COMMITTED docmap ledger
    (never the postings) via :func:`_winners` — the read-time half of a
    MERGE sink (merge-on-read): the store stays append-only and cheap to
    write, superseded versions are masked, uncommitted partials never
    seen. Reference analog: the skip-by-probe in Indexer.java:213-229
    avoided re-index of UNCHANGED urls; this additionally retires
    CHANGED ones, which the reference could not."""
    dm = _read_committed(spark, store_dir, "docmap")
    if dm is None:  # nothing ingested yet
        return spark.createDataFrame([], "doc_id long")
    return _winners(dm).select("doc_id")


_POSTINGS_SCHEMA = (
    "doc_id long, term string, tf int, positions array<int>, uf int, commit_id string"
)


def _committed_postings(spark: SparkSession, store_dir: str) -> DataFrame:
    """Postings of COMMITTED batches, every version, with the uf column
    even in a store written before it existed. An empty/brand-new store
    reads as an empty frame."""
    tbl = _read_committed(spark, store_dir, "postings")
    if tbl is None:
        return spark.createDataFrame([], _POSTINGS_SCHEMA)
    if "uf" not in tbl.columns:
        tbl = tbl.withColumn("uf", F.lit(0).cast("int"))
    return tbl


def read_live_postings(spark: SparkSession, store_dir: str) -> DataFrame:
    """Postings with uncommitted partitions filtered out and superseded
    document versions masked (merge-on-read): a doc_id-keyed left-semi
    join against :func:`live_doc_ids`. One shuffle on doc_id; AQE
    broadcasts the live-id side when it is small relative to the
    postings scan."""
    tbl = _drop_folded(_committed_postings(spark, store_dir), store_dir)
    return tbl.join(live_doc_ids(spark, store_dir), "doc_id", "left_semi")


def _folded_dir(store_dir: str) -> str:
    return f"{store_dir}/_folded"


def folded_commits(store_dir: str) -> set[str]:
    """Commit tokens already folded into the block index by
    :func:`compact_into_index`. Their docs are served by the index, so
    live-store reads exclude them; the docmap ledger keeps their rows
    (upsert resolution and re-delivery detection still need history)."""
    d = _folded_dir(store_dir)
    if not os.path.isdir(d):
        return set()
    return {f for f in os.listdir(d) if not f.startswith(".")}


def _mark_folded(store_dir: str, tokens: list[str]) -> None:
    d = _folded_dir(store_dir)
    os.makedirs(d, exist_ok=True)
    for t in tokens:
        with open(os.path.join(d, t), "w"):
            pass


def _drop_folded(tbl: DataFrame, store_dir: str) -> DataFrame:
    folded = sorted(folded_commits(store_dir))
    if not folded:
        return tbl
    return tbl.where(~F.col("commit_id").isin(folded))


_DECODED_POSTINGS_SCHEMA = (
    "term string, doc_id long, tf int, doclen int, uf int, positions array<int>"
)


def decode_block_postings(blocks: DataFrame) -> DataFrame:
    """Inverse of the block encoder: encoded block rows → one posting row
    per (term, doc). The codec is lossless (delta-varbyte streams carry
    exact doc_id/tf/doclen/uf/positions), so re-encoding the output under
    the same avgdl reproduces the input blocks byte-for-byte — that is
    what lets :func:`compact_into_index` rebuild ONLY touched buckets
    without the original corpus. Runs as mapInPandas over block rows;
    each stream of an Arrow batch decodes in one multi-block codec pass —
    no per-block or per-posting Python."""
    import numpy as np

    from ..codec import decode_doc_id_blocks, decode_positions, varbyte_decode_blocks

    cols = [
        "term", "block_id", "doc_bytes", "tf_bytes", "dl_bytes",
        "uf_bytes", "pos_bytes", "plen_bytes",
    ]

    def decode(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            if pdf.empty:
                continue
            dids, counts = decode_doc_id_blocks(pdf["doc_bytes"])
            pos, plens = decode_positions(
                b"".join(pdf["pos_bytes"]), b"".join(pdf["plen_bytes"])
            )
            out = {"term": np.repeat(pdf["term"].to_numpy(), counts), "doc_id": dids}
            for name, col in (("tf", "tf_bytes"), ("doclen", "dl_bytes"), ("uf", "uf_bytes")):
                out[name] = varbyte_decode_blocks(pdf[col])[0].astype(np.int32)
            out["positions"] = pd.Series(
                np.split(pos.astype(np.int64), np.cumsum(plens.astype(np.int64))[:-1]),
                dtype=object,
            )
            yield pd.DataFrame(out)

    return blocks.select(*cols).mapInPandas(decode, schema=_DECODED_POSTINGS_SCHEMA)


def decode_block_doc_ids(blocks: DataFrame) -> DataFrame:
    """Doc-stream-only decode: (term, doc_id) rows from block rows.
    Projects ONLY term + doc_bytes, so Parquet column pruning never
    reads the tf/dl/uf/position streams — which dominate block bytes.
    This is the retirement-discovery path of :func:`compact_into_index`
    ("which terms contain these doc_ids"); the full
    :func:`decode_block_postings` stays the rebuild path."""
    import numpy as np

    from ..codec import decode_doc_id_blocks

    def decode(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            if pdf.empty:
                continue
            dids, counts = decode_doc_id_blocks(pdf["doc_bytes"])
            yield pd.DataFrame(
                {"term": np.repeat(pdf["term"].to_numpy(), counts), "doc_id": dids}
            )

    return blocks.select("term", "doc_bytes").mapInPandas(
        decode, schema="term string, doc_id bigint"
    )


def _fold_txn_path(root: str) -> str:
    return f"{root}/_fold_txn.json"


def _read_fold_txn(root: str) -> set[int] | str | None:
    """Touched-bucket set of a fold that started but never finished (the
    journal is written before the first swap, removed after the folded
    markers land). None when no fold is in flight; the string
    ``"unknown"`` when a journal exists but is unreadable — the touched
    set of the crashed attempt is then unknown and the caller MUST treat
    every bucket as touched (an empty/partial set would leave the
    crashed attempt's buckets stale in their manifests)."""
    p = _fold_txn_path(root)
    if not os.path.exists(p):
        return None
    try:
        return {int(b) for b in read_json(p)["touched"]}
    except (OSError, ValueError, KeyError, TypeError):
        return "unknown"


def _write_fold_txn(root: str, touched: list[int], pending: list[str]) -> None:
    atomic_write_json(
        _fold_txn_path(root), {"touched": sorted(touched), "pending": pending}
    )


def _clear_fold_txn(root: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(_fold_txn_path(root))


def compact_into_index(
    spark: SparkSession,
    sink,
    store_dir: str,
) -> dict:
    """Fold the streaming store's committed postings into the block-max
    index — the reference's publish step (Indexer.java:287-294) upgraded
    to an INCREMENTAL LSM merge: only buckets actually touched by new or
    retired postings are re-encoded; every other bucket's files are not
    read, not rewritten, byte-identical afterwards. Post-compaction the
    folded docs are first-class citizens of the WAND query engine
    (block-max pruning, bucket partition pruning) instead of merge-on-read
    guests.

    Scale shape (the 100 TB question): cost ∝ |touched buckets| ×
    bucket size + |stream batch|, never corpus size — including the
    side tables, which the fold publishes through the build's own
    writers: the docs table rewrites only the doc buckets holding a
    new/retired doc (:func:`sink.write_docs`), and meta's N/avgdl is
    one scalar scan over the docs table's doclen column
    (:func:`sink.refresh_side_tables`); df is not stored, so the
    re-encoded blocks are all it needs. New-term buckets come straight
    from the new postings; retired-doc buckets need one doc-stream-only
    discovery pass (:func:`decode_block_doc_ids`) that projects ONLY
    term + doc_bytes — the tf/dl/uf/position streams, which dominate
    block bytes, are column-pruned at the Parquet scan — filtered to the
    retired ids' shards (shard is a stored column, not a partition key,
    so the filter prunes decode work row-by-row; row-group pruning on it
    is best-effort because files are clustered by (term, shard)); the
    ids themselves stay a distributed semi-join side, never a driver
    collect. The live winners are resolved once per fold (one docmap
    read and window shuffle, persisted); the new docs' postings are
    read from the pending commits only, once (persisted), and their
    doclen is Σ tf of those same postings — the store keeps no second
    copy of it. The new postings get the build's stem channel and
    doclen join (:func:`sink.encoder_input`), and the re-encode and
    publish is the build's own routine (:func:`sink.publish_buckets`). The fold
    reads the index only through ``sink`` and knows nothing of its
    on-disk layout: its own logic is the winners, retired-doc discovery,
    the touched-bucket set and the journal, which bounds a crash
    replay's re-publish to the buckets an attempt may have swapped.

    Stats handling: touched buckets are re-encoded with the index's
    ORIGINAL ``encoded_avgdl`` so untouched buckets stay byte-stable,
    while meta N/avgdl (and the block-derived df) advance to the
    post-compaction corpus — queries score EXACTLY like a from-scratch
    rebuild (scoring decodes true tf/doclen and uses current
    N/avgdl/df); only the stored max_wtf bounds lag, which the query
    path covers with the safe max(1, avgdl/encoded_avgdl) scale
    (query._bm25_topk).

    Idempotent/crash-safe on one POSIX filesystem (same deployment
    requirement as the store protocol, see incremental_index_stream):
    every table publish is an ``fsutil.swap_dir`` rename pair, repaired
    by :func:`sink.recover_index` at the start of the next fold or
    build. Every fold with pending commits ends in ONE commit tail (meta
    refresh, folded markers, journal removal), so a crash replays the
    fold — re-delivered docs are dropped against the updated docs table,
    already-retired ids retire to a no-op, and a replay with nothing
    left to re-encode still refreshes meta. The renames bypass Spark's
    cache manager, so the fold ends by refreshing the index path there.

    Returns {status, touched_buckets, n_new_docs, n_retired, folded};
    status is noop (nothing pending), folded_empty (nothing to add,
    re-encode or retire) or compacted.
    """
    root = sink.root
    meta = sink._meta()
    # channel compatibility: the store's tokenization (plain vs
    # URL-injected, and WHICH url columns) must match the index's —
    # folding across channels would mix term spaces silently. The store
    # records its channel at stream start (_write_store_meta).
    idx_urls = list(meta.get("url_cols") or [])
    st_urls = store_url_cols(store_dir)
    if idx_urls != st_urls:
        raise ValueError(
            f"channel mismatch: index built with url_cols={idx_urls}, "
            f"store ingested with url_cols={st_urls} — re-ingest the "
            "stream with url_cols matching the index (incremental_"
            "index_stream(url_cols=...)) or rebuild the index."
        )
    recover_index(root)
    n_shards = int(meta["n_shards"])
    n_buckets = int(meta["n_buckets"])
    # fold journal of a PREVIOUS attempt that crashed mid-fold: its
    # touched buckets may already be swapped, so this run re-publishes
    # them. An unreadable journal leaves that set unknown, so every
    # bucket counts as touched.
    prev_touched = _read_fold_txn(root)
    if prev_touched == "unknown":
        prev_touched = set(range(n_buckets))
    committed = committed_commits(store_dir)
    pending = sorted(set(committed) - folded_commits(store_dir))
    if not pending:
        # a journal here is a leftover from a crash between the folded
        # markers and the journal removal — the fold itself completed
        # (side tables refresh BEFORE the markers land)
        _clear_fold_txn(root)
        return {"status": "noop", "touched_buckets": [], "n_new_docs": 0,
                "n_retired": 0, "folded": []}

    enc_avgdl = float(meta.get("encoded_avgdl", meta["avgdl"]))
    # an index built before the docs table had doc buckets takes this
    # sink's count; its docs are republished whole in that layout
    meta.setdefault("n_doc_buckets", sink.n_doc_buckets)
    docs_tbl = sink.docs(spark)

    # live winners over the FULL docmap (folded history included: a doc
    # folded earlier must still beat an older pending re-delivery), with
    # their metadata rows for the docs-table update — the SAME resolution
    # rule as read-time masking (_winners; one definition on purpose),
    # resolved once per fold
    winners = _winners(_read_committed(spark, store_dir, "docmap"))
    # fold set: winners from still-pending commits whose exact version is
    # not already in the index (re-delivery of an indexed version → no-op)
    new_docs = winners.where(F.col("commit_id").isin(pending)).join(
        docs_tbl.select("doc_id"), "doc_id", "left_anti"
    )
    new_ids = F.broadcast(new_docs.select("doc_id"))
    # their postings: the pending commits' rows of exactly those ids (a
    # winner of a pending commit is live and unfolded by construction, so
    # no merge-on-read mask applies); doclen = Σ tf, the token count the
    # build's doc_stats takes (a token-less doc gets 0 at the docs write)
    new_postings = (
        _committed_postings(spark, store_dir)
        .where(F.col("commit_id").isin(pending))
        .join(new_ids, "doc_id", "left_semi")
        .select("doc_id", "term", "tf", "positions", "uf")
    )
    new_dl = new_postings.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("doclen"))
    # retired: the index's version of a (repo, path) the stream
    # superseded. It never reaches the driver as rows: only its
    # ≤ n_shards distinct shard values collect (bucket-pruning
    # literals), the ids themselves stay a distributed semi-join side.
    retired_q = (
        docs_tbl.alias("d")
        .join(winners.alias("w"), ["repo", "path"])
        .where(F.col("d.doc_id") != F.col("w.doc_id"))
        .select(F.col("d.doc_id").alias("doc_id"))
    )
    # each is read more than once (winners: fold set and retired; new
    # postings: doclen, stem vocab, raw and stem channels; encoder input:
    # touched set and re-encode; retired: shard probe, hit-term
    # semi-join, docs anti-join) — persisted in this order, so each reads
    # the ones before it from the cache (encoder_input's eager stem vocab
    # included); the vocab is released after the encoder input's cache
    with (
        persisted(winners),
        persisted(new_postings),
        encoder_input(new_postings, new_dl, n_shards, n_buckets) as enc,
        persisted(enc) as new_p,
        persisted(retired_q) as retired,
    ):
        # touched buckets: new terms' buckets + buckets holding retired docs
        touched = {int(r["bucket"]) for r in new_p.select("bucket").distinct().collect()}
        n_retired = retired.count()
        blocks = sink._blocks(spark)
        if n_retired:
            shards = sorted(
                int(r["shard"])
                for r in with_shard(retired, n_shards).select("shard").distinct().collect()
            )
            hit_terms = (
                decode_block_doc_ids(blocks.where(F.col("shard").isin(shards)))
                .join(retired, "doc_id", "left_semi")
                .select("term").distinct()
            )
            touched |= {
                int(r["bucket"])
                for r in with_bucket(hit_terms, n_buckets)
                .select("bucket").distinct().collect()
            }
        touched_l = sorted(touched)
        n_new = new_docs.count()
        # empty: nothing to add, re-encode or retire — a genuinely empty
        # fold set, or a REPLAY of a fold that crashed after its docs
        # swaps (the anti-join above sees the updated docs table). It
        # skips the publish; the replay needs the commit tail's meta refresh.
        empty = not touched_l and n_new == 0 and n_retired == 0
        if not empty:
            # fold journal, written BEFORE the first swap: a crash-replay
            # must re-publish every bucket ANY attempt may have swapped — a
            # bucket only a retired doc touched holds no fold-set posting
            # once swapped, so this run alone would not see it, yet its
            # manifest may predate the swap.
            touched_l = sorted(touched | (prev_touched or set()))
            _write_fold_txn(root, touched_l, pending)
            # rebuild touched buckets: decoded survivors ∪ enriched new
            # postings (touched_l can be empty with n_new > 0 when every
            # folded doc is token-less — then only the docs table and
            # N/avgdl change)
            if touched_l:
                # Drop the WHOLE fold set (retired ∪ new) from the decoded
                # side, not just retired: new docs always re-enter from the
                # store, and after a crash BETWEEN bucket swaps a replay
                # decodes buckets that already hold the new postings —
                # keeping them would merge with the re-added store rows in
                # the encoder and double tf.
                drop_ids = retired.unionByName(new_docs.select("doc_id"))
                old_p = decode_block_postings(
                    blocks.where(F.col("bucket").isin(touched_l))
                ).join(drop_ids, "doc_id", "left_anti")
                publish_buckets(
                    spark, root,
                    with_bucket(with_shard(old_p, n_shards), n_buckets).unionByName(new_p),
                    touched_l, n_buckets, enc_avgdl, "compact", {},
                )
            # docs side table: retire superseded rows, add the folded docs
            # (doclen 0 for token-less docs)
            write_docs(
                spark, root, int(meta["n_doc_buckets"]),
                new_docs.join(new_dl, "doc_id", "left").withColumn(
                    "doclen", F.coalesce(F.col("doclen"), F.lit(0)).cast("int")
                ),
                drop=retired,
            )
        # the commit tail (the meta refresh is idempotent)
        refresh_side_tables(spark, root, meta)
        _mark_folded(store_dir, pending)
        _clear_fold_txn(root)
    # renames bypass Spark's cache manager: drop frames cached over old files
    spark.catalog.refreshByPath(root)
    return {
        "status": "folded_empty" if empty else "compacted",
        "touched_buckets": touched_l,
        "n_new_docs": int(n_new),
        "n_retired": int(n_retired),
        "folded": pending,
    }


def compact_store(spark: SparkSession, store_dir: str) -> dict:
    """Offline compaction — the write-time half of the MERGE sink: rewrite
    the postings keeping only live doc versions from COMMITTED, unfolded
    batches (docmap keeps its full committed version history — see the
    loop comment), so read-time masking goes back to a no-op, dead bytes
    are reclaimed, and uncommitted crash partials are garbage-collected.
    Standard LSM/Delta-style maintenance: run between stream triggers
    (the stream must be stopped, as with OPTIMIZE on a real lakehouse).
    The rewrite lands in ``*.tmp`` siblings first and swaps in via
    ``fsutil.swap_dir``; a crash at any point is repaired by
    ``fsutil.recover_dirs`` on the next invocation.
    The per-row ``commit_id`` partition values are preserved, so the
    marker set stays valid. Returns row counts before/after for
    observability (``rows_before`` counts committed rows only; partials
    were never readable; ``rows_after`` is the rewrite's row count,
    checked by reading it back before the swap). A table directory an
    older store wrote and this one no longer does is left untouched."""
    # recover ALL tables before reading anything: live_doc_ids reads the
    # docmap, and a previous compaction crashed mid-swap may have left
    # docmap absent with its content in docmap.old — computing the live
    # set first would see an EMPTY ledger and the rewrite below would
    # erase the whole store
    recover_dirs(store_dir)
    with persisted(live_doc_ids(spark, store_dir)) as live:
        folded = sorted(folded_commits(store_dir))
        stats = {}
        for name in ("postings", "docmap"):
            src = f"{store_dir}/{name}"
            if not os.path.isdir(src):
                continue
            df = _read_committed(spark, store_dir, name)
            # postings retire superseded versions AND drop rows of
            # commits already folded into the block index (every read path
            # excludes them via _drop_folded and they are served by the
            # index — on a long-lived store the folded history would
            # otherwise dominate the bytes and be rewritten forever). The
            # docmap LEDGER keeps every committed version row, folded
            # included — it is what detects a re-delivered SUPERSEDED
            # version (process_batch's anti-join), and dropping its history
            # would let a replayed old commit re-ingest with a fresh higher
            # seq and mask the newer one. It is metadata-sized (one short
            # row per ingested version); compaction still rewrites it to GC
            # uncommitted partials.
            if name == "docmap":
                kept = df
                n_kept = before = df.count()
            else:
                kept = df.join(live, "doc_id", "left_semi")
                if folded:
                    kept = kept.where(~F.col("commit_id").isin(folded))
                before, n_kept = df.count(), kept.count()
            tmp = f"{src}.tmp"
            if n_kept == 0:
                # dynamic partitionBy on an EMPTY frame writes a dir with no
                # data files — unreadable by schema inference after the swap
                # discarded the original. Write one schema-bearing empty
                # part UNDER A PARTITION DIRECTORY (never-committed token
                # "gc0", so reads filter it out) to keep the table's
                # partitioned layout: a flat part file here would conflict
                # with the commit_id=... directories the resumed stream
                # writes next to it and brick partition discovery.
                kept.drop("commit_id").repartition(1).write.mode("overwrite").parquet(
                    f"{tmp}/commit_id=gc0"
                )
            else:
                kept.write.mode("overwrite").partitionBy("commit_id").parquet(tmp)
            # prove the rewrite is readable BEFORE the swap discards src
            # (a raise, not an assert: python -O must not silence the check)
            n_tmp = spark.read.parquet(tmp).count()
            if n_tmp != n_kept:
                raise RuntimeError(
                    f"compact_store: rewrite of {name} is not readable back "
                    f"({n_tmp} rows != {n_kept} kept) — aborting before swap"
                )
            swap_dir(src, tmp)
            # every kept row is committed and the gc0 partition is empty,
            # so the committed view of the swapped table holds n_kept rows
            stats[name] = {"rows_before": before, "rows_after": n_kept}
    return stats


def windowed_event_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Event-time tumbling-window aggregation with late-data watermark.
    In append mode a window emits once the watermark passes its end —
    late events within ``watermark`` still count, older ones drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_STATE_SCHEMA = "n long, total double"
_TOTALS_SCHEMA = "user_id long, n long, total double"


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n": [n], "total": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running per-user
    event count and value total, emitted once per user per micro-batch.
    GroupState holds (n, total) across batches; Arrow moves each group's
    rows as pandas batches — the streaming analogue of the engine's
    mapInPandas encoder path."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
