"""Resumable, checkpointed index sink with per-partition lineage + metrics.

The reference's (crude) resumability is the `crawl_old` probe + temp-table
publish in /root/reference/src/cis5550/jobs/Indexer.java:196-233,287-294:
already-indexed URLs are skipped and the finished table is renamed into
place.  The Spark-first upgrade (SURVEY.md §4.2.5, §7.5) is an
Iceberg-style *per-partition commit protocol*:

  - The term space is hashed into ``n_buckets`` **term buckets**
    (``bucket = crc32(term) % n_buckets`` — crc32 because Python's
    ``zlib.crc32`` computes the identical value driver-side, so the query
    path can prune buckets without a Spark job).  A bucket is the unit of
    commit, resume, lineage and metrics.  At 100 TB, raise ``n_buckets``
    into the thousands; the protocol is unchanged.
  - Buckets are written in **waves** (``buckets_per_wave`` per Spark job)
    from one enriched-postings frame (:func:`encoder_input`): each wave
    filters its buckets, encodes blocks, writes to a temp dir,
    atomically swaps each ``bucket=NN`` directory into the final
    layout, and only then writes that bucket's manifest entry
    (:func:`publish_buckets`; the rename protocol is ``fsutil``'s).
  - A manifest entry is one JSON file ``_manifest/bucket_NNNNN.json``
    carrying status, row/block/byte counts, wall_ms, and a
    **content-lineage hash**: xor-aggregate of
    ``xxhash64(term, shard, block_id, doc_bytes)`` over the bucket's
    written rows (read back from disk, so it attests what is actually in
    the files).  Order-insensitive, deterministic, cheap to re-verify.
  - **Resume = set difference**: committed buckets (manifest present) are
    skipped; a bucket directory without a manifest (crash between rename
    and manifest write) is swapped out and rewritten — the writer is
    idempotent per bucket because the encoder is deterministic. A
    resume under another (n_buckets, n_shards, url_cols) than
    ``_layout.json`` records fails instead of mixing layouts.
  - **One index writer**: the build and the fold
    (``streaming.compact_into_index``) share every table writer here —
    :func:`encoder_input`, :func:`publish_buckets`, :func:`write_docs`,
    :func:`refresh_side_tables` — and every blocks read goes through
    :func:`read_blocks`.
  - **One copy of each fact**: df(term) is not stored. Each block row
    covers ``n`` postings = ``n`` distinct docs of its term, so
    :func:`term_df` derives df from the committed blocks' ``n`` column
    — the columnar per-block metadata kept next to the postings.

On a real cluster each wave is an Iceberg ``append`` commit and the
manifest rows live in a catalog table; the directory-rename + JSON-file
fallback here keeps the exact same commit points without a catalog
service (SURVEY.md §7 "sandbox fallback").
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import constants as C
from .corpus import with_doc_id
from .fsutil import atomic_write_json, read_json, recover_dirs, swap_dir
from .index import (
    INDEX_SCHEMA,
    _encoder_stream,
    corpus_stats,
    with_shard,
)

# NOTE: version gates the scaling-history pools (BENCH/history.jsonl
# pairing) — bump ONLY for changes that could move throughput beyond
# noise, or the pools fork and medians lose their sample size.
ENGINE_VERSION = "search_engine_spark-0.9"


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side bucket of a term — must agree with the Spark-side
    expression in :func:`with_bucket` (zlib.crc32 == Spark F.crc32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def with_bucket(df: DataFrame, n_buckets: int, term_col: str = "term") -> DataFrame:
    return df.withColumn(
        "bucket",
        (F.crc32(F.encode(F.col(term_col), "utf-8")) % n_buckets).cast("int"),
    )


def wtf_scale_of(meta: dict) -> float:
    """Safe block-bound scale for an index whose corpus stats have drifted
    from the avgdl its max_wtf bounds were encoded with (incremental
    compaction advances N/avgdl without re-encoding untouched buckets).
    1.0 for any index whose encoded avgdl still matches — i.e. every
    fresh build."""
    enc = float(meta.get("encoded_avgdl", meta["avgdl"]) or 0.0)
    if enc <= 0.0:
        return 1.0
    return max(1.0, float(meta["avgdl"]) / enc)


def _manifest_path(root: str, bucket: int) -> str:
    return os.path.join(root, "_manifest", f"bucket_{bucket:05d}.json")


def committed_buckets(root: str) -> set[int]:
    mdir = os.path.join(root, "_manifest")
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for f in os.listdir(mdir):
        if f.startswith("bucket_") and f.endswith(".json"):
            out.add(int(f[len("bucket_") : -len(".json")]))
    return out


def read_manifest(root: str) -> list[dict]:
    return [read_json(_manifest_path(root, b)) for b in sorted(committed_buckets(root))]


def _bucket_lineage(df: DataFrame) -> dict[int, dict]:
    """Per-bucket metrics + structural-lineage hash over (already
    written) block rows.

    The hash covers the full block GEOMETRY — (term, shard, block_id, n,
    min/max doc id) per block, xor-aggregated — but not the payload
    bytes: hashing payloads forces the read-back to scan every binary
    column (≈ the whole index) through the one disk the sandbox host
    has, a serial cost at any executor count. Geometry pins the doc-id
    space exactly (any posting added/dropped/moved changes some block's
    n/min/max), payload integrity is parquet's own page checksums'
    job. ``payload_bytes`` metrics come from file sizes, not a scan."""
    rows = (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("n").alias("n_postings"),
            F.count_distinct("term").alias("n_terms"),
            F.expr(
                "bit_xor(xxhash64(term, shard, block_id, n, min_doc_id, max_doc_id))"
            ).alias("content_hash"),
        )
        .collect()
    )
    return {
        int(r["bucket"]): {
            "n_blocks": int(r["n_blocks"]),
            "n_postings": int(r["n_postings"]),
            "n_terms": int(r["n_terms"]),
            "content_hash": int(r["content_hash"]),
        }
        for r in rows
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@contextmanager
def _scan_conf(spark, value: str):
    """Temporarily pin spark.sql.files.maxPartitionBytes. The build tunes
    splits FINE for the corpus-tokenize scans (see _tune_scan_granularity)
    but the lineage read-back over the just-written index wants LARGE
    splits — hundreds of small block files pack into a handful of tasks
    instead of one task per file."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", value)
    try:
        yield
    finally:
        # no explicit prior value → UNSET (fall back to the session
        # default) rather than leaving the override to leak into every
        # later scan of the session
        if old is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")


@contextmanager
def persisted(df: DataFrame, level=None):
    """``df`` persisted for the block and unpersisted however it exits,
    so a failed call leaves no cached frame in a long-lived driver."""
    df = df.persist(level) if level is not None else df.persist()
    try:
        yield df
    finally:
        df.unpersist()


# Encoder exchange width per bucket: a (term, shard) group lands in
# partition (bucket, shard % FILES_PER_BUCKET), so a hot term's postings
# split over this many reducers and each bucket is written as at most
# this many term-sorted files. One value for build and fold — a fold
# with another width would produce a layout no rebuild produces.
FILES_PER_BUCKET = 8

_EMPTY_STATS = {"n_blocks": 0, "n_postings": 0, "n_terms": 0, "content_hash": 0}

# Corpus rows up to which the build broadcasts its doclen side (12 B/doc:
# 5M docs ≈ 60 MB)
BROADCAST_DOCLEN_MAX_DOCS = 5_000_000


def _add_time(phase_t: dict, key: str, t0: float) -> None:
    phase_t[key] = phase_t.get(key, 0.0) + (time.perf_counter() - t0)


@contextmanager
def encoder_input(
    postings: DataFrame,
    doclen: DataFrame,
    n_shards: int,
    n_buckets: int,
    broadcast_doclen: bool = True,
):
    """Raw-channel postings (doc_id, term, tf, positions, uf) → the rows
    :func:`publish_buckets` encodes: stem channel added at the POSTING
    level, doclen joined, shard and bucket assigned.

    A context manager because it owns the stem vocabulary's local
    checkpoint (:func:`tokenize.stem_vocab`): the block's exit releases
    it, however the block exits, instead of leaving it to Spark's
    context cleaner. The yielded frame (and any cache of it) is
    unreadable afterwards.

    Stems are computed over the distinct vocabulary only; renamed rows
    join back broadcast and COPY the raw row's uf (Search.java:149-163).
    Two raw terms sharing a stem give duplicate (term, doc) rows, merged
    by the encoder after its sort (index._encode_batch) — no extra
    exchange. doclen travels as smallint (bounded by tokenizer
    truncation); the encoder casts to uint64, so blocks are identical.
    Broadcast the doclen side while it is small (~16 B/doc)."""
    from .tokenize import stem_vocab

    raw = postings.select("doc_id", "term", "tf", "positions", "uf")
    vocab = stem_vocab(raw)
    try:
        renames = vocab.where(F.col("stem") != F.col("term"))
        stemmed = raw.join(F.broadcast(renames), "term").select(
            "doc_id", F.col("stem").alias("term"), "tf", "positions", "uf"
        )
        dl = doclen.select("doc_id", F.col("doclen").cast("smallint").alias("doclen"))
        joined = raw.unionByName(stemmed).join(
            F.broadcast(dl) if broadcast_doclen else dl, "doc_id"
        )
        yield with_bucket(with_shard(joined, n_shards), n_buckets)
    finally:
        # the checkpoint is the RDD under the vocabulary's LogicalRDD
        vocab._jdf.queryExecution().analyzed().rdd().unpersist(True)


def publish_buckets(
    spark: SparkSession,
    root: str,
    postings: DataFrame,
    buckets: list[int],
    n_buckets: int,
    avgdl: float,
    wave: int | str,
    phase_t: dict[str, float],
) -> None:
    """Encode ``postings`` (term, doc_id, tf, doclen, uf, positions, shard,
    bucket rows of exactly ``buckets``) into block rows and publish each
    bucket: tmp write, lineage read-back, :func:`fsutil.swap_dir` into
    ``blocks/bucket=NN``, then the bucket's manifest entry — the manifest
    write is the commit. Shared by the build (one call per wave, the
    live ``avgdl``) and the incremental fold (touched buckets, the
    index's ``encoded_avgdl``); ``wave`` labels the manifest entries,
    and the encode+write and read-back walls accumulate into ``phase_t``.

    ONE exchange does double duty: partitioning on (bucket,
    shard % FILES_PER_BUCKET) both salts the encode and pre-clusters the
    output, so blocks write straight to ≤ FILES_PER_BUCKET term-sorted
    files per bucket with tight term min/max row-group stats — a query's
    term-isin predicate prunes at the directory level (bucket) AND the
    row-group level (term). A (term, shard) group is wholly inside one
    partition, which is all the encoder's group-contiguity needs."""
    t0 = time.perf_counter()
    ordered = postings.repartition(
        max(len(buckets) * FILES_PER_BUCKET, 8),
        "bucket",
        F.pmod(F.col("shard"), FILES_PER_BUCKET),
    ).sortWithinPartitions("term", "shard", "doc_id")
    encoded = with_bucket(
        ordered.mapInPandas(_encoder_stream(float(avgdl)), schema=INDEX_SCHEMA),
        n_buckets,
    )
    t_w = time.perf_counter()
    tmp = os.path.join(root, f"_tmp_wave_{wave}")
    shutil.rmtree(tmp, ignore_errors=True)
    encoded.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    _add_time(phase_t, "encode_write", t_w)
    t_l = time.perf_counter()
    with _scan_conf(spark, str(128 << 20)):
        stats = _bucket_lineage(read_blocks(spark, tmp))
    _add_time(phase_t, "lineage_readback", t_l)
    wall_ms = int((time.perf_counter() - t0) * 1000)
    for b in buckets:
        dst = os.path.join(root, "blocks", f"bucket={b}")
        swap_dir(dst, os.path.join(tmp, f"bucket={b}"))
        atomic_write_json(_manifest_path(root, b), {
            "bucket": b,
            "status": "committed",
            "wall_ms": wall_ms,
            "wave": wave,
            "engine": ENGINE_VERSION,
            "payload_bytes": _dir_bytes(dst),
            **stats.get(b, _EMPTY_STATS),
        })
    shutil.rmtree(tmp, ignore_errors=True)


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Block rows of a ``bucket=NN``-partitioned directory, read with the
    declared schema: no footer-reading inference job, and a directory an
    all-retired fold left without part files reads as empty. A missing
    directory still raises."""
    return (
        spark.read.schema(INDEX_SCHEMA + ", bucket int")
        .option("basePath", path)
        .parquet(path)
    )


def term_df(blocks: DataFrame) -> DataFrame:
    """(term, df) over block rows: a block row covers n postings = n
    distinct docs of its term, so df = Σ n. Lazy — a ``term IN`` filter
    on the result pushes into the blocks scan."""
    return blocks.groupBy("term").agg(F.sum("n").cast("long").alias("df"))


def write_docs(
    spark: SparkSession,
    root: str,
    n_doc_buckets: int,
    rows: DataFrame,
    drop: DataFrame | None = None,
) -> None:
    """Publish the docs side table (doc_id, metadata columns, doclen) in
    its ``dbucket = pmod(doc_id, n_doc_buckets)`` layout via tmp write +
    :func:`fsutil.swap_dir`: ``drop=None`` swaps ``rows`` in as the
    whole table; otherwise ``rows`` are added, the ``drop`` doc_ids
    retired, and only the dbuckets holding either are rewritten and
    swapped (ids stay distributed; only bucket numbers collect). A flat docs dir (built
    before the dbucket layout) is republished whole in the layout. An
    added row lacking a metadata column folds it as null."""
    docs_dir = os.path.join(root, "docs")
    tmp = os.path.join(root, "_tmp_docs")
    dbx = F.pmod(F.col("doc_id"), F.lit(n_doc_buckets)).cast("int")
    touched = None
    if drop is not None:
        cur = spark.read.parquet(docs_dir)
        if "dbucket" in cur.columns:
            touched = sorted(
                int(r["db"])
                for r in drop.select(dbx.alias("db"))
                .unionByName(rows.select(dbx.alias("db")))
                .distinct().collect()
            )
            if not touched:
                return
            cur = cur.where(F.col("dbucket").isin(touched)).drop("dbucket")
        kept = cur.join(drop, "doc_id", "left_anti")
        rows = kept.unionByName(
            rows.select(*(c for c in kept.columns if c in rows.columns)),
            allowMissingColumns=True,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    # one exchange of the content-free metadata rows: ≤ 1 file per
    # (task, dbucket)
    rows.withColumn("dbucket", dbx).repartition(
        len(touched) if touched else n_doc_buckets, "dbucket"
    ).write.mode("overwrite").partitionBy("dbucket").parquet(tmp)
    if touched is None:
        swap_dir(docs_dir, tmp)
        return
    for db in touched:
        swap_dir(os.path.join(docs_dir, f"dbucket={db}"), os.path.join(tmp, f"dbucket={db}"))
    shutil.rmtree(tmp, ignore_errors=True)


def refresh_side_tables(spark: SparkSession, root: str, meta: dict) -> None:
    """A fold's meta refresh from committed state: N/avgdl via
    :func:`index.corpus_stats` over the docs table's doclen column (a
    stored running sum could double-advance under a replay), meta's
    ``encoded_avgdl`` kept. Idempotent, so the fold runs it on EVERY
    exit path before marking commits folded and a replay after any
    crash re-derives a consistent meta."""
    enc_avgdl = float(meta.get("encoded_avgdl", meta["avgdl"]))
    N, avgdl = corpus_stats(spark.read.parquet(os.path.join(root, "docs")).select("doclen"))
    meta.update(
        N=N, avgdl=avgdl, encoded_avgdl=enc_avgdl,
        compactions=int(meta.get("compactions", 0)) + 1,
    )
    atomic_write_json(os.path.join(root, "meta.json"), meta)


def recover_index(root: str) -> None:
    """Repair an index left mid-publish by a crashed build or fold:
    the root-level docs swap first, then the partition swaps inside
    blocks/ and docs/."""
    for parent in (root, os.path.join(root, "blocks"), os.path.join(root, "docs")):
        recover_dirs(parent)


def _tune_scan_granularity(spark, corpus: DataFrame) -> str | None:
    """Size parquet splits so the tokenize scan stage runs ~3 task waves
    per core. The scan IS the explode-stage granularity (no rebalancing
    exchange), so too-large splits cap the build's parallelism: at 16m a
    268 MB corpus scans as ~37 tasks — 9 smooth waves on 4 cores but 2.3
    ragged waves on 16, which alone costs ~15% N→4N scaling efficiency.
    Scale-aware: bytes/(cores×3) clamped to [4m, 128m], so a 100 TB input
    on a 1000-executor cluster lands back on Spark's 128m default and
    small local runs get fine-grained, core-saturating splits. PURE
    computation — returns the value for the caller to pin via
    _scan_conf, or None when the input is not a plain file scan."""
    try:
        files = corpus.inputFiles()
    except Exception:
        return None
    total = 0
    for f in files:
        if f.startswith("file:"):
            try:
                total += os.path.getsize(f[len("file:") :])
            except OSError:
                return None
    if not total:
        return None
    par = spark.sparkContext.defaultParallelism
    target = min(max(total // (par * 3), 4 << 20), 128 << 20)
    return str(int(target))


class IndexSink:
    """Filesystem layout::

        root/
          blocks/bucket=NN/*.parquet   encoded posting blocks (partition-pruned
                                       by the query path via term→bucket)
          docs/dbucket=NN/*.parquet    doc metadata + doclen (result assembly),
                                       partitioned by pmod(doc_id, n_doc_buckets)
                                       so an incremental fold rewrites only the
                                       buckets holding a new/retired doc
          _manifest/bucket_NN.json     one commit record per bucket
          _layout.json                 n_buckets/n_shards/url_cols the buckets are cut by
          meta.json                    corpus stats + config + lineage summary

    df(term) has no table of its own: :meth:`read` derives it from the
    blocks (:func:`term_df`).

    The constructor's layout arguments only shape a new build: a built
    index is read, pruned and folded with the layout its meta records
    (a fold takes ``n_doc_buckets`` only where meta predates it).
    """

    def __init__(
        self,
        root: str,
        n_buckets: int = C.N_TERM_BUCKETS,
        n_doc_buckets: int = C.N_DOC_META_BUCKETS,
    ):
        self.root = root
        self.n_buckets = n_buckets
        self.n_doc_buckets = n_doc_buckets

    # -- write path ---------------------------------------------------------

    def build(
        self,
        corpus: DataFrame,
        buckets_per_wave: int = 8,
        n_shards: int = C.N_DOC_SHARDS,
        url_cols: tuple[str, ...] | None = ("repo", "path"),
        on_id_collision: str = "fail",
    ) -> dict:
        """Build (or resume) the index for ``corpus`` (raw input-hint schema:
        repo/path/commit/lang/content).  Idempotent: committed buckets are
        skipped, so re-invoking after a crash finishes the remainder and
        the final index is byte-identical to a single-shot build.

        ``url_cols`` (default repo/path): URL-token injection per the
        reference (Indexer.java:236-238 — url tokens join the stream, so
        filenames/modules are searchable in the PRIMARY index) and the
        per-posting uf bonus flag (Search.java:98). None disables both.

        ``on_id_collision``: "fail" (default) keeps the cheap injectivity
        gate — one count_distinct riding the doc-stats aggregate — and
        raises IdCollisionError on any 64-bit birthday collision.
        "resolve" runs corpus.resolve_id_collisions up front instead:
        colliding keys deterministically remap to fresh unique ids
        BEFORE tokenize (after postings aggregate, merged docs could
        never be split apart). Costs one extra id-only groupBy detection
        pass, so it is opt-in for corpora large enough to expect
        collisions (~10^10+ docs); n_remapped lands in meta.json lineage.

        Raises ValueError, before any Spark job, when buckets are already
        committed under another n_buckets, n_shards or url_cols.
        """
        if on_id_collision not in ("fail", "resolve"):
            raise ValueError(f"on_id_collision: {on_id_collision!r}")
        self._pin_layout(n_shards, url_cols)
        spark = corpus.sparkSession
        tuned = _tune_scan_granularity(spark, corpus)
        # one save/restore/unset implementation: the same _scan_conf the
        # read-back paths use, so the tuned split size can never leak
        with nullcontext() if tuned is None else _scan_conf(spark, tuned):
            return self._build_inner(
                corpus, buckets_per_wave, n_shards, url_cols, on_id_collision,
            )

    def _pin_layout(self, n_shards: int, url_cols: tuple[str, ...] | None) -> None:
        """Record (n_buckets, n_shards, url_cols) before the first bucket
        commits and refuse a resume under another; an index without the
        record (built before it existed) resumes unchecked."""
        path = os.path.join(self.root, "_layout.json")
        want = {"n_buckets": self.n_buckets, "n_shards": n_shards,
                "url_cols": list(url_cols) if url_cols else []}
        if not committed_buckets(self.root):
            atomic_write_json(path, want)
        elif os.path.exists(path):
            have = read_json(path)
            for key, val in want.items():
                if have.get(key) != val:
                    raise ValueError(
                        f"index {self.root} has buckets committed with "
                        f"{key}={have.get(key)!r}; this build asks for {key}={val!r}"
                    )

    def _build_inner(
        self,
        corpus: DataFrame,
        buckets_per_wave: int,
        n_shards: int,
        url_cols: tuple[str, ...] | None,
        on_id_collision: str = "fail",
    ) -> dict:
        t_start = time.perf_counter()
        phase_t: dict[str, float] = {}
        # a crashed build or fold may have left a swap half done; a bucket
        # dir without a manifest (crash between rename and manifest
        # write) is simply pending — its publish swaps the dir out
        recover_index(self.root)
        done = committed_buckets(self.root)
        pending = [b for b in range(self.n_buckets) if b not in done]
        spark = corpus.sparkSession
        corpus_ids = with_doc_id(corpus)
        n_remapped = 0
        if on_id_collision == "resolve":
            from .corpus import resolve_id_collisions

            corpus_ids, n_remapped = resolve_id_collisions(corpus_ids)

        # I/O-lean dataflow — ONE full corpus tokenize total, no
        # rebalancing shuffle (spark.sql.files.maxPartitionBytes is sized
        # so parquet SPLITS are the task granularity — even input bytes →
        # even explode work, no exchange needed):
        #   job 1   tokenize ONCE → (doc, term) postings agg → PERSIST;
        #           doclen = Σtf per doc over the raw channel rides the
        #           cached agg, left-joined onto a content-free metadata
        #           scan (column pruning: the heavy content column is
        #           never read) → docs side table (write_docs, the
        #           fold's own publish); N/avgdl read back.
        #           Round 1 spent a SECOND full tokenize pass here just
        #           to size the token array — measured 65+ CPU-s at
        #           sf0.1×400k and the worst-scaling phase of the build.
        #   waves   stem channel derived at the POSTING level (vocab =
        #           distinct over the cached postings — NOT another
        #           tokenize), enrich (encoder_input), encode, commit.
        #   df      not stored: read as Σ n over the committed block
        #           rows (term_df)
        # The heavy (positions-bearing) token stream is NEVER cached: a
        # multi-GB materialization is serial disk I/O at any executor
        # count (measured: caching capped scaling efficiency at ~0.4).
        from pyspark import StorageLevel

        from .index import doc_postings
        from .tokenize import tokenize, tokenize_url

        t0 = time.perf_counter()
        meta_cols = [c for c in corpus.columns if c != "content"]
        raw_tokens = (
            tokenize_url(corpus_ids, url_cols) if url_cols else tokenize(corpus_ids)
        )
        postings_raw = doc_postings(raw_tokens, compact=True)
        if not url_cols:
            postings_raw = postings_raw.withColumn("uf", F.lit(0).cast("tinyint"))
        # PERSIST the aggregated raw postings: four consumers follow
        # (doclen agg, vocab distinct, stem-channel join, union-left).
        # Without the cache, Catalyst column-prunes each branch into its
        # own full corpus scan + tokenize (measured: 3 tokenize passes,
        # ~2.4k CPU-s at sf0.1×8 — exchange reuse does NOT trigger across
        # the differently-pruned subtrees). The cache is the AGGREGATED
        # frame (compressed columnar, ≈ index-sized), NOT the ~20×
        # larger token stream — caching tokens was measured at round 1
        # to cap scaling efficiency at ~0.4; at cluster scale this
        # spills to per-node local disk, the standard staging pattern.
        with persisted(postings_raw, StorageLevel.MEMORY_AND_DISK) as postings_raw:
            # docs side table: metadata scan (content pruned away)
            # left-joined with doclen from the cache; a doc whose tokens
            # are ALL filtered has no postings row and keeps doclen 0
            # (oracle.py:44 semantics). One broadcast decision for the
            # docs write and the encoder input: a broadcast-hash join
            # keeps the docs write a single narrow stage instead of a
            # two-exchange sort-merge join. The guard count is
            # metadata-speed: the parquet reader returns row-group counts.
            doclen_df = postings_raw.groupBy("doc_id").agg(
                F.sum("tf").cast("int").alias("doclen")
            )
            n_docs_est = corpus.count()
            broadcast_doclen = n_docs_est <= BROADCAST_DOCLEN_MAX_DOCS
            doclen_side = F.broadcast(doclen_df) if broadcast_doclen else doclen_df
            write_docs(
                spark, self.root, self.n_doc_buckets,
                corpus_ids.select("doc_id", *meta_cols)
                .join(doclen_side, "doc_id", "left")
                .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0)).cast("int")),
            )
            docs_tbl = spark.read.parquet(os.path.join(self.root, "docs"))
            # ONE aggregate job yields the corpus scalars AND the doc_id
            # injectivity gate: the 64-bit id's birthday bound expects
            # n²/2^65 colliding pairs (~27k at the 10^12-file target), so
            # a build must widen the id (corpus.with_doc_id), remap
            # collisions (on_id_collision="resolve") or prove injectivity.
            # count_distinct rides the column-pruned docs scan that
            # computes N/avgdl. Fewer distinct ids than corpus rows means
            # a hash collision or duplicate (repo, path, commit) rows —
            # fail loudly rather than silently merge two docs' postings.
            row = docs_tbl.agg(
                F.count("*").alias("n"),
                F.avg("doclen").alias("avgdl"),
                F.count_distinct("doc_id").alias("n_ids"),
            ).collect()[0]
            N, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
            if int(row["n_ids"]) != n_docs_est:
                from .corpus import IdCollisionError

                raise IdCollisionError(
                    f"doc_id not injective: {n_docs_est} corpus rows → "
                    f"{int(row['n_ids'])} distinct doc_ids; widen the id per "
                    "corpus.with_doc_id or dedup the input before indexing"
                )
            phase_t["doc_stats"] = time.perf_counter() - t0

            if pending:
                waves = [
                    pending[i : i + buckets_per_wave]
                    for i in range(0, len(pending), buckets_per_wave)
                ]
                # multi-wave: persist the joined frame so each wave filters
                # a cache instead of re-joining; single wave: the cache
                # write would cost more than it saves (postings are
                # already cached)
                multi = len(waves) > 1
                with (
                    encoder_input(
                        postings_raw, docs_tbl, n_shards, self.n_buckets,
                        broadcast_doclen=broadcast_doclen,
                    ) as enriched,
                    persisted(enriched) if multi else nullcontext(enriched) as enriched,
                ):
                    if multi:
                        enriched.count()
                    t0 = time.perf_counter()
                    for wi, wave in enumerate(waves):
                        publish_buckets(
                            spark, self.root, enriched.where(F.col("bucket").isin(wave)),
                            wave, self.n_buckets, avgdl, wi, phase_t,
                        )
                    phase_t["encode_commit"] = time.perf_counter() - t0

        # meta is (re)written last, unconditionally; side_tables times
        # the meta step up to its write (the write carries the timings)
        t0 = time.perf_counter()
        # encoded_avgdl: the avgdl the BLOCK BOUNDS (max_wtf) were computed
        # with. A fresh/resumed build encodes with the current corpus avgdl;
        # compact_into_index re-encodes touched buckets with this SAME value
        # (so untouched buckets stay byte-stable) while N/avgdl advance to
        # the post-compaction corpus — the query path then scales bounds by
        # max(1, avgdl/encoded_avgdl) (query._bm25_topk). When no
        # bucket was (re)built this run, an existing value is preserved.
        enc_avgdl = avgdl
        if not pending:
            try:
                enc_avgdl = float(self._meta().get("encoded_avgdl", avgdl))
            except (OSError, ValueError):
                pass
        phase_t["side_tables"] = time.perf_counter() - t0
        meta = {
            "N": N,
            "avgdl": avgdl,
            "encoded_avgdl": enc_avgdl,
            "n_buckets": self.n_buckets,
            "n_shards": n_shards,
            "bm25_k1": C.BM25_K1,
            "bm25_b": C.BM25_B,
            "engine": ENGINE_VERSION,
            "url_cols": list(url_cols) if url_cols else [],
            "n_doc_buckets": self.n_doc_buckets,
            "id_collisions_resolved": n_remapped,
            "wall_s_this_run": round(time.perf_counter() - t_start, 3),
            "resumed_buckets": len(done),
            "phase_timings_s": {k: round(v, 2) for k, v in phase_t.items()},
        }
        atomic_write_json(os.path.join(self.root, "meta.json"), meta)
        # renames bypass Spark's cache manager: drop frames cached over old files
        spark.catalog.refreshByPath(self.root)
        return {"status": "committed", "meta": meta, "built": len(pending)}

    # -- read path ----------------------------------------------------------

    def _blocks(self, spark: SparkSession) -> DataFrame:
        return read_blocks(spark, os.path.join(self.root, "blocks"))

    def _meta(self) -> dict:
        return read_json(os.path.join(self.root, "meta.json"))

    def read(self, spark: SparkSession):
        """(blocks, (term, df), (doc_id, doclen), meta); df is the lazy
        :func:`term_df` over the blocks, so a caller serving many queries
        caches it once per opened index."""
        meta = self._meta()
        blocks = self._blocks(spark)
        # doclen lives in the docs side table (written first, one pass)
        dstats = spark.read.parquet(os.path.join(self.root, "docs")).select(
            "doc_id", "doclen"
        )
        return blocks, term_df(blocks), dstats, meta

    def docs(self, spark: SparkSession) -> DataFrame:
        """The doc-metadata side table (doc_id + every non-content input
        column) written at build time for result assembly. The physical
        ``dbucket`` partition column is a maintenance detail (incremental
        fold pruning) and dropped from the logical view; pre-dbucket
        indexes read unchanged."""
        df = spark.read.parquet(os.path.join(self.root, "docs"))
        return df.drop("dbucket") if "dbucket" in df.columns else df

    def search_results(
        self,
        spark: SparkSession,
        query: str,
        k: int = C.TOP_K,
        corpus: DataFrame | None = None,
        preview_tokens: int = 20,
    ) -> DataFrame:
        """End-to-end search with RESULT ASSEMBLY: BM25 top-k over the
        bucket-pruned block index, then the ranked (doc_id, score) rows
        join back to the docs side table — the reference's final join of
        ranked ids to the crawl table for url/title (Search.java:325-345).
        The join is k rows vs the docs table: broadcast the TINY ranked
        side, never shuffle the metadata table.

        ``corpus`` (optional, the raw input table) adds a ``preview``
        column: a ``preview_tokens``-token window of the document's token
        stream starting at the doc's FIRST match position over the query
        terms — the Search.java:329-337 snippet analog, anchored on the
        hit instead of the page head. The index keeps this information
        in pos_bytes; re-deriving it from the k result docs' content is
        the cheaper physical plan (re-tokenize touches only k documents
        vs decoding position streams for every candidate block), and it
        anchors on the CONTENT token stream — for URL-injected indexes
        pos_bytes positions are offset by the doc's url-token count, and
        a display snippet wants the content hit, not the url echo. Cost:
        one broadcast-semi-joined scan of the corpus projecting k rows."""
        from .query import bm25_topk_blocks, normalize_query
        from .tokenize import tokenize

        meta = self._meta()
        terms, _w = normalize_query(query)
        idx = self.blocks_for_terms(spark, terms) if terms else self._blocks(spark)
        topk = bm25_topk_blocks(
            idx, term_df(idx), meta["N"], meta["avgdl"], query, k,
            wtf_scale=wtf_scale_of(meta),
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = topk.withColumn("rank", F.row_number().over(w))
        out = self.docs(spark).join(F.broadcast(ranked), "doc_id")
        if corpus is not None and terms:
            # tokenize ONLY the k result docs (broadcast semi-join prunes
            # the scan); stems must match the index's term space, so the
            # match test runs on the stemmed token. The returned frame
            # still reads this k-doc vocabulary, so its checkpoint is
            # left to Spark's context cleaner.
            from .tokenize import stem_vocab

            hit_docs = with_doc_id(corpus).join(
                F.broadcast(ranked.select("doc_id")), "doc_id", "left_semi"
            )
            toks = tokenize(hit_docs)
            vocab = stem_vocab(toks)
            stoks = toks.join(F.broadcast(vocab), "term").select(
                "doc_id", "term", "stem", "pos"
            )
            hit = (
                stoks.where(F.col("stem").isin(terms) | F.col("term").isin(terms))
                .groupBy("doc_id")
                .agg(F.min("pos").alias("hit_pos"))
            )
            preview = (
                stoks.join(F.broadcast(hit), "doc_id")
                .where(
                    (F.col("pos") >= F.col("hit_pos"))
                    & (F.col("pos") < F.col("hit_pos") + preview_tokens)
                )
                .groupBy("doc_id")
                .agg(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "term"))),
                            lambda x: x["term"],
                        ),
                        " ",
                    ).alias("preview")
                )
            )
            out = out.join(F.broadcast(preview), "doc_id", "left")
        return out.orderBy("rank")

    def blocks_for_terms(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """Partition-pruned scan: only the buckets owning ``terms`` are read
        (driver-side crc32 over the index's own n_buckets mirrors the
        write path's bucket expression)."""
        n_buckets = int(self._meta()["n_buckets"])
        buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
        return self._blocks(spark).where(F.col("bucket").isin(buckets)).where(
            F.col("term").isin(terms)
        )

    def verify(self, spark: SparkSession) -> list[int]:
        """Re-derive each committed bucket's content hash from the files on
        disk and diff against the manifest. Returns mismatched buckets."""
        actual = _bucket_lineage(self._blocks(spark))
        bad = []
        for entry in read_manifest(self.root):
            b = entry["bucket"]
            got = actual.get(b, _EMPTY_STATS)
            if (
                got["n_blocks"] != entry["n_blocks"]
                or got["content_hash"] != entry["content_hash"]
            ):
                bad.append(b)
        return bad
