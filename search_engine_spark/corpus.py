"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Generates the input table mandated by BASELINE.json input_hint —
``(repo: string, path: string, commit: string, lang: string,
content: string)`` — with a Zipf(1.2) term distribution over a 5k-term
vocabulary plus per-language hot keywords, so the hot-term-skew path of
the index build is exercised. Seeded (seed=42); same (seed, n_docs) →
byte-identical corpus, which the checkpoint-resume and rank-identity
tests rely on.

Generation is numpy-vectorized and partition-parallel: each Spark task
generates its own slice from a per-partition RNG stream, so corpus
creation itself scales out (no driver-side materialization).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants as C

_EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "rust": "rs", "md": "md"}


def _vocab(size: int = C.VOCAB_SIZE) -> list[str]:
    """Deterministic pseudo-word vocabulary: term{i} spelled from a seeded
    alphabet mix so stems differ (suffix variety exercises the stemmer)."""
    rng = np.random.default_rng(C.SEED)
    base = ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=int(rng.integers(3, 11)))) for _ in range(size)]
    suffixes = ["", "", "", "s", "ed", "ing", "ation", "er", "ness", "ize"]
    return [w + suffixes[i % len(suffixes)] for i, w in enumerate(base)]


def generate_corpus_pdf(n_docs: int, seed: int = C.SEED, start: int = 0) -> pd.DataFrame:
    """Generate docs [start, start+n_docs) as a pandas DataFrame.

    ``start`` lets distributed partitions generate disjoint slices while
    remaining globally deterministic (doc i's content depends only on
    (seed, i), never on partition boundaries).
    """
    # Per-doc draws come from default_rng((seed, i)) — content is a pure
    # function of (seed, i) — but the EXPENSIVE parts of Generator.choice
    # are hoisted: choice(p=...) re-validates and re-cumsums the 5k-float
    # probability vector on every call, O(|vocab|) per doc vs the ~200
    # values actually drawn. The loop below replays choice's exact
    # internals over a precomputed cdf (cdf.searchsorted(random(n),
    # 'right') — verified bit-identical draws AND identical stream
    # advance, tests/test_corpus.py determinism gate), and batches the
    # per-hot-position integers() calls into one sized call (same stream
    # consumption; duplicate positions resolve last-write-wins in both
    # forms). Byte-identical output to the round-1..3 generator, ~4×
    # faster — this is bench/test fixture setup, never a timed region.
    vocab = np.array(_vocab(), dtype=object)
    # Zipf-ranked sampling probabilities over the vocabulary.
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = ranks ** (-C.ZIPF_S)
    probs /= probs.sum()
    cdf = probs.cumsum()
    cdf /= cdf[-1]
    hot_arrs = {l: np.array(h, dtype=object) for l, h in C.LANG_HOT_TERMS.items()}

    rows = []
    langs = C.CORPUS_LANGS
    for i in range(start, start + n_docs):
        rng = np.random.default_rng((seed, i))
        lang = langs[int(rng.integers(0, len(langs)))]
        n_words = int(rng.integers(5, 400))
        words = vocab[cdf.searchsorted(rng.random(n_words), side="right")]
        # Inject hot per-language keywords (~15% of tokens) for skew.
        hot = hot_arrs[lang]
        n_hot = max(1, n_words // 7)
        pos = rng.integers(0, n_words, size=n_hot)
        words[pos] = hot[rng.integers(0, len(hot), size=n_hot)]
        content = " ".join(words)[: C.MAX_PAGE_LEN]
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        rows.append(
            (
                f"org{i % 7}/repo{i % 41}",
                f"src/mod{i % 13}/file{i}.{_EXT[lang]}",
                commit,
                lang,
                content,
            )
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def generate_corpus(spark: SparkSession, n_docs: int, seed: int = C.SEED, partitions: int | None = None) -> DataFrame:
    """Distributed corpus generation: each partition generates its slice.

    Partition count scales with n_docs (~6250 rows ≈ 10 MB uncompressed
    per output file) instead of capping at a fixed number: parquet row
    groups are the atomic input-split unit downstream, so an oversized
    corpus file becomes one unsplittable straggler task no matter what
    ``maxPartitionBytes`` asks for (measured: a 32-partition 800k-doc
    corpus produced 83 MB row groups and a 104 s max tokenize task vs a
    24 s mean, idling 15 of 16 cores at the stage tail).
    ``spark.range(..., numPartitions=partitions)`` puts exactly one
    slice id in each partition — hash-repartitioning slice rows gave
    2-slice/0-slice collisions (2× files) at any partition count.
    Content is a pure function of (seed, doc index): layout never
    changes the corpus.

    Besides the row-group-size ceiling, the file count is also a
    parallelism FLOOR for every downstream scan (a 33 MB sf0.1 corpus in
    22 files ran the tokenize stage as 22 tasks on 32 cores — 0.7 ragged
    waves, the whole stage waiting on its slowest task). So the count
    also scales with the session's core count (~3 task waves/core),
    bounded below by ~200 docs/file so tiny test corpora stay
    single-file."""
    if partitions is None:
        by_size = max(1, -(-n_docs // 6250))
        by_cores = min(3 * spark.sparkContext.defaultParallelism, max(1, n_docs // 200))
        partitions = max(by_size, by_cores)
    ids = spark.range(0, partitions, 1, numPartitions=partitions)

    def gen(iterator):
        for pdf in iterator:
            for pid in pdf["id"]:
                start = int(pid) * n_docs // partitions
                stop = (int(pid) + 1) * n_docs // partitions
                if stop > start:
                    yield generate_corpus_pdf(stop - start, seed=seed, start=start)

    return ids.mapInPandas(gen, schema=CORPUS_SCHEMA)


def with_doc_id(df: DataFrame) -> DataFrame:
    """Attach the derived columns every downstream stage keys on:
    doc_id = xxhash64(repo, path, commit) and the per-row invariant
    content_sha = sha2(content, 256) (BASELINE.json input_hint).

    Collision accounting at the stated 10^12-file scale: 64-bit birthday
    gives E[collisions] ≈ n²/2^65 ≈ 27k colliding PAIRS out of 10^12 docs
    (fraction ~5e-8) — each collision merges two docs' postings, a
    recall-invisible defect for search but wrong for exact dedup
    bookkeeping. The widening path is mechanical: key on a 128-bit id as
    two longs, e.g. (xxhash64(repo,path,commit),
    xxhash64(commit,path,repo)) or conv(substr(sha2,...)) split — every
    downstream op keys on the opaque id column(s) and the block codec
    would add a second delta stream. Kept 64-bit here because a single
    long doc_id is what the delta-varbyte doc stream encodes, and the
    sandbox corpora are ≤ 10^6 docs (collision odds ~3e-8 per corpus).
    The IMPLEMENTED 10^12-scale path is :func:`resolve_id_collisions`
    (IndexSink.build(on_id_collision="resolve")): deterministically remap
    the ~27k colliding keys to fresh unique 64-bit ids instead of paying
    a second id column on every posting."""
    return df.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).withColumn(
        "content_sha", F.sha2("content", 256)
    )


class IdCollisionError(RuntimeError):
    """Raised when hashed doc_ids are NOT injective over the natural key
    (repo, path, commit) — either a real 64-bit birthday collision or
    duplicate key rows in the input."""


def resolve_id_collisions(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    id_col: str = "doc_id",
    max_rounds: int = 16,
) -> tuple[DataFrame, int]:
    """Deterministically remap hash-colliding ids to fresh unique 64-bit
    values, keeping the single-long id the delta-varbyte doc stream
    encodes instead of widening to 128 bits (the alternative recipe in
    :func:`with_doc_id`). Returns ``(resolved_df, n_remapped)``.

    Scale shape (the whole point — 10^12 docs ⇒ E ≈ 27k colliding
    pairs, n²/2^65):

    * detection is one ``groupBy(id)`` over a key-pruned scan — the same
      cost class as the injectivity gate's ``count_distinct`` (8-byte
      ids shuffle with map-side partial aggregation); content never
      reads;
    * the colliding set is collision-sized, so it collects driver-side
      like any model-sized artifact (k-means centroids, broadcast query
      sets);
    * the corpus itself NEVER shuffles: the remap applies as a broadcast
      left join + ``coalesce``.

    Deterministic and resumable: within a colliding group the smallest
    key tuple keeps the original id; every other row takes
    ``xxhash64(*key_cols, salt)`` with the smallest salt ≥ 1 that is
    (a) unique within the candidate set and (b) absent from the corpus
    id set — (b) checked per round with a broadcast left-semi probe over
    a pruned scan; expected rounds ≈ 1 (P[rehash clash] ≈ n/2^64 each).
    Re-running on the same input reproduces the same remap bit-for-bit.

    Raises :class:`IdCollisionError` when a colliding group contains
    duplicate KEY rows — that is double ingestion, not a hash collision,
    and must be deduped upstream, never remapped.

    ``key_cols`` must be string columns (the input-hint natural key
    repo/path/commit is).
    """
    spark = df.sparkSession
    keys = df.select(*key_cols, id_col)
    dup_ids = (
        keys.groupBy(id_col)
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select(id_col)
    )
    colliding = keys.join(F.broadcast(dup_ids), id_col, "inner").collect()
    if not colliding:
        return df, 0

    by_id: dict[int, list] = {}
    for r in colliding:
        by_id.setdefault(r[id_col], []).append(tuple(r[c] for c in key_cols))
    to_remap: list[tuple] = []
    for _id, group in by_id.items():
        group.sort()
        for a, b in zip(group, group[1:]):
            if a == b:
                raise IdCollisionError(
                    f"duplicate input rows share key {a!r}: double ingestion, "
                    "not a hash collision — dedup the corpus before indexing"
                )
        to_remap.extend(group[1:])  # smallest key keeps the original id

    n_remapped = len(to_remap)
    pending = [(k, 1) for k in to_remap]  # (key tuple, salt)
    final: list[tuple] = []  # (key..., new_id)
    schema = ", ".join(f"{c} string" for c in key_cols) + ", salt int"
    for _ in range(max_rounds):
        if not pending:
            break
        cand_df = spark.createDataFrame(
            [(*k, s) for k, s in pending], schema=schema
        ).withColumn("__new_id", F.xxhash64(*key_cols, F.col("salt")))
        cands = cand_df.collect()
        # (b) corpus probe: candidate ids already live in the corpus —
        # pruned scan, broadcast semi, zero shuffle
        taken = {
            r[0]
            for r in df.select(id_col)
            .join(
                F.broadcast(cand_df.select(F.col("__new_id").alias(id_col))),
                id_col,
                "left_semi",
            )
            .distinct()
            .collect()
        }
        # (a) uniqueness across the WHOLE candidate set — both this
        # round's and ids finalized in earlier rounds (the corpus probe
        # only covers original ids): first-by-key-order wins
        assigned = {t[-1] for t in final}
        nxt = []
        for r in sorted(cands, key=lambda r: tuple(r[c] for c in key_cols)):
            key = tuple(r[c] for c in key_cols)
            nid = r["__new_id"]
            if nid in taken or nid in assigned:
                nxt.append((key, r["salt"] + 1))
            else:
                assigned.add(nid)
                final.append((*key, nid))
        pending = nxt
    if pending:
        raise IdCollisionError(
            f"could not find collision-free ids for {len(pending)} keys "
            f"after {max_rounds} salted rounds — statistically impossible "
            "for a healthy 64-bit hash; check the input for adversarial keys"
        )
    remap = spark.createDataFrame(
        final, schema=", ".join(f"{c} string" for c in key_cols) + ", __new_id long"
    )
    resolved = (
        df.join(F.broadcast(remap), list(key_cols), "left")
        .withColumn(id_col, F.coalesce("__new_id", F.col(id_col)))
        .drop("__new_id")
    )
    return resolved, n_remapped


def reference_queries() -> list[tuple[int, str]]:
    """The reference query set (FIXTURES.md §2): hot single terms, rare
    terms, conjunctions, an absent term, an all-stopword query
    (Search.java:209-213 semantics), stemmed-variant pairs."""
    vocab = _vocab()
    rare = vocab[-3]
    mid = vocab[len(vocab) // 2]
    qs = [
        "def", "import", "public", "func", "the",
        rare, mid,
        f"def {mid}", f"import {rare}", "public static void",
        "zzzzmissingterm",
        "the of and",  # all stopwords
        vocab[4], vocab[4] + "s" if not vocab[4].endswith("s") else vocab[4],
        f"{vocab[10]} {vocab[11]} {vocab[12]} {vocab[13]}",
        "fn let mut", "return", vocab[100], vocab[200], f"{vocab[50]} class",
        "err nil", "code example", vocab[999], f"{vocab[1500]} {vocab[2500]}",
        "usage",
    ]
    return [(i + 1, q) for i, q in enumerate(qs)]
