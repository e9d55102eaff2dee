"""Query-side BM25 top-k.

Two physical paths, identical results:

1. ``bm25_topk_df`` — pure DataFrame over the uncompressed postings
   (oracle-parity path, DuckDB-checkable).
2. ``bm25_topk_blocks`` / ``bm25_topk_batch`` / ``phrase_topk_blocks`` —
   over the compressed block index: one per-shard ``applyInPandas``
   (Arrow), then a global top-k. This is the scale path: each shard task
   touches only the query terms' blocks for its document subset and
   emits at most k rows per query. All three share one shard-side core:
   the shard frame is grouped by term once, each term's doc-id streams
   decode in one multi-block codec pass (``codec.decode_doc_id_blocks``),
   tf/dl/uf streams (and, for phrases, position streams) decode only for
   blocks holding a doc being exact-scored, and one term-ascending fold
   (``_exact_scores``) computes every exact score. BM25 adds block-max
   pruning (``_bm25_shard_scorer``); a single query is a batch of one.

Rank identity (BASELINE.json north_star): scores are float64 with a FIXED
accumulation order — per doc, term contributions are summed in ascending
term order (a left fold over a term-sorted list) in both paths AND in the
pure-Python oracle, so scores are bit-identical; ties break
(score DESC, doc_id ASC).

Reference semantics carried over: query normalize = lowercase/split/stem
(/root/reference/src/cis5550/jobs/Search.java:59-74); stopword handling —
drop stopwords unless ALL query tokens are stopwords, in which case keep
them weighted by STOPWORD_PENALTY=0.05 (Search.java:209-213,24); k=200
(Search.java:25). BM25 replaces the reference's tf-idf blend per the
north_star; k1/b live in constants.py, consumed by engine and oracle.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import constants as C
from .codec import decode_doc_id_blocks, decode_positions, varbyte_decode_blocks
from .stemmer import porter_stem

_SPLIT = re.compile(C.TOKEN_SPLIT_RE)


def _survivor_tokens(text: str) -> list[str]:
    """The tokenizer's survivor rule (tokenize._token_array): lowercase,
    split on TOKEN_SPLIT_RE, drop empties, overlong tokens and SKIP_WORDS."""
    return [
        t for t in _SPLIT.split(text.lower())
        if t and len(t) <= C.MAX_WORD_LEN and t not in C.SKIP_WORDS
    ]


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"top-k needs k >= 1, got {k}")


def normalize_query(query: str) -> tuple[list[str], float]:
    """→ (sorted unique stemmed terms, weight). Weight is 1.0, or
    STOPWORD_PENALTY when the query is entirely stopwords."""
    toks = _survivor_tokens(query)
    if not toks:
        return [], 1.0
    non_stop = [t for t in toks if t not in C.STOPWORDS]
    if non_stop:
        kept, weight = non_stop, 1.0
    else:
        kept, weight = toks, C.STOPWORD_PENALTY
    return sorted({porter_stem(t) for t in kept}), weight


def bm25_idf(N: int, df: int) -> float:
    """Robertson/Lucene positive idf: ln(1 + (N - df + .5)/(df + .5))."""
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def _fold_sum_by_term(scored: DataFrame) -> DataFrame:
    """(doc_id, term, w) → (doc_id, score) with deterministic
    term-ascending float64 accumulation."""
    return (
        scored.groupBy("doc_id")
        .agg(F.collect_list(F.struct("term", "w")).alias("tw"))
        .select(
            "doc_id",
            F.aggregate(
                F.sort_array("tw"), F.lit(0.0), lambda acc, x: acc + x["w"]
            ).alias("score"),
        )
    )


def bm25_topk_df(
    postings: DataFrame,
    dstats: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    query: str,
    k: int = C.TOP_K,
) -> DataFrame:
    """DataFrame path. postings=(doc_id,term,tf,...), dstats=(doc_id,doclen),
    tstats=(term,df). Returns (doc_id, score) top-k."""
    _check_k(k)
    terms, weight = normalize_query(query)
    return bm25_score_terms(postings, dstats, tstats, N, avgdl, terms, weight, k)


def bm25_score_terms(
    postings: DataFrame,
    dstats: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    terms: list[str],
    weight: float = 1.0,
    k: int = C.TOP_K,
) -> DataFrame:
    """BM25 over already-normalized terms (no stemming/stopword logic) —
    the primitive bm25_topk_df wraps, also used directly by the DuckDB
    oracle-parity entries where the SQL side cannot stem."""
    _check_k(k)
    spark = postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    if "uf" not in postings.columns:
        postings = postings.withColumn("uf", F.lit(0))
    q = postings.select("doc_id", "term", "tf", "uf").where(F.col("term").isin(terms))
    # idf computed driver-side with math.log so ALL paths (DataFrame,
    # block, pure-Python oracle) share bit-identical idf values — JVM
    # F.log could differ from libm by 1 ulp and break rank identity.
    dfs = {r["term"]: int(r["df"]) for r in tstats.where(F.col("term").isin(terms)).collect()}
    idf_rows = [(t, bm25_idf(N, dfs[t])) for t in terms if t in dfs]
    if not idf_rows:
        return spark.createDataFrame([], "doc_id long, score double")
    tdf = spark.createDataFrame(idf_rows, "term string, idf double")
    k1, b = C.BM25_K1, C.BM25_B
    # tf_eff carries the reference's URL bonus (Search.java:98): +0.1 when
    # the doc's stemmed URL components contain the term (uf flag baked
    # into postings at build time). uf=0 → tf + 0.0 == tf bit-exactly.
    tf_eff = F.col("tf") + F.lit(C.URL_BONUS) * F.col("uf")
    scored = (
        q.join(dstats, "doc_id")
        .join(F.broadcast(tdf), "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("idf")
                * (tf_eff * (k1 + 1.0))
                / (tf_eff + k1 * (1.0 - b + b * F.col("doclen") / F.lit(avgdl)))
                * F.lit(weight)
            ).alias("w"),
        )
    )
    return (
        _fold_sum_by_term(scored)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_conjunctive_topk(
    postings: DataFrame,
    dstats: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    terms: list[str],
    k: int = C.TOP_K,
) -> DataFrame:
    """Conjunctive (AND) BM25: only documents containing EVERY query term
    are scored — the engine form of the reference's candidate-set
    intersection (retainAll, /root/reference/src/cis5550/jobs/
    RankerCharles.java:161-164,264-265). The intersection is a
    semi-group: groupBy(doc).having(count(distinct term) == |terms|) over
    the term-filtered postings — one partial-aggregated shuffle, after
    which scoring touches only surviving docs."""
    spark = postings.sparkSession
    terms = sorted(set(terms))
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    if "uf" not in postings.columns:
        postings = postings.withColumn("uf", F.lit(0))
    hits = postings.select("doc_id", "term", "tf", "uf").where(F.col("term").isin(terms))
    full = (
        hits.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .where(F.col("nt") == len(terms))
        .select("doc_id")
    )
    return bm25_score_terms(
        hits.join(full, "doc_id"), dstats, tstats, N, avgdl, terms, 1.0, k
    )


def blend_with_pagerank(
    topk: DataFrame,
    pageranks: DataFrame,
    k: int = C.TOP_K,
    w_text: float = C.TFIDF_WEIGHT,
    w_pr: float = C.PAGERANK_WEIGHT,
) -> DataFrame:
    """Optional production blend (flag-gated capability parity with the
    reference's Search.java:111-114): final = 0.95·ln(text_score) +
    0.05·ln(pagerank), weights from constants.py (Search.java:24).

    ``topk`` = (doc_id, score) from either BM25 path; ``pageranks`` =
    (node, rank) from ops.pagerank. Docs without a rank get the
    reference's implicit floor rank 0.15 (= a page nobody links to).
    The join is broadcast when ranks are small; re-ranking happens over
    at most k rows, so this is a driver-cheap post-step.
    """
    pr = pageranks.select(F.col("node").alias("doc_id"), F.col("rank").alias("pr"))
    return (
        topk.join(pr, "doc_id", "left")
        .select(
            "doc_id",
            (
                w_text * F.log(F.col("score"))
                + w_pr * F.log(F.coalesce(F.col("pr"), F.lit(1.0 - C.PR_DECAY)))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _bm25_w_np(tfs: np.ndarray, ufs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float, weight: float = 1.0) -> np.ndarray:
    """CANONICAL BM25 float64 expression, numpy form — the ONE copy,
    used by the block-index fold _exact_scores. Must stay
    token-identical to bm25_score_terms' Column expression and
    oracle.py's Python form for bit-exact rank identity across paths.
    tf_eff carries the URL bonus (Search.java:98); uf=0 → tf + 0.0 == tf
    bit-exactly, and weight=1.0 multiplies bit-exactly."""
    k1, b = C.BM25_K1, C.BM25_B
    tf_eff = tfs + C.URL_BONUS * ufs
    return idf * (tf_eff * (k1 + 1.0)) / (tf_eff + k1 * (1.0 - b + b * dls / avgdl)) * weight


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated index ranges [starts[i], starts[i] + lens[i])."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return np.arange(total, dtype=np.int64) + np.repeat(starts - (ends - lens), lens)


def _term_rows(pdf: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """A shard frame grouped by term ONCE, each group in block_id order."""
    return {t: g for t, g in pdf.sort_values(["term", "block_id"]).groupby("term", sort=False)}


class _TermBlocks:
    """One term's blocks within a shard. Doc-id streams of every block
    decode up front in one multi-block pass; tf/dl/uf streams decode on
    demand, only for blocks holding a doc being exact-scored, and stay
    for later queries on the same term."""

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows
        self.docs, self.counts = decode_doc_id_blocks(rows["doc_bytes"])
        self.starts = np.cumsum(self.counts) - self.counts
        self._tdu = np.zeros((3, self.docs.size))  # tf/dl/uf, filled per block
        self._have = np.zeros(len(rows), dtype=bool)

    def blocks_holding(self, mask: np.ndarray) -> np.ndarray:
        """Sorted indices of the blocks holding a doc where ``mask``."""
        return np.unique(np.searchsorted(self.starts, np.nonzero(mask)[0], side="right") - 1)

    def tf_dl_uf(self, mask: np.ndarray) -> np.ndarray:
        """(3, mask.sum()) float64 tf/dl/uf of the docs where ``mask``."""
        need = self.blocks_holding(mask)
        need = need[~self._have[need]]
        if need.size:
            at = _ranges(self.starts[need], self.counts[need])
            for i, col in enumerate(("tf_bytes", "dl_bytes", "uf_bytes")):
                self._tdu[i, at] = varbyte_decode_blocks(self.rows[col].to_numpy()[need])[0]
            self._have[need] = True
        return self._tdu[:, mask]

    @property
    def nbytes(self) -> int:
        return self.docs.nbytes + self._tdu.nbytes


def _exact_scores(
    ents: dict[str, _TermBlocks],
    idf_by_term: dict[str, float],
    weight: float,
    avgdl: float,
    doc_set: np.ndarray,
) -> np.ndarray:
    """THE exact-scoring fold: float64 BM25 of the sorted, non-empty
    ``doc_set``, one contribution per (doc, term) added in ascending term
    order (``ents`` is term-sorted) — bit-identical to bm25_score_terms
    and the oracle."""
    s = np.zeros(doc_set.size)
    for t, e in ents.items():
        at = np.searchsorted(doc_set, e.docs)
        ok = (at < doc_set.size) & (doc_set[np.minimum(at, doc_set.size - 1)] == e.docs)
        if not ok.any():
            continue
        tf, dl, uf = e.tf_dl_uf(ok)
        s[at[ok]] += _bm25_w_np(tf, uf, dl, idf_by_term[t], avgdl, weight)
    return s


def _bm25_topk(
    ents: dict[str, _TermBlocks],
    idf_by_term: dict[str, float],
    weight: float,
    k: int,
    avgdl: float,
    wtf_scale: float,
) -> tuple[np.ndarray, np.ndarray]:
    """One query's exact top-k over one shard, block-max pruned: (1)
    per-doc upper bound = Σ_t idf_t · max_wtf(block holding the doc), from
    doc-id streams only; (2) exact-score the top-k docs by upper bound →
    threshold s_k; (3) exact-score the survivors (ub ≥ s_k) only.
    Exactness: a pruned doc has true score ≤ ub < s_k ≤ kth best."""
    all_docs = np.concatenate([e.docs for e in ents.values()])
    # wtf_scale: stored max_wtf was computed under the index's ENCODED
    # avgdl; after an incremental compaction the live corpus avgdl may be
    # larger, which raises every true wtf. sup over (tf, dl) of
    # wtf(avgdl_now)/wtf(avgdl_enc) is avgdl_now/avgdl_enc (attained as
    # dl→∞), so scaling the stored bound by max(1, that ratio) keeps
    # pruning SAFE — survivors are exact-rescored; only bound tightness
    # degrades, by ≤ the avgdl drift since the last full encode.
    all_ubs = np.concatenate([
        np.repeat(
            idf_by_term[t] * e.rows["max_wtf"].to_numpy(np.float64) * weight * wtf_scale,
            e.counts,
        )
        for t, e in ents.items()
    ])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    ub = np.zeros(uniq.size)
    np.add.at(ub, inv, all_ubs)
    if uniq.size <= k:
        cand = uniq
    else:
        top_by_ub = uniq[np.argsort(-ub, kind="mergesort")[:k]]
        top_by_ub.sort()
        seed = _exact_scores(ents, idf_by_term, weight, avgdl, top_by_ub)
        cand = np.union1d(uniq[ub >= np.sort(seed)[-k]], top_by_ub)
    scores = _exact_scores(ents, idf_by_term, weight, avgdl, cand)
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


def _bm25_shard_scorer(
    per_query: dict[str, tuple[dict[str, float], float]],
    k: int,
    avgdl: float,
    wtf_scale: float,
    stats: dict | None = None,
):
    """The ONE BM25 shard scorer (applyInPandas body of bm25_topk_blocks
    and bm25_topk_batch): ``per_query`` maps query id → (idf by term,
    weight); the callable maps a shard frame → (query_id, doc_id, score),
    ≤ k rows per query.

    Queries run in a TERM-CLUSTERED deterministic order (sorted by term
    tuple, then query id, so queries sharing terms are adjacent) and a
    term's decoded arrays are EVICTED right after its last consuming
    query scores. Each term's streams therefore decode at most once per
    shard, and the peak footprint is the streams of terms live at one
    point of the order — for disjoint-term query sets ONE query's terms —
    not the union of all |Q| queries' terms. A query's arithmetic does
    not depend on which other queries share the shard, so every result
    is bit-identical to a batch of one.

    ``stats`` (tests only): accumulates ``peak_cache_bytes`` when the
    callable runs in-process.
    """
    order = sorted(per_query, key=lambda q: (tuple(sorted(per_query[q][0])), q))
    last_use = {t: i for i, q in enumerate(order) for t in per_query[q][0]}

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _term_rows(pdf)
        live: dict[str, _TermBlocks] = {}
        qids = [np.empty(0, dtype=object)]
        docs = [np.empty(0, dtype=np.int64)]
        scores = [np.empty(0)]
        peak = 0
        for i, qid in enumerate(order):
            idf_by_term, weight = per_query[qid]
            ents = {}
            for t in sorted(idf_by_term):
                if t in rows:
                    if t not in live:
                        live[t] = _TermBlocks(rows[t])
                    ents[t] = live[t]
            if ents:
                d, s = _bm25_topk(ents, idf_by_term, weight, k, avgdl, wtf_scale)
                qids.append(np.full(d.size, qid, dtype=object))
                docs.append(d)
                scores.append(s)
            if stats is not None:  # O(|live|) accounting: test path only
                peak = max(peak, sum(e.nbytes for e in live.values()))
            for t in idf_by_term:
                if last_use[t] == i:
                    live.pop(t, None)
        if stats is not None:
            stats["peak_cache_bytes"] = max(stats.get("peak_cache_bytes", 0), peak)
        return pd.DataFrame({
            "query_id": np.concatenate(qids),
            "doc_id": np.concatenate(docs),
            "score": np.concatenate(scores),
        })

    return score_shard


def _bm25_shard_topk(
    index_df: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    queries: dict[str, str],
    k: int,
    wtf_scale: float,
) -> DataFrame | None:
    """Driver side shared by bm25_topk_blocks and bm25_topk_batch:
    normalize every query, ONE tstats lookup for the union of terms, ONE
    block scan filtered to it, ONE per-shard applyInPandas →
    (query_id, doc_id, score). None when no query has a term in the
    index."""
    norm = {qid: normalize_query(q) for qid, q in queries.items()}
    all_terms = sorted({t for terms, _ in norm.values() for t in terms})
    if not all_terms:
        return None
    # idf computed driver-side with math.log (see bm25_score_terms)
    dfs = {
        r["term"]: int(r["df"])
        for r in tstats.where(F.col("term").isin(all_terms)).collect()
    }
    per_query = {}
    for qid, (terms, weight) in norm.items():
        idf_by_term = {t: bm25_idf(N, dfs[t]) for t in terms if t in dfs}
        if idf_by_term:
            per_query[qid] = (idf_by_term, weight)
    if not per_query:
        return None
    live_terms = sorted({t for idf, _ in per_query.values() for t in idf})
    # project away the positions streams BEFORE the per-shard exchange:
    # pos_bytes/plen_bytes dominate block-row bytes and BM25 never reads
    # them — without this, a hot term's shuffle moves ~3× the bytes and
    # the single-term query REGRESSES as executors are added (round-1
    # bench: q_hot_term 1.4s → 3.4s going 1 → 4 executors)
    idx = index_df.where(F.col("term").isin(live_terms)).select(
        "term", "shard", "block_id", "doc_bytes", "tf_bytes", "dl_bytes", "uf_bytes", "max_wtf"
    )
    return idx.groupBy("shard").applyInPandas(
        _bm25_shard_scorer(per_query, k, float(avgdl), float(wtf_scale)),
        schema="query_id string, doc_id long, score double",
    )


def bm25_topk_blocks(
    index_df: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    query: str,
    k: int = C.TOP_K,
    wtf_scale: float = 1.0,
) -> DataFrame:
    """One query over the block index → (doc_id, score) top-k: the batch
    core with one query, then ONE TakeOrderedAndProject over the
    ≤ |shards|·k per-shard rows."""
    _check_k(k)
    shard_topk = _bm25_shard_topk(index_df, tstats, N, avgdl, {"": query}, k, wtf_scale)
    if shard_topk is None:
        return index_df.sparkSession.createDataFrame([], "doc_id long, score double")
    return (
        shard_topk.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_batch(
    index_df: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    queries: dict[str, str],
    k: int = C.TOP_K,
    wtf_scale: float = 1.0,
) -> DataFrame:
    """The WHOLE query set in ONE job: (query_id, doc_id, score, rank).

    The reference serves one query per request (Search.java handles a
    single ?q=); a Spark engine evaluating a reference-style query SET
    (offline eval, A/B reruns, relevance regression suites) should not
    pay one index scan + one job per query. This path:

    * normalizes every query driver-side, collects ONE tstats lookup for
      the union of all terms (one small collect instead of |Q|);
    * scans the block index ONCE, filtered to the union of terms (the
      caller can additionally bucket-prune via sink.blocks_for_terms on
      that union), positions projected away;
    * scores every query inside the same per-shard applyInPandas with
      the one BM25 shard scorer (_bm25_shard_scorer): each term's streams
      decode once per shard, its arrays are evicted after the last query
      that uses it, and per-query arithmetic is BIT-IDENTICAL to
      bm25_topk_blocks;
    * one final tiny shuffle on query_id ranks the per-shard candidates
      (≤ |shards|·k rows per query, never corpus-sized).

    Queries that normalize to nothing (or whose terms are absent from
    the index) contribute zero rows, matching the single-query path's
    empty frame.
    """
    _check_k(k)
    shard_topk = _bm25_shard_topk(index_df, tstats, N, avgdl, queries, k, wtf_scale)
    if shard_topk is None:
        return index_df.sparkSession.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int"
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        shard_topk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# positional phrase queries — first-class on the COMPRESSED index.
#
# The reference stores positions in every index posting
# (/root/reference/src/cis5550/jobs/Indexer.java:252-283) but its rankers
# never exploit them; our block codec likewise carries pos_bytes/plen_bytes
# in every block. phrase_topk_blocks makes phrases a block-index citizen:
# conjunctive pre-filter on doc-id streams, positional verification that
# decodes position streams ONLY for candidate-bearing blocks, exact BM25
# for the matching docs. phrase_topk_df is its DataFrame twin over the
# uncompressed token stream (oracle-parity path) — bit-identical scores.


def normalize_phrase(query: str, stem: bool = True) -> list[str]:
    """Phrase normalization: ORDER- and MULTIPLICITY-preserving, unlike
    normalize_query (which sorts/dedupes for bag-of-words scoring).
    Mirrors the tokenizer's survivor rules (tokenize._token_array:
    lowercase, split on TOKEN_SPLIT_RE, drop empties/overlong/SKIP_WORDS)
    so adjacency is checked in the same survivor-position space the
    index encodes (positions are contiguous 1..n over survivors).
    Stopwords are KEPT: the index stores them — stopword removal is a
    query-side *scoring* policy (Search.java:209-213), and dropping one
    here would break adjacency ("state of the art")."""
    toks = _survivor_tokens(query)
    return [porter_stem(t) for t in toks] if stem else toks


# phrase occurrence key layout: candidate_rank << POS_BITS | pos.
# Positions are 1-based over the tokenizer's survivor stream, bounded by
# MAX_PAGE_LEN (10^4) truncation ≪ 2^20, so the pos field never carries
# into the rank bits even after the +i phrase-offset shift.
_POS_BITS = 20
_POS_MASK = (1 << _POS_BITS) - 1


def _phrase_empty_df(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "doc_id long, n_occurrences long, first_pos long, score double"
    )


def _phrase_shard_factory(terms_seq: list[str], idf_by_term: dict[str, float], avgdl: float, k: int):
    """Per-shard phrase matcher + scorer for applyInPandas over block rows
    INCLUDING the position streams (the BM25 paths project pos_bytes away
    before the exchange; phrase ships them, but only for the |phrase|
    distinct terms' blocks). Same term-grouped view and codec routine as
    the BM25 scorer; decode-narrowest-first, three stages:

    1. doc-id streams only → conjunctive candidate set (a phrase match
       needs EVERY term, so the intersection is an exact pre-filter —
       stronger than a WAND upper bound, and shards partition docs so a
       per-shard intersection is globally correct);
    2. position streams decoded ONLY for blocks holding ≥1 candidate →
       adjacency verification, vectorized across ALL candidates at once:
       every occurrence becomes one int64 key (candidate_rank <<
       POS_BITS | pos) — valid because positions are bounded by the
       tokenizer's MAX_PAGE_LEN truncation (~10⁴) ≪ 2^POS_BITS — so the
       whole shard's phrase check is one np.isin per phrase offset, with
       NO per-doc Python loop (repeated phrase terms work because the
       check is per-offset set membership on the same key set);
    3. exact BM25 for the matched docs through the shared fold
       (_exact_scores), weight 1.0 — tf/dl/uf decoded only for blocks
       holding a matched doc.
    """
    uterms = sorted(set(terms_seq))

    def occurrence_keys(e: _TermBlocks, cand: np.ndarray) -> np.ndarray:
        sel = np.isin(e.docs, cand, assume_unique=True)
        need = e.blocks_holding(sel)
        pos, plens = decode_positions(
            b"".join(e.rows["pos_bytes"].to_numpy()[need]),
            b"".join(e.rows["plen_bytes"].to_numpy()[need]),
        )
        at = _ranges(e.starts[need], e.counts[need])  # doc index per plen
        keep = sel[at]
        ln = plens.astype(np.int64)
        ls = ln[keep]
        # multi-range gather of the selected docs' position slices
        p64 = pos.astype(np.int64)[_ranges((np.cumsum(ln) - ln)[keep], ls)]
        # tokenizer truncation bounds pos ≪ 2^POS_BITS; guard the packing
        # invariant loudly rather than corrupting keys (headroom 64 ≥ any
        # realistic phrase length, so pos+i never carries into the rank bits)
        if p64.size and int(p64.max()) >= _POS_MASK - 64:
            raise ValueError(
                f"position {int(p64.max())} exceeds phrase key capacity 2^{_POS_BITS}"
            )
        ranks = np.searchsorted(cand, np.repeat(e.docs[at][keep], ls))
        return (ranks << _POS_BITS) | p64

    def match_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series(dtype="int64"),
                "n_occurrences": pd.Series(dtype="int64"),
                "first_pos": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        # -- stage 1: doc-id streams → conjunctive candidates
        rows = _term_rows(pdf)
        ents: dict[str, _TermBlocks] = {}
        cand = None
        for t in uterms:
            if t not in rows:
                return empty
            e = ents[t] = _TermBlocks(rows[t])
            cand = e.docs if cand is None else np.intersect1d(cand, e.docs, assume_unique=True)
            if cand.size == 0:
                return empty
        # -- stage 2: positions ONLY for candidate-bearing blocks
        keys_by_term = {t: occurrence_keys(e, cand) for t, e in ents.items()}
        occ = keys_by_term[terms_seq[0]]
        for i, t in enumerate(terms_seq[1:], start=1):
            if occ.size == 0:
                break
            occ = occ[np.isin(occ + i, keys_by_term[t])]
        if occ.size == 0:
            return empty
        occ_rank = (occ >> _POS_BITS).astype(np.int64)
        occ_pos = occ & _POS_MASK
        n_occ = np.bincount(occ_rank, minlength=cand.size)
        first = np.full(cand.size, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(first, occ_rank, occ_pos)
        hit = n_occ > 0
        mdocs = cand[hit]  # cand is sorted, so mdocs stays sorted
        # -- stage 3: exact BM25 for matched docs
        s = _exact_scores(ents, idf_by_term, 1.0, avgdl, mdocs)
        order = np.lexsort((mdocs, -s))[:k]
        return pd.DataFrame(
            {
                "doc_id": mdocs[order],
                "n_occurrences": n_occ[hit][order].astype(np.int64),
                "first_pos": first[hit][order],
                "score": s[order],
            }
        )

    return match_shard


def phrase_topk_blocks(
    index_df: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    phrase: str | None = None,
    k: int = C.TOP_K,
    terms: list[str] | None = None,
) -> DataFrame:
    """Top-k positional phrase query over the compressed block index →
    (doc_id, n_occurrences, first_pos, score). ``terms`` bypasses
    normalization with a pre-normalized ordered sequence (raw-token
    indexes / oracle parity); otherwise ``phrase`` goes through
    normalize_phrase (stemmed production path). Plan shape: one block
    scan filtered to the phrase's distinct terms (bucket-prunable via
    sink.blocks_for_terms), ONE per-shard applyInPandas, one ≤|shards|·k
    row TakeOrderedAndProject — positions never cross the exchange for
    any term outside the phrase."""
    _check_k(k)
    spark = index_df.sparkSession
    if terms is None:
        terms = normalize_phrase(phrase or "")
    terms = list(terms)
    if not terms:
        return _phrase_empty_df(spark)
    uterms = sorted(set(terms))
    dfs = {
        r["term"]: int(r["df"])
        for r in tstats.where(F.col("term").isin(uterms)).collect()
    }
    if any(t not in dfs for t in uterms):
        # a term absent from the corpus cannot appear in any phrase match
        return _phrase_empty_df(spark)
    idf_by_term = {t: bm25_idf(N, dfs[t]) for t in uterms}
    idx = index_df.where(F.col("term").isin(uterms)).select(
        "term", "shard", "block_id", "doc_bytes", "tf_bytes", "dl_bytes",
        "uf_bytes", "pos_bytes", "plen_bytes",
    )
    out = idx.groupBy("shard").applyInPandas(
        _phrase_shard_factory(terms, idf_by_term, float(avgdl), k),
        schema="doc_id long, n_occurrences long, first_pos long, score double",
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_topk_df(
    toks: DataFrame,
    postings: DataFrame,
    dstats: DataFrame,
    tstats: DataFrame,
    N: int,
    avgdl: float,
    terms: list[str],
    k: int = C.TOP_K,
) -> DataFrame:
    """DataFrame twin of phrase_topk_blocks over the uncompressed token
    stream (the oracle-parity path; same shape as the q_phrase_match
    positional self-join, generalized to any length). Adjacency: a chain
    of co-partitioned equi-joins on (doc_id, start+i == pos_i); scoring:
    bm25_score_terms restricted to matching docs. Scores are
    bit-identical to the block path (same canonical expression and
    accumulation order)."""
    _check_k(k)
    spark = toks.sparkSession
    terms = list(terms)
    if not terms:
        return _phrase_empty_df(spark)
    m = toks.where(F.col("term") == terms[0]).select("doc_id", F.col("pos").alias("start"))
    for i, t in enumerate(terms[1:], start=1):
        nx = toks.where(F.col("term") == t).select(
            F.col("doc_id").alias("d2"), (F.col("pos") - i).alias("s2")
        )
        m = m.join(nx, (m["doc_id"] == nx["d2"]) & (m["start"] == nx["s2"])).select(
            "doc_id", "start"
        )
    hits = m.groupBy("doc_id").agg(
        F.count("*").alias("n_occurrences"), F.min("start").alias("first_pos")
    )
    scored = bm25_score_terms(
        postings.join(hits.select("doc_id"), "doc_id", "left_semi"),
        dstats, tstats, N, avgdl, sorted(set(terms)), 1.0, k,
    )
    return (
        scored.join(hits, "doc_id")
        .select("doc_id", "n_occurrences", "first_pos", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
