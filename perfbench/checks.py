"""Driver-side reference answers. Every check runs outside the timed region.

BM25 answers come from ``oracle.OracleIndex`` in its 3-tuple URL form,
because ``IndexSink.build`` injects repo/path tokens by default. Phrase
answers come from a positional scan of the same token streams, scored with
the oracle's postings and the canonical BM25 expression. Both are compared
bit for bit with what the engine returned.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

from search_engine_spark import constants as C
from search_engine_spark.oracle import OracleIndex, tokenize_doc
from search_engine_spark.query import bm25_idf, normalize_phrase
from search_engine_spark.stemmer import porter_stem

from inputs import url_of


class Reference:
    """Reference answers for one corpus state; ``doc_ids`` are the
    engine's ids for ``rows`` (xxhash64 of repo, path, commit)."""

    def __init__(self, rows: pd.DataFrame, doc_ids: list[int]):
        self._docs = {
            d: (url_of(r.repo, r.path), r.content)
            for d, r in zip(doc_ids, rows.itertuples(index=False))
        }
        self.oracle = OracleIndex([(d, u, c) for d, (u, c) in self._docs.items()])
        self._stem: dict[str, str] = {}

    def bm25(self, query: str) -> list[tuple]:
        return self.oracle.query(query)

    def _forms(self, doc_id: int) -> list[tuple[str, str]]:
        """Per position, the raw token and its stem: a phrase term matches
        a position through either posting channel."""
        url, content = self._docs[doc_id]
        out = []
        for t in tokenize_doc(content, url):
            s = self._stem.get(t)
            if s is None:
                s = self._stem[t] = porter_stem(t)
            out.append((t, s))
        return out

    def phrase(self, text: str) -> list[tuple]:
        """[(doc_id, n_occurrences, first_pos, score)], top-k by
        (score DESC, doc_id ASC), like ``query.phrase_topk_blocks``."""
        terms = normalize_phrase(text)
        post = self.oracle.postings
        uterms = sorted(set(terms))
        if not terms or any(t not in post for t in uterms):
            return []
        cand = set.intersection(*(set(post[t]) for t in uterms))
        n, oi = len(terms), self.oracle
        k1, b = C.BM25_K1, C.BM25_B
        scored = []
        for d in cand:
            forms = self._forms(d)
            starts = [
                s for s in range(len(forms) - n + 1)
                if all(terms[i] in forms[s + i] for i in range(n))
            ]
            if not starts:
                continue
            score, dl, us = 0.0, oi.doclen[d], oi.url_stems.get(d, frozenset())
            for t in uterms:  # term-ascending fold, weight 1.0
                tf = post[t][d]
                if t in us:
                    tf = tf + C.URL_BONUS * 1.0
                idf = bm25_idf(oi.N, len(post[t]))
                score = score + idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * dl / oi.avgdl)
                ) * 1.0
            scored.append((d, len(starts), starts[0] + 1, score))
        scored.sort(key=lambda r: (-r[3], r[0]))
        return scored[: C.TOP_K]


def check_answers(tally: "Tally", ref: Reference, done: list, batch) -> None:
    """Each single request's rows against the reference; the batch call's
    rows against the single answers for the same queries (the reference
    for queries that were not sent singly)."""
    single = {}
    for r in done:
        want = ref.bm25(r.text) if r.kind == "bm25" else ref.phrase(r.text)
        tally.record(f"{r.kind}:{r.text!r}", r.rows == want)
        if r.kind == "bm25":
            single[r.text] = r.rows
    got = batch_by_query(batch.rows)
    tally.record("batch", all(
        got.get(qid, []) == (single[q] if q in single else ref.bm25(q))
        for qid, q in batch.queries.items()
    ))


def batch_by_query(rows) -> dict[str, list[tuple]]:
    """bm25_topk_batch rows → {query_id: [(doc_id, score)] in rank order}."""
    out: dict[str, list] = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


class Tally:
    """Operations attempted and failed; an operation fails when it raised
    or its answer differs from the reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / max(self.attempted, 1)
