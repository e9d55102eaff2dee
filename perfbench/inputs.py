"""Seeded inputs for the benchmark: corpus, request streams and refresh deltas.

Everything here is a pure function of the seed and the sizes, computed in
the benchmark process without Spark; the engine only ever receives the results.
The corpus rows are ``corpus.generate_corpus_pdf`` (the per-slice core of
``generate_corpus``, byte-identical rows), so the oracle can be built from
the same rows without collecting anything from Spark.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

import pandas as pd

from search_engine_spark import constants as C
from search_engine_spark.corpus import generate_corpus_pdf
from search_engine_spark.oracle import tokenize_doc

# The class of every request, in order; only the concrete words are seeded.
# The pattern is one block of 6 BM25 and 2 phrase requests (75% / 25%).
# Whole blocks keep the mix of every run the same for every seed, and
# narrow classes (top-10 hot words, one word per band in a mix, fixed
# phrase lengths) keep the work per request alike across seeds.
REQUEST_PATTERN = (
    "hot", "phrase2", "mix", "mid", "phrase3", "rare", "mix", "absent|stop",
)


def url_of(repo: str, path: str) -> str:
    """The document 'URL' the sink injects by default (url_cols=repo/path)."""
    return f"{repo}/{path}"


def corpus_rows(n_docs: int, seed: int) -> pd.DataFrame:
    return generate_corpus_pdf(n_docs, seed=seed)


def input_bytes(rows: pd.DataFrame) -> int:
    """UTF-8 bytes of content plus metadata columns."""
    return int(
        sum(rows[c].map(lambda s: len(s.encode("utf-8"))).sum() for c in rows.columns)
    )


def _doc_tokens(rows: pd.DataFrame) -> list[list[str]]:
    return [
        tokenize_doc(r.content, url_of(r.repo, r.path))
        for r in rows.itertuples(index=False)
    ]


def request_stream(rows: pd.DataFrame, seed: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` requests ``(kind, class, text)`` drawn from the corpus's own
    term and document statistics. ``kind`` is "bm25" or "phrase".

    BM25 classes: hot (one of the 10 words of highest document frequency),
    mid (around the median df of words seen in ≥2 docs), rare (df 1),
    absent (a word no document holds), stop (2–3 stopwords, scored at the
    stopword penalty) and mix (one hot, one mid and one rare word).
    Phrases are 2 or 3 consecutive tokens of a real document, so they
    match, except that in every second block the 3-token slot holds two
    random hot words instead (usually not adjacent anywhere)."""
    rng = random.Random(f"requests:{seed}")
    toks = _doc_tokens(rows)
    df = Counter(t for ts in toks for t in set(ts))
    words = sorted(
        (t for t in df if t not in C.STOPWORDS and not t.isdigit()),
        key=lambda t: (-df[t], t),
    )
    hot = words[:10]
    multi = [t for t in words if df[t] >= 2]
    mid_at = len(multi) // 2
    mid = multi[max(0, mid_at - 25) : mid_at + 25]
    rare = [t for t in words if df[t] == 1] or words[-50:]
    stop = sorted(C.STOPWORDS)
    out = []
    for i in range(n):
        block, cls = divmod(i, len(REQUEST_PATTERN))
        cls = REQUEST_PATTERN[cls]
        if cls == "absent|stop":
            cls = "stop" if block % 2 else "absent"
        if cls.startswith("phrase"):
            ln = int(cls[-1])
            if ln == 3 and block % 2:
                text = " ".join(rng.sample(hot, 2))
            else:
                doc = rng.choice([t for t in toks if len(t) >= ln])
                at = rng.randrange(0, len(doc) - ln + 1)
                text = " ".join(doc[at : at + ln])
            out.append(("phrase", cls, text))
            continue
        if cls == "absent":
            text = f"zq{rng.randrange(10**9)}x"
        elif cls == "stop":
            text = " ".join(rng.sample(stop, rng.choice((2, 3))))
        elif cls == "mix":
            parts = [rng.choice(hot), rng.choice(mid), rng.choice(rare)]
            rng.shuffle(parts)
            text = " ".join(parts)
        else:
            text = rng.choice({"hot": hot, "mid": mid, "rare": rare}[cls])
        out.append(("bm25", cls, text))
    return out


def refresh_delta(
    base: pd.DataFrame, seed: int, cycle: int, n_new: int, n_changed: int,
    taken: set[int],
) -> pd.DataFrame:
    """One refresh delta: ``n_new`` fresh documents plus ``n_changed`` new
    versions of base documents (same repo/path, new commit and content).
    ``taken`` holds base rows already changed by earlier cycles; the
    chosen rows are added to it so no document is changed twice."""
    rng = random.Random(f"delta:{seed}:{cycle}")
    free = [i for i in range(len(base)) if i not in taken]
    changed_at = sorted(rng.sample(free, n_changed))
    taken.update(changed_at)
    dseed = seed * 1000 + cycle + 1
    fresh = generate_corpus_pdf(n_new + n_changed, seed=dseed)
    new = fresh.iloc[:n_new].copy()
    new["repo"] = f"delta{cycle}-" + new["repo"]
    changed = base.iloc[changed_at].copy()
    changed["commit"] = [
        hashlib.sha1(f"{dseed}:changed:{i}".encode()).hexdigest() for i in changed_at
    ]
    changed["content"] = fresh["content"].iloc[n_new:].to_numpy()
    return pd.concat([new, changed], ignore_index=True)


def apply_delta(live: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """The corpus after a fold: a delta row replaces the live row with the
    same (repo, path); every other delta row is added."""
    keys = set(zip(delta["repo"], delta["path"]))
    kept = live[[k not in keys for k in zip(live["repo"], live["path"])]]
    return pd.concat([kept, delta], ignore_index=True)
