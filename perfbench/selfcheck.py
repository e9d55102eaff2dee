"""Checks the benchmark's own inputs and answer checker, without Spark.

    python3 perfbench/selfcheck.py

* One seed reproduces identical inputs (corpus, request stream, refresh
  delta) and two seeds give different ones.
* Reference answers fed back to the checker pass; deliberately wrong
  answers (a score one ulp off, a dropped row, a wrong phrase position, a
  batch that disagrees with the single answers) each raise failed_frac
  above 0.

Exits non-zero if any of these does not hold.
"""

from __future__ import annotations

import math
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
from checks import Reference, Tally, check_answers  # noqa: E402

N_DOCS = 300


def seeded(seed: int):
    rows = inputs.corpus_rows(N_DOCS, seed)
    stream = inputs.request_stream(rows, seed, 16)
    delta = inputs.refresh_delta(rows, seed, 0, 20, 10, set())
    return rows, stream, delta


def same(a, b) -> bool:
    return a[0].equals(b[0]) and a[1] == b[1] and a[2].equals(b[2])


def answered(ref: Reference, stream) -> tuple[list, SimpleNamespace]:
    """What a correct engine returns for ``stream``, shaped like run.py's
    request records and batch result."""
    done = [
        SimpleNamespace(kind=k, text=t, rows=ref.bm25(t) if k == "bm25" else ref.phrase(t))
        for k, _c, t in stream
    ]
    queries = {f"q{i:03d}": r.text for i, r in enumerate(done) if r.kind == "bm25"}
    rows = [
        {"query_id": qid, "doc_id": d, "score": s, "rank": i + 1}
        for qid, q in queries.items()
        for i, (d, s) in enumerate(ref.bm25(q))
    ]
    return done, SimpleNamespace(rows=rows, queries=queries)


def failed_frac(ref, done, batch) -> float:
    tally = Tally()
    check_answers(tally, ref, done, batch)
    return tally.failed_frac


def main() -> int:
    problems = []
    a, a2, b = seeded(1), seeded(1), seeded(2)
    if not same(a, a2):
        problems.append("seed 1 did not reproduce its inputs")
    if a[0].equals(b[0]) or a[1] == b[1] or a[2].equals(b[2]):
        problems.append("seeds 1 and 2 gave identical inputs")

    rows, stream, _delta = a
    ref = Reference(rows, list(range(len(rows))))
    done, batch = answered(ref, stream)
    if failed_frac(ref, done, batch) != 0:
        problems.append("correct answers were flagged")

    bm25 = next(r for r in done if r.kind == "bm25" and len(r.rows) > 1)
    phrase = next(r for r in done if r.kind == "phrase" and r.rows)
    d, s = bm25.rows[0]
    pd_, n, first, ps = phrase.rows[0]
    wrong = {
        "score one ulp off": (bm25, [(d, math.nextafter(s, math.inf))] + bm25.rows[1:]),
        "row dropped": (bm25, bm25.rows[1:]),
        "phrase position": (phrase, [(pd_, n, first + 1, ps)] + phrase.rows[1:]),
    }
    for name, (req, rows_) in wrong.items():
        good, req.rows = req.rows, rows_
        frac = failed_frac(ref, done, batch)
        req.rows = good
        print(f"wrong answer ({name}): failed_frac={frac:.3f}")
        if not frac > 0:
            problems.append(f"wrong answer not flagged: {name}")
    batch.rows = batch.rows[1:]
    frac = failed_frac(ref, done, batch)
    print(f"wrong answer (batch row dropped): failed_frac={frac:.3f}")
    if not frac > 0:
        problems.append("wrong batch answer not flagged")

    for p in problems:
        print("FAIL:", p)
    print("selfcheck", "failed" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
