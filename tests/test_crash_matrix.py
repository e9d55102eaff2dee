"""Crash-point matrix for the write side's publish protocol.

Every rename in the engine goes through ``fsutil._rename``. A clean run
of ``IndexSink.build``, of ``compact_into_index`` and of
``compact_store`` is counted, then each is crashed before its i-th
rename for EVERY i: the stand-in raises at that call and at every later
one, because a dead process performs no further renames (not even a
swap's roll-back). Spark's cache is cleared after the crash, as a dead
driver's would be. Recovery is simply re-running the same operation,
after which the index must verify against its manifests, decode to
exactly a clean run's postings and answer every query bit-identically
to a clean run. The Spark jobs of the clean build, fold and store
compaction are counted too, each against its own budget.

The index is small (2 term buckets, 1 doc bucket) so the whole matrix
stays cheap; the fixture is built once and copied per crash point.
"""

from __future__ import annotations

import os
import shutil

import pytest
from test_compact_index import _CHANGED_V2, _NARROW, _NEW, QUERIES, _decoded_content, _mk, _topk

from search_engine_spark import fsutil
from search_engine_spark.sink import IndexSink
from search_engine_spark.streaming import (
    compact_into_index,
    compact_store,
    incremental_index_stream,
    live_doc_ids,
    read_live_postings,
)


class _Crash(Exception):
    pass


class _Rename:
    """``fsutil._rename`` stand-in: counts calls; from call ``die_at`` on,
    raises instead of renaming."""

    def __init__(self, die_at: int | None = None):
        self.real = fsutil._rename
        self.calls = 0
        self.die_at = die_at

    def __call__(self, src: str, dst: str) -> None:
        self.calls += 1
        if self.die_at is not None and self.calls >= self.die_at:
            raise _Crash(f"rename #{self.calls} -> {dst}")
        self.real(src, dst)


def _sink(base: str) -> IndexSink:
    return IndexSink(os.path.join(base, "idx"), n_buckets=2, n_doc_buckets=1)


def _store(base: str) -> str:
    return os.path.join(base, "store")


def _copy(pristine: str, dst: str) -> str:
    for sub in ("idx", "store"):
        shutil.copytree(os.path.join(pristine, sub), os.path.join(dst, sub))
    return dst


def _store_view(spark, store: str):
    postings = sorted(
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"]))
        for r in read_live_postings(spark, store).collect()
    )
    return postings, sorted(r["doc_id"] for r in live_doc_ids(spark, store).collect())


def _index_view(spark, sink: IndexSink):
    assert sink.verify(spark) == []
    return _decoded_content(spark, sink), {q: _topk(spark, sink, q) for q in QUERIES}


def _spark_jobs(spark, group: str, run) -> int:
    """Run ``run`` inside its own job group; the number of Spark jobs it
    started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A clean build of the index, and the Spark jobs it ran."""
    base = str(tmp_path_factory.mktemp("crash") / "pristine")
    jobs = _spark_jobs(
        spark, "crash-matrix-clean-build",
        lambda: _sink(base).build(_mk(spark, _NARROW), url_cols=None),
    )
    return base, jobs


@pytest.fixture(scope="module")
def pristine(spark, built):
    """Built index + an ingested, unfolded store holding new and changed
    docs (so the fold both adds and retires)."""
    base = built[0]
    corpus_dir = os.path.join(base, "in")
    _mk(spark, _CHANGED_V2 + _NEW).coalesce(1).write.parquet(corpus_dir)
    q = incremental_index_stream(spark, corpus_dir, _store(base), os.path.join(base, "ck"))
    assert q.awaitTermination(120)
    return base


@pytest.fixture(scope="module")
def clean(spark, built, pristine, tmp_path_factory):
    """Rename and Spark job counts of clean runs, and the states they
    leave."""
    base = _copy(pristine, str(tmp_path_factory.mktemp("crash") / "clean"))
    sink = _sink(base)
    out = {"build_jobs": built[1]}
    for op, run in (
        ("store", lambda: compact_store(spark, _store(base))),
        ("fold", lambda: compact_into_index(spark, sink, _store(base))),
    ):
        counter = _Rename()
        with pytest.MonkeyPatch.context() as m:
            m.setattr(fsutil, "_rename", counter)
            out[op + "_jobs"] = _spark_jobs(spark, f"crash-matrix-clean-{op}", run)
        out[op + "_renames"] = counter.calls
        if op == "store":
            out["store_view"] = _store_view(spark, _store(base))
    out["index_view"] = _index_view(spark, sink)
    return out


# Spark jobs of the clean runs (the fixture's build, then store
# compaction before the fold, then the fold), each pinned at the largest
# count seen over repeated runs: a job the write path starts without
# need shows up as a count above its budget.
_JOB_BUDGET = {"build": 21, "store": 23, "fold": 48}


def test_write_path_job_budget(clean):
    for op, budget in _JOB_BUDGET.items():
        assert clean[op + "_jobs"] <= budget, f"{op}: {clean[op + '_jobs']} jobs > {budget}"


def _crash_then_rerun(spark, run, at: int) -> None:
    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", _Rename(die_at=at))
        with pytest.raises(_Crash):
            run()
    spark.catalog.clearCache()
    run()


def test_fold_crash_at_every_rename(spark, pristine, clean, tmp_path):
    n = clean["fold_renames"]
    assert n >= 10  # journal, 2 bucket swaps + manifests, docs, meta
    for at in range(1, n + 1):
        base = _copy(pristine, str(tmp_path / f"fold{at}"))
        sink = _sink(base)
        _crash_then_rerun(spark, lambda: compact_into_index(spark, sink, _store(base)), at)
        assert _index_view(spark, sink) == clean["index_view"], f"crash point {at}/{n}"
        assert compact_into_index(spark, sink, _store(base))["status"] == "noop"
        shutil.rmtree(base)


def test_store_compaction_crash_at_every_rename(spark, pristine, clean, tmp_path):
    """compact_store runs BEFORE the fold here, so a store it damaged
    (say, a docmap lost mid-swap) would show up in the folded index."""
    n = clean["store_renames"]
    assert n == 4  # postings, docmap: two renames per swap
    for at in range(1, n + 1):
        base = _copy(pristine, str(tmp_path / f"store{at}"))
        sink = _sink(base)
        _crash_then_rerun(spark, lambda: compact_store(spark, _store(base)), at)
        assert _store_view(spark, _store(base)) == clean["store_view"], f"crash point {at}/{n}"
        assert compact_into_index(spark, sink, _store(base))["status"] == "compacted"
        assert _index_view(spark, sink) == clean["index_view"], f"crash point {at}/{n}"
        shutil.rmtree(base)


def _build(spark, sink: IndexSink) -> None:
    sink.build(_mk(spark, _NARROW), url_cols=None)


def _build_view(spark, sink: IndexSink):
    meta = sink._meta()
    docs = sorted(tuple(r) for r in sink.docs(spark).collect())
    return (
        _index_view(spark, sink), docs,
        (meta["N"], meta["avgdl"], meta["encoded_avgdl"]),
    )


def test_build_crash_at_every_rename(spark, tmp_path):
    sink = _sink(str(tmp_path / "clean"))
    counter = _Rename()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", counter)
        _build(spark, sink)
    n, want = counter.calls, _build_view(spark, sink)
    assert n == 7  # layout, docs, 2 bucket swaps + manifests, meta
    for at in range(1, n + 1):
        sink = _sink(str(tmp_path / f"build{at}"))
        _crash_then_rerun(spark, lambda: _build(spark, sink), at)
        assert _build_view(spark, sink) == want, f"crash point {at}/{n}"
        shutil.rmtree(sink.root)


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("op", ["fold", "store"])
def test_failed_compaction_keeps_no_cached_frame(spark, pristine, tmp_path, op):
    """A fold or store compaction that raises must unpersist what it
    cached, or each failed call in a long-lived driver leaks a frame.
    The check runs right after the failed call, with no garbage
    collection or wait: the stem vocabulary's local checkpoint
    (tokenize.stem_vocab) is released by sink.encoder_input on exit,
    and every cached frame by the operation's own cleanup."""
    base = _copy(pristine, str(tmp_path / op))
    run = {
        "fold": lambda: compact_into_index(spark, _sink(base), _store(base)),
        "store": lambda: compact_store(spark, _store(base)),
    }[op]
    before = _persisted_rdd_ids(spark)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", _Rename(die_at=1))
        with pytest.raises(_Crash):
            run()
    left = _persisted_rdd_ids(spark) - before
    assert not left, f"persisted RDDs {sorted(left)} outlive the failed {op}"


@pytest.mark.parametrize("corrupt_journal", [False, True])
def test_fold_replay_republishes_retire_only_bucket(spark, tmp_path, corrupt_journal):
    """A bucket touched ONLY by a retired doc (no new term hashes into
    it) is re-encoded without that doc, so the replay of a fold that died
    between its swap and its manifest finds no retired posting there and
    would not touch it again — leaving a manifest that no longer matches
    the bucket. The replay must re-publish every bucket the crashed
    attempt journaled, and every bucket when the journal is unreadable."""
    from search_engine_spark.sink import term_bucket_py
    from search_engine_spark.streaming.jobs import _fold_txn_path

    old = [("rt", "x.py", "c1", "py", "zqalpha zqmu"), ("rt", "y.py", "c1", "py", "zqalpha komodo")]
    new = [("rt", "x.py", "c2", "py", "zqalpha")]
    retire_only = term_bucket_py("zqmu", 8)
    assert retire_only != term_bucket_py("zqalpha", 8)
    sink = IndexSink(str(tmp_path / "idx"), n_buckets=8, n_doc_buckets=1)
    sink.build(_mk(spark, old), url_cols=None)
    corpus_dir = str(tmp_path / "in")
    _mk(spark, new).coalesce(1).write.parquet(corpus_dir)
    store = str(tmp_path / "store")
    assert incremental_index_stream(spark, corpus_dir, store, str(tmp_path / "ck")).awaitTermination(120)

    manifest, real = f"bucket_{retire_only:05d}.json", fsutil._rename

    def rename(src, dst):  # dies right after the retire-only bucket's swap
        if dst.endswith(manifest):
            raise _Crash(dst)
        real(src, dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", rename)
        with pytest.raises(_Crash):
            compact_into_index(spark, sink, store)
    spark.catalog.clearCache()
    if corrupt_journal:
        with open(_fold_txn_path(sink.root), "w") as fh:
            fh.write("{not json")
    res = compact_into_index(spark, sink, store)
    assert res["status"] == "compacted" and retire_only in res["touched_buckets"]
    assert sink.verify(spark) == []


def test_swap_dir_rolls_back_a_failed_rename(tmp_path):
    """A second rename that FAILS (the process lives on) puts the old
    content back, so ``final`` never goes missing."""
    final, tmp = tmp_path / "t", tmp_path / "t.tmp"
    final.mkdir()
    (final / "v1").write_text("old")
    tmp.mkdir()
    calls = []

    def rename(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("tmp -> final failed")
        os.replace(src, dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(fsutil, "_rename", rename)
        with pytest.raises(OSError):
            fsutil.swap_dir(str(final), str(tmp))
    assert os.listdir(final) == ["v1"] and not (tmp_path / "t.old").exists()


def test_recover_dirs_rule(tmp_path):
    for d in ("a", "a.old", "b.old", "c.tmp", "_tmp_wave_3", "_compact_docs_tmp"):
        (tmp_path / d).mkdir()
    (tmp_path / "b.old" / "kept").write_text("x")
    (tmp_path / "meta.json.tmp").write_text("{")
    fsutil.recover_dirs(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == ["a", "b"]
    assert os.listdir(tmp_path / "b") == ["kept"]
    fsutil.recover_dirs(str(tmp_path / "missing"))  # no-op
