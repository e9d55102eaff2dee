"""Benchmark of the search engine's public API on ``local[nproc]``.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/METRICS.md):

* ``serve``   — build an index in set-up, then a closed loop of single
  BM25 and phrase requests from one client, then the stream's first 48
  BM25 queries as one ``bm25_topk_batch`` call.
* ``refresh`` — build a base index in set-up, then cycles of: land a
  seeded delta of new and changed documents, ``incremental_index_stream``
  → ``compact_into_index`` → ``compact_store``, then a batch call on the
  folded index.

Every answer is checked against a driver-side reference outside the
timed region. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
tags Spark jobs per span, reads the event log back and prints the
per-layer metrics, a self-time table and the tracing overhead. The last
stdout line is the result object; the lines before it are the report.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import _cpu_sample  # noqa: E402  (the probe bench.py stamps with)
from search_engine_spark.corpus import with_doc_id  # noqa: E402
from search_engine_spark.query import (  # noqa: E402
    bm25_topk_batch,
    bm25_topk_blocks,
    normalize_phrase,
    normalize_query,
    phrase_topk_blocks,
)
from search_engine_spark.session import build_session  # noqa: E402
from search_engine_spark.sink import IndexSink, read_manifest, wtf_scale_of  # noqa: E402
from search_engine_spark.streaming import (  # noqa: E402
    compact_into_index,
    compact_store,
    incremental_index_stream,
)

import inputs  # noqa: E402
from checks import Reference, Tally, check_answers  # noqa: E402
from spans import EventLog, RssSampler, Tracer, proc_tree  # noqa: E402

# Sizes. Spark's per-job overhead, not per-document work, dominates at
# this scale; they keep one run near a minute on 4 cores (Sizing in
# METRICS.md).
N_DOCS = 300
N_BUCKETS = 1  # term buckets and doc-metadata buckets of every index
STREAM_LEN = 100
DELTA_NEW, DELTA_CHANGED = 40, 20
BATCH_QUERIES = 48
BATCH_STREAM = 64  # requests whose BM25 part holds BATCH_QUERIES queries
STREAM_TIMEOUT_S = 150

WORKLOADS = ("serve", "refresh")


def p(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def files_under(root: str) -> dict[str, tuple[int, int, int]]:
    """path → (size, mtime_ns, inode) of every file below ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            st = os.stat(path)
            out[path] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable in the Python workers, whatever the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(
        work, "spark_local"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")


def start_session(work: str, cores: int, workload: str):
    return build_session(
        cores,
        f"perfbench-{workload}",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process the
    session started (the JVM exits when its stdin closes)."""
    tree = set(proc_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while tree and time.monotonic() < deadline:
        tree = {p for p in tree if os.path.exists(f"/proc/{p}")}
        time.sleep(0.2)
    for pid in tree:
        os.kill(pid, signal.SIGKILL)


def doc_ids(spark, path: str) -> dict[tuple, int]:
    """(repo, path, commit) → the engine's doc_id for the rows at ``path``."""
    df = with_doc_id(spark.read.parquet(path)).select("doc_id", "repo", "path", "commit")
    return {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in df.collect()}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.tally = Tally()
        self.lat: dict[str, list[float]] = {"bm25": [], "phrase": []}
        self.overhead: list[float] = []  # traced − untraced wall of paired requests
        self.requests: list[SimpleNamespace] = []
        self.batches: list[SimpleNamespace] = []

    # -- engine calls, each wrapped in spans ----------------------------

    def open_index(self, tr: Tracer, name: str):
        with tr.span(name):
            blocks, tstats, _dstats, meta = self.sink.read(self.spark)
            tstats = tstats.cache()
            tstats.count()
        return SimpleNamespace(
            blocks=blocks, tstats=tstats, N=meta["N"], avgdl=meta["avgdl"],
            scale=wtf_scale_of(meta),
        )

    def request(self, tr: Tracer, ix, kind: str, text: str):
        pre = "query" if kind == "bm25" else "query.phrase"
        with tr.span(pre) as s:
            with tr.span(pre + ".normalize"):
                terms = normalize_query(text)[0] if kind == "bm25" else normalize_phrase(text)
            with tr.span("sink.discover" if kind == "bm25" else pre + ".discover"):
                idx = self.sink.blocks_for_terms(self.spark, terms) if terms else ix.blocks
            with tr.span(pre + ".tstats_lookup"):
                if kind == "bm25":
                    df = bm25_topk_blocks(
                        idx, ix.tstats, ix.N, ix.avgdl, text, wtf_scale=ix.scale
                    )
                else:
                    df = phrase_topk_blocks(idx, ix.tstats, ix.N, ix.avgdl, phrase=text)
            with tr.span(pre + ".exec"):
                rows = [tuple(r) for r in df.collect()]
        return s, rows, terms

    def batch(self, tr: Tracer, ix, queries: dict[str, str]):
        with tr.span("query.batch") as s:
            with tr.span("query.batch.discover"):
                terms = sorted({t for q in queries.values() for t in normalize_query(q)[0]})
                idx = self.sink.blocks_for_terms(self.spark, terms)
            with tr.span("query.batch.tstats_lookup"):
                df = bm25_topk_batch(
                    idx, ix.tstats, ix.N, ix.avgdl, queries, wtf_scale=ix.scale
                )
            with tr.span("query.batch.exec"):
                rows = df.collect()
        return s, rows

    # -- request streams --------------------------------------------------

    def run_requests(self, ix, stream, until: float) -> list:
        """Closed loop, one client: the next request is sent when the last
        returned. Whole blocks of the request pattern run until ``until``
        has passed, so every run sends the same mix. With tracing on,
        every request is sent twice in a row, untagged and tagged
        (alternating which goes first), and the difference of the pair is
        the tracing overhead."""
        done = []
        block = len(inputs.REQUEST_PATTERN)
        for i, (kind, cls, text) in enumerate(stream):
            if i and i % block == 0 and time.perf_counter() >= until:
                break
            pair = [self.plain, self.tr] if i % 2 == 0 else [self.tr, self.plain]
            walls = {}
            for tr in pair if self.trace else [self.tr]:
                try:
                    s, rows, terms = self.request(tr, ix, kind, text)
                except Exception:  # a request that raises is a failed operation
                    traceback.print_exc()
                    self.tally.record(f"{kind}:{text!r} raised", False)
                    break
                walls[tr] = s.wall
                if tr is self.tr:
                    done.append(SimpleNamespace(
                        kind=kind, cls=cls, text=text, span=s, rows=rows, terms=terms
                    ))
                    self.lat[kind].append(s.wall)
            if len(walls) == 2:
                self.overhead.append(walls[self.tr] - walls[self.plain])
        return done

    def run_batch(self, ix, stream: list) -> SimpleNamespace:
        """The first BATCH_QUERIES BM25 queries of ``stream`` as one call:
        a fixed size, so queries/s does not depend on how many single
        requests fit in the run."""
        texts = [t for kind, _c, t in stream if kind == "bm25"][:BATCH_QUERIES]
        queries = {f"q{i:03d}": t for i, t in enumerate(texts)}
        s, rows = self.batch(self.tr, ix, queries)
        b = SimpleNamespace(span=s, n=len(queries), rows=rows, queries=queries)
        self.batches.append(b)
        return b

    # -- workloads ----------------------------------------------------------

    def setup(self) -> None:
        """Session start, index build and warm-up: everything users pay
        once before the first request. Corpus generation and the
        reference are not part of it."""
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cores, self.args.workload)
        self.session_start_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.tr = Tracer(sc, self.args.workload, tag_jobs=self.trace)
        self.plain = Tracer(sc, self.args.workload, tag_jobs=False)
        self.sink = IndexSink(
            os.path.join(self.work, "index"), n_buckets=N_BUCKETS, n_doc_buckets=N_BUCKETS
        )
        corpus = self.spark.read.parquet(self.corpus_path)
        with self.tr.span("sink.build") as s:
            res = self.sink.build(corpus, buckets_per_wave=N_BUCKETS)
        self.build = SimpleNamespace(wall=s.wall, meta=res["meta"])
        with self.tr.span("session.warmup") as w:
            self.ix = self.open_index(self.tr, "query.open")
            if self.args.workload == "serve":
                # refresh folds before its first query, which warms as much
                self.request(self.tr, self.ix, "bm25", "warmup query def")
        self.warmup_s = w.wall
        self.setup_s = time.perf_counter() - t0
        self.tally.record("build.verify", self.sink.verify(self.spark) == [])

    def serve(self, until: float) -> None:
        stream = inputs.request_stream(self.rows, self.args.seed, STREAM_LEN)
        done = self.run_requests(self.ix, stream, until)
        b = self.run_batch(self.ix, stream)
        self.window_end = time.time()
        ref = Reference(self.rows, [self.ids[k] for k in self.keys(self.rows)])
        check_answers(self.tally, ref, done, b)
        self.requests += done
        self.ops = [r.span.wall for r in done]

    def refresh(self, until: float) -> None:
        seed = self.args.seed
        in_dir = os.path.join(self.work, "in")
        store, ckpt = os.path.join(self.work, "store"), os.path.join(self.work, "ckpt")
        os.makedirs(in_dir)
        live, taken = self.rows, set()
        self.cycles = []
        url_cols = ("repo", "path")
        cycle = 0
        while cycle == 0 or time.perf_counter() < until:
            delta = inputs.refresh_delta(self.rows, seed, cycle, DELTA_NEW, DELTA_CHANGED, taken)
            path = os.path.join(in_dir, f"delta-{cycle}.parquet")
            delta.to_parquet(path, index=False)
            # a cached tstats frame would keep answering for the pre-fold
            # files: the new read's plan matches it in Spark's cache manager
            self.ix.tstats.unpersist()
            before = files_under(self.sink.root)
            with self.tr.span("refresh") as c:
                with self.tr.span("streaming.ingest"):
                    q = incremental_index_stream(self.spark, in_dir, store, ckpt, url_cols)
                    try:
                        finished = q.awaitTermination(STREAM_TIMEOUT_S)
                    finally:
                        if q.isActive:
                            q.stop()
                    if not finished or q.exception() is not None:
                        raise RuntimeError(f"ingest stream did not finish: {q.exception()}")
                with self.tr.span("streaming.fold"):
                    fold = compact_into_index(self.spark, self.sink, store)
                with self.tr.span("streaming.compact_store"):
                    compact_store(self.spark, store)
            after = files_under(self.sink.root)
            rewritten = sum(v[0] for k, v in after.items() if before.get(k) != v)
            self.tally.record(
                f"fold:{cycle}",
                fold["status"] == "compacted" and self.sink.verify(self.spark) == [],
            )
            live = inputs.apply_delta(live, delta)
            self.ids.update(doc_ids(self.spark, path))
            self.ix = self.open_index(self.tr, "query.open")
            stream = inputs.request_stream(live, seed * 1000 + cycle + 1, BATCH_STREAM)
            b = self.run_batch(self.ix, stream)
            ref = Reference(live, [self.ids[k] for k in self.keys(live)])
            check_answers(self.tally, ref, [], b)
            self.cycles.append(SimpleNamespace(
                span=c, fold=fold, n_docs=len(delta),
                delta_bytes=inputs.input_bytes(delta), rewritten=rewritten,
            ))
            cycle += 1
        self.window_end = time.time()
        self.live = live
        self.ops = [c.span.wall for c in self.cycles]

    @staticmethod
    def keys(rows):
        return list(zip(rows["repo"], rows["path"], rows["commit"]))

    def run(self) -> None:
        a = self.args
        self.rows = inputs.corpus_rows(N_DOCS, a.seed)
        self.corpus_path = os.path.join(self.work, "corpus.parquet")
        self.rows.to_parquet(self.corpus_path, index=False)
        self.spark = None
        try:
            self.setup()
            self.ids = doc_ids(self.spark, self.corpus_path)
            self.load1 = os.getloadavg()[0]
            steal0, total0 = _cpu_sample()
            self.epoch = time.time() - time.perf_counter()
            self.window_start = time.time()
            until = time.perf_counter() + a.seconds
            getattr(self, a.workload)(until)
            steal1, total1 = _cpu_sample()
            self.steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
            self.index_bytes = sum(v[0] for v in files_under(self.sink.root).values())
            if self.trace:
                self.count_scans()
        finally:
            if self.spark is not None:
                stop_session(self.spark)

    def count_scans(self) -> None:
        """Untimed count jobs: blocks and postings each request read."""
        for r in self.requests:
            if not r.terms:
                r.blocks = r.postings = 0
                continue
            row = self.sink.blocks_for_terms(self.spark, r.terms).agg(
                F.count("*").alias("b"), F.coalesce(F.sum("n"), F.lit(0)).alias("p")
            ).collect()[0]
            r.blocks, r.postings = int(row["b"]), int(row["p"])

    # -- results --------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        live = self.live if self.args.workload == "refresh" else self.rows
        return {
            "setup_s": self.setup_s,
            "op_p50_s": median(self.ops),
            "batch_qps": median([b.n / b.span.wall for b in self.batches]),
            "index_bytes_per_input_byte": self.index_bytes / inputs.input_bytes(live),
        }

    def per_layer(self, ev: EventLog) -> dict[str, float]:
        out = {"session.start_s": self.session_start_s, "session.warmup_s": self.warmup_s}
        out["sink.build_files_per_s"] = N_DOCS / self.build.wall
        out["query.latency_p50_s"] = median(self.lat["bm25"])
        out["query.phrase.latency_p50_s"] = median(self.lat["phrase"])
        ph = self.build.meta["phase_timings_s"]
        manifest = read_manifest(self.sink.root)
        out.update({
            "tokenize.doc_stats_s": ph["doc_stats"],
            "index.encode_write_s": ph["encode_write"],
            "sink.lineage_s": ph["lineage_readback"],
            "sink.commit_s": ph["encode_commit"] - ph["encode_write"] - ph["lineage_readback"],
            "sink.side_tables_s": ph["side_tables"],
            "sink.build_other_s": self.build.wall
            - ph["doc_stats"] - ph["encode_commit"] - ph["side_tables"],
            "sink.index_bytes": self.index_bytes,
            "sink.block_files": sum(
                f.endswith(".parquet")
                for _d, _s, fs in os.walk(os.path.join(self.sink.root, "blocks"))
                for f in fs
            ),
            "sink.n_blocks": sum(m["n_blocks"] for m in manifest),
            "sink.n_postings": sum(m["n_postings"] for m in manifest),
        })
        kids = self.tr.children()
        for kind, pre, discover in (
            ("bm25", "query", "sink.discover"),
            ("phrase", "query.phrase", "query.phrase.discover"),
        ):
            rs = [r for r in self.requests if r.kind == kind]
            walls = [{c.name: c.wall for c in kids[r.span.sid]} for r in rs]
            work = [ev.for_spans({s.sid for s in self.tr.subtree(r.span)}) for r in rs]
            out.update({
                f"{pre}.normalize_s": median([w[f"{pre}.normalize"] for w in walls]),
                f"{discover}_s": median([w[discover] for w in walls]),
                f"{pre}.tstats_lookup_s": median([w[f"{pre}.tstats_lookup"] for w in walls]),
                f"{pre}.exec_s": median([w[f"{pre}.exec"] for w in walls]),
                f"{pre}.jobs": median([j.jobs for j in work]),
                f"{pre}.tasks": median([j.tasks for j in work]),
                f"{pre}.task_busy_s": median([j.task_busy_s for j in work]),
                f"{pre}.sched_wait_s": median([j.sched_wait_s for j in work]),
                f"{pre}.input_bytes": median([j.input_bytes for j in work]),
                f"{pre}.shuffle_bytes": median(
                    [j.shuffle_read_bytes + j.shuffle_write_bytes for j in work]
                ),
                f"{pre}.blocks_scanned": median([r.blocks for r in rs]),
                f"{pre}.postings_scanned": median([r.postings for r in rs]),
                f"{pre}.postings_per_result": median(
                    [r.postings / max(len(r.rows), 1) for r in rs]
                ),
            })
        bw = [{c.name: c.wall for c in kids[b.span.sid]} for b in self.batches]
        bj = [ev.for_spans({s.sid for s in self.tr.subtree(b.span)}) for b in self.batches]
        for part in ("discover", "tstats_lookup", "exec"):
            out[f"query.batch.{part}_s"] = median([w[f"query.batch.{part}"] for w in bw])
        out["query.batch.task_busy_s"] = median([j.task_busy_s for j in bj])
        out["query.batch.input_bytes"] = median([j.input_bytes for j in bj])
        cyc = getattr(self, "cycles", [])
        cw = [{c.name: c.wall for c in kids[x.span.sid]} for x in cyc]
        out.update({
            "streaming.ingest_s": median([w["streaming.ingest"] for w in cw]),
            "streaming.fold_s": median([w["streaming.fold"] for w in cw]),
            "streaming.compact_store_s": median([w["streaming.compact_store"] for w in cw]),
            "streaming.touched_buckets": median([len(x.fold["touched_buckets"]) for x in cyc]),
            "streaming.retired_docs": median([x.fold["n_retired"] for x in cyc]),
            "streaming.bytes_rewritten": median([x.rewritten for x in cyc]),
            "streaming.write_amp": median([x.rewritten / x.delta_bytes for x in cyc]),
        })
        # Spark work of the timed operations: the request loop and batch
        # call (serve) or the refresh cycles (refresh), per operation
        if cyc:
            windows = [(x.span.start, x.span.end) for x in cyc]
        else:
            windows = [(self.window_start - self.epoch, self.window_end - self.epoch)]
        sp = [ev.in_window(a + self.epoch, b + self.epoch) for a, b in windows]
        tot = sp[0]
        for s in sp[1:]:
            tot.add(s)
        n_ops = max(len(self.ops), 1)
        busy_wall = sum(b - a for a, b in windows)
        out.update({
            "spark.jobs": tot.jobs / n_ops,
            "spark.tasks": tot.tasks / n_ops,
            "spark.task_busy_s": tot.task_busy_s / n_ops,
            "spark.core_util": tot.task_busy_s / (busy_wall * self.cores),
            "spark.sched_wait_s": tot.sched_wait_s / n_ops,
            "spark.shuffle_write_bytes": tot.shuffle_write_bytes / n_ops,
            "spark.spill_bytes": tot.spill_bytes / n_ops,
            "spark.failed_tasks": tot.failed_tasks,
            "trace.overhead_s": median(self.overhead),
            "host.load1": self.load1,
            "host.steal_pct": self.steal_pct,
            "host.peak_rss_mb": self.peak_rss / 2**20,
        })
        return out

    def report_lines(self, e2e: dict) -> list[str]:
        lat = {k: sorted(v) for k, v in self.lat.items()}
        rep = {
            "workload": self.args.workload, "seed": self.args.seed,
            "cores": self.cores, "n_docs": N_DOCS, "trace": int(self.trace),
            "timings": {
                "query_s": {"n": len(lat["bm25"]), "p50": median(lat["bm25"]),
                            "p90": p(lat["bm25"], 0.9) if lat["bm25"] else None,
                            "samples": [round(x, 3) for x in self.lat["bm25"]]},
                "phrase_s": {"n": len(lat["phrase"]), "p50": median(lat["phrase"]),
                             "samples": [round(x, 3) for x in self.lat["phrase"]]},
                "op_s": {"n": len(self.ops), "p50": e2e["op_p50_s"]},
                "batch": {"n": len(self.batches),
                          "queries": [b.n for b in self.batches]},
            },
            "build_files_per_s": N_DOCS / self.build.wall,
            "failed_frac": self.tally.failed_frac,
            "failures": self.tally.failures[:20],
            "host": {"load1": self.load1, "steal_pct": self.steal_pct,
                     "peak_rss_mb": self.peak_rss / 2**20},
        }
        if self.args.workload == "refresh":
            rep["refresh_files_per_s"] = median(
                [x.n_docs / x.span.wall for x in self.cycles]
            )
        lines = ["report " + json.dumps(rep)]
        if self.trace:
            lines.append(f"self time ({self.args.workload}): span, calls, total s, self s")
            for name, n, total, self_s in self.tr.self_time_table():
                lines.append(f"  {name:<28} {n:>4} {total:>9.3f} {self_s:>9.3f}")
        return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work, bool(args.trace))
        b = Bench(args, work)
        with RssSampler() as rss:
            b.run()
        b.peak_rss = rss.peak_bytes
        e2e = b.end_to_end()
        values = b.per_layer(EventLog(os.path.join(work, "eventlog"))) if args.trace else e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    for line in b.report_lines(e2e):
        print(line)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": b.tally.failed == 0,
        "attempted": b.tally.attempted,
        "failed": b.tally.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
