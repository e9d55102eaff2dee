"""Cluster entry point for the streaming-store → block-index compaction
(the reference's publish step, Indexer.java:287-294, as an incremental
LSM merge — streaming.compact_into_index):

    python tools/make_pyfiles.py                      # → dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        tools/submit_compaction.py \\
        --index /shared/index-root --store /shared/stream-store

Folds every committed-but-unfolded streaming batch into the block-max
index, re-encoding ONLY the buckets touched by new or retired postings;
untouched buckets are not read and stay byte-identical. Safe to re-run:
an interrupted compaction is recovered and replayed idempotently, and a
store with nothing pending exits as a no-op.

Deployment note (same as the store's commit protocol): the marker-file
and rename-pair atomicity assumes index root and store share one POSIX
filesystem reachable from the driver (NFS/Lustre on a cluster). An
object-store deployment substitutes a transactional table format for
the marker protocol.
"""

from __future__ import annotations

import argparse
import os
import sys

# importable both under spark-submit --py-files and as a plain local
# `python tools/...` invocation
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import json

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index", required=True, help="block index root (sink layout)")
    p.add_argument("--store", required=True, help="streaming store root")
    args = p.parse_args(argv)

    from search_engine_spark.sink import IndexSink
    from search_engine_spark.streaming import compact_into_index

    preexisting = SparkSession.getActiveSession() is not None
    spark = SparkSession.builder.appName(
        "search_engine_spark.compaction"
    ).getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    sink = IndexSink(args.index)
    res = compact_into_index(spark, sink, args.store)
    print(json.dumps(res))
    if not preexisting:
        spark.stop()
    sys.exit(0 if res["status"] in ("compacted", "folded_empty", "noop") else 1)


if __name__ == "__main__":
    main()
