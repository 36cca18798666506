"""One isolated CDC-replay timing run (called as a subprocess by bench.py).

A fresh JVM per (master, rep) eliminates cross-run JVM-state pollution
(cache/GC drift) that makes in-process A/B timings incomparable, and lets
the caller alternate masters to spread host noise fairly.

    python tools/scaling_bench.py <master> <log_dir> [table_parent]

Prints one line: ``WALL <seconds>``.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cfe_39_spark.operators.cdc import apply_batch  # noqa: E402
from cfe_39_spark.session import get_spark  # noqa: E402
from cfe_39_spark.sources.table import SequenceTable  # noqa: E402


def main() -> None:
    master = sys.argv[1]
    log_dir = sys.argv[2]
    parent = sys.argv[3] if len(sys.argv) > 3 else None
    segs = sorted(glob.glob(os.path.join(log_dir, "seg-*")))
    limit = int(os.environ.get("CFE39_SEGS_LIMIT", "0"))
    if limit:
        segs = segs[:limit]
    d = tempfile.mkdtemp(prefix="cfe39-scale-", dir=parent)
    spark = get_spark(master=master, app_name=f"cdc-scale-{master}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # the bench log is generated with 8 source partitions
        # (fixtures.gen_bench_log_spark n_partitions default) — the hint a
        # Kafka consumer always has: lineage stats ride the delta-write
        # job, with no jobs spent listing the batch's partitions
        parts = list(range(8))
        t = SequenceTable.create(spark, os.path.join(d, "t"), n_buckets=32)
        # Warm-up batch drawn from the replay's own first segment, applied
        # to the REAL table: JVM/codegen warmup outside the timed span.
        # Correctness is untouched: the 5000 events re-delivered by
        # segment 0 tie on the full (event_time, offset, src_partition)
        # triple and the stored row wins idempotently, so the final state
        # equals a plain replay.
        apply_batch(spark, t, spark.read.parquet(segs[0]).limit(5000),
                    batch_id="warmup", known_partitions=parts)
        t0 = time.monotonic()
        for i, seg in enumerate(segs):
            apply_batch(spark, t, spark.read.parquet(seg), batch_id=i,
                        known_partitions=parts)
        print(f"WALL {time.monotonic() - t0:.2f}", flush=True)
        if os.environ.get("CFE39_SWEEP_FILESTATS"):
            # read-amplification series, measured AFTER the wall clock
            # stops (metadata-only chain walk, no timing pollution): for
            # every committed snapshot, live file count and outstanding
            # delta files — the number a reader must LWW-merge.  A flat
            # trend across auto-compaction crossings is the "no O(state)
            # read-amplification term" evidence for BENCH.md §4.
            import json as _json

            series = []
            for s in reversed(t.committed_chain()):
                entries = s["files"]
                n_delta = sum(1 for e in entries if e.get("kind") == "delta")
                series.append({
                    "batch_id": s["batch_id"],
                    "n_files": len(entries),
                    "n_delta": n_delta,
                })
            print("FILES " + _json.dumps(series), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
