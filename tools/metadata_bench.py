"""Metadata-scale microbench: per-trigger commit metadata cost must stay
FLAT as the table's live file count grows (SURVEY.md §10.4/§10.5 claims).

At 10^10-event scale a stream runs millions of triggers against a table
holding millions of live files; the per-trigger metadata terms — commit()
wall, descriptor bytes, new-segment bytes, the find_batch idempotency
probe, the delta_file_counts compaction gauge — decide whether the commit
protocol itself becomes the bottleneck long before Spark does.  This bench
isolates that layer: it drives SequenceTable.commit directly with
fabricated manifest entries (no Spark jobs, no data files), so the numbers
are the metadata protocol and nothing else.

Usage:  python tools/metadata_bench.py [N_COMMITS] [FILES_PER_COMMIT]
Prints one JSON line: per-checkpoint means over the trailing window.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cfe_39_spark.session import get_spark  # noqa: E402
from cfe_39_spark.sources.table import PARENT_FILES, SequenceTable  # noqa: E402

N_COMMITS = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
FILES_PER_COMMIT = int(sys.argv[2]) if len(sys.argv) > 2 else 5
CHECKPOINT_EVERY = max(N_COMMITS // 8, 1)


def fake_entries(i: int) -> list[dict]:
    return [
        {
            "path": f"data/commit-{i}-x/_bucket={j % 16}/part-{j}.parquet",
            "bucket": j % 16,
            "rows": 1000,
            "min_doc_id": f"d{i:08d}",
            "max_doc_id": f"d{i + 1:08d}",
            # stream-shaped event-time bounds (monotone in commit order):
            # old segments fall below any recent-read bound, so the time
            # planner must skip them at the REF level, never loading bodies
            "min_event_time": i * 1_000_000,
            "max_event_time": (i + 1) * 1_000_000,
            "schema_version": 1,
            "kind": "delta",
        }
        for j in range(FILES_PER_COMMIT)
    ]


def dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs_ in os.walk(d) for f in fs_
    )


def main() -> None:
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    root = tempfile.mkdtemp(prefix="metabench-")
    t = SequenceTable.create(spark, os.path.join(root, "t"), n_buckets=16)
    checkpoints = []
    win_commit, win_probe, win_gauge, win_tplan = [], [], [], []
    prev_meta_bytes = dir_bytes(t.meta_dir)
    for i in range(N_COMMITS):
        t0 = time.perf_counter()
        t.commit(f"b{i}", fake_entries(i), PARENT_FILES)
        win_commit.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        assert t.find_batch(f"b{max(i - 7, 0)}") is not None  # replay probe
        win_probe.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        t.delta_file_counts()  # the every-trigger compaction gauge
        win_gauge.append(time.perf_counter() - t0)
        # recent-read time planner: last ~8 commits' window.  Must stay
        # flat as live files grow — old segments skip off the ref ceiling
        t0 = time.perf_counter()
        kept = t._select_files(t.snapshot(), min_event_time=max(i - 7, 0) * 1_000_000)
        assert len(kept) <= 16 * FILES_PER_COMMIT
        win_tplan.append(time.perf_counter() - t0)
        if (i + 1) % CHECKPOINT_EVERY == 0:
            snap = t.snapshot()
            meta_bytes = dir_bytes(t.meta_dir)
            checkpoints.append(
                {
                    "commits": i + 1,
                    "live_files": sum(r["n_files"] for r in snap["manifests"]),
                    "segments": len(snap["manifests"]),
                    "descriptor_bytes": os.path.getsize(
                        t._snap_path(snap["snapshot_id"])
                    ),
                    "meta_bytes_per_commit": round(
                        (meta_bytes - prev_meta_bytes) / CHECKPOINT_EVERY
                    ),
                    "commit_ms": round(1e3 * sum(win_commit) / len(win_commit), 2),
                    "probe_ms": round(1e3 * sum(win_probe) / len(win_probe), 3),
                    "gauge_ms": round(1e3 * sum(win_gauge) / len(win_gauge), 3),
                    "time_plan_ms": round(
                        1e3 * sum(win_tplan) / len(win_tplan), 3
                    ),
                }
            )
            prev_meta_bytes = meta_bytes
            win_commit, win_probe, win_gauge, win_tplan = [], [], [], []
    spark.stop()
    first, last = checkpoints[0], checkpoints[-1]
    print(
        json.dumps(
            {
                "metric": "per_trigger_commit_metadata_cost",
                "n_commits": N_COMMITS,
                "files_per_commit": FILES_PER_COMMIT,
                "checkpoints": checkpoints,
                "flatness": {
                    "commit_ms_last_over_first": round(
                        last["commit_ms"] / first["commit_ms"], 2
                    ),
                    "probe_ms_last_over_first": round(
                        last["probe_ms"] / first["probe_ms"], 2
                    ),
                    "time_plan_ms_last_over_first": round(
                        last["time_plan_ms"] / first["time_plan_ms"], 2
                    ),
                    "live_files_growth": round(
                        last["live_files"] / first["live_files"], 1
                    ),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
