"""Workload definitions: sizes, why each exists, and the seeded op sequence.

Every workload is a single-thread closed loop: the next operation is
issued only after the previous one returned.  The operation sequence is a
pure function of (workload, seed, --seconds, op index) — never of wall-clock
time — so every run with the same arguments applies the same batches, sees
the same table states, crosses the same inline-compaction points and runs
the same Spark jobs.  ``--seconds`` is turned into an operation count with a
fixed nominal per-operation cost (``nominal_op_s``), not by watching a clock.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# Spark master of every measured run: two task threads leave the other cores
# of a 4-core host to the Python process, the Arrow workers and other tenants
MASTER = "local[2]"
# source-partition count of the generated log; passed to apply_batch as
# ``known_partitions`` (a Kafka consumer always knows its topic's count)
N_PARTITIONS = 8

# Shared sizes: four buckets keep a 2-thread engine busy without drowning a
# ~20 s run in per-file overhead; every key exists in the initial state.
N_BUCKETS = 4
REDELIVER = 0.05  # share of a trigger that re-delivers the previous one's events
# --seconds -> measured triggers (cycles): one per nominal_op_s, at least
# MIN_OPS so that every run holds compacting and non-compacting triggers
MIN_OPS = 4

# why each workload exists is recorded in BENCHMARK.json.  Every trigger
# touches all four buckets, so a bucket holds one delta more per trigger and
# all of them compact together on every compact_threshold-th trigger.
# Reads run between triggers, never during one; each kind of read is spread
# over the whole run, so that a burst of load from other tenants of the host
# reaches few of its samples.
WORKLOADS: dict[str, dict] = {
    "ingest_bulk": {
        "n_keys": 6_000,
        "trigger_events": 4_000,
        "key_dist": "uniform",
        # every second trigger compacts: four compacting and four steady
        # triggers in a 20 s run (measured triggers 1, 3, 5 and 7 compact)
        "compact_threshold": 2,
        "nominal_op_s": 2.5,
        # a changefeed read after every trigger; after every steady one also
        # a lookup and a scan, both seeing buckets that hold one delta
        "lookup_every": 2,
        "changes_every": 1,
        "scan_every": 2,
        "reapply_every": 4,
    },
    "serve_mixed": {
        "n_keys": 6_000,
        "trigger_events": 2_000,
        "key_dist": "zipf",
        "zipf_s": 1.1,
        # readers see buckets holding 0, 1 or 2 deltas; a 20 s run spans
        # three compactions (measured triggers 1, 4 and 7)
        "compact_threshold": 3,
        "nominal_op_s": 2.9,
        "lookup_every": 1,
        "changes_every": 1,
        "scan_every": 1,
        "reapply_every": 3,
    },
}

LOOKUP_KEYS = 10
# of the keys in one lookup, this many come from the latest trigger
LOOKUP_RECENT = 7
# warm-up triggers followed by reads (see build_ops)
WARM_READS = 2
# bootstraps per run; setup_s takes the median bootstrap, so the first
# Spark job's cold start does not decide it
N_CREATES = 3


def spec(workload: str, seconds: int) -> dict:
    """Sizes for one run.  Raises KeyError for an unknown workload."""
    s = dict(WORKLOADS[workload])
    s["workload"] = workload
    s["seconds"] = int(seconds)
    s["n_measured"] = max(MIN_OPS, round(seconds / s["nominal_op_s"]))
    # warm-up triggers before the measured ones: the first apply on a fresh
    # table plans with max_by, the second is the first broadcast-join plan,
    # trigger T = compact_threshold is the first inline compaction, and T - 1
    # steady ones follow it.  Measured triggers 1, T + 1, 2T + 1, ... then
    # compact, each a warm compaction.
    s["n_warmup"] = 2 * s["compact_threshold"] - 1
    return s


def cache_key(s: dict, seed: int) -> str:
    """Identity of a generated input set: workload, seed, sizes and the
    source of the generator and of this module."""
    h = hashlib.sha1(json.dumps(s, sort_keys=True).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("gen.py", "workloads.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return f"{s['workload']}-s{seed}-{h.hexdigest()[:12]}"


def rng(seed: int, workload: str, stream: int, index: int = 0) -> np.random.Generator:
    """Independent generator per (seed, workload, stream, index)."""
    wid = sorted(WORKLOADS).index(workload)
    return np.random.default_rng([int(seed), wid, stream, index])


def doc_ids(idx: np.ndarray) -> np.ndarray:
    return np.char.add("doc-", np.char.zfill(idx.astype("U7"), 7))


def build_ops(s: dict, seed: int, batch_keys: dict[int, np.ndarray]) -> tuple[list, list]:
    """(setup_ops, measured_ops).  Batches 1..n_warmup warm up;
    the measured triggers follow.  ``batch_keys[b]``: key indices batch b
    touches (lookups are biased toward the latest trigger's keys).
    Lookups, scans and changefeeds name the batch whose state they read."""

    def lookup(b: int, i: int) -> dict:
        r = rng(seed, s["workload"], 3, i)
        recent = np.unique(batch_keys[b])
        keys = set(r.choice(recent, size=LOOKUP_RECENT, replace=False).tolist())
        while len(keys) < LOOKUP_KEYS:
            keys.add(int(r.integers(0, s["n_keys"])))
        return {"op": "lookup", "at": b, "keys": doc_ids(np.array(sorted(keys))).tolist()}

    n_lookup = 0

    def next_lookup(b: int) -> dict:
        nonlocal n_lookup
        n_lookup += 1
        return lookup(b, n_lookup)

    # warm-up: the last WARM_READS warm-up triggers are each followed by a
    # lookup and a changefeed read, so the read paths warm up too
    w = s["n_warmup"]
    setup: list[dict] = []
    for b in range(1, w + 1):
        setup.append({"op": "trigger", "b": b})
        if b > w - WARM_READS:
            setup += [next_lookup(b), {"op": "changes", "b": b}]
    setup.append({"op": "scan", "at": w})
    ops: list[dict] = []
    last = w + s["n_measured"]
    for c, b in enumerate(range(w + 1, last + 1), start=1):
        ops.append({"op": "trigger", "b": b})
        if c % s["lookup_every"] == 0:
            ops.append(next_lookup(b))
        if c % s["changes_every"] == 0:
            ops.append({"op": "changes", "b": b})
        if c % s["scan_every"] == 0:
            ops.append({"op": "scan", "at": b})
        if c % s["reapply_every"] == 0:
            ops.append({"op": "reapply", "b": b - 2})
    return setup, ops
