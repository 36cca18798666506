"""CDC engine benchmark: one closed-loop workload run, checked against an
independent DuckDB oracle.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root.  Steps:
  1. generate the seeded inputs and the oracle's answers in a subprocess
     (gen.py), cached under .perfbench_work/inputs by (workload, seed, sizes);
  2. run the workload in a fresh child process with its own JVM (loop.py);
  3. print a detail line (samples, tails, host load), then, as the last
     line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

Everything the run writes stays under .perfbench_work in the repository
root.  Exit status is 0 when a result line was printed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

# JVM heap per child (-Xms = -Xmx, pre-touched); inputs are ~10 MB/trigger
JVM_HEAP = "2g"
# a run must finish inside 180 s; leave room to reap children and print
DEADLINE_S = 170
# input sets kept in the cache (about 100 MB each for ingest_bulk)
KEEP_INPUT_SETS = 12


def program_id() -> str:
    """Hash of the engine's and the benchmark's Python source.  Baselines
    kept between runs (the determinism counts and the untraced loop time)
    are only compared against runs of the same program."""
    h = hashlib.sha1()
    for top in ("cfe_39_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile), or (None, None) below eleven samples."""
    k = len(xs) - 10
    if k < 1:
        return None, None
    return sorted(xs)[k - 1], round(100.0 * k / len(xs), 1)


def med(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def host_state() -> dict:
    """nproc, load average and cumulative CPU steal time (seconds)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"nproc": os.cpu_count(), "loadavg": load, "steal_s": steal}


def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env.update(
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # spark-submit's short-lived launcher JVM: no perf-data file in /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        PYTHONUNBUFFERED="1",
    )
    env.pop("SPARK_GRAFT_JAVA_OPTS", None)
    return env


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def run_child(cmd: list[str], log: str, env: dict, deadline: float) -> int:
    """Run ``cmd`` in a session of its own; on return every process of the
    session has ended: the JVM, and its Python workers, which run in a
    process group of their own."""
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            end = time.monotonic() + 5
            while (pids := _session_pids(p.pid)) and time.monotonic() < end:
                for pid in pids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                time.sleep(0.2)
        if p.poll() is None:
            p.kill()
            p.wait()


def ensure_inputs(work: str, spec: dict, seed: int, deadline: float) -> str:
    cache = os.path.join(work, "inputs")
    os.makedirs(cache, exist_ok=True)
    out = os.path.join(cache, wl.cache_key(spec, seed))
    if not os.path.exists(os.path.join(out, "DONE")):
        rc = run_child(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", spec["workload"],
             "--seed", str(seed), "--seconds", str(spec["seconds"]), "--out", out],
            os.path.join(work, "gen.log"), dict(os.environ), deadline,
        )
        if rc != 0:
            raise RuntimeError(f"input generation failed (rc={rc}); see {work}/gen.log")
    os.utime(out)
    sets = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime, reverse=True
    )
    for old in sets[KEEP_INPUT_SETS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(metrics, detail) from one untraced loop result.

    Every end-to-end metric is work CPU time, read with spans.WorkClock:
    set-up, and the cost of each kind of operation.  Wall-clock figures go
    into the detail line: on a shared host they follow the other tenants'
    load."""
    trig = res["triggers"]
    # compaction cost is reported on its own, so the commit figures cover
    # the triggers that did not compact
    steady = [t for t in trig if not t["compacting"]]
    stalls = [t for t in trig if t["compacting"]]
    rd = res["reads"]
    sc = res["setup_cpu_s"]
    events = sum(t["events"] for t in trig)

    def cpu(xs: list[dict]) -> float | None:
        return med([x["cpu"] for x in xs])

    def wall(xs: list[dict]) -> float | None:
        return med([x["wall"] for x in xs])

    values = {
        "setup_s": (sc["get_spark"] + med(sc["create"]) + sc["warmup"], "s"),
        "ingest_events_per_cpu_s": (events / sum(t["cpu"] for t in trig), "1/s"),
        "commit_cpu_p50_s": (cpu(steady), "s"),
        "compaction_cpu_p50_s": (cpu(stalls), "s"),
        "lookup_cpu_p50_s": (cpu(rd["lookup"]), "s"),
        "changefeed_cpu_p50_s": (cpu(rd["changes"]), "s"),
        "scan_rows_per_cpu_s": (med([r["rows"] / r["cpu"] for r in rd["scan"]]), "1/s"),
    }
    missing = [k for k, (v, _) in values.items() if v is None]
    if missing:
        raise RuntimeError(f"workload produced no samples for {missing}")
    commit_tail, commit_pct = tail([t["wall"] for t in steady])
    lookup_tail, lookup_pct = tail([r["wall"] for r in rd["lookup"]])
    wall_clock = {
        "setup_s": (res["get_spark_s"] + med(res["create_s"]) + sum(res["warmup_ops_s"]), "s"),
        "ingest_events_per_s": (events / sum(t["wall"] for t in trig), "1/s"),
        "commit_latency_p50_s": (wall(steady), "s"),
        "commit_latency_tail_s": (commit_tail, "s"),
        "compaction_stall_s": (wall(stalls), "s"),
        "lookup_latency_p50_s": (wall(rd["lookup"]), "s"),
        "lookup_latency_tail_s": (lookup_tail, "s"),
        "changefeed_latency_p50_s": (wall(rd["changes"]), "s"),
        "scan_rows_per_s": (med([r["rows"] / r["wall"] for r in rd["scan"]]), "1/s"),
    }
    detail = {
        "samples": {"triggers": len(trig), "compacting": len(stalls), "lookups": len(rd["lookup"]),
                    "changefeeds": len(rd["changes"]), "scans": len(rd["scan"])},
        "wall_clock": {k: {"value": v, "unit": u} for k, (v, u) in wall_clock.items()},
        # the tails need eleven samples; a run holds fewer
        "tail_pct": {"commit": commit_pct, "lookup": lookup_pct},
        "loop_s": res["loop_s"],
        **{f"op_{m}_s": {
            "triggers": [round(t[m], 3) for t in trig],
            **{k: [round(x[m], 3) for x in v] for k, v in rd.items()},
        } for m in ("wall", "cpu")},
        "setup_parts_s": {"get_spark": res["get_spark_s"], "create": res["create_s"],
                          "warmup": [round(x, 3) for x in res["warmup_ops_s"]]},
        "setup_cpu_parts_s": sc,
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, detail


def per_layer(res: dict, plan: dict) -> dict:
    """Per-layer metrics from one traced loop result."""
    trig, lay, reads = res["triggers"], res["layers"], res["reads"]
    spans = res["spans_measured"]

    def jobs(name: str, key: str = "jobs") -> int:
        return sum(s[key] for s in spans if s["name"] == name)

    events = sum(t["events"] for t in trig)
    n_lookups = len(reads["lookup"])
    values = {
        "session.get_spark_s": (res["get_spark_s"], "s"),
        "table.create_s": (med(res["create_s"]), "s"),
        "table.find_batch_s": (med(lay["probe_s"]["find_batch"]), "s"),
        "table.snapshot_s": (med(lay["probe_s"]["snapshot"]), "s"),
        "table.delta_file_counts_s": (med(lay["probe_s"]["delta_file_counts"]), "s"),
        "table.meta_bytes_per_commit": (lay["meta_bytes"] / max(1, lay["commits"]), "bytes"),
        "table.lookup_plan_s": (med([r["plan_s"] for r in reads["lookup"]]), "s"),
        "table.lookup_exec_s": (med([r["exec_s"] for r in reads["lookup"]]), "s"),
        "table.read_changes_plan_s": (med([r["plan_s"] for r in reads["changes"]]), "s"),
        "table.read_changes_exec_s": (med([r["exec_s"] for r in reads["changes"]]), "s"),
        "table.read_plan_s": (med([r["plan_s"] for r in reads["scan"]]), "s"),
        "table.read_exec_s": (med([r["exec_s"] for r in reads["scan"]]), "s"),
        "table.delta_files_max": (statistics.mean(lay["delta_max"]), "count"),
        "table.data_bytes_per_event": (lay["data_bytes"] / events, "bytes"),
        "table.compactions": (sum(t["compacting"] for t in trig), "count"),
        "cdc.apply_batch_s": (med([t["apply_s"] for t in trig]), "s"),
        "cdc.lww_winners_s": (lay["lww_winners_s"], "s"),
        "cdc.winners_per_event": (sum(t["rows_applied"] for t in trig) / events, "ratio"),
        "cdc.rows_applied_per_event": (
            sum(plan["applies"][str(t["b"])] for t in trig) / events, "ratio"),
        "cdc.noop_redelivery_s": (med([r["wall"] for r in reads["reapply"]]), "s"),
        "tokens.validate_rows_per_s": (lay["validate_rows_per_s"], "1/s"),
        "lineage.write_lineage_s": (med([t["lineage_s"] for t in trig]), "s"),
        "spark.jobs_per_trigger": (jobs("cdc.apply_batch") / len(trig), "count"),
        "spark.tasks_per_trigger": (jobs("cdc.apply_batch", "tasks") / len(trig), "count"),
        "spark.jobs_per_lookup": (
            (jobs("table.lookup") + jobs("table.lookup.collect")) / n_lookups, "count"),
        "spark.failed_tasks": (sum(s["failed_tasks"] for s in spans), "count"),
        "jvm.gc_s": (lay["gc_s"], "s"),
        "jvm.cpu_s_per_event": (sum(t["jvm_cpu_s"] for t in trig) / events, "s"),
        "trace.overhead_share": (res["trace_overhead_s"] / res["loop_s"], "ratio"),
    }
    replay = res["replay_local1"]
    local2 = sum(t["wall"] for t in trig if str(t["b"]) in replay)
    local1 = sum(r["wall"] for r in replay.values())
    values["scaling.local1_to_local2_efficiency"] = (local1 / (2 * local2), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def replay_drift(res: dict) -> list[str]:
    """Triggers whose local[1] replay applied a different row count or
    compacted differently than the same trigger in the measured run."""
    by_b = {str(t["b"]): t for t in res["triggers"]}
    return sorted(
        f"replay {b}.{k}"
        for b, r in res["replay_local1"].items()
        for k in ("rows_applied", "compacting")
        if r[k] != by_b[b][k]
    )


# counts that must repeat exactly between runs of the same inputs
DETERMINISTIC = (
    "spark.jobs_per_trigger",
    "table.compactions",
    "table.data_bytes_per_event",
    "table.delta_files_max",
    "cdc.winners_per_event",
)


def determinism(work: str, key: str, metrics: dict) -> list[str]:
    """Compare this run's deterministic counts with the first traced run of
    the same inputs and the same program in this checkout; return the names
    that differ.  The first such run only records its counts; within a run,
    ``replay_drift`` checks the local[1] replay against the measured run."""
    d = os.path.join(work, "determinism")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, key + ".json")
    now = {k: metrics[k]["value"] for k in DETERMINISTIC}
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(now, f)
        return []
    with open(path) as f:
        first = json.load(f)
    return sorted(k for k in DETERMINISTIC if first.get(k) != now[k])


def main() -> int:
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit so run_child's cleanup stops the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "cfe_39_spark", "operators", "cdc.py")):
        print(f"engine package cfe_39_spark not found under {ROOT}", file=sys.stderr)
        return 2
    host_before = host_state()
    work = os.path.join(ROOT, ".perfbench_work")
    spec = wl.spec(a.workload, a.seconds)
    key = wl.cache_key(spec, a.seed)
    # baselines are keyed by inputs and program: an engine change starts afresh
    run_key = f"{key}-p{program_id()}"
    inputs = ensure_inputs(work, spec, a.seed, deadline)
    with open(os.path.join(inputs, "plan.json")) as f:
        plan = json.load(f)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = child_env(run_dir)
    log = os.path.join(work, f"{a.workload}.log")
    if os.path.exists(log):
        os.remove(log)
    try:
        out = os.path.join(run_dir, "result.json")
        rc = run_child(
            [sys.executable, os.path.join(HERE, "loop.py"), "--inputs", inputs, "--work",
             os.path.join(run_dir, "w"), "--out", out, "--trace", str(a.trace)],
            log, env, deadline,
        )
        if rc != 0 or not os.path.exists(out):
            print(f"workload run failed (rc={rc}); see {log}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "w", "spans.json"),
                        os.path.join(work, "traces", f"{key}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    try:
        e2e, detail = end_to_end(res)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    untraced = os.path.join(work, "untraced", run_key + ".json")
    if a.trace:
        metrics = per_layer(res, plan)
        drift = determinism(work, run_key, metrics) + replay_drift(res)
        metrics["determinism.mismatches"] = {"value": len(drift), "unit": "count"}
        res["attempted"] += 1
        if drift:
            res["failed"] += 1
            res["failures"].append(f"determinism: {drift} differ between runs of the same inputs")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["loop_s"]
            detail["trace_loop_gap_share"] = res["loop_s"] / base - 1
    else:
        metrics = e2e
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump({"loop_s": res["loop_s"]}, f)
    detail.update(
        workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, master=wl.MASTER,
        inputs=key, host_before=host_before, host_after=host_state(),
        wall_s=time.monotonic() - t_start, failures=res["failures"][:5],
    )
    if a.trace:
        detail["end_to_end_traced"] = {k: v["value"] for k, v in e2e.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
