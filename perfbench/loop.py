"""One workload run in one fresh JVM; run.py starts it as a child process.

    python3 perfbench/loop.py --inputs DIR --work DIR --out FILE --trace 0|1

Bootstraps the table, runs the warm-up ops (counted in setup_s), then the
plan's measured ops in order, verifying every result against the oracle rows
gen.py wrote.  A traced run then times standalone probes and replays the
first measured triggers at local[1] (the scaling diagnostic).

Engine calls are timed from outside, on the public surfaces of
``session``, ``sources.table.SequenceTable``, ``operators.cdc``,
``functions.tokens`` and ``streaming.lineage``: each measured op records its
wall time and the CPU time its work took (spans.WorkClock).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import workloads as wl  # noqa: E402
from gen import token_checksum  # noqa: E402
from spans import JVM_CLOCK_OPTS, Tracer, WorkClock  # noqa: E402


class Run:
    def __init__(self, args):
        self.inputs = args.inputs
        with open(os.path.join(args.inputs, "plan.json")) as f:
            self.plan = json.load(f)
        self.work = args.work
        self.tr = Tracer(bool(args.trace))
        self.clock = WorkClock()
        self.failures: list[str] = []
        self.attempted = 0
        self.sids: dict[int, int] = {}  # batch -> its apply commit
        self.cursor: dict[int, int] = {}  # batch -> snapshot before it
        self.last_b = 0
        self.triggers: list[dict] = []
        self.reads: dict[str, list[dict]] = {"lookup": [], "changes": [], "scan": [], "reapply": []}
        self.delta_max: list[int] = []
        self.probe_s: dict[str, list[float]] = {"find_batch": [], "snapshot": [], "delta_file_counts": []}
        exp = pq.read_table(os.path.join(args.inputs, "expected.parquet")).to_pylist()
        self.expected: dict[str, dict[str, tuple]] = {}
        for r in exp:
            self.expected.setdefault(r["check_id"], {})[r["doc_id"]] = (
                (True, None, None, None) if r["deleted"]
                else (False, r["n_tok"], r["chk"], r["source"])
            )

    # ------------------------------------------------------------ #
    def batch(self, b: int):
        return self.spark.read.parquet(os.path.join(self.inputs, f"b{b:04d}.parquet"))

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def check_rows(self, check: str, rows: dict[str, tuple]) -> None:
        want = self.expected.get(check, {})
        if rows != want:
            bad = sorted(set(rows.items()) ^ set(want.items()))[:3]
            self.fail(f"{check}: {len(rows)} rows vs oracle {len(want)}; e.g. {bad}")

    def run_op(self, i: int, op: dict) -> None:
        self.attempted += 1
        try:
            getattr(self, "op_" + op["op"])(i, op)
        except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
            self.fail(f"op {i} {op['op']} raised:\n{traceback.format_exc(limit=4)}")

    def observe_read_amp(self) -> None:
        if self.tr.enabled:
            counts = self.table.delta_file_counts()
            self.delta_max.append(max(counts.values(), default=0))

    # ------------------------------------------------------------ #
    def op_trigger(self, i: int, op: dict) -> None:
        from cfe_39_spark.operators.cdc import apply_batch
        from cfe_39_spark.streaming.lineage import write_lineage

        b, t = op["b"], self.table
        if self.tr.enabled:
            for name, call in (
                ("find_batch", lambda: t.find_batch(str(b))),
                ("snapshot", t.snapshot),
                ("delta_file_counts", t.delta_file_counts),
            ):
                with self.tr.span(f"table.{name}"):
                    t0 = time.perf_counter()
                    call()
                    self.probe_s[name].append(time.perf_counter() - t0)
        self.cursor[b] = t.latest_snapshot_id()
        c0 = self.clock()
        t0 = time.perf_counter()
        with self.tr.span("cdc.apply_batch", b=b) as sp:
            res = apply_batch(
                self.spark, t, self.batch(b), batch_id=b,
                known_partitions=list(range(wl.N_PARTITIONS)),
                compact_threshold=self.plan["spec"]["compact_threshold"],
            )
        t1 = time.perf_counter()
        with self.tr.span("lineage.write_lineage", b=b):
            write_lineage(t.root, res)
        t2 = time.perf_counter()
        cpu = self.clock() - c0
        sp["events_in"] = res.events_in
        self.sids[b], self.last_b = res.snapshot_id, b
        self.triggers.append({
            "b": b, "wall": t2 - t0, "cpu": cpu, "apply_s": t1 - t0, "lineage_s": t2 - t1,
            "events": res.events_in, "rows_applied": res.rows_applied,
            "sid": res.snapshot_id, "jvm_cpu_s": sp.get("jvm_cpu_s"),
        })
        want = self.plan["batch_events"][str(b)]
        if res.noop or res.events_in != want:
            self.fail(f"trigger {b}: noop={res.noop} events_in={res.events_in} want {want}")

    def op_lookup(self, i: int, op: dict) -> None:
        self.observe_read_amp()
        c0 = self.clock()
        t0 = time.perf_counter()
        with self.tr.span("table.lookup"):
            df = self.table.lookup(self.spark, op["keys"])
        t1 = time.perf_counter()
        with self.tr.span("table.lookup.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        cpu = self.clock() - c0
        self.reads["lookup"].append({
            "wall": t2 - t0, "cpu": cpu, "plan_s": t1 - t0, "exec_s": t2 - t1,
        })
        self.check_rows(f"lookup-{i}", {
            r["doc_id"]: (False, r["n_tok"], token_checksum(r["tokens"]), r["source"]) for r in rows
        })

    def op_changes(self, i: int, op: dict) -> None:
        self.observe_read_amp()
        b = op["b"]
        to = None if b == self.last_b else self.sids[b]
        c0 = self.clock()
        t0 = time.perf_counter()
        with self.tr.span("table.read_changes"):
            df = self.table.read_changes(self.spark, self.cursor[b], to)
        t1 = time.perf_counter()
        with self.tr.span("table.read_changes.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        cpu = self.clock() - c0
        self.reads["changes"].append({
            "wall": t2 - t0, "cpu": cpu, "plan_s": t1 - t0, "exec_s": t2 - t1, "rows": len(rows),
        })
        got = {}
        for r in rows:
            dead = r["_change_type"] == "delete"
            got[r["doc_id"]] = (
                dead, r["n_tok"], None if dead else token_checksum(r["tokens"]), r["source"]
            )
        if len(got) != len(rows):
            self.fail(f"changes-{i}: duplicate keys in the feed")
        self.check_rows(f"changes-{i}", got)

    def op_scan(self, i: int, op: dict) -> None:
        from pyspark.sql import functions as F

        self.observe_read_amp()
        c0 = self.clock()
        t0 = time.perf_counter()
        with self.tr.span("table.read"):
            df = self.table.read(self.spark).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_tok").alias("n_tok"),
                F.sum(checksum_expr()).alias("chk"),
            )
        t1 = time.perf_counter()
        with self.tr.span("table.read.collect"):
            row = df.collect()[0]
        t2 = time.perf_counter()
        cpu = self.clock() - c0
        self.reads["scan"].append({
            "wall": t2 - t0, "cpu": cpu, "plan_s": t1 - t0, "exec_s": t2 - t1, "rows": row["rows"],
        })
        got = {"rows": row["rows"], "n_tok": row["n_tok"], "chk": row["chk"]}
        if got != op["expect"]:
            self.fail(f"scan {i}: {got} vs oracle {op['expect']}")

    def op_reapply(self, i: int, op: dict) -> None:
        from cfe_39_spark.operators.cdc import apply_batch

        b = op["b"]
        c0 = self.clock()
        t0 = time.perf_counter()
        with self.tr.span("cdc.apply_batch.redelivery"):
            res = apply_batch(
                self.spark, self.table, self.batch(b), batch_id=b,
                known_partitions=list(range(wl.N_PARTITIONS)),
                compact_threshold=self.plan["spec"]["compact_threshold"],
            )
        wall = time.perf_counter() - t0
        self.reads["reapply"].append({"wall": wall, "cpu": self.clock() - c0})
        if not res.noop or res.snapshot_id != self.sids[b]:
            self.fail(f"reapply {b}: noop={res.noop} sid={res.snapshot_id} want {self.sids[b]}")

    # ------------------------------------------------------------ #
    def start(self, master: str) -> None:
        from cfe_39_spark.session import get_spark

        c0 = self.clock()
        t0 = time.perf_counter()
        self.spark = get_spark(master=master, app_name="perfbench", shuffle_partitions=4)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        self.get_spark_cpu_s = self.clock() - c0
        self.tr.attach(self.spark)

    def bootstrap(self, n: int) -> None:
        """Create the table ``n`` times from the initial state; the last
        one is the table the run uses."""
        from cfe_39_spark.sources.table import SequenceTable

        self.create_s, self.create_cpu_s = [], []
        for k in range(n):
            root = os.path.join(self.work, f"table{k}")
            c0 = self.clock()
            t0 = time.perf_counter()
            with self.tr.span("table.create"):
                self.table = SequenceTable.create(
                    self.spark, root,
                    self.spark.read.parquet(os.path.join(self.inputs, "initial.parquet")),
                    n_buckets=wl.N_BUCKETS,
                )
            self.create_s.append(time.perf_counter() - t0)
            self.create_cpu_s.append(self.clock() - c0)
        for k in range(n - 1):
            shutil.rmtree(os.path.join(self.work, f"table{k}"))

    def compacting(self) -> set[int]:
        """Apply commits that ran inline compaction, read after the fact:
        the parents of compaction snapshots in the committed chain."""
        return {
            s["parent_id"]
            for s in self.table.committed_chain()
            if str(s["batch_id"]).startswith("__compact__")
        }

    def final_check(self) -> None:
        self.attempted += 1
        rows = (
            self.table.read(self.spark)
            .select("doc_id", "n_tok", "source", checksum_expr().alias("chk"))
            .collect()
        )
        self.check_rows("final", {r["doc_id"]: (False, r["n_tok"], r["chk"], r["source"]) for r in rows})

    # ------------------------------------------------------------ #
    def run(self) -> dict:
        self.start(wl.MASTER)
        ops = self.plan["setup_ops"] + self.plan["ops"]
        n_setup = len(self.plan["setup_ops"])
        self.bootstrap(wl.N_CREATES)
        warmup_ops_s = []
        c0 = self.clock()
        for i, op in enumerate(ops[:n_setup]):
            t0 = time.perf_counter()
            self.run_op(i, op)
            warmup_ops_s.append(time.perf_counter() - t0)
        warmup_cpu_s = self.clock() - c0
        # the warm-up's samples stay out of the measured metrics
        self.triggers.clear()
        for v in self.reads.values():
            v.clear()
        for v in self.probe_s.values():
            v.clear()
        self.delta_max.clear()
        n_spans = len(self.tr.spans)
        if self.tr.enabled:
            replay_root = os.path.join(self.work, "replay")
            shutil.copytree(self.table.root, replay_root)
        meta0 = dir_bytes(self.table.meta_dir)
        sid0 = self.table.latest_snapshot_id()
        gc0 = self.tr.gc_s() if self.tr.enabled else 0.0
        t0 = time.perf_counter()
        for i, op in enumerate(ops[n_setup:], start=n_setup):
            self.run_op(i, op)
        loop_s = time.perf_counter() - t0
        gc_s = self.tr.gc_s() - gc0 if self.tr.enabled else None
        commits = self.table.latest_snapshot_id() - sid0
        meta_bytes = dir_bytes(self.table.meta_dir) - meta0
        try:
            self.final_check()
        except Exception:  # noqa: BLE001
            self.fail(f"final check raised:\n{traceback.format_exc(limit=4)}")
        comp = self.compacting()
        for t in self.triggers:
            t["compacting"] = t["sid"] in comp
        out = {
            "get_spark_s": self.get_spark_s,
            "create_s": self.create_s,
            "warmup_ops_s": warmup_ops_s,
            "setup_cpu_s": {"get_spark": self.get_spark_cpu_s, "create": self.create_cpu_s,
                            "warmup": warmup_cpu_s},
            "loop_s": loop_s,
            "triggers": list(self.triggers),
            "reads": self.reads,
        }
        if self.tr.enabled:
            out["layers"] = self.layer_extras(gc_s, commits, meta_bytes)
            out["spans_measured"] = self.tr.spans[n_spans:]
            out["trace_overhead_s"] = self.tr.overhead_s
            self.tr.dump(os.path.join(self.work, "spans.json"))
            out["replay_local1"] = self.replay(replay_root)
        out.update(attempted=self.attempted, failed=len(self.failures),
                   failures=self.failures[:20])
        return out

    def layer_extras(self, gc_s: float, commits: int, meta_bytes: int) -> dict:
        """Standalone per-layer probes, run after the measured loop."""
        from cfe_39_spark.functions.tokens import validate_tokens_arrow
        from cfe_39_spark.operators.cdc import lww_winners

        ref_b = self.triggers[-1]["b"]
        ev = self.batch(ref_b)
        n_ev = self.plan["batch_events"][str(ref_b)]
        timings = {}
        for name, make in (
            ("lww_winners", lambda: lww_winners(ev)),
            ("validate_tokens", lambda: validate_tokens_arrow(ev)),
        ):
            runs = []
            for _ in range(2):  # the first call warms the code path up
                t0 = time.perf_counter()
                with self.tr.span(f"probe.{name}"):
                    make().write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = runs[-1]
        data_bytes = 0
        for t in self.triggers:
            for e in self.table.snapshot(t["sid"])["change_files"]:
                data_bytes += os.path.getsize(os.path.join(self.table.root, e["path"]))
        return {
            "gc_s": gc_s,
            "commits": commits,
            "meta_bytes": meta_bytes,
            "data_bytes": data_bytes,
            "delta_max": self.delta_max,
            "probe_s": self.probe_s,
            "lww_winners_s": timings["lww_winners"],
            "validate_rows_per_s": n_ev / timings["validate_tokens"],
        }

    def replay(self, root: str) -> dict:
        """Re-apply the first compaction cycle of measured triggers at
        local[1] to a copy of the post-warm-up table, in the same (warm)
        JVM.  Returns {batch: {wall, rows_applied, compacting}}; the last
        two must equal those of the local[2] run."""
        from cfe_39_spark.sources.table import SequenceTable

        self.spark.stop()
        self.tr = Tracer(False)
        self.start("local[1]")
        self.table = SequenceTable(root)
        done = len(self.triggers)
        first = self.plan["spec"]["n_warmup"] + 1
        for b in range(first, first + self.plan["spec"]["compact_threshold"]):
            self.run_op(b, {"op": "trigger", "b": b})
        comp = self.compacting()
        return {
            t["b"]: {"wall": t["wall"], "rows_applied": t["rows_applied"],
                     "compacting": t["sid"] in comp}
            for t in self.triggers[done:]
        }


def checksum_expr():
    """The oracle's token checksum, computed JVM-side over stored arrays:
    sum_i (token_i + 1) * ((i * 40503 + 1) % 65521 + 1)."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.transform(
            "tokens",
            lambda t, i: (t.cast("long") + 1) * ((i.cast("long") * 40503 + 1) % 65521 + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    os.makedirs(a.work, exist_ok=True)
    from cfe_39_spark import session

    # the engine's own JVM sizing for this master, plus temp files kept
    # inside the work directory
    tmp = os.path.join(a.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"{session._java_opts(wl.MASTER)} -Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_CLOCK_OPTS}"
    )
    run = Run(a)
    try:
        out = run.run()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    with open(a.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
