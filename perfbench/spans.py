"""Benchmark-side tracing: spans around calls into the engine, plus Spark
job/task counts, JVM GC time and JVM CPU time read at the same boundaries.

All of it is measured from outside the engine:
  * job and task counts: one Spark job group per span, read back with
    ``statusTracker()``;
  * GC time: ``ManagementFactory.getGarbageCollectorMXBeans()`` over py4j;
  * JVM CPU: utime + stime of the JVM process from ``/proc/<pid>/stat``.

Spans are kept in memory and written out as JSON once, at the end of a run.
With tracing disabled every call is a no-op, so the untraced run pays
nothing but the ``with`` statement.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# JVM threads that serve the VM rather than the workload: JIT compilers,
# garbage collection and housekeeping (/proc names, cut to 15 characters)
JVM_SERVICE_THREADS = (
    "C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "G1 ", "VM Thread",
    "VM Periodic Tas", "Sweeper thread", "Service Thread", "Monitor Deflati",
    "Common-Cleaner", "Finalizer", "Reference Handl", "Signal Dispatch", "Notification Th",
)
# keeps the JIT compiler threads alive for the whole run (see WorkClock)
JVM_CLOCK_OPTS = "-XX:-UseDynamicNumberOfCompilerThreads"


class WorkClock:
    """CPU seconds spent on the workload by every process of this session:
    the Python driver, the JVM and the JVM's Python workers.

    The JVM's service threads are left out.  JIT compilation and garbage
    collection run beside the work at a pace set by how much CPU the host
    spares, so with them a cost figure would follow the host's load.

    Process totals come from /proc/<pid>/stat: they keep the time of threads
    that have ended and of reaped children (10 ms resolution).  Service
    threads are read from /proc/<pid>/task/<tid>/schedstat (ns).  A service
    thread must not end during the run, or its time would move into the
    total: the JVM runs with ``JVM_CLOCK_OPTS``."""

    def __init__(self):
        self.sid = os.getsid(0)
        self._service: dict[str, bool] = {}  # "pid/tid" -> service thread?

    def __call__(self) -> float:
        ticks, service_ns = 0, 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                fields = rest.split()
                if int(fields[3]) != self.sid:
                    continue
                ticks += sum(int(x) for x in fields[11:15])
                if head.endswith("(java"):
                    service_ns += self._service_ns(pid)
            except OSError:  # the process ended while being read
                continue
        return ticks / _CLK_TCK - service_ns / 1e9

    def _service_ns(self, pid: str) -> int:
        ns = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            key = f"{pid}/{tid}"
            try:
                if key not in self._service:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._service[key] = f.read().startswith(JVM_SERVICE_THREADS)
                if self._service[key]:
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                        ns += int(f.read().split()[0])
            except OSError:
                continue
        return ns


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = None
        self._jvm = None
        self._jvm_pid: int | None = None
        self._n = 0
        # seconds spent inside the tracer's own bookkeeping
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        """Bind to a live session (after ``get_spark``)."""
        if not self.enabled:
            return
        t = time.perf_counter()
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self.overhead_s += time.perf_counter() - t

    # ---------------------------------------------------------------- #
    def gc_s(self) -> float:
        """Cumulative JVM GC time, seconds."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jvm_cpu_s(self) -> float:
        """Cumulative JVM process CPU (user + system), seconds."""
        with open(f"/proc/{self._jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self._sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return jobs, tasks, failed

    # ---------------------------------------------------------------- #
    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around one engine call (spans do not nest);
        yields a dict the caller may add attributes to."""
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        self._n += 1
        sid = self._n
        group = f"pb-{sid}"
        self._sc.setJobGroup(group, name)
        rec = {"id": sid, "name": name, **attrs}
        cpu0 = self.jvm_cpu_s()
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            rec["jvm_cpu_s"] = self.jvm_cpu_s() - cpu0
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = self._jobs(group)
            # jobs run between spans land outside every span's group
            self._sc.setJobGroup("pb-none", "untraced")
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f)
