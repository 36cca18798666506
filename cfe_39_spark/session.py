"""SparkSession factory with the engine's required configuration.

Design notes (SURVEY.md §4.1): everything tunable at the session level is set
here once — Arrow-vectorized Python transfer (mandatory per BASELINE.json:15,
"no per-row Python"), AQE with skew-join backstop, and a shuffle-partition
count sized for the local[32] sandbox.  On a real cluster these are
spark-submit --conf values; nothing in the engine depends on local mode.
"""

from __future__ import annotations

import functools
import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
# local mode runs every task inside the driver JVM; the 1g default heap
# GC-thrashes (and at batch sizes ~GB, OOMs) long before 32 cores are
# busy, because every concurrent task buffers its shuffle + parquet
# writer blocks in the same heap.  On a real cluster this is spark-submit
# --executor-memory instead.  The default is a quarter of the memory the
# host has free (MemAvailable), between 1 GiB and 24 GiB: a fixed large
# default cannot even be mapped on a small host with no swap.
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 24 * 1024


@functools.lru_cache(maxsize=1)
def _mem_available_kib() -> int | None:
    """``MemAvailable`` in KiB, or None where /proc/meminfo has no such line.
    Read once per process, so the heap size and the pre-touch decision of
    one session always agree."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def default_driver_mem(mem_available_kib: int | None) -> str:
    """Driver heap for a host with ``mem_available_kib`` free: a quarter of
    it, clamped to [1 GiB, 24 GiB]; the cap when the amount is unknown."""
    if mem_available_kib is None:
        return f"{DRIVER_MEM_MAX_MB}m"
    mb = mem_available_kib // 1024 // 4
    return f"{max(DRIVER_MEM_MIN_MB, min(DRIVER_MEM_MAX_MB, mb))}m"


def _heap_mb(mem: str) -> int:
    """A ``spark.driver.memory`` size (``512m``, ``4g``; no unit = MiB) in MiB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m:
        raise ValueError(f"bad JVM memory size {mem!r}")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024, "": 1}
    return int(int(m.group(1)) * scale[m.group(2)])


def pretouch_fits(mem: str, mem_available_kib: int | None) -> bool:
    """Whether a heap of ``mem`` may be committed and pre-touched at JVM
    start: only when it takes at most half the free memory, so the
    pre-touch never pushes a swapless host into the OOM killer."""
    if mem_available_kib is None:
        return False
    return _heap_mb(mem) <= mem_available_kib // 1024 // 2


def driver_mem() -> str:
    """The driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else sized to this host."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(
        _mem_available_kib()
    )


# Parquet writer block size: the default 128 MB row-group buffer x 32
# concurrent write tasks is 4 GB of heap just for writers; our bucketed
# data files are ~16 MB anyway.  16 MB row groups also keep table scans
# splittable at high core counts.
PARQUET_BLOCK = os.environ.get("SPARK_GRAFT_PARQUET_BLOCK", "16777216")


def engine_conf(builder: SparkSession.Builder, shuffle_partitions: int | None = None):
    """Apply the engine's standard configuration to a builder."""
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    return (
        builder.config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.driver.memory", driver_mem())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.hadoop.parquet.block.size", PARQUET_BLOCK)
        # Arrow-batched Python <-> JVM transfer: required so pandas UDFs /
        # mapInArrow move token arrays columnar, never per-row pickled rows.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime shuffle coalescing + skew-join splitting as a backstop
        # behind the engine's explicit salting (SURVEY.md §4.2 O1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # token-array rows are ~KB-scale: 32 MB input splits keep a scan
        # wide enough to use every core even on few large segment files
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Deterministic timestamps between Spark, pyarrow and the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # The target table stores tokens as array<int32>; never let parquet
        # writes rebase or widen timestamps/ints silently.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Fixtures write tz-naive parquet timestamps; Spark 4 would infer
        # TIMESTAMP_NTZ, which withWatermark rejects.  With the session tz
        # pinned to UTC above, reading them as LTZ is lossless and keeps
        # event-time streaming operators (watermark, dedup-with-state) legal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
    )


def get_spark(
    master: str | None = None,
    app_name: str = "cfe39-spark-engine",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster the session arrives from spark-submit and ``master`` is None.
    """
    # Python workers (pandas UDF executors, DataSource runners) are spawned
    # by the JVM with the driver's environment: make sure they can import
    # this package by reference, whatever directory the driver ran from.
    # On a real cluster this is spark-submit --py-files instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master).config(
        "spark.driver.extraJavaOptions", _java_opts(master)
    )
    exec_opts = _executor_java_opts(master)
    if exec_opts:
        builder = builder.config("spark.executor.extraJavaOptions", exec_opts)
        mc = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
        if mc:
            # the third local-cluster field is WORKER memory; executors
            # default to 1g unless told to use the worker's full grant
            # (required: the -Xms pre-touch below must not exceed -Xmx)
            builder = builder.config("spark.executor.memory", f"{mc.group(3)}m")
    return engine_conf(builder, shuffle_partitions).getOrCreate()


def _java_opts(master: str) -> str:
    """JVM options sized to the master's task-thread count.

    A local[N] JVM sees every host CPU and sizes its GC worker pool for
    all of them (~23 threads on this 32-thread box) even when only N task
    threads exist — measured 4-5x slowdowns from GC workers trampling the
    memory bus.  A real cluster never hits this: each executor JVM is
    launched with its own core count and sizes GC accordingly.  Pinning
    ParallelGCThreads to N reproduces correct executor behavior in the
    local-mode proxy.  Override with SPARK_GRAFT_JAVA_OPTS.
    """
    env = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if env is not None:
        return env
    m = re.fullmatch(r"local\[(\d+|\*)\]", master or "")
    if not m:
        return ""
    n = os.cpu_count() if m.group(1) == "*" else int(m.group(1))
    gc = max(2, min(n, 16))
    opts = f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(1, gc // 4)}"
    # -Xms=-Xmx + AlwaysPreTouch: this hypervisor backs guest pages
    # lazily at ~40µs/fault single-threaded (≈0.1 GB/s) but pre-touches in
    # parallel at ~9 GB/s, so faulting the whole heap once at startup
    # removes multi-second mid-run stalls whenever the heap would grow.
    # Only for a heap that fits: committing more than the host has free
    # kills the JVM at start.
    mem = driver_mem()
    if pretouch_fits(mem, _mem_available_kib()):
        opts += f" -Xms{mem} -XX:+AlwaysPreTouch"
    return opts


def _executor_java_opts(master: str) -> str:
    """Same GC-to-cores correction for local-cluster executor JVMs (each
    one also sees every host CPU).  On a real cluster the resource manager
    launches executors with the right cpuset and this is unnecessary."""
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master or "")
    if not m:
        return ""
    cores, mem_mb = int(m.group(2)), int(m.group(3))
    gc = max(2, min(cores, 16))
    return (
        f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(1, gc // 4)} "
        f"-Xms{mem_mb}m -XX:+AlwaysPreTouch"
    )
