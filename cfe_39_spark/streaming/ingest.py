"""Structured Streaming driver (SURVEY.md §2.1 S1/S7, §2.4 T7/T8, §3.1).

The stream side is a file-source tail over the change-event log directory —
the sandbox stand-in for a Kafka topic with identical micro-batch semantics
(swap ``format("parquet")`` for ``format("kafka")`` + a payload parser in
production; nothing downstream changes).  The sink is ``foreachBatch`` into
the same ``apply_batch`` pipeline the batch replayer uses — one pipeline,
two drivers (SURVEY.md §3.3).

Exactly-once: Spark's checkpoint fixes each batchId's input slice; after a
crash the last batch replays with the SAME batchId and the table's commit
log dedupes it (idempotent commit, SURVEY.md §4.3 layer 1).  Row-level
redelivery across different batchIds is defused by the (event_time, offset)
monotonicity rule (layer 2).
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import SparkSession

from ..operators.cdc import apply_batch
from ..sources.table import SequenceTable
from .lineage import EngineMetricsListener, metrics_dir, write_lineage


def infer_log_schema(spark: SparkSession, log_dir: str):
    """Schema of the NEWEST log segment.  Evolution is append-only and
    monotone (add column / widen), so the newest file carries the widest
    schema; Spark 4's parquet readers widen-read older int32/float files
    (SPARK-40876) and null-fill columns absent from old files.  In
    production this comes from the schema registry instead of a listing."""
    files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    if not files:
        raise ValueError(f"no log segments in {log_dir}")
    return spark.read.parquet(files[-1]).schema


def run_stream(
    spark: SparkSession,
    log_dir: str,
    table: SequenceTable,
    checkpoint: str,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    stop_after_batches: int | None = None,
    known_partitions: list[int] | None = None,
    processing_time: str | None = None,
    max_batches: int | None = None,
    quarantine_dir: str | None = None,
):
    """Tail the log into the table.  ``available_now=True`` = bounded
    replay (process everything, then stop — T7); otherwise a continuous
    micro-batch stream, paced by ``processing_time`` (e.g. ``"1 second"``
    — the production cadence knob; None = re-trigger as fast as data
    arrives).  ``max_batches`` bounds a CONTINUOUS run: the query is
    cleanly stopped (checkpoint intact, no simulated failure) once that
    many non-empty batches have applied — the soak-test harness for
    long-running mode.  ``stop_after_batches`` simulates a crash for the
    kill-and-resume tests.  ``known_partitions``: source partition ids
    when known (a Kafka source's topic partition count) — spares each
    ``apply_batch`` the jobs that list the batch's source partitions.
    ``quarantine_dir``: opt-in DLQ — malformed events are diverted to
    per-batch parquet there instead of entering the merge (see
    ``quarantine_bad_events``)."""
    schema = infer_log_schema(spark, log_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(log_dir)
    )
    seen = {"n": 0, "last": -1}

    def _apply(df, batch_id: int) -> None:
        res = apply_batch(spark, table, df, batch_id,
                          known_partitions=known_partitions,
                          quarantine_dir=quarantine_dir)
        write_lineage(table.root, res)
        seen["n"] += 1
        seen["last"] = batch_id
        if stop_after_batches is not None and seen["n"] >= stop_after_batches:
            raise RuntimeError("simulated crash (stop_after_batches)")

    writer = (
        src.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName("cfe39-cdc-ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    # S5 control-plane metrics: per-trigger progress records beside the
    # table, written from the listener's event thread (off the hot path)
    listener = EngineMetricsListener(table.root)
    spark.streams.addListener(listener)
    q = writer.start()
    try:
        if available_now or max_batches is None:
            q.awaitTermination()
        else:
            # bounded continuous run: poll until enough batches applied,
            # then stop cleanly (graceful — unlike the simulated crash)
            while q.isActive and seen["n"] < max_batches:
                q.awaitTermination(0.2)
            # foreachBatch returns before the trigger commits and reports
            # its progress: stopping in that window loses the last
            # trigger's progress event, so wait (bounded) for it first
            deadline = time.monotonic() + 10.0
            while (
                q.isActive
                and time.monotonic() < deadline
                and getattr(q.lastProgress, "batchId", -1) < seen["last"]
            ):
                q.awaitTermination(0.1)
            if q.isActive:
                q.stop()
            q.awaitTermination()
    except Exception:
        if stop_after_batches is None:
            raise
        # simulated crash: swallow, caller restarts from checkpoint
    finally:
        if q.isActive:
            q.stop()
        _drain_metrics(table.root, seen["n"], crashed=stop_after_batches is not None)
        spark.streams.removeListener(listener)
    return seen["n"]


def _drain_metrics(table_root: str, n_batches: int, crashed: bool) -> None:
    """Progress events are delivered asynchronously; give the listener a
    bounded window to flush before detaching so a bounded run leaves a
    complete metrics trail.  Best-effort on simulated crashes."""
    if n_batches == 0:
        return
    d = metrics_dir(table_root)
    deadline = time.monotonic() + (2.0 if crashed else 10.0)
    while time.monotonic() < deadline:
        done = os.path.isdir(d) and sum(
            1 for f in os.listdir(d) if f.startswith("progress-")
        ) >= n_batches
        if done:
            return
        time.sleep(0.1)


def replay(
    spark: SparkSession,
    log_dir: str,
    table: SequenceTable,
    segments_per_batch: int = 1,
    quarantine_dir: str | None = None,
) -> list:
    """Deterministic batch replay (S2): iterate log segments in order
    through the same apply pipeline.  Used by verification and the bench
    (where streaming machinery overhead would pollute the throughput
    number)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*.parquet")))
    results = []
    for i in range(0, len(files), segments_per_batch):
        chunk = files[i : i + segments_per_batch]
        # read the chunk with its newest segment's (widest) schema so a
        # mid-chunk evolution step doesn't make footer-picking arbitrary
        df = spark.read.schema(spark.read.parquet(chunk[-1]).schema).parquet(*chunk)
        res = apply_batch(
            spark, table, df, batch_id=f"replay-{i // segments_per_batch}",
            quarantine_dir=quarantine_dir,
        )
        write_lineage(table.root, res)
        results.append(res)
    return results
