"""Continuous table-to-table CDC mirror (S10 extended: changelog consumer
as a long-running pipeline, not a one-shot batch read).

``read_changes`` makes a table a change-event *producer*; this module adds
the consumer loop that keeps a downstream table continuously in sync:

    src table --read_changes--> changes_as_events --apply_batch--> dst table

The change feed is metadata-driven (per-snapshot ``change_files`` lists,
not a watchable directory).  ``sources/datasource.py`` exposes it as a
Python Structured Streaming source; this loop is the plain-driver
alternative with a durable cursor and no streaming query — the same shape
Spark's availableNow file source runs under the hood: discover new input,
process it as one deterministic batch, persist progress.

Exactly-once is the engine's layered rule (SURVEY.md §4.3), applied once
more:

* the batch_id is derived from the SOURCE span (``mirror-<from>-<to>``),
  so a crash between the dst commit and the cursor write re-runs the same
  span with the same batch_id, and the dst table's batches log makes the
  re-apply a no-op (layer 1, idempotent commit);
* row-level redeliveries across different spans are killed by the
  (event_time, offset) monotonicity filter (layer 2) — the feed carries
  the ordering pair through ``changes_as_events`` untouched;
* the cursor is only advanced AFTER the dst commit (write-ahead ordering:
  losing the cursor replays work, never skips it), and is stored with an
  atomic rename so a torn write cannot corrupt it.

At 10^10-event scale each trigger costs O(changed rows in the span): the
feed reads only change files, the apply is the same one-job MOR path the
primary ingest uses, and no trigger ever touches full table state.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..operators.cdc import apply_batch
from ..sources import fs
from ..sources.table import SequenceTable, changes_as_events


def _cursor_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "mirror-cursor.json")


def load_cursor(checkpoint_dir: str) -> int:
    """Last source snapshot id applied to dst.  With no cursor file yet it
    returns 1 — the id ``SequenceTable.create`` always commits first — so a
    fresh mirror consumes every post-create commit: the dst table is
    assumed bootstrapped from src snapshot 1's full state (or empty, when
    src was created empty and fed purely through commits)."""
    p = _cursor_path(checkpoint_dir)
    if fs.exists(p):
        return int(fs.read_json(p)["from_snapshot_id"])
    return 1


@dataclass
class MirrorTick:
    """One trigger's outcome."""

    from_snapshot_id: int
    to_snapshot_id: int
    rows: int
    applied: bool  # False = empty span (no change rows committed)


def mirror_once(
    spark: SparkSession,
    src: SequenceTable,
    dst: SequenceTable,
    checkpoint_dir: str,
    known_partitions: list[int] | None = None,
) -> MirrorTick | None:
    """Apply one span (cursor -> src latest) to dst.  Returns None when
    the source has no new commits.

    ``known_partitions`` default: derived from the span snapshots' lineage
    metadata (``src.span_src_partitions`` — driver-side JSON only), which
    matches the feed exactly because ``changes_as_events`` re-emits each
    row's original persisted ``src_partition``.  The dst apply's lineage
    stats ride its delta-write scan either way; the hint spares it the
    jobs that list the feed's partitions.  Pass an explicit list to
    override; for a pre-upgrade source without per-partition lineage the
    apply lists the partitions itself (correct, two more Spark jobs)."""
    cursor = load_cursor(checkpoint_dir)
    latest = src.latest_snapshot_id()
    if latest <= cursor:
        return None
    # the span's change-file row stamps count the feed: no Spark job
    _, span = src.change_span(cursor, latest)
    n = sum(e["rows"] for s in span for e in s.get("change_files") or [])
    applied = False
    if n > 0:
        events = changes_as_events(src.read_changes(spark, cursor, latest))
        hint = (
            known_partitions
            if known_partitions is not None
            else src.span_src_partitions(cursor, latest)
        )
        apply_batch(spark, dst, events, batch_id=f"mirror-{cursor}-{latest}",
                    known_partitions=hint)
        applied = True
    # advance the cursor only after the dst commit is durable; the commit
    # itself is idempotent on batch_id, so a crash in this window replays
    # harmlessly on restart
    fs.write_json_atomic(_cursor_path(checkpoint_dir),
                         {"from_snapshot_id": latest})
    return MirrorTick(cursor, latest, n, applied)


def run_mirror(
    spark: SparkSession,
    src: SequenceTable,
    dst: SequenceTable,
    checkpoint_dir: str,
    poll_interval_s: float = 1.0,
    available_now: bool = True,
    max_triggers: int | None = None,
    known_partitions: list[int] | None = None,
) -> list[MirrorTick]:
    """Mirror loop.  ``available_now=True`` drains everything committed so
    far and stops (bounded catch-up, T7 semantics); otherwise polls until
    ``max_triggers`` spans have been applied (None = run forever).

    DDL caveat: the mirror replicates DATA, not DDL — a ``rename_column``
    on the source re-emits subsequent changes under the new name, which
    the destination's batch evolution registers as an ADDED column (the
    old one stops updating).  To keep the shapes aligned, apply the same
    DDL to the destination before the next tick — field-id identity makes
    that a metadata-only commit on both sides (the same contract Delta/
    Iceberg CDF consumers have: DDL is out-of-band)."""
    ticks: list[MirrorTick] = []
    while True:
        tick = mirror_once(spark, src, dst, checkpoint_dir,
                           known_partitions=known_partitions)
        if tick is not None:
            ticks.append(tick)
            if max_triggers is not None and len(ticks) >= max_triggers:
                return ticks
            continue  # drain without sleeping while behind
        if available_now:
            return ticks
        time.sleep(poll_interval_s)
