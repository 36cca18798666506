"""Multi-table transactions — atomic-outcome commits across several
SequenceTables, composed from the engine's own primitives (branch refs +
journaled fast-forward publish + LWW cherry-pick).

A training-data pipeline rarely owns ONE table: a corrections batch must
land in the sequence table AND its quality-metadata table, a backfill in
the raw and the packed table, together or not at all.  Without a
catalog service there is no global pointer swap, so the guarantee this
module gives is the strongest available on plain storage (the same class
Iceberg offers without a REST catalog): **all-or-nothing at the decision
record, with roll-forward recovery** —

* before ``commit()`` writes the decision record, nothing is visible to
  any main reader (work is staged on per-table txn branches) and
  ``abort()``/crash discards it all;
* after the decision record lands (one atomic file write — THE commit
  point), every participant table WILL receive the transaction: the
  publishes are idempotent, so a crash mid-publish is finished by
  ``MultiTableTransaction.recover()`` (run it at process start, like the
  engine's other journal-recovery hooks).  Readers may observe table A
  published before table B for the crash-recovery window — the
  documented relaxation every storage-only multi-table scheme shares.

Publish per table is ``fast_forward`` (strict WAP) with an automatic
``cherry_pick`` fallback when that table's main moved after the branch
was cut (LWW re-landing — deterministic, redelivery-safe); pass
``on_divergence="fail"`` to refuse instead, BEFORE the decision record,
keeping strict fast-forward-only semantics.

Scale shape: everything here is metadata IO — O(participants) file
writes for the decision, each publish a pointer swap (or an O(staged
changed rows) cherry-pick apply); no table state is scanned.
"""

from __future__ import annotations

import os
import time
import uuid

from ..sources import fs
from ..sources.meta import CommitConflictError
from ..sources.table import BranchHandle, SequenceTable
from .cdc import cherry_pick


class MultiTableTransaction:
    """Stage work on a txn branch per table, then land it everywhere.

    Usage::

        txn = MultiTableTransaction([t1, t2])
        h = txn.begin()                       # {root: BranchHandle}
        apply_batch(spark, h[t1.root], fixes, batch_id="fix-1")
        apply_batch(spark, h[t2.root], meta,  batch_id="fix-1m")
        txn.commit(spark)                     # or txn.abort()

    ``recover(spark, coordinator_dir)`` finishes transactions whose
    process died after the decision record.
    """

    def __init__(
        self,
        tables,
        txn_id: str | None = None,
        coordinator_dir: str | None = None,
    ):
        self.tables = [
            t if isinstance(t, SequenceTable) else SequenceTable(t)
            for t in tables
        ]
        if not self.tables:
            raise ValueError("MultiTableTransaction: no tables")
        roots = [t.root for t in self.tables]
        if len(set(roots)) != len(roots):
            raise ValueError(f"duplicate table roots in transaction: {roots}")
        self.txn_id = txn_id or uuid.uuid4().hex[:12]
        self.branch_name = f"__txn__-{self.txn_id}"
        # the decision record's home; default: a _txn dir next to the
        # first table's metadata (any shared location works — recovery
        # only needs to find the records)
        self.coordinator_dir = coordinator_dir or os.path.join(
            self.tables[0].root, "_txn"
        )
        self._handles: "dict[str, BranchHandle] | None" = None

    # -- lifecycle ------------------------------------------------------ #
    def begin(self) -> "dict[str, BranchHandle]":
        """Cut the txn branch on every table; returns root -> handle.
        Handles accept the whole write machinery (apply_batch, DML,
        merge_into, compact) and stay invisible to main readers."""
        if self._handles is not None:
            raise RuntimeError("transaction already begun")
        cut: list[SequenceTable] = []
        try:
            for t in self.tables:
                t.create_branch(self.branch_name)
                cut.append(t)
        except BaseException:
            for t in cut:  # leave no dangling refs on a partial begin
                try:
                    t.drop_branch(self.branch_name)
                except KeyError:
                    pass
            raise
        self._handles = {t.root: t.branch(self.branch_name) for t in self.tables}
        return self._handles

    def handle(self, table) -> BranchHandle:
        root = table.root if isinstance(table, SequenceTable) else str(table)
        if self._handles is None:
            raise RuntimeError("transaction not begun")
        return self._handles[root]

    def abort(self) -> None:
        """Discard all staged work.  Pre-decision only — after commit()'s
        decision record the transaction rolls FORWARD, never back: if the
        record exists (commit crashed mid-publish), abort refuses, because
        dropping the txn branches here would make recover() read each
        missing ref as "already landed" and silently lose the committed
        transaction on the tables it had not reached yet."""
        path = os.path.join(self.coordinator_dir, f"{self.txn_id}.json")
        if fs.exists(path):
            raise RuntimeError(
                f"txn {self.txn_id}: decision record exists — the "
                "transaction is committed and must roll forward; run "
                "MultiTableTransaction.recover() instead of abort()"
            )
        for t in self.tables:
            try:
                t.drop_branch(self.branch_name)
            except KeyError:
                pass
        self._handles = None

    # -- commit --------------------------------------------------------- #
    def commit(self, spark, on_divergence: str = "cherry_pick") -> "dict[str, int]":
        """Land the transaction on every table.  Returns root -> the
        snapshot id main reached.  The atomic commit point is the decision
        record write; everything after it is idempotent roll-forward."""
        if on_divergence not in ("cherry_pick", "fail"):
            raise ValueError(
                f"on_divergence must be 'cherry_pick' or 'fail', "
                f"got {on_divergence!r}"
            )
        if self._handles is None:
            raise RuntimeError("transaction not begun")
        participants = []
        for t in self.tables:
            ref = t._read_refs().get("branches", {}).get(self.branch_name)
            if ref is None:
                raise CommitConflictError(
                    f"txn {self.txn_id}: branch vanished on {t.root} "
                    "(dropped by ref TTL or another process?)"
                )
            participants.append({
                "root": t.root,
                "branch": self.branch_name,
                "head": int(ref["sid"]),
                "fork": int(ref["fork"]),
            })
        if on_divergence == "fail":
            for t, p in zip(self.tables, participants):
                if t.latest_snapshot_id() != p["fork"]:
                    raise CommitConflictError(
                        f"txn {self.txn_id}: main moved on {t.root} "
                        f"(fork {p['fork']} -> {t.latest_snapshot_id()}) and "
                        "on_divergence='fail'; nothing published — abort or "
                        "retry with cherry_pick"
                    )
        record = {
            "txn_id": self.txn_id,
            "created_at": time.time(),
            "participants": participants,
        }
        path = os.path.join(self.coordinator_dir, f"{self.txn_id}.json")
        fs.write_json_atomic(path, record)  # ← the commit point
        result = self._roll_forward(spark, record)
        fs.unlink(path)
        self._handles = None
        return result

    # -- roll-forward (shared with recovery) ----------------------------- #
    @staticmethod
    def _roll_forward(spark, record: dict) -> "dict[str, int]":
        out: dict[str, int] = {}
        for p in record["participants"]:
            t = SequenceTable(p["root"])
            name, head, fork = p["branch"], int(p["head"]), int(p["fork"])
            ref = t._read_refs().get("branches", {}).get(name)
            if ref is None:
                # branch already dropped: a previous roll-forward finished
                # this table (drop happens strictly after landing)
                out[p["root"]] = t.latest_snapshot_id()
                continue
            if int(ref.get("fork", -1)) == int(ref.get("sid", -2)) == head:
                # published (fork mark healed) but the drop crashed
                sid = t.latest_snapshot_id()
            else:
                try:
                    sid = t.fast_forward(name)
                except ValueError:
                    # main moved: re-land the staged span by LWW — the
                    # derived batch id makes recovery re-runs no-op
                    r = cherry_pick(spark, t, head, from_snapshot_id=fork)
                    sid = r.snapshot_id
            try:
                t.drop_branch(name)
            except KeyError:
                pass
            out[p["root"]] = sid
        return out

    @classmethod
    def recover(cls, spark, coordinator_dir: str) -> "list[str]":
        """Finish every transaction whose decision record survived a
        crash.  Idempotent; safe to run at every process start."""
        try:
            names = fs.listdir(coordinator_dir)
        except FileNotFoundError:
            return []
        done = []
        for f in sorted(names):
            if not f.endswith(".json"):
                continue
            path = os.path.join(coordinator_dir, f)
            try:
                record = fs.read_json(path)
            except (FileNotFoundError, ValueError):
                continue
            cls._roll_forward(spark, record)
            fs.unlink(path)
            done.append(record.get("txn_id", f[:-5]))
        return done
