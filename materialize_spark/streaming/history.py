"""RETAIN HISTORY and AS OF time travel over maintained views.

Reference surface: every collection in the reference is a time-varying
changelog of (row, time, diff) updates; `ALTER ... SET (RETAIN HISTORY FOR
<duration>)` keeps that changelog readable back to a compaction frontier
(src/sql-parser/src/ast/defs/statement.rs:71 AlterRetainHistoryStatement),
and `SELECT ... AS OF <t>` / `SUBSCRIBE ... AS OF <t>` read the collection
at (or since) a past timestamp. Compaction advances the "since" frontier by
consolidating updates older than it into a single snapshot
(doc/developer/design — persist compaction; SURVEY.md §2.8 item 8).

Spark-first design:
- The changelog is an explicit-diff DataFrame `(data..., mz_timestamp,
  diff)` — the same diff algebra as operators/setops.py, with a logical
  timestamp column added. Locally it is a union of per-batch checkpointed
  frames; at scale it is an append-only parquet/Delta table *partitioned by
  mz_timestamp*, so `AS OF t` prunes to partitions <= t before any shuffle.
- `as_of(t)` = Threshold(changelog restricted to ts <= t): one hash-shuffle
  grouped by the full row, then multiplicity expansion — identical cost
  shape to the reference's arrangement consolidation.
- `compact(frontier)` consolidates all updates at ts <= frontier into one
  net snapshot stamped at the frontier, exactly like persist compaction:
  `as_of(t)` stays byte-identical for every t >= frontier and becomes an
  error for t < frontier (the reference answers the same way once `since`
  has advanced past t).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from materialize_spark.ckpt import lineage_break
from materialize_spark.operators.setops import (
    DIFF_COL, expand, threshold,
)

TS_COL = "mz_timestamp"

# Deferred-append cadence: consolidate (union + lineage break) pending
# stamped deltas once this many accumulate without a read — bounds the
# consolidation plan's width for write-heavy, never-read histories.
_CONSOLIDATE_EVERY = 32


class SinceViolation(ValueError):
    """AS OF timestamp is behind the compaction frontier (reference error:
    'Timestamp (..) is not valid for all inputs' once `since` advances)."""


@dataclass
class RetainedHistory:
    """An explicit-diff changelog supporting AS OF reads and compaction.

    `since` is the compaction frontier: reads at t >= since are exact;
    reads below it raise SinceViolation. `upper` is one past the newest
    appended timestamp (reads at t >= upper see the latest state).
    """

    _log: DataFrame | None = field(default=None, init=False)
    _pending: list = field(default_factory=list, init=False)
    _lock: threading.Lock = field(default_factory=threading.Lock,
                                  init=False)
    since: int = field(default=0, init=False)
    upper: int = field(default=0, init=False)

    # -- writes -------------------------------------------------------------
    def append(self, delta: DataFrame, ts: int) -> None:
        """Record one batch of (data, diff) updates at logical time ts.
        Timestamps must be appended in non-decreasing order (the reference
        reclocks all inputs into a monotone system time); multiple batches
        at the same logical time are allowed and consolidate together.

        Appends are DEFERRED: the stamped delta joins a pending list and
        the union + lineage break happen on first read (or at the
        _CONSOLIDATE_EVERY cadence). This keeps the per-commit write
        O(1) driver work — no Catalyst pass to record history nobody
        may ever read. Value-safe to defer: publish deltas are plans
        over checkpointed leaves (operator flips, MV snapshots), so
        their value is fixed at append time even though operator state
        objects move on afterwards — old plans keep the old leaves.
        History is a sink (never feeds an operator), so no downstream
        plan can observe the deferral."""
        if ts < self.upper - 1:
            raise ValueError(
                f"timestamp {ts} is behind the upper frontier {self.upper}")
        stamped = delta.withColumn(TS_COL, F.lit(ts).cast("long"))
        with self._lock:
            self._pending.append(stamped)
            self.upper = ts + 1
            if len(self._pending) >= _CONSOLIDATE_EVERY:
                self._consolidate_locked()

    def _consolidate_locked(self) -> None:
        """Fold pending stamped deltas into the consolidated leaf.
        Caller holds self._lock (reads may come from wire/server
        threads while the commit thread appends). Branch sharing in
        the union is leaf-level only (snapshots and flip frames are
        checkpoint leaves; each commit builds fresh plan objects), i.e.
        ordinary self-reference, not the live-subplan dedup hazard."""
        if not self._pending:
            return
        frames = ([self._log] if self._log is not None else []) \
            + self._pending
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        self._log = lineage_break(out)
        self._pending = []

    def _consolidated(self) -> DataFrame | None:
        with self._lock:
            self._consolidate_locked()
            return self._log

    # -- reads --------------------------------------------------------------
    def changelog(self) -> DataFrame | None:
        """The raw (data, mz_timestamp, diff) frame — SUBSCRIBE's view."""
        return self._consolidated()

    def as_of(self, ts: int) -> DataFrame:
        """The collection's rows exactly as of logical time ts (a multiset:
        rows repeat per net multiplicity, like the reference's SELECT AS OF).
        """
        if ts < self.since:
            raise SinceViolation(
                f"AS OF {ts} is behind the compaction frontier {self.since}")
        log = self._consolidated()
        if log is None:
            raise ValueError("empty history: nothing has been appended")
        return expand(threshold(
            log.filter(F.col(TS_COL) <= ts).drop(TS_COL))).drop(DIFF_COL)

    def subscribe_since(self, ts: int) -> DataFrame:
        """Updates strictly after ts — `SUBSCRIBE ... AS OF <ts>`'s ongoing
        diff stream (the snapshot-at-ts part is `as_of(ts)`)."""
        if ts < self.since:
            raise SinceViolation(
                f"AS OF {ts} is behind the compaction frontier {self.since}")
        log = self._consolidated()
        if log is None:
            raise ValueError("empty history: nothing has been appended")
        return log.filter(F.col(TS_COL) > ts)

    # -- compaction ---------------------------------------------------------
    def compact(self, frontier: int) -> None:
        """Advance `since` to frontier: consolidate all updates at
        ts <= frontier into one net snapshot stamped at frontier. AS OF
        results for t >= frontier are unchanged; t < frontier becomes
        unreadable. Bounds changelog growth to (snapshot + recent window) —
        the RETAIN HISTORY duration maps to `upper - since`."""
        with self._lock:
            self._consolidate_locked()
            log = self._log
            if frontier <= self.since or log is None:
                return
            old = log.filter(F.col(TS_COL) <= frontier).drop(TS_COL)
            recent = log.filter(F.col(TS_COL) > frontier)
            snapshot = (
                threshold(old)
                .withColumn(TS_COL, F.lit(frontier).cast("long"))
                .select(recent.columns)
            )
            self._log = lineage_break(snapshot.unionByName(recent))
            self.since = frontier


@dataclass
class HistoryMaterializedView:
    """A MaterializedView with RETAIN HISTORY: every batch's SUBSCRIBE
    delta is recorded in a RetainedHistory changelog, so the view supports
    `AS OF` reads at any retained batch timestamp alongside its maintained
    current state."""

    view: object  # MaterializedView (duck-typed: on_batch/result)
    history: RetainedHistory = field(default_factory=RetainedHistory)
    _epoch: int = field(default=0, init=False)

    def on_batch(self, batch_df: DataFrame) -> DataFrame:
        delta = self.view.on_batch(batch_df)
        self.history.append(delta, self._epoch)
        self._epoch += 1
        return delta

    def result(self) -> DataFrame:
        return self.view.result()

    def as_of(self, ts: int) -> DataFrame:
        return self.history.as_of(ts)
