"""Delta maintenance for non-invertible view shapes.

The reference maintains HAVING-threshold semijoins and anti-joins
*incrementally*: arrangements index each input by key, and an arriving or
retracted row re-evaluates only the affected keys (delta-join pathways:
/root/reference/src/compute/src/render/join/delta_join.rs:1; reduce
retractions: /root/reference/src/compute/src/render/reduce.rs). Before this
module the engine maintained those shapes by full recompute (the Basic
plan), whose refresh lag scales with BASE size; these operators bring lag
down to O(batch + touched keys).

Spark-first translation — no per-row Python, every join keyed:

- **Support state is a parts-spine** (streaming/state_spill.py, the
  arrangement's "unmerged batches"): each on_batch checkpoints only its own
  small partial and APPENDS it — the big consolidated base part is never
  rewritten per batch; the spine decides when parts fold and spill.
- Point lookups ("previous sums of the touched keys") are a broadcast
  semi-join of the tiny touched-key set against the concatenated parts: a
  shuffle-free in-memory scan (the Spark analog of an arrangement probe —
  no point index exists, but the probe never shuffles or rewrites state).
- **The RESULT table is materialized per batch** — it is small for these
  shapes (qualifying orders / waiting pairs), so an O(result) rewrite per
  batch buys O(1) peeks, like the reference's maintained sink arrangement.
- Dimension enrichment joins broadcast the (tiny) changed-key side.

Scale note (100 TB): per-batch cost = O(batch) shuffle+write, O(result)
write, O(|state|) scan (no shuffle, no write), amortized O(|state|)
compaction write. |state| is proportional to DISTINCT KEYS (q18: orders)
or distinct (group, member) pairs (q21), never raw history. On a cluster
the parts would be bucketed by key so even the scan prunes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.operators.setops import DIFF_COL
from materialize_spark.streaming.state_spill import SpilledPartsState, concat


@dataclass
class ThresholdSemijoinMV:
    """``... WHERE key IN (SELECT key FROM fact GROUP BY key
    HAVING sum(val) > T)`` maintained incrementally (tpch q18 shape).

    The grouped sums are accumulable (diff arithmetic) and live as
    append-only parts; only keys touched by the batch are re-thresholded,
    and only they have their output rows re-derived via ``enrich`` (the
    dimension join producing the final view rows).

    ``enrich(qualified)`` receives (keys + ``sum_col``) for the CHANGED
    qualifying keys only — it must return the final view rows and keep the
    key columns so replaced rows can be retired. The changed side is tiny:
    it arrives pre-wrapped in ``broadcast()``.
    """

    spark: SparkSession
    keys: list[str]
    val: str
    having: Callable[[Column], Column]  # sum column -> boolean Column
    enrich: Callable[[DataFrame], DataFrame]
    sum_col: str = "__sum"
    _state: SpilledPartsState = field(init=False)
    _result: DataFrame | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        # a key whose rows all retracted (``__net`` = 0) leaves a fold
        self._state = SpilledPartsState(
            self.keys, measures=(self.sum_col, "__net"), live=("__net",))

    def _partial(self, delta: DataFrame) -> DataFrame:
        d = F.col(DIFF_COL)
        return delta.groupBy(*self.keys).agg(
            F.sum(F.when(F.col(self.val).isNotNull(), F.col(self.val) * d)
                  .otherwise(F.lit(0))).alias(self.sum_col),
            F.sum(d).alias("__net"))

    def on_batch(self, delta: DataFrame) -> DataFrame:
        """Fold one explicit-diff update frame (fact rows + ``diff``);
        return the maintained view."""
        state = self._state
        partial = fresh_break(self._partial(delta))    # O(batch) write
        touched_keys = partial.select(*self.keys)
        touched = F.broadcast(touched_keys)
        state.append(partial)

        # probe: new totals for the touched keys only — broadcast semi
        # over the parts (+ the spilled tier pruned to the touched
        # keys' prefixes), shuffle on the tiny touched keys afterwards
        merged = (state.probe_frame(touched_keys)
                  .join(touched, on=self.keys, how="left_semi")
                  .groupBy(*self.keys)
                  .agg(F.sum(self.sum_col).alias(self.sum_col),
                       F.sum("__net").alias("__net")))

        qualified = (merged.filter((F.col("__net") > 0)
                                   & self.having(F.col(self.sum_col)))
                     .select(*self.keys, self.sum_col))
        new_rows = self.enrich(F.broadcast(qualified))
        if self._result is None:
            self._result = fresh_break(new_rows)       # O(result) write
        else:
            kept = self._result.join(touched, on=self.keys,
                                     how="left_anti")
            self._result = fresh_break(kept.unionByName(new_rows))
        return self._result

    def result(self) -> DataFrame:
        if self._result is None:
            raise RuntimeError("no batches folded yet")
        return self._result


@dataclass
class ExclusiveAntiJoinMV:
    """Per-(group, member) "only flagged member of a multi-member group"
    maintained incrementally (tpch q21 shape: the only supplier of a
    multi-supplier order whose shipments ran late).

    Semantics over (group_key, member_key) support counts:
    a pair qualifies iff

    - ``n_flag > 0``                       (it has flagged rows),
    - ``tot_all  - n_all  > 0``            (EXISTS another member's row),
    - ``tot_flag - n_flag = 0``            (NOT EXISTS another flagged
                                            member — the anti-join).

    ``on_batch(all_delta, flag_delta)`` takes two explicit-diff frames of
    (group, member, diff): every fact row, and the flagged subset. Only
    groups present in the batch are re-evaluated; the maintained output
    carries ``n_flag`` (the pair's flagged-row multiplicity — q21 counts
    each late row, not each pair).

    Reference: delta-join + semijoin count maintenance
    (/root/reference/src/compute/src/render/join/delta_join.rs:1,
    src/compute/src/render/reduce.rs accumulable counts).
    """

    spark: SparkSession
    group_key: str
    member_key: str
    _state: SpilledPartsState = field(init=False)
    _wait: DataFrame | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        self._state = SpilledPartsState(
            [self.group_key], measures=("n_all", "n_flag"))

    def _batch_supp(self, all_delta: DataFrame | None,
                    flag_delta: DataFrame | None) -> DataFrame:
        g, m, d = self.group_key, self.member_key, F.col(DIFF_COL)
        if all_delta is None and flag_delta is None:
            raise ValueError("on_batch needs at least one delta frame")
        parts = []
        if all_delta is not None:
            parts.append(all_delta.select(
                g, m, d.alias("__d_all"), F.lit(0).alias("__d_flag")))
        if flag_delta is not None:
            parts.append(flag_delta.select(
                g, m, F.lit(0).alias("__d_all"), d.alias("__d_flag")))
        return concat(parts).groupBy(g, m).agg(
            F.sum("__d_all").alias("n_all"),
            F.sum("__d_flag").alias("n_flag"))

    def on_batch(self, all_delta: DataFrame | None = None,
                 flag_delta: DataFrame | None = None) -> DataFrame:
        g, m = self.group_key, self.member_key
        state = self._state
        batch = fresh_break(self._batch_supp(all_delta, flag_delta))
        touched_keys = batch.select(g).distinct()
        touched = F.broadcast(touched_keys)
        state.append(batch)

        # the touched groups' full new support (probe, shuffle-free
        # scan + prefix-pruned spilled tier), materialized so the state
        # scan runs exactly once per batch and the downstream
        # window/anti-join work on the tiny probe output
        merged = fresh_break(
            state.probe_frame(touched_keys)
            .join(touched, on=[g], how="left_semi")
            .groupBy(g, m)
            .agg(F.sum("n_all").alias("n_all"),
                 F.sum("n_flag").alias("n_flag"))
            .filter((F.col("n_all") != 0) | (F.col("n_flag") != 0)))

        # re-evaluate the touched groups only; per-group totals come from
        # a window over the (already keyed) support so the state scan runs
        # exactly once per batch — a totals self-join would recompute it
        from pyspark.sql import Window
        w = Window.partitionBy(g)
        wait_t = (merged
                  .withColumn("__tot_all", F.sum("n_all").over(w))
                  .withColumn("__tot_flag", F.sum("n_flag").over(w))
                  .filter((F.col("n_flag") > 0)
                          & (F.col("__tot_all") - F.col("n_all") > 0)
                          & (F.col("__tot_flag") - F.col("n_flag") == 0))
                  .select(g, m, "n_flag"))
        if self._wait is None:
            self._wait = fresh_break(wait_t)           # O(result) write
        else:
            kept = self._wait.join(touched, on=[g], how="left_anti")
            self._wait = fresh_break(kept.unionByName(wait_t))
        return self._wait

    def result(self) -> DataFrame:
        """(group, member, n_flag) qualifying pairs."""
        if self._wait is None:
            raise RuntimeError("no batches folded yet")
        return self._wait
