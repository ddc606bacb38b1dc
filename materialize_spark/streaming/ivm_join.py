"""Incrementally maintained joins over explicit-diff update streams.

Reference: incrementally maintaining multi-way joins is the reference's
central capability — differential dataflow's bilinearity of join:

    Δ(A ⋈ B) = ΔA ⋈ B_old  +  A_old ⋈ ΔB  +  ΔA ⋈ ΔB

(linear join render src/compute/src/render/join/linear_join.rs; the state
kept per side is an arrangement keyed by the join key). Multiplicities
multiply through the join: a row pair's multiplicity is mult_a * mult_b,
which makes deletes (negative diffs) flow through with no special casing.

Spark-first translation: each side's history is a *consolidated* DataFrame
(payload columns + net ``diff``) checkpointed per batch; the three delta
terms are ordinary equi-joins Catalyst plans (broadcast / SMJ as sizes
dictate). Per-batch cost is O(Δ ⋈ state) — never a recompute of the full
join. Binary views compose left-deep for multi-way joins (each output
delta feeds the next view's input), the same shape as the reference's
linear join plans.

State sizing at 100 TB: each side's history and the maintained result
live on the parts-spine (streaming/state_spill.SpilledPartsState), which
folds and spills them; every probe prunes to the delta's touched key
prefixes BEFORE any I/O, so a delta-maintained join over a growing fact
table never holds both histories in executor memory. (A real deployment
would persist the histories as bucketed tables on the join key —
sources/bucketing.py — making every maintenance join shuffle-free.)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.operators.setops import DIFF_COL
from materialize_spark.streaming.state_spill import SpilledPartsState, concat


def _side(on: list[str]) -> SpilledPartsState:
    """A join side's history or a view's output deltas: signed rows
    keyed (probed, spill-partitioned) by ``on`` whose ``diff`` nets on
    every fold."""
    return SpilledPartsState(list(on), measures=(DIFF_COL,))


def _consolidated(state: SpilledPartsState) -> DataFrame:
    """The current net rows of ``state`` (positive multiplicities)."""
    merged = fresh_break(state.consolidate(state.probe_frame(None)))
    return merged.filter(F.col(DIFF_COL) > 0)


@dataclass
class IncrementalJoinView:
    """An inner equi-join maintained incrementally from two diff streams.

    ``on``: join key column names (present on both sides; all other
    columns must be disjoint). ``on_batch`` takes either side's delta
    (or both) and returns the *output delta* — itself an explicit-diff
    frame, so views chain into multi-way join pipelines.

    State discipline: each side is a parts-spine
    (streaming/state_spill.py) of append-only checkpointed deltas — per
    batch only the delta is written (O(delta)). Probing an
    unconsolidated union is multiset-correct: a (+1, -1) pair for the
    same row contributes cancelling output deltas. The maintained
    result is likewise a spine of output deltas, consolidated on
    ``result()``.
    """

    on: list[str]
    # non-equi residual ON conjuncts (e.g. ``a.x < b.y``), filtered
    # over each joined term: join-then-filter is still linear, so the
    # bilinear delta rule holds unchanged (the reference plans such
    # predicates as an MFP on the join closure, join.rs)
    extra: str | None = None
    _left: SpilledPartsState = field(init=False)
    _right: SpilledPartsState = field(init=False)
    _result: SpilledPartsState = field(init=False)

    def __post_init__(self) -> None:
        self._left, self._right = _side(self.on), _side(self.on)
        self._result = _side(self.on)

    def _term(self, a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
        if a is None or b is None:
            return None
        al = a.withColumnRenamed(DIFF_COL, "__dl")
        bl = b.withColumnRenamed(DIFF_COL, "__dr")
        out = al.join(bl, on=self.on, how="inner")
        if self.extra is not None:
            out = out.filter(f"coalesce(({self.extra}), false)")
        return (
            out.withColumn(DIFF_COL, F.col("__dl") * F.col("__dr"))
            .drop("__dl", "__dr")
        )

    def on_batch(
        self,
        left_delta: DataFrame | None = None,
        right_delta: DataFrame | None = None,
    ) -> DataFrame | None:
        """Fold one batch; returns the join's output delta (or None if no
        output rows changed). Each Δ⋈state term probes the opposite
        side's state pruned to the delta's touched key prefixes."""
        terms = [
            self._term(left_delta,
                       self._right.probe_frame(left_delta)),  # ΔA ⋈ B_old
            self._term(self._left.probe_frame(right_delta),
                       right_delta),                          # A_old ⋈ ΔB
            self._term(left_delta, right_delta),              # ΔA ⋈ ΔB
        ]
        terms = [t for t in terms if t is not None]
        if left_delta is not None:
            self._left.append(fresh_break(left_delta))
        if right_delta is not None:
            self._right.append(fresh_break(right_delta))
        if not terms:
            return None
        out = fresh_break(concat(terms))
        # append the output delta part — result() consolidates lazily,
        # so the per-batch write stays O(delta)
        self._result.append(out)
        return out

    def result(self) -> DataFrame:
        """Current maintained join (consolidated, positive multiplicities,
        with the ``diff`` multiplicity column) — accumulated purely from
        output deltas, no re-join of the histories."""
        if not self._result.n_parts():
            raise RuntimeError("no batches folded yet")
        return _consolidated(self._result)

    def result_expanded(self) -> DataFrame:
        """Maintained join as plain rows (multiplicities expanded)."""
        r = self.result()
        return (
            r.withColumn("__i", F.explode(F.sequence(F.lit(1), F.col(DIFF_COL))))
            .drop(DIFF_COL, "__i")
        )


@dataclass
class IncrementalOuterJoinView:
    """A LEFT / RIGHT / FULL outer equi-join maintained incrementally.

    The reference lowers outer joins to a union of the inner join with
    null-padded anti-join parts (src/sql/src/plan/lowering.rs), then
    maintains each part as an ordinary dataflow. Same decomposition here:

        L ⟕ R  =  (L ⋈ R)  ∪  (L ▷ R) × {NULL_R}

    The inner part uses the bilinear delta terms (see
    :class:`IncrementalJoinView`). The anti part's delta has three terms
    (derivable from Δ(L ⋉̸ R) with ⋉̸ = "no key match"):

        ΔL ⋉̸ R_new                       (new left rows with no match)
      + L_old ⋈ keys(present → absent)   (matches vanished: rows re-enter)
      - L_old ⋈ keys(absent → present)   (matches appeared: rows retract)

    Key presence is a per-key NET row count over the right state — one
    keyed aggregate per batch restricted to the batch's touched keys, so
    the per-batch cost stays O(Δ ⋈ state), never a full recompute. FULL
    joins add the mirrored right-side anti part.

    ``pad_right`` / ``pad_left``: (column, spark-type) pairs for the
    null-padded side(s) — the non-key columns of the opposite input.
    """

    on: list[str]
    pad_right: list[tuple[str, str]]
    how: str = "left"                      # "left" | "full"
    pad_left: list[tuple[str, str]] = field(default_factory=list)
    _left: SpilledPartsState = field(init=False)
    _right: SpilledPartsState = field(init=False)
    _result: SpilledPartsState = field(init=False)

    def __post_init__(self) -> None:
        if self.how not in ("left", "right", "full"):
            raise ValueError(f"unsupported outer-join kind {self.how!r}")
        if self.how in ("right", "full") and not self.pad_left:
            raise ValueError(
                f"{self.how.upper()} join needs pad_left column types")
        self._left, self._right = _side(self.on), _side(self.on)
        self._result = _side(self.on)

    # -- helpers --------------------------------------------------------------
    def _inner_term(self, a, b):
        if a is None or b is None:
            return None
        al = a.withColumnRenamed(DIFF_COL, "__dl")
        bl = b.withColumnRenamed(DIFF_COL, "__dr")
        return (al.join(bl, on=self.on, how="inner")
                .withColumn(DIFF_COL, F.col("__dl") * F.col("__dr"))
                .drop("__dl", "__dr"))

    def _pad(self, rows: DataFrame, pads: list[tuple[str, str]],
             negate: bool = False) -> DataFrame:
        out = rows
        for col, typ in pads:
            out = out.withColumn(col, F.lit(None).cast(typ))
        if negate:
            out = out.withColumn(DIFF_COL, -F.col(DIFF_COL))
        return out

    @staticmethod
    def _present_keys(state: DataFrame | None, on: list[str]):
        """Keys with a positive net row count (the 'has a match' set)."""
        if state is None:
            return None
        return (state.groupBy(*on).agg(F.sum(DIFF_COL).alias("__n"))
                .filter(F.col("__n") > 0).select(*on))

    @staticmethod
    def _flips(old: DataFrame | None, delta: DataFrame,
               on: list[str]) -> tuple[DataFrame, DataFrame]:
        """(present→absent keys, absent→present keys) among the keys the
        delta touches — a probe restricted to touched keys, not a scan
        of untouched groups' values."""
        touched = delta.select(*on).distinct()
        dn = delta.groupBy(*on).agg(F.sum(DIFF_COL).alias("__dn"))
        if old is None:
            base = dn.withColumn("__on", F.lit(0))
        else:
            on_counts = (old.join(touched, on=on, how="left_semi")
                         .groupBy(*on).agg(F.sum(DIFF_COL).alias("__on")))
            base = dn.join(on_counts, on=on, how="left").withColumn(
                "__on", F.coalesce(F.col("__on"), F.lit(0)))
        base = base.withColumn("__nn", F.col("__on") + F.col("__dn"))
        to_absent = base.filter((F.col("__on") > 0)
                                & (F.col("__nn") <= 0)).select(*on)
        to_present = base.filter((F.col("__on") <= 0)
                                 & (F.col("__nn") > 0)).select(*on)
        return to_absent, to_present

    def _anti_terms(self, side_state: SpilledPartsState, side_delta,
                    other_state: SpilledPartsState, other_delta,
                    pads: list[tuple[str, str]]) -> list[DataFrame]:
        """Anti-part delta for one side (the side that survives
        unmatched, null-padded on ``pads`` = the other side's columns).
        Every state read is probed pruned to the relevant delta's
        touched key prefixes: the present-keys check only matters for
        side_delta's keys, and the flip terms only touch other_delta's
        keys."""
        terms: list[DataFrame] = []
        if side_delta is not None:
            other_new = concat(
                [p for p in (other_state.probe_frame(side_delta),
                             other_delta) if p is not None])
            present = self._present_keys(other_new, self.on)
            unmatched = (side_delta if present is None else
                         side_delta.join(present, on=self.on,
                                         how="left_anti"))
            terms.append(self._pad(unmatched, pads))
        if other_delta is not None:
            side_old = side_state.probe_frame(other_delta)
            if side_old is not None:
                to_absent, to_present = self._flips(
                    other_state.probe_frame(other_delta), other_delta,
                    self.on)
                terms.append(self._pad(
                    side_old.join(to_absent, on=self.on, how="inner"),
                    pads))
                terms.append(self._pad(
                    side_old.join(to_present, on=self.on, how="inner"),
                    pads, negate=True))
        return terms

    # -- batch fold ------------------------------------------------------------
    def on_batch(self, left_delta: DataFrame | None = None,
                 right_delta: DataFrame | None = None) -> DataFrame | None:
        """Fold one batch; returns the outer join's output delta with the
        padded side's columns NULL on unmatched rows."""
        terms = [t for t in (
            self._inner_term(left_delta,
                             self._right.probe_frame(left_delta)),
            self._inner_term(self._left.probe_frame(right_delta),
                             right_delta),
            self._inner_term(left_delta, right_delta)) if t is not None]
        if self.how in ("left", "full"):
            terms += self._anti_terms(self._left, left_delta,
                                      self._right, right_delta,
                                      self.pad_right)
        if self.how in ("right", "full"):
            # RIGHT keeps unmatched right rows null-padded on the left
            # columns — the mirror of the left anti part (the reference
            # plans RIGHT as the mirrored LEFT lowering, lowering.rs)
            mirrored = self._anti_terms(self._right, right_delta,
                                        self._left, left_delta,
                                        self.pad_left)
            # realign to the output column order (unionByName below)
            terms += mirrored
        if left_delta is not None:
            self._left.append(fresh_break(left_delta))
        if right_delta is not None:
            self._right.append(fresh_break(right_delta))
        if not terms:
            return None
        out = fresh_break(concat(terms))
        # append the output delta part — result() consolidates lazily,
        # so the per-batch write stays O(delta)
        self._result.append(out)
        return out

    def result(self) -> DataFrame:
        """Current maintained outer join (consolidated, positive
        multiplicities, ``diff`` column)."""
        if not self._result.n_parts():
            raise RuntimeError("no batches folded yet")
        return _consolidated(self._result)

    def result_expanded(self) -> DataFrame:
        r = self.result()
        return (r.withColumn("__i", F.explode(
            F.sequence(F.lit(1), F.col(DIFF_COL))))
            .drop(DIFF_COL, "__i"))
