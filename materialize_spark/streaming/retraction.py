"""Retraction-aware aggregate / TopK maintenance over explicit-diff streams.

Reference: the reference maintains aggregates under *retractions* (negative
diffs) with three reduce plans (src/compute-types/src/plan/reduce.rs:89-140):

- **Accumulable** — invertible aggregates (sum/count/avg) updated by diff
  arithmetic alone: state += value * diff.
- **Hierarchical** — non-invertible aggregates (min/max) kept correct under
  deletes via a bucketed reduction tree over the group's remaining values
  (render: src/compute/src/render/reduce.rs).
- **Basic** — everything else: recompute from the group's full history.

Spark-first translation (no per-row Python anywhere):

- Accumulable state is a result table keyed by group; each batch folds
  diff-weighted partials in with one keyed shuffle.
- The Hierarchical analog is a **compacted support table**
  ``(group, value) -> net multiplicity`` — the moral equivalent of the
  reference's arrangement of the group's values. Per batch we touch only
  groups present in the batch: their support is re-consolidated and their
  min/max recomputed from support, while untouched groups pass through
  unchanged. Per-batch cost is O(batch + support of touched groups), never
  O(history) — the property that makes IVM worth having at 100 TB.
- TopK under retraction uses the same support table; touched groups replay
  ``row_number() <= k`` over their (mult-expanded) support.
- DISTINCT, set-op and TopK supports are appended per batch to a
  parts-spine (streaming/state_spill.py), which decides folds and spills.

Input convention: update frames carry a ``diff`` LongType column
(operators/setops.DIFF_COL), as produced by the Debezium envelope decoder
(sources/envelopes.py) — diff ∈ {+1, -1} per update, arbitrary after
consolidation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.operators.setops import DIFF_COL
from materialize_spark.streaming.state_spill import SpilledPartsState

# aggregate kinds and their maintenance strategy
_ACCUMULABLE = ("sum", "count", "avg")
_HIERARCHICAL = ("min", "max")
# DISTINCT aggregates re-derive from the same compacted support the
# hierarchical kinds keep (the reference collates distinct aggregates
# through a DistinctBy reduce over the group's values,
# src/compute-types/src/plan/reduce.rs)
_DISTINCT_KINDS = ("count_distinct", "sum_distinct",
                   "avg_distinct")


def _consolidate(support: DataFrame, keys: list[str], val: str) -> DataFrame:
    """Net out multiplicities. Keeps *negative* nets too: a retraction that
    arrives before its insert (out-of-order CDC) must persist as mult = -1 so
    the later insert nets to 0 — the reference's arrangements retain negative
    multiplicities the same way. The > 0 threshold is applied only when
    producing user-visible results."""
    return (
        support.groupBy(*keys, val)
        .agg(F.sum("mult").alias("mult"))
        .filter(F.col("mult") != 0)
    )


def _ns_cond(keys: list[str]):
    """Null-safe key equality between aliases __a and __b. Group keys can
    be NULL (SQL groupBy makes NULL a real group — and outer-join delta
    feeds produce NULL-padded keys), so every state probe keyed on group
    must match NULL to NULL; plain `on=keys` joins silently never do."""
    cond = None
    for k in keys:
        c = F.col(f"__a.{k}").eqNullSafe(F.col(f"__b.{k}"))
        cond = c if cond is None else cond & c
    return cond


def _ns_probe(df: DataFrame, keys_df: DataFrame, keys: list[str],
              anti: bool = False) -> DataFrame:
    """Null-safe left_semi / left_anti of ``df`` against key set."""
    how = "left_anti" if anti else "left_semi"
    return (df.alias("__a")
            .join(keys_df.alias("__b"), on=_ns_cond(keys), how=how))


def _ns_attach(df: DataFrame, other: DataFrame, keys: list[str],
               cols: list[str]) -> DataFrame:
    """Null-safe LEFT join attaching ``cols`` from ``other`` keyed on
    ``keys`` (NULL group keys match their NULL-keyed aggregate row)."""
    a, b = df.alias("__a"), other.alias("__b")
    out = a.join(b, on=_ns_cond(keys), how="left")
    return out.select(*[F.col(f"__a.{c}") for c in df.columns],
                      *[F.col(f"__b.{c}") for c in cols])


@dataclass
class RetractionAwareAgg:
    """groupBy(keys).agg(...) maintained under insert *and* delete updates.

    ``aggs`` maps output column -> (kind, input column) with kind in
    sum | count | avg | min | max. Example::

        RetractionAwareAgg(spark, keys=["k"],
                           aggs={"total": ("sum", "v"),
                                 "n": ("count", "v"),
                                 "lo": ("min", "v")})

    ``on_batch(delta)`` folds one explicit-diff update frame in and returns
    the maintained result; groups whose net count reaches zero disappear
    (reference Threshold semantics).
    """

    spark: SparkSession
    keys: list[str]
    aggs: dict[str, tuple[str, str]]
    _acc: DataFrame | None = field(default=None, init=False)
    _support: dict[str, DataFrame] = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        for out, (kind, _col) in self.aggs.items():
            if kind not in _ACCUMULABLE + _HIERARCHICAL \
                    + _DISTINCT_KINDS:
                raise ValueError(f"unsupported aggregate kind {kind!r} ({out})")

    # -- internal column plumbing -------------------------------------------
    def _acc_partial(self, delta: DataFrame) -> DataFrame:
        """Diff-weighted partial aggregate of one batch (accumulable part)."""
        d = F.col(DIFF_COL)
        exprs = [F.sum(d).alias("__net")]
        for out, (kind, col) in self.aggs.items():
            if kind in ("sum", "avg"):
                exprs.append(F.sum(F.when(F.col(col).isNotNull(),
                                          F.col(col) * d)).alias(f"__sum_{out}"))
            if kind in ("sum", "count", "avg"):
                # non-null count: lets sum/avg return NULL (not 0) when the
                # group's remaining non-null values net out to zero — PG
                # aggregate null semantics.
                exprs.append(F.sum(F.when(F.col(col).isNotNull(), d)
                                   .otherwise(F.lit(0))).alias(f"__cnt_{out}"))
        return delta.groupBy(*self.keys).agg(*exprs)

    def _merge_acc(self, state: DataFrame | None, partial: DataFrame) -> DataFrame:
        if state is None:
            merged = partial
        else:
            # union + re-aggregate instead of a key-equality join: SQL
            # groupBy makes NULL a real group, and a full_outer on the
            # keys would never merge the NULL group's state with its
            # partial (NULL != NULL under join equality)
            val_cols = [c for c in partial.columns if c not in self.keys]
            merged = (state.unionByName(partial)
                      .groupBy(*self.keys)
                      .agg(*[F.sum(c).alias(c) for c in val_cols]))
        # Keep negative nets in state (out-of-order retractions); the
        # user-visible threshold lives in result().
        return merged.filter(F.col("__net") != 0)

    # -- batch fold ----------------------------------------------------------
    def on_batch(self, delta: DataFrame) -> DataFrame:
        """Fold one explicit-diff update frame; return the maintained
        result DataFrame (keys + output aggregate columns)."""
        touched = delta.select(*self.keys).distinct()

        self._acc = fresh_break(
            self._merge_acc(self._acc, self._acc_partial(delta)))

        # one support per distinct INPUT column — min/max/DISTINCT aggs
        # over the same column share state (halves the per-batch state
        # rewrite)
        hier_cols = {col for (kind, col) in self.aggs.values()
                     if kind in _HIERARCHICAL + _DISTINCT_KINDS}
        for col in hier_cols:
            batch_supp = (
                delta.filter(F.col(col).isNotNull())
                .select(*self.keys, F.col(col).alias("__val"),
                        F.col(DIFF_COL).alias("mult"))
            )
            prev = self._support.get(col)
            if prev is None:
                new_supp = _consolidate(batch_supp, self.keys, "__val")
            else:
                untouched = _ns_probe(prev, touched, self.keys, anti=True)
                touched_prev = _ns_probe(prev, touched, self.keys)
                new_supp = untouched.unionByName(
                    _consolidate(touched_prev.unionByName(batch_supp),
                                 self.keys, "__val"))
            self._support[col] = fresh_break(new_supp)

        return self.result()

    def result(self) -> DataFrame:
        """Current maintained result (keys + aggregate output columns)."""
        if self._acc is None:
            raise RuntimeError("no batches folded yet")
        out = self._acc.filter(F.col("__net") > 0)
        for name, (kind, _col) in self.aggs.items():
            if kind == "sum":
                out = out.withColumn(
                    name, F.when(F.col(f"__cnt_{name}") > 0,
                                 F.col(f"__sum_{name}")))
            elif kind == "count":
                out = out.withColumn(name, F.col(f"__cnt_{name}"))
            elif kind == "avg":
                out = out.withColumn(
                    name, F.when(F.col(f"__cnt_{name}") > 0,
                                 F.col(f"__sum_{name}") / F.col(f"__cnt_{name}")))
            else:
                # min/max/DISTINCT from support (visible values only:
                # mult > 0; support is already one row per distinct
                # (group, value), so COUNT/SUM over it ARE the
                # DISTINCT aggregates)
                agg = {"min": F.min, "max": F.max,
                       "count_distinct": F.count,
                       "sum_distinct": F.sum,
                       "avg_distinct": F.avg}[kind]("__val")
                mm = (self._support[_col].filter(F.col("mult") > 0)
                      .groupBy(*self.keys).agg(agg.alias(name)))
                out = _ns_attach(out, mm, self.keys, [name])
                if kind == "count_distinct":
                    # COUNT(DISTINCT) of a group whose values are all
                    # NULL (or gone) is 0, not NULL
                    out = out.withColumn(
                        name, F.coalesce(F.col(name), F.lit(0))
                        .cast("long"))
        return out.select(*self.keys, *self.aggs.keys())


@dataclass
class RetractionAwareDistinct:
    """SELECT DISTINCT maintained under inserts and deletes.

    The reference plans DISTINCT as a reduce with no aggregates
    (src/compute-types/src/plan/reduce.rs Distinct plan): the state is
    the net multiplicity per distinct row; a row is visible while its
    net is positive. Same arrangement-spine discipline as the other
    retraction operators — per batch only the batch's rows re-derive
    their visibility; untouched rows pass through. The support is
    INPUT-sized (every distinct live row), so it lives on the spillable
    parts-spine (streaming/state_spill.py)."""

    spark: SparkSession
    cols: list[str]
    _state: SpilledPartsState = field(init=False)
    _result: DataFrame | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        self._state = SpilledPartsState(self.cols, measures=("mult",))

    def on_batch(self, delta: DataFrame) -> DataFrame:
        batch_supp = fresh_break(delta.groupBy(*self.cols)
                                 .agg(F.sum(DIFF_COL).alias("mult"))
                                 .filter(F.col("mult") != 0))
        touched = batch_supp.select(*self.cols).distinct()
        self._state.append(batch_supp)
        all_supp = self._state.probe_frame(touched)
        visible = (_ns_probe(all_supp, touched, self.cols)
                   .groupBy(*self.cols).agg(F.sum("mult").alias("mult"))
                   .filter(F.col("mult") > 0).drop("mult"))
        if self._result is None:
            self._result = fresh_break(visible)
        else:
            self._result = fresh_break(
                _ns_probe(self._result, touched, self.cols, anti=True)
                .unionByName(visible))
        return self._result

    def result(self) -> DataFrame:
        if self._result is None:
            raise RuntimeError("no batches folded yet")
        return self._result


@dataclass
class RetractionAwareSetOp:
    """EXCEPT [ALL] / INTERSECT [ALL] maintained under inserts and deletes.

    The reference compiles SQL set operations into compositions of its
    multiplicity operators — ``A EXCEPT ALL B`` is
    ``Threshold(Union(A, Negate(B)))``, INTERSECT derives similarly, and
    the DISTINCT variants stack a Distinct reduce on top
    (src/sql/src/plan/query.rs plan_set_expr; Negate/Threshold exist
    exactly for this, src/expr/src/relation.rs:278-288). Rather than
    materializing the intermediate negated unions, this operator keeps
    ONE compacted support ``(row, side) -> net multiplicity`` and derives
    the visible multiplicity arithmetically from the per-side clamped
    nets:

    - ``EXCEPT ALL``:        max(m0 - m1 - … - mn, 0)
    - ``EXCEPT`` (distinct): 1 iff m0 > 0 and every other side is 0
    - ``INTERSECT ALL``:     min(m0, …, mn)
    - ``INTERSECT``:         1 iff every side is > 0

    (Left-associative uniform chains fold into these closed forms because
    the clamped nets are non-negative.) Same arrangement-spine discipline
    as the other retraction operators: the batch appends as a part
    (O(delta) write), only the batch's rows re-derive their visibility
    via a semi-probe, untouched rows pass through — never a full-state
    rewrite."""

    spark: SparkSession
    cols: list[str]
    op: str                 # except | intersect
    all: bool
    nsides: int = 2
    _state: SpilledPartsState = field(init=False)
    _result: DataFrame | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        if self.op not in ("except", "intersect"):
            raise ValueError(f"unsupported set op {self.op!r}")
        self._state = SpilledPartsState(self.cols, measures=("mult",))

    def _vis(self) -> "F.Column":
        """Visible multiplicity from per-side clamped nets __m0..__mN."""
        sides = [F.greatest(F.coalesce(F.col(f"__m{i}"), F.lit(0)),
                            F.lit(0)) for i in range(self.nsides)]
        if self.op == "except":
            net = sides[0]
            for s in sides[1:]:
                net = net - s
            vis = F.greatest(net, F.lit(0))
            if not self.all:
                others_zero = F.lit(True)
                for s in sides[1:]:
                    others_zero = others_zero & (s == 0)
                vis = F.when((sides[0] > 0) & others_zero,
                             F.lit(1)).otherwise(F.lit(0))
        else:  # intersect
            vis = F.least(*sides) if len(sides) > 1 else sides[0]
            if not self.all:
                all_pos = F.lit(True)
                for s in sides:
                    all_pos = all_pos & (s > 0)
                vis = F.when(all_pos, F.lit(1)).otherwise(F.lit(0))
        return vis

    def on_batch(self, delta: DataFrame) -> DataFrame:
        """Fold one explicit-diff frame carrying a ``__side`` column
        (which input the update belongs to) and return the maintained
        result (rows expanded to their visible multiplicity)."""
        batch_supp = fresh_break(delta.groupBy(*self.cols, "__side")
                                 .agg(F.sum(DIFF_COL).alias("mult"))
                                 .filter(F.col("mult") != 0))
        touched = delta.select(*self.cols).distinct()
        self._state.append(batch_supp)
        all_supp = self._state.probe_frame(touched)
        pivoted = (
            _ns_probe(all_supp, touched, self.cols)
            .groupBy(*self.cols)
            .agg(*[F.sum(F.when(F.col("__side") == i, F.col("mult")))
                   .alias(f"__m{i}") for i in range(self.nsides)]))
        visible = (
            pivoted.withColumn("__vis", self._vis())
            .filter(F.col("__vis") > 0)
            .withColumn("__i", F.explode(
                F.sequence(F.lit(1), F.col("__vis"))))
            .select(*self.cols))
        if self._result is None:
            self._result = fresh_break(visible)
        else:
            self._result = fresh_break(
                _ns_probe(self._result, touched, self.cols, anti=True)
                .unionByName(visible))
        return self._result

    def result(self) -> DataFrame:
        if self._result is None:
            raise RuntimeError("no batches folded yet")
        return self._result


@dataclass
class RetractionAwareTopK:
    """Per-group TopK maintained under inserts and deletes.

    The reference's non-monotonic TopK plan ("Basic", a stacked bucketed
    reduction — src/compute-types/src/plan/top_k.rs:28-120) exists because a
    deleted row may have been in the top k, pulling previously-evicted rows
    back in. Keeping the full compacted support (payload -> multiplicity)
    per group gives the same guarantee; per batch only touched groups replay
    the window.

    ``rank_col`` names the rank column when the view projects it (``SELECT
    k, v, rn FROM (... ROW_NUMBER() ... AS rn) WHERE rn <= 3``): each result
    row then carries its ROW_NUMBER/RANK/DENSE_RANK value under that name.
    """

    spark: SparkSession
    keys: list[str]
    order_col: str
    limit: int
    descending: bool = True
    # multi-column ORDER BY (the TPC-H q3/q18 tails: revenue DESC,
    # o_orderdate): when set, overrides (order_col, descending)
    order_by: "list[tuple[str, bool]] | None" = None
    # ranking semantics of the <= k filter: row_number (exactly k rows
    # per group), rank (ties share a rank — <= k may keep more), or
    # dense_rank (the rows of the k best distinct order values); the
    # reference's TopK covers the same family
    # (src/compute-types/src/plan/top_k.rs)
    mode: str = "row_number"
    # output name of the rank value; None drops it
    rank_col: str | None = None
    # the compacted support (payload -> multiplicity) is input-sized:
    # the spillable parts-spine bounds executor memory and prunes
    # probes to the batch's key prefixes (streaming/state_spill.py)
    _state: SpilledPartsState = field(init=False)
    _result: DataFrame | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        self._state = SpilledPartsState(self.keys, measures=("mult",))

    def _topk_of(self, supp: DataFrame) -> DataFrame:
        """Top ``limit`` rows per group of a net-multiplicity support
        (duplicates counted; negative nets invisible until matched)."""
        from pyspark.sql import Window

        spec = self.order_by or [(self.order_col,
                                  self.descending)]
        orders = [F.col(c).desc() if d else F.col(c).asc()
                  for c, d in spec]
        expanded = supp.filter(F.col("mult") > 0).withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.col("mult"))))
        if self.mode == "row_number":
            # __i tie-break keeps duplicate rows deterministic
            w = Window.partitionBy(*self.keys).orderBy(*orders, "__i")
            rn = F.row_number()
        else:
            # rank/dense_rank tie ONLY on the order value — duplicates
            # (and the __i copies of one row) share a rank, so <= k
            # keeps whole tie groups
            w = Window.partitionBy(*self.keys).orderBy(*orders)
            rn = F.rank() if self.mode == "rank" else F.dense_rank()
        out = (expanded.withColumn("__rn", rn.over(w))
               .filter(F.col("__rn") <= self.limit)
               .drop("mult", "__i"))
        if self.rank_col is None:
            return out.drop("__rn")
        return out.withColumnRenamed("__rn", self.rank_col)

    def on_batch(self, delta: DataFrame) -> DataFrame:
        """Arrangement-spine discipline: the batch's consolidated rows
        append as a PART (an O(delta) write); the touched groups' net
        support comes from a semi-join probe over the spine (a scan,
        never a full-state rewrite), and only those groups' windows
        replay into the small RESULT table. The first batch (no result
        yet, so an empty spine) IS the whole support: it forms the
        result directly, with no probe and no regroup."""
        data_cols = [c for c in delta.columns if c != DIFF_COL]
        batch_supp = fresh_break(delta.groupBy(*data_cols)
                                 .agg(F.sum(DIFF_COL).alias("mult"))
                                 .filter(F.col("mult") != 0))
        self._state.append(batch_supp)
        if self._result is None:
            self._result = fresh_break(self._topk_of(batch_supp))
            return self._result
        touched = delta.select(*self.keys).distinct()
        all_supp = self._state.probe_frame(touched)
        touched_net = (_ns_probe(all_supp, touched, self.keys)
                       .groupBy(*data_cols)
                       .agg(F.sum("mult").alias("mult")))
        self._result = fresh_break(
            _ns_probe(self._result, touched, self.keys, anti=True)
            .unionByName(self._topk_of(touched_net)))
        return self._result

    def result(self) -> DataFrame:
        """Current maintained top-k per group."""
        if self._result is None:
            raise RuntimeError("no batches folded yet")
        return self._result
