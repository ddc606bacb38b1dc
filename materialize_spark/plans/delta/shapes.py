"""Self-contained delta views: shapes whose operator reads its input
relation whole, so they have no separate front."""

from __future__ import annotations

from datetime import datetime
from typing import NamedTuple

from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.plans.delta.fronts import _filter, _union
from materialize_spark.plans.delta.view import Change, DeltaView
from materialize_spark.plans.dialect import rewrite


class WmrView(DeltaView):
    """WITH MUTUALLY RECURSIVE, always fresh by re-running the LetRec
    fixpoint per commit: ``fixpoint(seed)`` returns (binding values,
    result). Monotone bindings under an insert-only commit warm-start
    from the previous binding values (the old fixpoint sits below the
    new least fixpoint); ``seminaive`` bindings also iterate over
    frontiers only. Other commits re-run from empty — always correct."""

    def __init__(self, wmr, tables, fixpoint, *, monotone, seminaive):
        self.wmr = wmr
        self.inputs = tables
        self.fixpoint = fixpoint
        self.monotone = monotone
        self.seminaive = seminaive
        self.bind_state = None

    def _run(self, seed) -> Change:
        self.bind_state, out = self.fixpoint(seed)
        return Change(fresh_break(out))

    def form(self) -> Change:
        return self._run(None)

    def feed(self, rel, delta) -> Change:
        seed = None
        if self.monotone and self.bind_state is not None \
                and delta.filter(F.col("diff") < 0).isEmpty():
            seed = self.bind_state
        return self._run(seed)

    def explain(self, rel) -> list[str]:
        mode = ("warm-start fixpoint (monotone, insert-only)"
                if self.monotone else "cold fixpoint per commit")
        return ([f"LetRec bindings={[b[0] for b in self.wmr.bindings]} "
                 f"[{mode}]"]
                + [f"  {rel(t)}" for t in self.inputs])


def _vis_sql(bounds, t) -> str:
    """Visibility predicate of a row at logical time ``t`` (SQL text):
    AND over the mz_now() bound conjuncts with the clock replaced by a
    timestamp literal."""
    lit = "TIMESTAMP '" + t.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    parts = [f"({lit} {op} ({rewrite(e)}))" for op, e in bounds]
    return "coalesce(" + " AND ".join(parts) + ", false)"


class TemporalView(DeltaView):
    """Temporal filter over one table: WHERE conjuncts comparing
    ``mz_now()`` with row expressions are validity ``bounds``; rows
    appear and retract as the logical clock passes them
    (:meth:`advance`), with no commit. ``static`` is the rest of the
    WHERE, ``out_exprs`` the projection (naming ``out_cols``). With a
    ``reduce`` terminal the ± rows feed a sliding-window aggregate."""

    def __init__(self, table, base, *, static, bounds, out_exprs,
                 out_cols, reduce=None):
        self.table = table
        self.inputs = (table,)
        self.base = base
        self.static = static
        self.bounds = bounds
        self.out_exprs = out_exprs
        self.out_cols = out_cols
        self.terminal = reduce
        self.last_tick = datetime.now()

    def _tick_to(self, now):
        t0 = self.last_tick
        self.last_tick = now if now is not None \
            else max(datetime.now(), t0)
        base = self.base(self.table)
        if self.static:
            base = _filter(base, self.static)
        return t0, self.last_tick, base

    def form(self) -> Change:
        _t0, t1, base = self._tick_to(None)
        first = base.filter(_vis_sql(self.bounds, t1)) \
            .selectExpr(*self.out_exprs)
        if self.terminal is not None:
            return self.terminal.feed(first.withColumn("diff", F.lit(1)))
        return Change(fresh_break(first))

    def feed(self, rel, delta) -> Change | None:
        return self.advance(delta)

    def advance(self, delta, now=None) -> Change | None:
        """Move from the last logical time T0 to ``now`` (T1) and fold
        an optional commit delta evaluated at the same instant. The
        published diff is

            base⋅[vis(T1) ∧ ¬vis(T0)]  −  base⋅[vis(T0) ∧ ¬vis(T1)]
            +  Δ⋅vis(T0)

        which equals (post-commit rows visible at T1) − (pre-commit rows
        visible at T0). Per tick the work is one vectorized filter scan
        of the base (no shuffle, no state)."""
        t0, t1, base = self._tick_to(now)
        if self.static and delta is not None:
            delta = _filter(delta, self.static)
        vis0 = _vis_sql(self.bounds, t0)
        vis1 = _vis_sql(self.bounds, t1)
        terms = []
        if t1 != t0:
            terms.append(base.filter(f"({vis1}) AND NOT ({vis0})")
                         .selectExpr(*self.out_exprs)
                         .withColumn("diff", F.lit(1)))
            terms.append(base.filter(f"({vis0}) AND NOT ({vis1})")
                         .selectExpr(*self.out_exprs)
                         .withColumn("diff", F.lit(-1)))
        if delta is not None:
            terms.append(delta.filter(vis0)
                         .selectExpr(*self.out_exprs, "diff"))
        if not terms:
            return None
        out = _union(terms)
        if self.terminal is not None:
            # sliding-window reduce: the ± diffs fold into the
            # maintained aggregate, touched groups only
            return self.terminal.feed(
                fresh_break(out.select(*self.out_cols, "diff")))
        out_delta = (out.groupBy(*self.out_cols)
                     .agg(F.sum("diff").alias("diff"))
                     .filter(F.col("diff") != 0))
        result = fresh_break(base.filter(vis1)
                             .selectExpr(*self.out_exprs))
        return Change(result, out_delta=out_delta)

    def explain(self, rel) -> list[str]:
        lines = [f"TemporalFilter bounds={self.bounds} "
                 "(rows appear/retract as tick_time passes the bounds)"]
        if self.static:
            lines.append(f"  Filter [{self.static}]")
        return lines + [f"  {rel(self.table)}"]


class WinSet(NamedTuple):
    """One partition key set of a WindowAggView: its ``keys`` (empty
    for the global OVER () total), its window aggregates ``wins``
    (alias -> (kind, input column)) and the RetractionAwareAgg ``agg``
    maintaining them."""

    keys: list
    wins: dict
    agg: object


class WindowAggView(DeltaView):
    """Frameless window aggregates over one table, ``AGG(x) OVER
    (PARTITION BY k)``: one maintained WinSet per distinct partition
    key set in ``sets`` (``results`` holds each set's aggregate frame
    from the last commit, in the same order), and a commit re-derives
    ONLY its touched partitions' rows from the current table (a global
    set refreshes every row — its output genuinely changes table-wide).
    ``plains`` are the passthrough columns."""

    def __init__(self, table, base, *, where, plains, out_cols, exprs,
                 sets):
        self.table = table
        self.inputs = (table,)
        self.base = base
        self.where = where
        self.plains = plains
        self.out_cols = out_cols
        self.exprs = exprs
        self.sets = sets
        self.results = []
        self.result = None

    def form(self) -> Change:
        return self.feed(self.table, self.base(self.table)
                         .withColumn("diff", F.lit(1)))

    def _attach(self, rows):
        from materialize_spark.streaming.retraction import _ns_attach
        for st, res in zip(self.sets, self.results):
            if st.keys:
                rows = _ns_attach(rows, res, st.keys, list(st.wins))
            else:  # global total: one-row broadcast cross join
                rows = rows.crossJoin(
                    F.broadcast(res.drop("__g").select(*st.wins)))
        return rows

    def feed(self, rel, delta) -> Change:
        from materialize_spark.streaming.retraction import _ns_probe

        if self.where:
            delta = _filter(delta, self.where)
        for internal, src in self.exprs.items():
            delta = delta.withColumn(internal, F.expr(rewrite(src)))
        has_global = any(not st.keys for st in self.sets)
        touched_by_set, self.results = [], []
        for st in self.sets:
            in_cols = {c for _k, c in st.wins.values()}
            d = delta
            if "__one" in in_cols:
                d = d.withColumn("__one", F.lit(1))
            if not st.keys:
                d = d.withColumn("__g", F.lit(0))
            keyed = d.select(*(st.keys or ["__g"]),
                             *sorted(in_cols), "diff")
            self.results.append(st.agg.on_batch(keyed))
            # fresh_break the (tiny) touched-key frames: every per-set
            # probe on BOTH sides of the later result union references
            # them, and live same-source plans would share exprIds
            # (Catalyst relation-dedup 'key not found')
            touched_by_set.append(
                None if not st.keys
                else fresh_break(keyed.select(*st.keys).distinct()))
        base = self.base(self.table)
        if self.where:
            base = _filter(base, self.where)
        old = self.result
        if old is None or has_global:
            # global set (or formation): every row's output may change
            self.result = fresh_break(self._attach(
                base.select(*self.plains)).select(*self.out_cols))
            return Change(self.result)
        # hit part i = rows touched by set i's partitions but not by an
        # earlier set's (disjoint without materializing remainders).
        # Every part probes the SAME checkpointed base/old leaf, so the
        # later unions would share exprIds and trip Catalyst's relation
        # dedup ('key not found') — fresh_break each part; all of them
        # are touched-rows-sized, so the per-commit materialization
        # stays O(touched), never O(table). The untouched remainder
        # stays ONE live plan (used exactly once, in the result union).
        base_proj = base.select(*self.plains)
        hit_parts, old_hits = [], []
        remaining_old = old
        for i, (st, touched) in enumerate(zip(self.sets,
                                              touched_by_set)):
            hit = _ns_probe(base_proj, touched, st.keys)
            oh = _ns_probe(old, touched, st.keys)
            for j in range(i):
                pj, tj = self.sets[j], touched_by_set[j]
                hit = _ns_probe(hit, tj, pj.keys, anti=True)
                oh = _ns_probe(oh, tj, pj.keys, anti=True)
            hit_parts.append(fresh_break(hit))
            old_hits.append(fresh_break(oh))
            remaining_old = _ns_probe(remaining_old, touched,
                                      st.keys, anti=True)
        # deliberately LIVE (not fresh_break'd): a bare checkpoint leaf
        # under a later checkpointed union trips Spark's LogicalRDD
        # constraint rewrite ('key not found' on an interior exprId);
        # the plan stays small — hit parts are checkpoint leaves
        new_rows = self._attach(_union(hit_parts)).select(*self.out_cols)
        old_touched = _union(old_hits)
        out_delta = (new_rows.exceptAll(old_touched)
                     .groupBy(*self.out_cols)
                     .agg(F.count("*").cast("long").alias("diff"))
                     .unionByName(
                         old_touched.exceptAll(new_rows)
                         .groupBy(*self.out_cols)
                         .agg((-F.count("*").cast("long"))
                              .alias("diff")))
                     .groupBy(*self.out_cols)
                     .agg(F.sum("diff").alias("diff"))
                     .filter(F.col("diff") != 0))
        self.result = fresh_break(remaining_old.unionByName(new_rows))
        return Change(self.result, out_delta=out_delta)

    def explain(self, rel) -> list[str]:
        lines = []
        for st in self.sets:
            part = st.keys if st.keys else "[] (global)"
            lines.append(f"WindowAggregate partition={part} "
                         f"aggs={list(st.wins)} "
                         "(Reduce + touched-partition row refresh)")
        if self.where:
            lines.append(f"  Filter [{self.where}]")
        return lines + [f"  {rel(self.table)}"]


class WindowOrderView(DeltaView):
    """Ordered window functions over one table sharing one partition
    key set ``keys``: the reference executes them as whole-group Reduce
    computations, so a commit re-derives ONLY its touched partitions'
    rows from the current table (Spark's native window execution over
    the slice) and untouched partitions pass through."""

    def __init__(self, table, base, *, where, keys, out_exprs, out_cols):
        self.table = table
        self.inputs = (table,)
        self.base = base
        self.where = where
        self.keys = keys
        self.out_exprs = out_exprs
        self.out_cols = out_cols
        self.result = None

    def _base(self):
        base = self.base(self.table)
        return _filter(base, self.where) if self.where else base

    def form(self) -> Change:
        self.result = fresh_break(self._base().selectExpr(
            *self.out_exprs))
        return Change(self.result)

    def feed(self, rel, delta) -> Change:
        from materialize_spark.streaming.retraction import _ns_probe

        if self.where:
            delta = _filter(delta, self.where)
        base = self._base()
        old = self.result
        touched = fresh_break(delta.select(*self.keys).distinct())
        hit = fresh_break(_ns_probe(base, touched, self.keys))
        new_rows = fresh_break(hit.selectExpr(*self.out_exprs))
        old_hits = fresh_break(_ns_probe(old, touched, self.keys))
        remaining_old = _ns_probe(old, touched, self.keys, anti=True)
        out_delta = (new_rows.withColumn("diff", F.lit(1))
                     .unionByName(old_hits.withColumn("diff", F.lit(-1)))
                     .groupBy(*self.out_cols)
                     .agg(F.sum("diff").alias("diff"))
                     .filter(F.col("diff") != 0))
        self.result = fresh_break(remaining_old.unionByName(new_rows))
        return Change(self.result, out_delta=out_delta)

    def explain(self, rel) -> list[str]:
        lines = [f"WindowOrdered partition={self.keys} "
                 f"exprs={self.out_cols} "
                 "(touched-partition recompute via native windows)"]
        if self.where:
            lines.append(f"  Filter [{self.where}]")
        return lines + [f"  {rel(self.table)}"]
