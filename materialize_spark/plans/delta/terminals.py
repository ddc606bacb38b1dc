"""Terminals: the maintained operator at the top of a delta view.

Each terminal takes its front's input delta (``None`` only at
formation, when the front had nothing to fold), folds it into its
operator and returns the view's :class:`Change`. ``empty()`` evaluates
the view body, for the schema of a view that has no state yet.
``explain(style)`` renders the operator's EXPLAIN MAINTENANCE line in
the style of its front: ``single`` (one table), ``union`` or ``chain``
(join chain).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from materialize_spark.operators.setops import expand
from materialize_spark.plans.delta.view import Change
from materialize_spark.plans.dialect import rewrite


def _ordered(result, order):
    """Maintained reduces are keys-first; the view keeps its SELECT-list
    order."""
    if order and list(result.columns) != list(order) \
            and set(result.columns) == set(order):
        return result.select(*order)
    return result


class Reduce:
    """Keyed or keyless aggregate over a RetractionAwareAgg ``op``.
    ``exprs`` computes expression inputs per delta, ``post`` is the
    result-level projection of multi-aggregate heads, ``having`` filters
    the maintained result and ``out_order`` restores the SELECT order.
    A keyless reduce reduces over the constant group ``__g`` and keeps
    SQL's one row on empty input: COUNT reads 0, everything else NULL."""

    def __init__(self, op, empty, *, exprs=None, post=None, having=None,
                 out_order=None, keyless=False):
        self.op = op
        self.empty = empty
        self.exprs = exprs or {}
        self.post = post
        self.having = having
        self.out_order = out_order
        self.keyless = keyless

    def feed(self, inp) -> Change:
        touched = keys = None
        if inp is None:
            result = self.op.result() if self.op._acc is not None \
                else None
        else:
            for internal, src in self.exprs.items():
                # expression aggregate inputs (SUM(a * (1 - b))):
                # computed on the delta before the keyed reduce
                inp = inp.withColumn(internal, F.expr(rewrite(src)))
            in_cols = {c for _k, c in self.op.aggs.values()}
            if "__one" in in_cols:  # COUNT(*): every row weighs 1
                inp = inp.withColumn("__one", F.lit(1))
            if self.keyless:
                inp = inp.withColumn("__g", F.lit(0))
            inp = inp.select(*self.op.keys, *sorted(in_cols), "diff")
            if not self.keyless:
                touched, keys = (inp.select(*self.op.keys).distinct(),
                                 self.op.keys)
            result = self.op.on_batch(inp)
        if result is not None and self.keyless:
            result = result.drop("__g")
            if result.isEmpty():
                # one row on empty input, typed from the maintained
                # result's own schema
                cols = []
                for f in result.schema.fields:
                    kind = self.op.aggs[f.name][0]
                    base = F.lit(0) if kind.startswith("count") \
                        else F.lit(None)
                    cols.append(base.cast(f.dataType).alias(f.name))
                result = self.op.spark.range(1).select(*cols)
        if result is not None and self.post:
            # multi-aggregate expression heads (sum(a)/sum(b) AS x):
            # the result-level projection rebuilds the SELECT list
            result = result.selectExpr(*[rewrite(e) for e in self.post])
        if result is not None and self.having:
            # HAVING = a Filter above the maintained Reduce
            result = result.filter(rewrite(self.having))
        if result is None:
            # nothing folded yet: the body's exact schema, empty — except
            # a keyless aggregate, whose body yields its one row itself
            result = self.empty() if self.keyless \
                else self.empty().limit(0)
        return Change(_ordered(result, self.out_order), touched=touched,
                      keys=keys)

    def explain(self, style: str) -> list[str]:
        having = f" having=[{self.having}]" if self.having else ""
        if style != "single":
            return [f"Reduce keys={self.op.keys} "
                    f"aggs={list(self.op.aggs)}{having}"]
        strategies = {
            out: ("accumulable" if k[0] in ("sum", "count", "avg")
                  else "hierarchical")
            for out, k in self.op.aggs.items()}
        head = ("Reduce keys=[] (global, one-row guarantee)"
                if self.keyless else f"Reduce keys={self.op.keys}")
        return [f"{head} aggs={strategies}{having}"]


class Threshold:
    """The single SUM/COUNT(*) strict-threshold HAVING over one table,
    maintained by ThresholdSemijoinMV ``op`` (HAVING lives inside it).
    ``val`` is the summed column, None for COUNT(*)."""

    def __init__(self, op, val, out_order=None):
        self.op = op
        self.val = val
        self.out_order = out_order

    def feed(self, inp) -> Change:
        if self.val is None:  # COUNT(*): every row weighs 1
            inp = inp.withColumn("__one", F.lit(1))
        inp = inp.select(*self.op.keys, self.val or "__one", "diff")
        touched = inp.select(*self.op.keys).distinct()
        return Change(_ordered(self.op.on_batch(inp), self.out_order),
                      touched=touched, keys=self.op.keys)

    def explain(self, style: str) -> list[str]:
        return [f"{type(self.op).__name__} keys={self.op.keys}"]


class Distinct:
    """SELECT DISTINCT over a RetractionAwareDistinct ``op``: ``cols``
    of the input, published as ``names`` (default: the same)."""

    def __init__(self, op, cols, empty, names=None):
        self.op = op
        self.cols = cols
        self.empty = empty
        self.names = names

    def feed(self, inp) -> Change:
        touched = keys = None
        if inp is None:
            result = self.op.result() if self.op._result is not None \
                else None
        else:
            sel = self.cols if self.names is None else [
                F.col(c).alias(n) for c, n in zip(self.cols, self.names)]
            keyed = inp.select(*sel, "diff")
            keys = self.names or self.cols
            touched = keyed.select(*keys).distinct()
            result = self.op.on_batch(keyed)
        if result is None:
            result = self.empty().limit(0)
        return Change(result, touched=touched, keys=keys)

    def explain(self, style: str) -> list[str]:
        if style == "single":
            return [f"Distinct cols={self.cols} (net-multiplicity state)"]
        return [f"Distinct cols={self.cols}" if style == "union"
                else "Distinct"]


class TopK:
    """Grouped or global TopK over a RetractionAwareTopK ``op``, fed the
    ``icols`` of its input and projected to the view's ``cols``. When
    the projection keeps the group keys the publish diff confines to
    the touched groups (the result replaces whole groups); key-dropping
    projections, the global ``__g`` TopK included, diff the small full
    result."""

    def __init__(self, op, icols, cols, empty):
        self.op = op
        self.icols = icols
        self.cols = cols
        self.empty = empty

    def feed(self, inp) -> Change:
        touched = keys = None
        if inp is None:
            result = (self.op.result().select(*self.cols)
                      if self.op._result is not None else None)
        else:
            keyed = inp.select(*self.icols, "diff")
            if all(k in self.cols for k in self.op.keys):
                touched, keys = (keyed.select(*self.op.keys).distinct(),
                                 list(self.op.keys))
            result = self.op.on_batch(keyed).select(*self.cols)
        if result is None:
            result = self.empty().limit(0)
        return Change(result, touched=touched, keys=keys)

    def explain(self, style: str) -> list[str]:
        op = self.op
        line = (f"TopK mode={op.mode} keys={op.keys} "
                f"order={op.order_col} limit={op.limit}")
        if style == "single":
            line += " (compacted support survives deletes)"
        return [line]


class SetOp:
    """EXCEPT/INTERSECT [ALL] over a RetractionAwareSetOp ``op`` fed
    ``__side``-tagged rows of ``cols``."""

    def __init__(self, op, cols):
        self.op = op
        self.cols = cols

    def feed(self, inp) -> Change:
        touched = inp.select(*self.cols).distinct()
        result = self.op.on_batch(inp.select(*self.cols, "__side", "diff"))
        return Change(result, touched=touched, keys=self.cols)

    def explain(self, style: str) -> list[str]:
        op = self.op
        name = ("ExceptAll" if op.op == "except" and op.all else
                "Except" if op.op == "except" else
                "IntersectAll" if op.all else "Intersect")
        return [f"Threshold[{name}] sides={op.nsides} "
                "(per-side multiplicity state)"]


class Spine:
    """Projection-shaped views (UNION ALL, join projections): the
    front's signed delta is consolidated within the batch, appended to
    the view's parts-spine (streaming/state_spill.py) and published AS
    the diff — O(delta) per commit, never a snapshot diff (reference:
    the MV sink reads its input arrangement's deltas,
    src/compute/src/sink/materialized_view.rs). ``cols`` of the input
    publish as ``names``; without ``cols`` the input passes whole.
    Requires multiset-consistent feeds (a row is never retracted below
    zero), which every engine table commit guarantees."""

    def __init__(self, empty, cols=None, names=None):
        self.empty = empty
        self.cols = cols
        self.names = names or cols
        self.spine = None

    def feed(self, inp) -> Change:
        from materialize_spark.streaming.state_spill import (
            SpilledPartsState,
        )
        out_delta = None
        if inp is not None:
            if self.cols is not None:
                inp = inp.select(*[F.col(c).alias(n) for c, n in
                                   zip(self.cols, self.names)], "diff")
            if self.spine is None:
                self.spine = SpilledPartsState([], measures=("diff",))
            out_delta = self.spine.consolidate(inp)
            self.spine.append(out_delta)
        if self.spine is None:
            result = self.empty().limit(0)
        else:
            result = expand(self.spine.consolidate(
                self.spine.probe_frame(None)).filter(F.col("diff") > 0)
            ).drop("diff")
        return Change(result, out_delta=out_delta)

    def explain(self, style: str) -> list[str]:
        return []
