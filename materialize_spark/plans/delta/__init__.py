"""Typed delta views: one object per maintained view, replacing a spec
dict read through string keys.

Most views are a *front* (fronts.py) that turns a base-relation delta
into an operator's input delta, stacked under one *terminal*
(terminals.py) that maintains the operator and says how to publish its
change — the way the reference's render layer stacks a typed
per-operator plan (``ReducePlan``, ``TopKPlan``, ``JoinPlan``;
src/compute-types/src/plan/) over any input. The shapes whose operator
and input are one piece (WITH MUTUALLY RECURSIVE, temporal filters,
window functions) are self-contained views (shapes.py).

A view exposes ``inputs`` (the relations it reads), ``form()`` (its
first state, from the base relations), ``feed(rel, delta)`` (the change
a commit to ``rel`` makes, or None) and ``explain(rel)`` (its EXPLAIN
MAINTENANCE lines; ``rel`` renders an input relation).
"""

from materialize_spark.plans.delta.fronts import (
    Branch, JoinFront, SetOpFront, SingleFront, Stage, UnionFront,
)
from materialize_spark.plans.delta.shapes import (
    TemporalView, WindowAggView, WindowOrderView, WinSet, WmrView,
)
from materialize_spark.plans.delta.terminals import (
    Distinct, Reduce, SetOp, Spine, Threshold, TopK,
)
from materialize_spark.plans.delta.view import Change, DeltaView

__all__ = [
    "Branch", "Change", "DeltaView", "Distinct", "JoinFront", "Reduce",
    "SetOp", "SetOpFront", "SingleFront", "Spine", "Stage",
    "TemporalView", "Threshold", "TopK", "UnionFront", "WindowAggView",
    "WindowOrderView", "WinSet", "WmrView",
]
