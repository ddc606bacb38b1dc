"""Fronts: turn a base-relation delta into a terminal's input delta.

A front knows the relations it reads (``inputs``), builds the
terminal's first input from their current rows (``form()``), maps one
relation's delta (``feed(rel, delta)``; None when nothing reaches the
terminal) and renders its EXPLAIN MAINTENANCE lines. ``base(rel)``
returns a relation's current rows: a table, or an upstream delta
view's maintained result. Every delta carries a ``diff`` column.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import functions as F

from materialize_spark.plans.delta.terminals import Reduce
from materialize_spark.plans.dialect import rewrite


def _filter(df, where):
    return df.filter(f"coalesce(({rewrite(where)}), false)")


def _union(frames):
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _snapshot(base, rel):
    """A relation's current rows as its first +1 batch."""
    return base(rel).withColumn("diff", F.lit(1))


class SingleFront:
    """Map/Filter/Project over one relation: nested stateless subquery
    ``layers`` (innermost first, each a (filter, select list) pair whose
    filter is already rewritten), a ``pre`` select list and the view's
    ``where`` — fused per delta the way the reference's mfp fusion folds
    them into the surrounding operator."""

    style = "single"

    def __init__(self, table, base, *, where=None, layers=(), pre=None):
        self.table = table
        self.inputs = (table,)
        self.base = base
        self.where = where
        self.layers = layers
        self.pre = pre

    def form(self):
        return self.feed(self.table, _snapshot(self.base, self.table))

    def feed(self, rel, delta):
        for lw, lsel in self.layers:
            if lw:
                delta = delta.filter(f"coalesce(({lw}), false)")
            if lsel:
                delta = delta.selectExpr(*lsel, "diff")
        if self.pre:
            delta = delta.selectExpr(*self.pre, "diff")
        if self.where:
            delta = _filter(delta, self.where)
        return delta

    def explain(self, rel, terminal) -> list[str]:
        lines = []
        if isinstance(terminal, Reduce):
            lines += ["  MapFilterProject (subquery layer)"
                      + (f" [filter: {lw}]" if lw else "")
                      for lw, _sel in self.layers]
        if self.where:
            lines.append(f"  Filter [{self.where}]")
        return lines + [f"  {rel(self.table)}"]


class Branch(NamedTuple):
    """One stateless set-op branch: a select list and an optional
    (rewritten) filter over one relation."""

    table: str
    select: list[str]
    where: str | None

    def apply(self, delta):
        if self.where:
            delta = delta.filter(self.where)
        return delta.selectExpr(*self.select, "diff")


def _branch_lines(rel, branches) -> list[str]:
    lines = []
    for b in branches:
        lines.append("  MapFilterProject"
                     + (f" [filter: {b.where}]" if b.where else ""))
        lines.append(f"    {rel(b.table)}")
    return lines


class UnionFront:
    """UNION ALL of stateless branches: Union is linear in diff algebra,
    so a commit's delta is the diff-sum of the branches that read its
    relation (reference MirRelationExpr::Union; render.rs concatenates
    the input streams). ``where`` filters the sum (a reduce over a
    UNION ALL subquery)."""

    style = "union"

    def __init__(self, branches, base, where=None):
        self.branches = branches
        self.inputs = tuple({b.table for b in branches})
        self.base = base
        self.where = where

    def _sum(self, frames):
        out = _union(frames)
        return _filter(out, self.where) if self.where else out

    def form(self):
        return self._sum([b.apply(_snapshot(self.base, b.table))
                          for b in self.branches])

    def feed(self, rel, delta):
        frames = [b.apply(delta) for b in self.branches if b.table == rel]
        return self._sum(frames) if frames else None

    def explain(self, rel, terminal) -> list[str]:
        return (["Union (diff-sum, linear)"]
                + _branch_lines(rel, self.branches))


class SetOpFront:
    """EXCEPT/INTERSECT sides: each branch's rows tagged with its side
    (``__side``) for the per-side multiplicity state."""

    style = "setop"

    def __init__(self, branches, base):
        self.branches = branches
        self.inputs = tuple({b.table for b in branches})
        self.base = base

    def _tagged(self, pairs):
        frames = [b.apply(delta).withColumn("__side", F.lit(i))
                  for i, b, delta in pairs]
        return _union(frames) if frames else None

    def form(self):
        return self._tagged([(i, b, _snapshot(self.base, b.table))
                             for i, b in enumerate(self.branches)])

    def feed(self, rel, delta):
        return self._tagged([(i, b, delta)
                             for i, b in enumerate(self.branches)
                             if b.table == rel])

    def explain(self, rel, terminal) -> list[str]:
        return _branch_lines(rel, self.branches)


class Stage(NamedTuple):
    """One maintained [NOT] EXISTS / [NOT] IN / scalar-comparison
    filter over the chain's diff stream, shown in EXPLAIN as ``label``.
    ``op`` keeps support keyed by the correlation; its inner relation's
    deltas project to ``prep_select`` (inner col, outer col) pairs
    after ``prep_where``, plus ``prep_arg`` as ``__arg`` for aggregate
    comparisons. A ``whole`` stage (a global scalar comparison) reads
    its internal scalar view's whole one-row result instead — the
    value is total state."""

    op: object
    table: str
    label: str
    prep_where: str | None = None
    prep_select: list = []
    prep_arg: str | None = None
    whole: bool = False

    def inner(self, delta, base):
        if self.whole:
            return base(self.table)
        if self.prep_where:
            delta = _filter(delta, self.prep_where)
        sel = [f"{ic} AS {oc}" for ic, oc in self.prep_select]
        if self.prep_arg:
            sel.append(f"({rewrite(self.prep_arg)}) AS __arg")
        return delta.selectExpr(*sel, "diff")

    def explain(self, rel) -> list[str]:
        member = getattr(self.op, "member", None)
        extra = f" exclude-member={member}" if member else ""
        return [f"{self.label} keys={getattr(self.op, 'keys', [])}{extra} "
                "(support counts, flip retractions)",
                f"  {rel(self.table)} (inner)"
                + (f" [filter: {self.prep_where}]"
                   if self.prep_where else "")]


class JoinFront:
    """A left-deep equi-join chain maintained by the bilinear delta
    rule dA*B + A*dB + dA*dB (reference linear_join.rs), one view per
    link; a chain without links passes its one relation through.
    ``links[i]`` pairs the accumulated side's key names with
    ``tables[i + 1]``'s, ``kinds[i]`` is inner, left or full,
    ``rextras[i]`` an inner link's residual ON conjunct or an outer
    link's pushed-down ("right", filter), ``jrenames[i]`` the column
    renames of a self-joined occurrence. ``renames`` then rename the
    output, ``where`` filters it, and ``stages`` (the decorrelated
    semi/anti filters) run over it in order — each stage also folds the
    deltas of its own inner relation."""

    style = "chain"

    def __init__(self, tables, links, kinds, rextras, jrenames, base, *,
                 renames=None, where=None, stages=()):
        self.tables = tables
        self.links = links
        self.kinds = kinds
        self.rextras = rextras or ()
        self.jrenames = jrenames or ()
        self.base = base
        self.renames = renames or {}
        self.where = where
        self.stages = stages
        self.inputs = tuple(dict.fromkeys(
            [*tables, *(st.table for st in stages)]))
        self.chain = self._build_chain() if links else []

    def _build_chain(self) -> list:
        """One maintained-join view per link: inner links use the
        bilinear IncrementalJoinView; LEFT/FULL links use
        IncrementalOuterJoinView (the reference lowers outer joins to
        inner + null-padded anti parts, src/sql/src/plan/lowering.rs —
        the delta rule follows that decomposition)."""
        from materialize_spark.streaming.ivm_join import (
            IncrementalJoinView, IncrementalOuterJoinView,
        )

        types: dict[str, str] = {}
        for i, t in enumerate(self.tables):
            ren = (self.jrenames[i - 1] or {}) \
                if self.jrenames and i > 0 else {}
            for f in self.base(t).schema.fields:
                types.setdefault(ren.get(f.name, f.name),
                                 f.dataType.simpleString())
        chain = []
        acc = list(self.base(self.tables[0]).columns)
        for i, pairs in enumerate(self.links):
            right = self.base(self.tables[i + 1])
            ren = (self.jrenames[i] or {}) if self.jrenames else {}
            right_cols = [ren.get(c, c) for c in right.columns]
            kind = self.kinds[i]
            on = [onl for onl, _r in pairs]
            onrs = {onr for _l, onr in pairs}
            # outer ON semantics: when a key pair's names differ, the
            # right key survives as a payload column (NULL on
            # unmatched-left rows); its joining copy onl is padded NULL
            # on unmatched-right rows
            kept = ({onr for onl, onr in pairs if onr != onl}
                    if kind != "inner" else set())
            rcols = [c for c in right_cols
                     if c not in onrs or c in kept]
            if kind == "inner":
                extra = self.rextras[i] if self.rextras else None
                chain.append(IncrementalJoinView(
                    on=on, extra=rewrite(extra) if extra else None))
            else:
                # same-name keys (USING-style) coalesce: the key column
                # keeps the right side's value on unmatched-right rows
                # and is never padded; distinct names NULL the left key
                same = {onl for onl, onr in pairs if onr == onl}
                chain.append(IncrementalOuterJoinView(
                    on=on,
                    pad_right=[(c, types[c]) for c in rcols],
                    how=kind,
                    pad_left=[(c, types[c]) for c in acc
                              if c not in same]))
            acc += rcols
        return chain

    def _align(self, i, delta):
        """Align a right-side delta to link i's join columns: inner (or
        same-name) key pairs rename the right key to the accumulated
        side's name; outer ON pairs with distinct names COPY it instead
        — the original right key survives as a payload column
        (NULL-padded on unmatched-left rows, ON semantics). Pushed-down
        right-input pre-filters (an outer link's right-only residual ON
        conjunct) apply here — every right delta and snapshot enters
        through this alignment."""
        if i < len(self.jrenames) and self.jrenames[i]:
            # self-join occurrence: the right delta reads through its
            # occurrence names
            for orig, renamed in self.jrenames[i].items():
                delta = delta.withColumnRenamed(orig, renamed)
        if i < len(self.rextras) and isinstance(self.rextras[i], tuple) \
                and self.rextras[i][0] == "right":
            delta = _filter(delta, self.rextras[i][1])
        for onl, onr in self.links[i]:
            if onr == onl:
                continue
            if self.kinds[i] == "inner":
                delta = delta.withColumnRenamed(onr, onl)
            else:
                delta = delta.withColumn(onl, F.col(onr))
        return delta

    def _fold(self, rel, delta):
        """Fold one relation's diffs through the chain: the relation's
        link consumes the delta, and each downstream link receives the
        previous link's output delta as its left input. A SELF-JOINED
        relation plays several positions: its delta folds through each,
        sequentially (position 2 sees position 1's already-updated
        states), and the output deltas sum."""
        if not self.chain:
            return delta
        out_total = None
        for idx, t in enumerate(self.tables):
            if t != rel:
                continue
            if idx == 0:
                out = self.chain[0].on_batch(left_delta=delta)
                rest = self.chain[1:]
            else:
                out = self.chain[idx - 1].on_batch(
                    right_delta=self._align(idx - 1, delta))
                rest = self.chain[idx:]
            for link in rest:
                if out is None:
                    break
                out = link.on_batch(left_delta=out)
            if out is not None:
                out_total = out if out_total is None \
                    else out_total.unionByName(out)
        return out_total

    def _output(self, out):
        if out is None:
            return None
        # plain-column aliases of an inlined subquery rename the chain
        # output FIRST (the filter speaks the renamed columns)
        for orig, new in self.renames.items():
            out = out.withColumnRenamed(orig, new)
        return _filter(out, self.where) if self.where else out

    def form(self):
        """All relation snapshots in ONE pass — with both deltas present,
        each link's dA*dB term produces exactly A join B (and the outer
        links' anti terms the unmatched rows); each stage then folds its
        inner snapshot against the formed outer side."""
        snaps = [_snapshot(self.base, t) for t in self.tables]
        out = snaps[0]
        for i, link in enumerate(self.chain):
            out = link.on_batch(left_delta=out,
                                right_delta=self._align(i, snaps[i + 1]))
            if out is None:
                break
        out = self._output(out)
        for st in self.stages:
            out = st.op.on_batch(
                outer_delta=out,
                inner_delta=st.inner(_snapshot(self.base, st.table),
                                     self.base))
        return out

    def feed(self, rel, delta):
        out = self._output(self._fold(rel, delta)
                           if rel in self.tables else None)
        for st in self.stages:
            ind = st.inner(delta, self.base) if st.table == rel else None
            if out is None and ind is None:
                continue
            out = st.op.on_batch(outer_delta=out, inner_delta=ind)
        return out

    def explain(self, rel, terminal) -> list[str]:
        lines = []
        for st in reversed(self.stages):
            lines += st.explain(rel)
        if self.where:
            lines.append(f"Filter [{self.where}]")
        if not self.chain:
            return lines + [f"{rel(self.tables[0])}"]
        lines.append("DeltaJoin (bilinear: dA*B + A*dB + dA*dB, "
                     "spill-tiered state)")
        lines.append(f"  {rel(self.tables[0])}")
        for i, t in enumerate(self.tables[1:]):
            lines.append(f"  {self.kinds[i].upper()} JOIN {rel(t)} "
                         f"on={self.links[i]}")
        return lines
