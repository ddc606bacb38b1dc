"""Delta-maintained semi/anti-join filters — [NOT] EXISTS / [NOT] IN.

The reference decorrelates EXISTS/IN subqueries into semi and anti
joins during SQL lowering (src/sql/src/plan/lowering.rs:10-37, with
SemijoinIdempotence at src/transform/src/semijoin_idempotence.rs) and
then maintains them like any other dataflow: an arrangement of the
inner relation keyed by the correlation key, probed by the outer rows,
with retractions flowing when a key's inner support drains to zero or
first appears.

Spark-first translation. The operator is a *filter stage* on a diff
stream: outer deltas flow through (kept or dropped per the current
inner support), and inner deltas emit ±(current outer rows) for every
key whose qualification FLIPPED. That is the bilinear rule for a
semijoin,

    Δ(O ⋉ I)  =  ΔO ⋉ I_new  +  flip(I_old → I_new) × O_old,

so per-batch cost is O(batch + touched keys' state), never a re-join
of the histories. Both states live on the shared append-only
parts-spine (streaming/state_spill.SpilledPartsState): O(delta)
appends, amortized folds, hash-prefix-pruned probes at scale.

Variants:

- ``exists`` / ``not_exists``: correlated equality — a NULL outer key
  never matches (EXISTS false, NOT EXISTS true — constant, never
  flips; plain `=` joins below implement exactly that).
- the ``member`` exclusion: ``EXISTS (... WHERE i.k = o.k AND
  i.m <> o.m)`` — the TPC-H q21 shape. Support is kept per (key,
  member); a pair qualifies iff the key's total minus its own count is
  positive (an *other* member's row exists). NULL members never
  satisfy ``<>`` (excluded from support; outer NULL members get
  other-count 0).
- ``in`` / ``not_in``: membership with SQL's three-valued semantics —
  inner NULLs poison NOT IN (no row qualifies while the inner side
  holds a NULL), NULL outer values match nothing, and ``x NOT IN
  (empty)`` is TRUE for every x including NULL. Uncorrelated
  (``keys`` empty): the two global terms (inner null count / inner
  total) are scalar frontiers; a zero-crossing re-derives the whole
  outer side (it genuinely flips every row). Correlated (``x [NOT]
  IN (SELECT v FROM i WHERE i.k = o.k)``): the emptiness and
  NULL-poison terms are PER correlation key — the support keeps NULL
  in-values (they never match ``=`` but they poison the key), and a
  key's per-key total/null counts fold out of the same support, so an
  inner commit re-qualifies exactly the touched keys' outer rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break
from materialize_spark.operators.setops import DIFF_COL
from materialize_spark.streaming.state_spill import SpilledPartsState, concat

_KINDS = ("exists", "not_exists", "in", "not_in")


def _q(name: str) -> str:
    """Backtick-quote an identifier for the SQL-string fast paths."""
    return "`" + name.replace("`", "``") + "`"


def _ns_semi(df: DataFrame, keys_df: DataFrame,
             keys: list[str]) -> DataFrame:
    """Null-safe left_semi keyed probe. The join condition is ONE
    parsed expression string — per-commit plan construction is
    roundtrip-bound (guide §4's boundary logic applied to the driver:
    each Column op is a py4j roundtrip; one F.expr parse is one)."""
    cond = F.expr(" AND ".join(
        f"__a.{_q(k)} <=> __b.{_q(k)}" for k in keys))
    return df.alias("__a").join(keys_df.alias("__b"), on=cond,
                                how="left_semi")


@dataclass
class SemiAntiFilterMV:
    """One maintained ``[NOT] EXISTS`` / ``[NOT] IN`` filter stage.

    ``keys``: the outer-side correlation column names (inner deltas
    arrive pre-projected/renamed to these names by the planner).
    ``member``: outer-side column for the ``<>`` exclusion (exists
    kinds only). ``in_col``: outer-side column of the IN expression
    (in kinds only; ``keys`` holds the ``=`` correlations and may be
    empty — the uncorrelated case). ``on_batch(outer_delta,
    inner_delta)`` returns the stage's output delta (outer columns +
    ``diff``) or None.
    """

    spark: SparkSession
    keys: list[str]
    kind: str                      # exists | not_exists | in | not_in
    member: str | None = None
    in_col: str | None = None
    _outer: SpilledPartsState = field(init=False)
    _inner: SpilledPartsState = field(init=False)
    _null_cnt: int = field(default=0, init=False)
    _total: int = field(default=0, init=False)

    def __post_init__(self) -> None:
        if self.kind not in _KINDS:
            raise ValueError(f"unsupported subfilter kind {self.kind!r}")
        if self.kind in ("in", "not_in"):
            if self.member is not None:
                raise ValueError(
                    "member exclusion applies to EXISTS kinds")
            if self.in_col is None:
                raise ValueError("in kinds need an in_col")
        elif self.in_col is not None:
            raise ValueError("in_col applies to IN kinds only")
        self._inner = SpilledPartsState(self._probe_keys(),
                                        measures=("__cnt",))
        self._outer = SpilledPartsState(self._probe_keys(),
                                        measures=(DIFF_COL,))

    # -- state plumbing -----------------------------------------------------
    @property
    def _corr_in(self) -> bool:
        """Correlated [NOT] IN: per-key emptiness/NULL-poison terms."""
        return self.in_col is not None and bool(self.keys)

    def _ikey(self) -> list[str]:
        if self.in_col is not None:
            return self.keys + [self.in_col]
        return self.keys + ([self.member] if self.member else [])

    def _probe_keys(self) -> list[str]:
        """State/prune keys: the correlation keys, or the IN value
        itself for the uncorrelated membership case (touched VALUES
        are the re-qualification unit there)."""
        return self.keys if self.keys else [self.in_col]

    def _counts(self, touched: DataFrame | None) -> DataFrame | None:
        """Current inner support (keys[, member] -> __cnt), confined to
        ``touched`` keys when given (probe prefixes prune first, then a
        semi-join keeps the aggregate O(touched state))."""
        probe = self._inner.probe_frame(touched)
        if probe is None:
            return None
        if touched is not None:
            probe = _ns_semi(probe, touched, self._probe_keys())
        return self._inner.consolidate(probe)

    def _outer_rows(self, touched: DataFrame | None) -> DataFrame | None:
        """Consolidated current outer rows (confined to touched keys
        when given)."""
        probe = self._outer.probe_frame(touched)
        if probe is None:
            return None
        if touched is not None:
            probe = _ns_semi(probe, touched, self._probe_keys())
        return self._outer.consolidate(probe)

    # -- qualification ------------------------------------------------------
    # The _qual* helpers return SQL STRINGS (not Columns): one parsed
    # expression per filter/projection instead of a py4j roundtrip per
    # Column node — the measured cost of these per-commit predicates
    # was plan construction, never evaluation. Semantics are unchanged
    # (coalesce/CASE forms mirror the previous when/otherwise trees,
    # and every branch is pinned by the oracle entries + unit tests).
    def _qual_plain(self, cnt: str, total=None, null_cnt=None) -> str:
        """Boolean SQL over a (possibly NULL) attached count column.
        ``total``/``null_cnt`` override the scalar frontiers (the
        global-flip path evaluates the OLD side under the pre-batch
        scalars; the predicate embeds them at construction time)."""
        total = self._total if total is None else total
        null_cnt = self._null_cnt if null_cnt is None else null_cnt
        n = f"coalesce({_q(cnt)}, 0)"
        if self.kind == "exists":
            return f"({n} > 0)"
        if self.kind == "not_exists":
            return f"({n} <= 0)"
        key = _q(self.in_col)
        if self.kind == "in":
            return f"({key} IS NOT NULL AND {n} > 0)"
        # not_in: inner NULL poisons everything; the empty inner set
        # keeps every row (NULL keys included)
        if total == 0:
            return "true"
        if null_cnt > 0:
            return "false"
        return f"({key} IS NOT NULL AND {n} <= 0)"

    def _qual_corr_in(self, tot: str, nul: str, cnt: str) -> str:
        """Correlated [NOT] IN qualification from the attached per-key
        total / per-key inner-NULL count / per-(key,value) match count.
        SQL three-valued semantics per correlation key: an EMPTY key
        set makes NOT IN true for every outer row of the key (a NULL
        correlation key always has the empty set — ``=`` matches
        nothing); a non-empty set with a NULL outer value or a NULL
        inner value yields UNKNOWN → filtered."""
        t = f"coalesce({_q(tot)}, 0)"
        m = f"coalesce({_q(cnt)}, 0)"
        v = _q(self.in_col)
        if self.kind == "in":
            return f"({v} IS NOT NULL AND {m} > 0)"
        n = f"coalesce({_q(nul)}, 0)"
        return (f"(CASE WHEN {t} = 0 THEN true ELSE "
                f"({v} IS NOT NULL AND {n} = 0 AND {m} <= 0) END)")

    def _qual_member(self, tot: str, cnt: str) -> str:
        """Member-exclusion qualification: does ANOTHER member's inner
        row exist for this key? NULL members satisfy no ``<>``."""
        other = (f"(CASE WHEN {_q(self.member)} IS NULL THEN 0 ELSE "
                 f"coalesce({_q(tot)}, 0) - coalesce({_q(cnt)}, 0) END)")
        op = ">" if self.kind == "exists" else "<="
        return f"({other} {op} 0)"

    def _attach_both(self, rows: DataFrame,
                     both: DataFrame) -> DataFrame:
        """Left-attach the fused old/new support (``__cnt_o``/``__cnt_n``
        and, for the member / correlated-IN variants,
        ``__tot_o``/``__tot_n`` [/``__nul_o``/``__nul_n``]) to outer rows
        in ONE join pass per attachment level — the inner-fold fast
        path. ``both`` is keyed by ``_ikey()``; the member/corr
        variants read it twice (per-key totals + per-pair counts — the
        relation-dedup hazard) so the caller breaks its lineage for
        those kinds only."""
        if self.member or self._corr_in:
            vcol = self.member or self.in_col
            tot_aggs = [F.sum("__cnt_o").alias("__tot_o"),
                        F.sum("__cnt_n").alias("__tot_n")]
            if self._corr_in:
                for sfx in ("_o", "_n"):
                    tot_aggs.append(F.sum(
                        F.when(F.col(vcol).isNull(),
                               F.col(f"__cnt{sfx}"))
                        .otherwise(F.lit(0))).alias(f"__nul{sfx}"))
            tots = both.groupBy(*self.keys).agg(*tot_aggs)
            out = rows.join(tots, on=self.keys, how="left")
            a = out.alias("__a")
            b = (both.filter(f"{_q(vcol)} IS NOT NULL").selectExpr(
                *[_q(k) for k in self.keys],
                f"{_q(vcol)} AS __im",
                "__cnt_o", "__cnt_n").alias("__b"))
            cond = F.expr(" AND ".join(
                [f"__a.{_q(vcol)} = __b.__im"]
                + [f"__a.{_q(k)} = __b.{_q(k)}" for k in self.keys]))
            return a.join(b, on=cond, how="left").selectExpr(
                "__a.*", "__b.__cnt_o", "__b.__cnt_n")
        return rows.join(both, on=self._probe_keys(), how="left")

    def _attach(self, rows: DataFrame, counts: DataFrame | None,
                sfx: str) -> DataFrame:
        """Left-attach ``__cnt{sfx}`` (and ``__tot{sfx}`` for the
        member variant; ``__tot{sfx}``/``__nul{sfx}`` for correlated
        IN) to outer rows. Plain `=` joins throughout: NULL outer keys
        must NOT match any inner group (SQL equality), and the support
        holds no NULL correlation keys. ``counts`` is broken only for
        the member/corr-in variants, which read it twice (per-key
        totals + per-pair counts) — shared LIVE subplans under one
        plan are the relation-dedup hazard; a single read stays
        live."""
        cnt_c, tot_c = f"__cnt{sfx}", f"__tot{sfx}"
        nul_c = f"__nul{sfx}"
        if counts is None:
            extra = [f"CAST(NULL AS BIGINT) AS {cnt_c}"]
            if self.member or self._corr_in:
                extra.append(f"CAST(NULL AS BIGINT) AS {tot_c}")
            if self._corr_in:
                extra.append(f"CAST(NULL AS BIGINT) AS {nul_c}")
            return rows.selectExpr("*", *extra)
        if self.member or self._corr_in:
            # break ONLY for the double-read variants (per-key totals
            # + per-pair counts below read ``counts`` twice in one
            # plan — the relation-dedup hazard); the plain variants'
            # single left join reads it once, live
            counts = fresh_break(counts)
            vcol = self.member or self.in_col
            tot_aggs = [F.sum("__cnt").alias(tot_c)]
            if self._corr_in:
                tot_aggs.append(F.sum(
                    F.when(F.col(vcol).isNull(), F.col("__cnt"))
                    .otherwise(F.lit(0))).alias(nul_c))
            tots = counts.groupBy(*self.keys).agg(*tot_aggs)
            out = rows.join(tots, on=self.keys, how="left")
            a = out.alias("__a")
            b = (counts.filter(f"{_q(vcol)} IS NOT NULL").selectExpr(
                *[_q(k) for k in self.keys],
                f"{_q(vcol)} AS __im",
                f"__cnt AS {cnt_c}").alias("__b"))
            cond = F.expr(" AND ".join(
                [f"__a.{_q(vcol)} = __b.__im"]
                + [f"__a.{_q(k)} = __b.{_q(k)}" for k in self.keys]))
            return a.join(b, on=cond, how="left").selectExpr(
                "__a.*", f"__b.{cnt_c}")
        return rows.join(counts.withColumnRenamed("__cnt", cnt_c),
                         on=self._probe_keys(), how="left")

    def _qual(self, sfx: str, total=None, null_cnt=None) -> str:
        cnt = f"__cnt{sfx}"
        if self.member:
            return self._qual_member(f"__tot{sfx}", cnt)
        if self._corr_in:
            return self._qual_corr_in(f"__tot{sfx}", f"__nul{sfx}", cnt)
        return self._qual_plain(cnt, total, null_cnt)

    def _qualify(self, rows: DataFrame,
                 counts: DataFrame | None) -> DataFrame:
        """Filter outer rows to the qualifying ones under ``counts``.
        The filtered frame is broken WITH its attached count columns
        and projected afterwards: checkpointing a plan that filters on
        subsequently-dropped columns leaves the captured LogicalRDD
        constraints referencing out-of-scope attributes ('key not
        found' on any later re-plan)."""
        att = self._attach(rows, counts, "")
        kept = fresh_break(att.filter(self._qual("")))
        return kept.select(*rows.columns)

    # -- batch fold ----------------------------------------------------------
    def on_batch(self, outer_delta: DataFrame | None = None,
                 inner_delta: DataFrame | None = None
                 ) -> DataFrame | None:
        """Fold one commit's deltas (either side or both); returns the
        stage's output delta or None. Inner deltas arrive pre-projected
        to (keys..[, member], diff). The inner side folds FIRST against
        the pre-batch outer state, then the outer delta qualifies
        against the post-batch inner support — the bilinear order."""
        terms: list[DataFrame] = []
        if inner_delta is not None:
            terms += self._fold_inner(inner_delta)
        if outer_delta is not None:
            od = fresh_break(outer_delta)
            new_counts = self._counts(
                od.select(*self._probe_keys()).distinct())
            terms.append(self._qualify(od, new_counts))
            self._outer.append(od)
        # each term is a live projection over its OWN fresh checkpoint
        # leaf (see _qualify/_fold_inner), so the union's branches are
        # attribute-disjoint — no relation-dedup hazard, no extra ckpt
        return concat(terms)

    def _fold_inner(self, inner_delta: DataFrame) -> list[DataFrame]:
        batch_t = batch_n = 0
        global_flip = False
        if self.in_col is not None and not self._corr_in:
            # uncorrelated [NOT] IN: emptiness / NULL-poison are the
            # global scalar frontiers (correlated keeps them per key,
            # folded from the support itself)
            row = inner_delta.agg(
                F.sum(DIFF_COL).alias("t"),
                F.sum(F.when(F.col(self.in_col).isNull(),
                             F.col(DIFF_COL)).otherwise(F.lit(0)))
                .alias("n")).collect()[0]
            batch_t, batch_n = int(row.t or 0), int(row.n or 0)
            old_flags = (self._total == 0, self._null_cnt > 0)
            self._total += batch_t
            self._null_cnt += batch_n
            global_flip = self.kind == "not_in" \
                and old_flags != (self._total == 0, self._null_cnt > 0)
        # NULL correlation keys / NULL members never satisfy `=` /
        # `<>`: exclude from support entirely. Correlated IN keeps
        # NULL in-values (they poison the key, tracked per key);
        # uncorrelated IN tracks them in the global scalars instead.
        clean = inner_delta
        nn_cols = self.keys + ([self.member] if self.member else []) \
            if self._corr_in or self.member else self._ikey()
        if nn_cols:
            clean = clean.filter(" AND ".join(
                f"{_q(k)} IS NOT NULL" for k in nn_cols))
        partial = fresh_break(clean.groupBy(*self._ikey())
                              .agg(F.sum(DIFF_COL).alias("__cnt"))
                              .filter("__cnt != 0"))
        # live over the partial LEAF (no own checkpoint): every reuse
        # below re-plans a tiny distinct-over-leaf; repeated occurrences
        # of one checkpointed leaf in a plan are ordinary self-reference
        # (unlike the live-subplan double-read hazard, see _attach)
        touched = partial.select(*self._probe_keys()).distinct()
        scope = None if global_flip else touched
        old_counts = self._counts(scope)
        self._inner.append(partial)
        old_rows = self._outer_rows(scope)
        if old_rows is None:
            return []
        old_rows = fresh_break(old_rows)
        # fused old/new support: NEW = OLD + the batch's own partial
        # counts, so one state probe serves both sides — the second
        # probe+aggregate (and its checkpoint) the unfused form paid
        # per inner commit is replaced by a union+groupBy against the
        # tiny batch partial. GROUP BY groups NULL in-values together
        # (SQL grouping equality), exactly like the support aggregate.
        ikey_q = [_q(k) for k in self._ikey()]
        if old_counts is None:
            both = partial.selectExpr(
                *ikey_q,
                "CAST(0 AS BIGINT) AS __cnt_o",
                "__cnt AS __cnt_n")
        else:
            o = old_counts.selectExpr(
                *ikey_q, "__cnt AS __cnt_o", "__cnt AS __cnt_n")
            d = partial.selectExpr(
                *ikey_q,
                "CAST(0 AS BIGINT) AS __cnt_o",
                "__cnt AS __cnt_n")
            both = (o.unionByName(d).groupBy(*self._ikey())
                    .agg(F.sum("__cnt_o").alias("__cnt_o"),
                         F.sum("__cnt_n").alias("__cnt_n")))
        if self.member or self._corr_in:
            # double-read (per-key totals + per-pair counts) — the
            # live-subplan relation-dedup hazard; plain variants read
            # it once and skip the checkpoint's fixed planning cost
            both = fresh_break(both)
        # single-plan flip: attach OLD and NEW support side by side and
        # emit ±rows where the qualification changed — no self-union,
        # no exceptAll (unions whose branches share leaves evaluate
        # wrongly under Catalyst's relation dedup)
        att = self._attach_both(old_rows, both)
        old_q = self._qual("_o", total=self._total - batch_t,
                           null_cnt=self._null_cnt - batch_n)
        new_q = self._qual("_n")
        # single parsed CASE instead of a when/when Column chain (NULL
        # else-branch preserved by the bare END)
        sign = (f"CASE WHEN {new_q} AND NOT {old_q} THEN 1 "
                f"WHEN {old_q} AND NOT {new_q} THEN -1 END")
        flip = fresh_break(att.selectExpr("*", f"{sign} AS __s")
                           .filter("__s IS NOT NULL"))
        cols = [c for c in old_rows.columns if c != DIFF_COL]
        return [flip.selectExpr(
            *[_q(c) for c in cols],
            f"{_q(DIFF_COL)} * __s AS {_q(DIFF_COL)}")]


@dataclass
class CmpAggFilterMV:
    """Correlated scalar-aggregate comparison filter — the TPC-H
    q17/q2/q20 family: ``lhs op (SELECT <expr around AGG(arg)> FROM u
    WHERE u.k = o.k [AND local])``. The reference decorrelates the
    scalar subquery into a per-key Reduce joined back to the outer
    relation (lowering.rs; guarded subquery planning); the maintained
    form keeps the per-key aggregate in a RetractionAwareAgg (all five
    kinds survive retractions — hierarchical support for MIN/MAX) and
    runs the same flip discipline as SemiAntiFilterMV: inner commits
    re-qualify only the touched keys' outer rows, emitting ± diffs
    where the comparison's truth changed.

    SQL scalar-subquery semantics: an EMPTY group yields NULL (COUNT
    yields 0 — the planner bakes the coalesce into ``qual_tmpl``), and
    a NULL comparison is UNKNOWN → row filtered. ``qual_tmpl`` is a
    SQL boolean with a ``{V}`` placeholder for the aggregate-value
    column.
    """

    spark: SparkSession
    keys: list[str]
    qual_tmpl: str
    agg_kind: str
    _agg: object = field(init=False)
    _outer: SpilledPartsState = field(init=False)

    def __post_init__(self) -> None:
        from materialize_spark.streaming.retraction import (
            RetractionAwareAgg,
        )
        self._agg = RetractionAwareAgg(
            self.spark, keys=list(self.keys),
            aggs={"__aggval": (self.agg_kind, "__arg")})
        self._outer = SpilledPartsState(list(self.keys),
                                        measures=(DIFF_COL,))

    def _vals(self, touched: DataFrame | None) -> DataFrame | None:
        """Current per-key aggregate values (keys + __aggval),
        confined to touched keys. Returned LIVE: each caller reads the
        frame exactly once (one left attach), and the plan's leaves
        are the agg's own checkpointed state parts — value-stable even
        though the agg mutates its state references afterwards (old
        plans keep the old leaf objects)."""
        if self._agg._acc is None:
            return None
        res = self._agg.result()
        if touched is not None:
            res = _ns_semi(res, touched, self.keys)
        return res

    def _outer_rows(self, touched: DataFrame | None) -> DataFrame | None:
        probe = self._outer.probe_frame(touched)
        if probe is None:
            return None
        if touched is not None:
            probe = _ns_semi(probe, touched, self.keys)
        return self._outer.consolidate(probe)

    def _attach(self, rows: DataFrame, vals: DataFrame | None,
                col: str) -> DataFrame:
        """Plain-equality left attach (NULL keys match nothing — SQL
        ``=`` correlation semantics; the agg state holds no NULL
        keys)."""
        if vals is None:
            return rows.withColumn(col, F.lit(None))
        return rows.join(vals.withColumnRenamed("__aggval", col),
                         on=self.keys, how="left")

    def on_batch(self, outer_delta: DataFrame | None = None,
                 inner_delta: DataFrame | None = None
                 ) -> DataFrame | None:
        """Inner deltas arrive pre-projected to (keys.., __arg, diff);
        the bilinear order matches SemiAntiFilterMV."""
        terms: list[DataFrame] = []
        if inner_delta is not None:
            clean = inner_delta
            for k in self.keys:
                clean = clean.filter(F.col(k).isNotNull())
            clean = fresh_break(clean)
            # live over the clean LEAF (see SemiAntiFilterMV's touched)
            touched = clean.select(*self.keys).distinct()
            old_vals = self._vals(touched)
            self._agg.on_batch(
                clean.select(*self.keys, "__arg", DIFF_COL))
            new_vals = self._vals(touched)
            old_rows = self._outer_rows(touched)
            if old_rows is not None:
                old_rows = fresh_break(old_rows)
                att = self._attach(
                    self._attach(old_rows, old_vals, "__av_o"),
                    new_vals, "__av_n")
                old_q = F.expr(self.qual_tmpl.format(V="__av_o"))
                new_q = F.expr(self.qual_tmpl.format(V="__av_n"))
                sign = (F.when(new_q & ~old_q, F.lit(1))
                        .when(old_q & ~new_q, F.lit(-1)))
                flip = fresh_break(att.withColumn("__s", sign)
                                   .filter(F.col("__s").isNotNull()))
                cols = [c for c in old_rows.columns if c != DIFF_COL]
                terms.append(flip.select(
                    *cols,
                    (F.col(DIFF_COL) * F.col("__s")).alias(DIFF_COL)))
        if outer_delta is not None:
            od = fresh_break(outer_delta)
            vals = self._vals(od.select(*self.keys).distinct())
            att = self._attach(od, vals, "__av")
            kept = fresh_break(att.filter(
                F.expr(self.qual_tmpl.format(V="__av"))))
            terms.append(kept.select(*od.columns))
            self._outer.append(od)
        return concat(terms)


@dataclass
class GlobalCmpFilterMV:
    """Uncorrelated scalar-subquery comparison filter — the TPC-H
    q11/q22 family: ``lhs op (SELECT <scalar aggregate body>)`` with
    NO outer correlation. The reference plans the subquery as a Let
    binding whose one-row arrangement joins (cross) against the outer
    relation (lowering.rs); the maintained form keeps the scalar as a
    planner-owned internal keyless-aggregate delta MV and this stage
    holds its current ONE-ROW frame as a global frontier: outer deltas
    qualify against the current value (a broadcast-sized cross join),
    and a genuine value CHANGE re-qualifies the stored outer rows in
    one vectorized scan emitting ± flips — the rows whose comparison
    truth changed are exactly the rows the filter must re-derive, so
    the scan is the information-theoretic minimum, and it is skipped
    entirely when a commit leaves the scalar unchanged (the 1-row
    collect per inner commit is the scalar-frontier idiom, like
    SemiAntiFilterMV's NOT IN totals; the old value is a cached Python
    scalar, not a re-collect).

    ``qual_tmpl``: SQL boolean with a ``{V}`` placeholder for the
    scalar's column. SQL semantics: a NULL scalar makes the comparison
    UNKNOWN → row filtered (the empty-aggregate NULL composes through
    the coalesce the planner bakes in).
    """

    spark: SparkSession
    qual_tmpl: str
    _outer: SpilledPartsState = field(init=False)
    _val: DataFrame | None = field(default=None, init=False)
    # Python-side cache of _val's one value: the old side of a change
    # check needs no re-collect (one fewer job per inner commit)
    _scalar: object = field(default=None, init=False)

    def __post_init__(self) -> None:
        # outer rows are only ever read whole: keyed on every column
        self._outer = SpilledPartsState([], measures=(DIFF_COL,))

    def _outer_rows(self) -> DataFrame | None:
        probe = self._outer.probe_frame(None)
        if probe is None:
            return None
        return self._outer.consolidate(probe)

    def _attach(self, rows: DataFrame, val: DataFrame | None,
                col: str) -> DataFrame:
        if val is None:
            return rows.withColumn(col, F.lit(None))
        one = val.select(F.col(val.columns[0]).alias(col))
        return rows.crossJoin(F.broadcast(one))

    def on_batch(self, outer_delta: DataFrame | None = None,
                 inner_delta: DataFrame | None = None
                 ) -> DataFrame | None:
        """``inner_delta`` here is the scalar MV's CURRENT one-row
        frame (the planner passes the maintained result, not a diff —
        the value is total state). Inner folds first (bilinear
        order)."""
        terms: list[DataFrame] = []
        if inner_delta is not None:
            new_val = fresh_break(inner_delta.limit(1))
            old_scalar = self._scalar
            rows_ = new_val.collect()
            new_scalar = rows_[0][0] if rows_ else None
            changed = self._val is not None \
                and old_scalar != new_scalar
            old_val = self._val
            self._val = new_val
            self._scalar = new_scalar
            if changed:
                old_rows = self._outer_rows()
                if old_rows is not None:
                    old_rows = fresh_break(old_rows)
                    att = self._attach(
                        self._attach(old_rows, old_val, "__v_o"),
                        new_val, "__v_n")
                    old_q = F.expr(self.qual_tmpl.format(V="__v_o"))
                    new_q = F.expr(self.qual_tmpl.format(V="__v_n"))
                    sign = (F.when(new_q & ~old_q, F.lit(1))
                            .when(old_q & ~new_q, F.lit(-1)))
                    flip = fresh_break(att.withColumn("__s", sign)
                                       .filter(F.col("__s").isNotNull()))
                    cols = [c for c in old_rows.columns
                            if c != DIFF_COL]
                    terms.append(flip.select(
                        *cols, (F.col(DIFF_COL) * F.col("__s"))
                        .alias(DIFF_COL)))
        if outer_delta is not None:
            od = fresh_break(outer_delta)
            att = self._attach(od, self._val, "__v")
            kept = fresh_break(att.filter(
                F.expr(self.qual_tmpl.format(V="__v"))))
            terms.append(kept.select(*od.columns))
            self._outer.append(od)
        return concat(terms)
