"""The parts-spine contract (streaming/state_spill.py) and the guards
that keep it the only one.

- Contract: when a fold fires, what it keeps, how spilled probes prune,
  and that every spill is a new generation directory.
- Fold coverage through the SQL front door: delta views driven past
  several folds stay equal to the same SELECT recomputed.
- Structure: no operator holds its own part list or fold knob."""

import dataclasses
import os
import re
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from materialize_spark.plans.delta import SingleFront, TopK
from materialize_spark.streaming import state_spill
from materialize_spark.streaming.state_spill import SpilledPartsState

S = "k string, v long, diff long"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, rows):
    return spark.createDataFrame(rows, S)


# -- contract -----------------------------------------------------------------

def test_fold_fires_on_the_nth_part(spark, spine, monkeypatch):
    spine(fold_every=3)
    folds = []
    replace = SpilledPartsState.replace
    monkeypatch.setattr(SpilledPartsState, "replace",
                        lambda st, df: folds.append(1) or replace(st, df))
    st = SpilledPartsState(["k"], measures=("diff",))
    st.append(_mk(spark, [("a", 1, 1)]))
    st.append(_mk(spark, [("a", 1, 1)]))
    assert st.n_parts() == 2 and not folds
    st.append(_mk(spark, [("b", 2, 1)]))
    assert st.n_parts() == 1 and len(folds) == 1
    assert _rows(st.full_frame()) == [("a", 1, 2), ("b", 2, 1)]


def test_negative_multiplicity_survives_a_fold(spark, spine):
    """An out-of-order retraction persists as -1 until its insert
    arrives, then nets to nothing."""
    spine(fold_every=2)
    st = SpilledPartsState(["k"], measures=("diff",))
    st.append(_mk(spark, [("a", 1, -1)]))
    st.append(_mk(spark, [("b", 2, 1)]))
    assert _rows(st.full_frame()) == [("a", 1, -1), ("b", 2, 1)]
    st.append(_mk(spark, [("a", 1, 1)]))
    assert _rows(st.full_frame()) == [("b", 2, 1)]


def test_live_measures_decide_what_a_fold_keeps(spark, spine):
    spine(fold_every=2)
    st = SpilledPartsState(["k"], measures=("s", "n"), live=("n",))
    sch = "k string, s long, n long"
    st.append(spark.createDataFrame([("a", 5, 1), ("b", 3, 1)], sch))
    st.append(spark.createDataFrame([("a", -4, -1)], sch))
    assert _rows(st.full_frame()) == [("b", 3, 1)]


def test_all_cancelling_fold_keeps_the_schema(spark, spine):
    spine(fold_every=2)
    st = SpilledPartsState(["k"], measures=("diff",))
    st.append(_mk(spark, [("a", 1, 1)]))
    st.append(_mk(spark, [("a", 1, -1)]))
    full = st.full_frame()
    assert st.n_parts() == 1 and full.count() == 0
    assert full.columns == ["k", "v", "diff"]


def test_spine_without_measures_keeps_every_row(spark, spine):
    spine(fold_every=2)
    st = SpilledPartsState(["k"])
    st.append(_mk(spark, [("a", 1, 1)]))
    st.append(_mk(spark, [("a", 1, 1)]))
    assert _rows(st.full_frame()) == [("a", 1, 1), ("a", 1, 1)]


def _filled(spark):
    st = SpilledPartsState(["k"], measures=("diff",))
    st.append(_mk(spark, [(f"k{i}", i, 1) for i in range(40)]))
    st.append(_mk(spark, [("k1", 1, -1), ("k2", 7, 1)]))
    return st


def test_spilled_probe_equals_in_memory_probe(spark, spine):
    spine(fold_every=2)
    mem = _filled(spark)
    spine(spill_rows=0)
    disk = _filled(spark)
    assert mem._disk is None and disk._disk is not None
    touched = spark.createDataFrame([("k1",), ("k2",), ("k30",)], "k string")

    def probe(st):
        return _rows(st.probe_frame(touched)
                     .join(touched, on=["k"], how="left_semi"))
    assert probe(disk) == probe(mem)
    assert probe(mem) == [("k2", 2, 1), ("k2", 7, 1), ("k30", 30, 1)]


def test_spilled_probe_prunes_by_prefix(spark, spine):
    spine(fold_every=2, spill_rows=0)
    st = _filled(spark)
    touched = spark.createDataFrame([("k3",)], "k string")
    plan = (st.probe_frame(touched)._jdf.queryExecution()
            .executedPlan().toString())
    assert "PartitionFilters: [" in plan
    pf = plan[plan.index("PartitionFilters: ["):]
    assert "__kp" in pf[:pf.index("]")]


def test_each_spill_is_a_new_generation(spark, spine):
    spine(fold_every=2, spill_rows=0)
    st = _filled(spark)
    first = st._disk
    st.append(_mk(spark, [("k5", 5, -1)]))   # second fold + spill
    assert st._disk != first
    assert os.path.isdir(first) and os.path.isdir(st._disk)
    # the old generation still reads back as it was written
    old = st._parts[0].sparkSession.read.parquet(first)
    assert old.count() == 40


def test_fresh_break_parts_union_cleanly(spark, spine):
    """Parts cut from plans with inferred constraints (a join's
    ``isnotnull(k)``) must carry them on their own fresh ids, or a later
    union of parts — every fold and every consolidated read — fails
    planning with 'key not found'. Constraint propagation is Spark's
    default and the engine's above its planner data gate."""
    from materialize_spark.ckpt import fresh_break

    conf = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        lt = spark.createDataFrame([(1, 10), (2, 3)], "k long, lv long")
        rt = spark.createDataFrame([(1, 100)], "k long, rv long")
        part = fresh_break(lt.join(rt, on=["k"]))
        out = part._jdf.queryExecution().analyzed()
        ids = re.compile(r"#(\d+)")
        refs = set(ids.findall(out.constraints().toString()))
        assert refs and refs <= set(ids.findall(out.output().toString()))
        spine(fold_every=2)
        st = SpilledPartsState(["k"], measures=("diff",))
        st.append(part.withColumn("diff", F.lit(1)))
        st.append(fresh_break(lt.join(rt, on=["k"]))
                  .withColumn("diff", F.lit(1)))   # folds the two
        assert _rows(st.full_frame()) == [(1, 10, 100, 2)]
    finally:
        spark.conf.set(conf, prev)


# -- fold coverage through the SQL front door ---------------------------------

_VIEWS = {
    # the three perfbench mv_churn shapes, an EXISTS filter and a
    # projection-shaped join
    "fv_big": ("SELECT l_orderkey, sum(l_quantity) AS qty FROM fl "
               "GROUP BY l_orderkey HAVING sum(l_quantity) > 20"),
    "fv_rev": ("SELECT o_orderpriority, "
               "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
               "count(*) AS line_count "
               "FROM fo JOIN fl ON o_orderkey = l_orderkey "
               "GROUP BY o_orderpriority"),
    "fv_top3": ("SELECT l_suppkey, l_extendedprice, rn FROM ("
                "SELECT l_suppkey, l_extendedprice, ROW_NUMBER() OVER ("
                "PARTITION BY l_suppkey ORDER BY l_extendedprice DESC) "
                "AS rn FROM fl) t WHERE rn <= 3"),
    "fv_exists": ("SELECT o_orderkey, o_orderpriority FROM fo WHERE EXISTS "
                  "(SELECT 1 FROM fl WHERE fl.l_orderkey = fo.o_orderkey)"),
    # projection-shaped join: published through the Spine terminal
    "fv_proj": ("SELECT o_orderkey, l_suppkey, l_quantity "
                "FROM fo JOIN fl ON o_orderkey = l_orderkey"),
}

_COMMITS = [
    "INSERT INTO fl VALUES (1, 10, 9, 400, 0.1), (2, 11, 2, 90, 0.0)",
    "UPDATE fl SET l_quantity = l_quantity + 6 WHERE l_orderkey = 2",
    "INSERT INTO fo VALUES (3, '3-MEDIUM'), (4, '1-URGENT')",
    "INSERT INTO fl VALUES (3, 10, 30, 500, 0.05), (3, 12, 1, 20, 0.0)",
    "DELETE FROM fl WHERE l_suppkey = 11",
    "UPDATE fl SET l_extendedprice = l_extendedprice + 1 "
    "WHERE l_suppkey = 10",
    "DELETE FROM fl WHERE l_orderkey = 1",
]


def _norm(df):
    return sorted(tuple(round(x, 6) if isinstance(x, float) else x
                        for x in r) for r in df.collect())


def _parts(view):
    """A delta view and the front and terminal it is made of."""
    return [p for p in (view, getattr(view, "front", None), view.terminal)
            if p is not None]


def _spines(obj, seen):
    """Every SpilledPartsState reachable from a delta view."""
    if id(obj) in seen:
        return
    seen.add(id(obj))
    if isinstance(obj, SpilledPartsState):
        yield obj
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _spines(v, seen)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            yield from _spines(v, seen)
    elif dataclasses.is_dataclass(obj) or type(obj).__module__.startswith(
            "materialize_spark.plans.delta"):
        for v in vars(obj).values():
            yield from _spines(v, seen)


def test_sql_views_stay_exact_across_folds(spark, spine, monkeypatch):
    from materialize_spark.plans.sqlfront import MzSession

    spine(fold_every=2)
    appends, folded = {}, set()
    append, replace = SpilledPartsState.append, SpilledPartsState.replace

    def spy_append(st, part):
        appends[id(st)] = appends.get(id(st), 0) + 1
        return append(st, part)

    def spy_replace(st, df):
        folded.add(id(st))
        return replace(st, df)
    monkeypatch.setattr(SpilledPartsState, "append", spy_append)
    monkeypatch.setattr(SpilledPartsState, "replace", spy_replace)

    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE fo (o_orderkey BIGINT, o_orderpriority STRING);
        CREATE TABLE fl (l_orderkey BIGINT, l_suppkey BIGINT,
                         l_quantity BIGINT, l_extendedprice DOUBLE,
                         l_discount DOUBLE);
        INSERT INTO fo VALUES (1, '1-URGENT'), (2, '2-HIGH');
        INSERT INTO fl VALUES (1, 10, 15, 100, 0.1), (1, 11, 6, 50, 0.0),
                              (2, 10, 5, 70, 0.05);
    """)
    for name, body in _VIEWS.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")
    try:
        for i, commit in enumerate(_COMMITS):
            s.execute(commit)
            for name, body in _VIEWS.items():
                assert _norm(s.sql(f"SELECT * FROM {name}")) == \
                    _norm(s.sql(body)), f"{name} after commit {i}: {commit}"
        for name in _VIEWS:
            view = s._delta_mvs[name]
            for part in _parts(view):   # no parts list beside the spines
                for v in vars(part).values():
                    assert not (isinstance(v, (list, tuple)) and any(
                        isinstance(x, DataFrame) for x in v)), name
            spines = list(_spines(view, set()))
            assert spines, name
            assert any(id(st) in folded for st in spines), name
            for st in spines:
                if appends.get(id(st), 0) >= 2:
                    assert id(st) in folded, name
        top3 = s._delta_mvs["fv_top3"]
        assert isinstance(top3.front, SingleFront) \
            and isinstance(top3.terminal, TopK)
        assert id(top3.terminal.op._state) in folded
        assert id(s._delta_mvs["fv_proj"].terminal.spine) in folded
    finally:
        s.run_script("".join(f"DROP MATERIALIZED VIEW {n};"
                             for n in _VIEWS)
                     + "DROP TABLE fl; DROP TABLE fo;")


# -- structure ----------------------------------------------------------------

def test_no_per_operator_fold_knobs():
    pkg = Path(state_spill.__file__).parents[1]
    for path in pkg.rglob("*"):
        if path.is_file() and path.suffix in (".py", ".md", ".txt"):
            text = path.read_text(errors="replace")
            for word in ("compact_every", "_TOPK_SPILL_ROWS"):
                assert word not in text, f"{word} in {path}"


def _ported(spark):
    """Every spine-backed operator, built and fed one batch."""
    from materialize_spark.streaming.dedup_stream import IncrementalLSHDedup
    from materialize_spark.streaming.delta_ivm import (
        ExclusiveAntiJoinMV, ThresholdSemijoinMV,
    )
    from materialize_spark.streaming.ivm_join import (
        IncrementalJoinView, IncrementalOuterJoinView,
    )
    from materialize_spark.streaming.retraction import (
        RetractionAwareDistinct, RetractionAwareSetOp, RetractionAwareTopK,
    )
    from materialize_spark.streaming.semijoin import (
        CmpAggFilterMV, GlobalCmpFilterMV, SemiAntiFilterMV,
    )

    kd = _mk(spark, [("a", 1, 1), ("b", 2, 1)])
    left = spark.createDataFrame([("a", 1, 1)],
                                 "k string, lv long, diff long")
    right = spark.createDataFrame([("a", 2, 1)],
                                  "k string, rv long, diff long")

    q18 = ThresholdSemijoinMV(spark, keys=["k"], val="v",
                              having=lambda c: c > 0, enrich=lambda q: q)
    q18.on_batch(kd)
    yield q18
    q21 = ExclusiveAntiJoinMV(spark, group_key="k", member_key="v")
    q21.on_batch(all_delta=kd, flag_delta=kd)
    yield q21
    d = RetractionAwareDistinct(spark, cols=["k"])
    d.on_batch(kd.select("k", "diff"))
    yield d
    so = RetractionAwareSetOp(spark, cols=["k"], op="except", all=True)
    so.on_batch(kd.select("k", F.lit(0).alias("__side"), "diff"))
    yield so
    tk = RetractionAwareTopK(spark, keys=["k"], order_col="v", limit=1)
    tk.on_batch(kd)
    yield tk
    jv = IncrementalJoinView(on=["k"])
    jv.on_batch(left, right)
    yield jv
    oj = IncrementalOuterJoinView(on=["k"], pad_right=[("rv", "bigint")])
    oj.on_batch(left, right)
    yield oj
    sj = SemiAntiFilterMV(spark, keys=["k"], kind="exists")
    sj.on_batch(outer_delta=kd, inner_delta=kd.select("k", "diff"))
    yield sj
    ca = CmpAggFilterMV(spark, keys=["k"], qual_tmpl="v > {V}",
                        agg_kind="sum")
    ca.on_batch(outer_delta=kd,
                inner_delta=kd.select("k", F.col("v").alias("__arg"), "diff"))
    yield ca
    gc = GlobalCmpFilterMV(spark, qual_tmpl="v > {V}")
    gc.on_batch(outer_delta=kd,
                inner_delta=spark.createDataFrame([(1,)], "x long"))
    yield gc
    dd = IncrementalLSHDedup(spark)
    dd.on_batch(spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"),
        F.split(F.col("text"), " "))
    yield dd


def test_operator_state_lives_only_in_spines(spark):
    for op in _ported(spark):
        name = type(op).__name__
        attrs = vars(op)
        assert any(isinstance(v, SpilledPartsState)
                   for v in attrs.values()), name
        for attr, v in attrs.items():
            items = v.values() if isinstance(v, dict) else \
                v if isinstance(v, (list, tuple)) else ()
            assert not any(isinstance(x, DataFrame) for x in items), \
                f"{name}.{attr} holds DataFrame parts"
