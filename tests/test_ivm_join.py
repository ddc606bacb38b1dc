import pytest
"""Incremental join maintenance: delta algebra == full re-join, always."""

import random

from pyspark.sql import functions as F

from materialize_spark.operators.setops import threshold
from materialize_spark.streaming.ivm_join import IncrementalJoinView

L = "k long, lv long, diff long"
R = "k long, rv long, diff long"


def _expand(df):
    return (df.withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("diff"))))
            .drop("diff", "__i"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.soak
def test_incremental_join_random_workload(spark):
    rng = random.Random(3)
    jv = IncrementalJoinView(on=["k"])
    lh, rh, l_live, r_live = [], [], [], []
    for _ in range(4):
        lb, rb = [], []
        for _ in range(8):
            if l_live and rng.random() < 0.3:
                v = l_live.pop(rng.randrange(len(l_live)))
                lb.append((*v, -1))
            else:
                v = (rng.randrange(5), rng.randrange(20))
                l_live.append(v); lb.append((*v, 1))
            if r_live and rng.random() < 0.3:
                v = r_live.pop(rng.randrange(len(r_live)))
                rb.append((*v, -1))
            else:
                v = (rng.randrange(5), rng.randrange(20))
                r_live.append(v); rb.append((*v, 1))
        lh += lb; rh += rb
        jv.on_batch(spark.createDataFrame(lb, L), spark.createDataFrame(rb, R))
        got = _rows(jv.result_expanded())
        want = _rows(
            _expand(threshold(spark.createDataFrame(lh, L))).join(
                _expand(threshold(spark.createDataFrame(rh, R))), on="k"))
        assert got == want


def test_delete_left_row_retracts_join_outputs(spark):
    jv = IncrementalJoinView(on=["k"])
    jv.on_batch(spark.createDataFrame([(1, 10, 1)], L),
                spark.createDataFrame([(1, 100, 1), (1, 200, 1)], R))
    assert len(jv.result_expanded().collect()) == 2
    delta = jv.on_batch(left_delta=spark.createDataFrame([(1, 10, -1)], L))
    # the delete emits two retractions (one per matching right row)
    assert sorted(r.diff for r in delta.collect()) == [-1, -1]
    assert jv.result_expanded().isEmpty()


def test_three_way_join_by_chaining(spark):
    """Binary views chain left-deep into multi-way joins (linear join)."""
    ab = IncrementalJoinView(on=["k"])
    abc = IncrementalJoinView(on=["k"])
    a = spark.createDataFrame([(1, 10, 1), (2, 20, 1)], L)
    b = spark.createDataFrame([(1, 100, 1), (2, 200, 1)], R)
    c = spark.createDataFrame([(1, 1000, 1)], "k long, cv long, diff long")
    d_ab = ab.on_batch(a, b)
    abc.on_batch(d_ab, c)
    assert _rows(abc.result_expanded()) == [(1, 10, 100, 1000)]
    # delete from the base table propagates through both views
    d_ab2 = ab.on_batch(left_delta=spark.createDataFrame([(1, 10, -1)], L))
    abc.on_batch(left_delta=d_ab2)
    assert abc.result_expanded().isEmpty()


# ---------------------------------------------------------------------------
# IncrementalOuterJoinView: outer delta algebra == full outer re-join
# ---------------------------------------------------------------------------

def _outer_oracle(spark, lh, rh, how):
    l = _expand(threshold(spark.createDataFrame(lh, L)))
    r = _expand(threshold(spark.createDataFrame(rh, R)))
    return l.join(r, on="k", how=how).select("k", "lv", "rv")


@pytest.mark.soak
def test_outer_join_left_random_workload(spark, spine):
    from materialize_spark.streaming.ivm_join import IncrementalOuterJoinView
    rng = random.Random(11)
    spine(fold_every=3)
    jv = IncrementalOuterJoinView(on=["k"], pad_right=[("rv", "bigint")],
                                  how="left")
    lh, rh, l_live, r_live = [], [], [], []
    for step in range(6):
        lb, rb = [], []
        for _ in range(6):
            if l_live and rng.random() < 0.35:
                v = l_live.pop(rng.randrange(len(l_live)))
                lb.append((*v, -1))
            else:
                v = (rng.randrange(4), rng.randrange(20))
                l_live.append(v); lb.append((*v, 1))
            if r_live and rng.random() < 0.35:
                v = r_live.pop(rng.randrange(len(r_live)))
                rb.append((*v, -1))
            else:
                v = (rng.randrange(4), rng.randrange(20))
                r_live.append(v); rb.append((*v, 1))
        lh += lb; rh += rb
        jv.on_batch(spark.createDataFrame(lb, L) if lb else None,
                    spark.createDataFrame(rb, R) if rb else None)
        got = _rows(jv.result_expanded().select("k", "lv", "rv"))
        want = _rows(_outer_oracle(spark, lh, rh, "left"))
        assert got == want, f"step {step}: {got} != {want}"


@pytest.mark.soak
def test_outer_join_full_random_workload(spark, spine):
    from materialize_spark.streaming.ivm_join import IncrementalOuterJoinView
    rng = random.Random(7)
    spine(fold_every=4)
    jv = IncrementalOuterJoinView(on=["k"], pad_right=[("rv", "bigint")],
                                  pad_left=[("lv", "bigint")],
                                  how="full")
    lh, rh = [], []
    for step in range(6):
        lb = [(rng.randrange(4), rng.randrange(9), 1) for _ in range(4)]
        rb = [(rng.randrange(4), rng.randrange(9), 1) for _ in range(4)]
        # throw in retractions of random live rows
        if step >= 2:
            lb.append((*lh[rng.randrange(len(lh))][:2], -1))
            rb.append((*rh[rng.randrange(len(rh))][:2], -1))
        lh += lb; rh += rb
        jv.on_batch(spark.createDataFrame(lb, L),
                    spark.createDataFrame(rb, R))
        got = _rows(jv.result_expanded().select("k", "lv", "rv"))
        want = _rows(_outer_oracle(spark, lh, rh, "full"))
        assert got == want, f"step {step}: {got} != {want}"


def test_outer_join_one_sided_batches(spark):
    """Left-only and right-only batches, including the first-match
    transition that retracts a null-padded row and the last-match
    deletion that restores it."""
    from materialize_spark.streaming.ivm_join import IncrementalOuterJoinView
    jv = IncrementalOuterJoinView(on=["k"], pad_right=[("rv", "bigint")],
                                  how="left")
    jv.on_batch(left_delta=spark.createDataFrame([(1, 10, 1), (2, 20, 1)], L))
    assert _rows(jv.result_expanded().select("k", "lv", "rv")) == [
        (1, 10, None), (2, 20, None)]
    # first match for k=1: null-padded row retracts, joined row appears
    jv.on_batch(right_delta=spark.createDataFrame([(1, 100, 1)], R))
    assert _rows(jv.result_expanded().select("k", "lv", "rv")) == [
        (1, 10, 100), (2, 20, None)]
    # second match: no anti change
    jv.on_batch(right_delta=spark.createDataFrame([(1, 101, 1)], R))
    assert _rows(jv.result_expanded().select("k", "lv", "rv")) == [
        (1, 10, 100), (1, 10, 101), (2, 20, None)]
    # delete both matches: null-padded row returns
    jv.on_batch(right_delta=spark.createDataFrame(
        [(1, 100, -1), (1, 101, -1)], R))
    assert _rows(jv.result_expanded().select("k", "lv", "rv")) == [
        (1, 10, None), (2, 20, None)]
    # delete the left row entirely
    jv.on_batch(left_delta=spark.createDataFrame([(1, 10, -1)], L))
    assert _rows(jv.result_expanded().select("k", "lv", "rv")) == [
        (2, 20, None)]


@pytest.mark.soak
def test_incremental_join_forced_spill_still_exact(spark, spine):
    """SPILL_ROWS=1 forces every compaction onto the hash-prefix
    parquet tier: the maintained join stays exactly equal to the full
    re-join through a multi-batch insert/delete churn, with probes
    reading only touched prefixes."""
    rng = random.Random(7)
    spine(fold_every=2, spill_rows=1)
    jv = IncrementalJoinView(on=["k"])
    lh, rh, l_live, r_live = [], [], [], []
    for _ in range(6):
        lb, rb = [], []
        for _ in range(5):
            if l_live and rng.random() < 0.35:
                v = l_live.pop(rng.randrange(len(l_live)))
                lb.append((*v, -1))
            else:
                v = (rng.randrange(4), rng.randrange(30))
                l_live.append(v); lb.append((*v, 1))
            if r_live and rng.random() < 0.35:
                v = r_live.pop(rng.randrange(len(r_live)))
                rb.append((*v, -1))
            else:
                v = (rng.randrange(4), rng.randrange(30))
                r_live.append(v); rb.append((*v, 1))
        lh += lb; rh += rb
        jv.on_batch(spark.createDataFrame(lb, L),
                    spark.createDataFrame(rb, R))
        got = _rows(jv.result_expanded())
        want = _rows(
            _expand(threshold(spark.createDataFrame(lh, L))).join(
                _expand(threshold(spark.createDataFrame(rh, R))),
                on="k"))
        assert got == want
    # the spilled tier actually engaged on both sides
    assert jv._left is not None and jv._left._disk is not None
    assert jv._right is not None and jv._right._disk is not None


@pytest.mark.soak
def test_incremental_outer_join_forced_spill_still_exact(spark, spine):
    """The outer-join view under a forced spill tier: null-padding
    transitions (first match appears / last match vanishes) stay exact
    against a full LEFT JOIN recompute with spilled, prefix-pruned
    state."""
    from materialize_spark.streaming.ivm_join import (
        IncrementalOuterJoinView,
    )
    spine(fold_every=2, spill_rows=1)
    jv = IncrementalOuterJoinView(
        on=["k"], pad_right=[("rv", "bigint")], how="left")
    steps = [
        ([(1, 10, 1), (2, 20, 1)], []),            # unmatched lefts
        ([], [(1, 100, 1)]),                       # first match for k=1
        ([(3, 30, 1)], [(2, 200, 1), (2, 201, 1)]),
        ([], [(1, 100, -1)]),                      # last match vanishes
        ([(2, 20, -1)], [(3, 300, 1)]),
        ([(1, 11, 1)], [(2, 201, -1)]),
    ]
    lh, rh = [], []
    for lb, rb in steps:
        lh += lb; rh += rb
        jv.on_batch(
            spark.createDataFrame(lb, L) if lb else None,
            spark.createDataFrame(rb, R) if rb else None)
        got = _rows(jv.result_expanded())
        want = _rows(
            _expand(threshold(spark.createDataFrame(lh, L))).join(
                _expand(threshold(spark.createDataFrame(rh, R))),
                on="k", how="left"))
        assert got == want
    assert jv._left is not None and jv._left._disk is not None
