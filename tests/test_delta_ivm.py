"""Delta maintenance for non-invertible view shapes (q18/q21): the
incremental result must equal a full recompute at EVERY step, including
under retractions that flip qualification status in both directions.

Reference: delta-join re-evaluation of affected keys
(/root/reference/src/compute/src/render/join/delta_join.rs) and reduce
retractions (src/compute/src/render/reduce.rs).
"""

import random

import pytest
from pyspark.sql import functions as F

from materialize_spark.streaming.delta_ivm import (
    ExclusiveAntiJoinMV, ThresholdSemijoinMV,
)

FACT_SCHEMA = "k long, v long, diff long"
PAIR_SCHEMA = "g long, m long, diff long"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# ThresholdSemijoinMV (q18 shape)
# ---------------------------------------------------------------------------

def _mk_threshold_mv(spark):
    # enrich: qualifying keys keep their sum and gain a derived label —
    # stands in for the orders/customer dimension join of q18
    def enrich(q):
        return q.select("k", F.col("__sum").alias("total"),
                        (F.col("k") * 100).alias("dim"))
    return ThresholdSemijoinMV(
        spark, keys=["k"], val="v", having=lambda s: s > 10, enrich=enrich)


def _threshold_oracle(spark, history):
    net = (spark.createDataFrame(history, FACT_SCHEMA)
           .groupBy("k").agg(F.sum(F.col("v") * F.col("diff")).alias("total"),
                             F.sum("diff").alias("n"))
           .filter((F.col("n") > 0) & (F.col("total") > 10)))
    return net.select("k", "total", (F.col("k") * 100).alias("dim"))


def test_threshold_crossings_both_directions(spark):
    mv = _mk_threshold_mv(spark)
    # k=1 crosses up (6+6 > 10); k=2 stays below
    out = mv.on_batch(spark.createDataFrame(
        [(1, 6, 1), (1, 6, 1), (2, 4, 1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == [(1, 12, 100)]
    # retraction drops k=1 below the threshold -> row retired
    out = mv.on_batch(spark.createDataFrame([(1, 6, -1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == []
    # k=2 crosses up; k=1 re-crosses up
    out = mv.on_batch(spark.createDataFrame(
        [(2, 8, 1), (1, 7, 1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == [(1, 13, 100), (2, 12, 200)]
    # untouched key (k=2) must survive a batch touching only k=1
    out = mv.on_batch(spark.createDataFrame([(1, 1, 1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == [(1, 14, 100), (2, 12, 200)]


def test_threshold_group_vanishes_when_net_zero(spark):
    mv = _mk_threshold_mv(spark)
    mv.on_batch(spark.createDataFrame([(5, 20, 1)], FACT_SCHEMA))
    out = mv.on_batch(spark.createDataFrame([(5, 20, -1)], FACT_SCHEMA))
    assert out.count() == 0
    # state, not just result: re-inserting starts the sum from zero
    out = mv.on_batch(spark.createDataFrame([(5, 11, 1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total"]) == [(5, 11)]


def test_threshold_random_workload_equals_recompute(spark):
    rng = random.Random(11)
    mv = _mk_threshold_mv(spark)
    history, inserted = [], []
    for _ in range(6):
        batch = [(rng.randrange(5), rng.randrange(1, 8), 1)
                 for _ in range(12)]
        if inserted:  # retract a sample of previously inserted rows
            sample = rng.sample(inserted, min(4, len(inserted)))
            for k, v, _d in sample:
                batch.append((k, v, -1))
                inserted.remove((k, v, 1))
        history.extend(batch)
        inserted.extend(r for r in batch if r[2] == 1)
        got = mv.on_batch(spark.createDataFrame(batch, FACT_SCHEMA))
        want = _threshold_oracle(spark, history)
        assert _rows(got, ["k", "total", "dim"]) == \
            _rows(want, ["k", "total", "dim"])


def test_threshold_requires_a_batch(spark):
    mv = _mk_threshold_mv(spark)
    with pytest.raises(RuntimeError):
        mv.result()


# ---------------------------------------------------------------------------
# ExclusiveAntiJoinMV (q21 shape)
# ---------------------------------------------------------------------------

def _anti_oracle(spark, all_hist, flag_hist):
    supp = (spark.createDataFrame(all_hist, PAIR_SCHEMA)
            .groupBy("g", "m").agg(F.sum("diff").alias("n_all")))
    fl = (spark.createDataFrame(flag_hist or [(0, 0, 0)], PAIR_SCHEMA)
          .groupBy("g", "m").agg(F.sum("diff").alias("n_flag")))
    s = (supp.join(fl, on=["g", "m"], how="full_outer")
         .fillna(0, ["n_all", "n_flag"])
         .filter((F.col("n_all") != 0) | (F.col("n_flag") != 0)))
    tot = s.groupBy("g").agg(F.sum("n_all").alias("ta"),
                             F.sum("n_flag").alias("tf"))
    return (s.join(tot, on="g")
            .filter((F.col("n_flag") > 0)
                    & (F.col("ta") - F.col("n_all") > 0)
                    & (F.col("tf") - F.col("n_flag") == 0))
            .select("g", "m", "n_flag"))


def test_antijoin_second_flag_evicts_then_retraction_restores(spark):
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    # group 1: members 10, 11; only 10 flagged -> 10 qualifies
    out = mv.on_batch(
        all_delta=spark.createDataFrame(
            [(1, 10, 1), (1, 11, 1)], PAIR_SCHEMA),
        flag_delta=spark.createDataFrame([(1, 10, 1)], PAIR_SCHEMA))
    assert _rows(out, ["g", "m", "n_flag"]) == [(1, 10, 1)]
    # member 11 also turns up flagged -> NOT EXISTS fails for both
    out = mv.on_batch(flag_delta=spark.createDataFrame(
        [(1, 11, 1)], PAIR_SCHEMA))
    assert _rows(out, ["g", "m", "n_flag"]) == []
    # retracting 11's flagged row restores 10 — the non-monotonic case a
    # maintained top-level filter cannot express without full support
    out = mv.on_batch(flag_delta=spark.createDataFrame(
        [(1, 11, -1)], PAIR_SCHEMA))
    assert _rows(out, ["g", "m", "n_flag"]) == [(1, 10, 1)]


def test_antijoin_single_member_group_never_qualifies(spark):
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    out = mv.on_batch(
        all_delta=spark.createDataFrame([(7, 70, 1)], PAIR_SCHEMA),
        flag_delta=spark.createDataFrame([(7, 70, 1)], PAIR_SCHEMA))
    assert out.count() == 0  # EXISTS-other-member fails
    # a second member's (unflagged) row arrives -> 70 qualifies now
    out = mv.on_batch(all_delta=spark.createDataFrame(
        [(7, 71, 1)], PAIR_SCHEMA))
    assert _rows(out, ["g", "m", "n_flag"]) == [(7, 70, 1)]


def test_antijoin_multiplicity_counts_rows_not_pairs(spark):
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    out = mv.on_batch(
        all_delta=spark.createDataFrame(
            [(3, 30, 1), (3, 30, 1), (3, 31, 1)], PAIR_SCHEMA),
        flag_delta=spark.createDataFrame(
            [(3, 30, 1), (3, 30, 1)], PAIR_SCHEMA))
    assert _rows(out, ["g", "m", "n_flag"]) == [(3, 30, 2)]


def test_antijoin_random_workload_equals_recompute(spark):
    rng = random.Random(13)
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    all_hist, flag_hist, live = [], [], []
    for _ in range(6):
        ab, fb = [], []
        for _ in range(10):
            g, m = rng.randrange(4), rng.randrange(3)
            ab.append((g, 10 * g + m, 1))
            if rng.random() < 0.4:
                fb.append((g, 10 * g + m, 1))
        if live and rng.random() < 0.8:  # retract a previously-live row
            g, m, flagged = live.pop(rng.randrange(len(live)))
            ab.append((g, m, -1))
            if flagged:
                fb.append((g, m, -1))
        live.extend((g, m, (g, m, 1) in fb) for g, m, _ in ab if _ == 1)
        all_hist.extend(ab)
        flag_hist.extend(fb)
        got = mv.on_batch(
            all_delta=spark.createDataFrame(ab, PAIR_SCHEMA),
            flag_delta=(spark.createDataFrame(fb, PAIR_SCHEMA)
                        if fb else None))
        want = _anti_oracle(spark, all_hist, flag_hist)
        assert _rows(got, ["g", "m", "n_flag"]) == \
            _rows(want, ["g", "m", "n_flag"])


def test_antijoin_empty_call_rejected(spark):
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    with pytest.raises(ValueError):
        mv.on_batch()


def test_threshold_compaction_preserves_state(spark, spine):
    """The spine folds the part list; results must be identical
    across the fold boundary (the arrangement-merge invariant)."""
    def enrich(q):
        return q.select("k", F.col("__sum").alias("total"))
    spine(fold_every=2)
    mv = ThresholdSemijoinMV(spark, keys=["k"], val="v",
                             having=lambda s: s > 10, enrich=enrich)
    history = []
    for wave in range(5):  # compaction fires twice
        batch = [(k, 3, 1) for k in range(3)]
        if wave == 3:  # retraction crossing the fold boundary
            batch += [(0, 3, -1), (0, 3, -1)]
        history.extend(batch)
        got = mv.on_batch(spark.createDataFrame(batch, FACT_SCHEMA))
        want = (spark.createDataFrame(history, FACT_SCHEMA)
                .groupBy("k")
                .agg(F.sum(F.col("v") * F.col("diff")).alias("total"),
                     F.sum("diff").alias("n"))
                .filter((F.col("n") > 0) & (F.col("total") > 10))
                .select("k", "total"))
        assert _rows(got, ["k", "total"]) == _rows(want, ["k", "total"])
    assert mv._state.n_parts() <= 2  # folded, not accumulated


def test_antijoin_compaction_preserves_state(spark, spine):
    spine(fold_every=2)
    mv = ExclusiveAntiJoinMV(spark, group_key="g", member_key="m")
    all_hist, flag_hist = [], []
    for wave in range(5):
        ab = [(1, 10, 1), (1, 11, 1), (2, 20, 1), (2, 21, 1)]
        fb = [(1, 10, 1)] if wave < 3 else [(1, 10, -1)]
        all_hist.extend(ab)
        flag_hist.extend(fb)
        got = mv.on_batch(
            all_delta=spark.createDataFrame(ab, PAIR_SCHEMA),
            flag_delta=spark.createDataFrame(fb, PAIR_SCHEMA))
        want = _anti_oracle(spark, all_hist, flag_hist)
        assert _rows(got, ["g", "m", "n_flag"]) == \
            _rows(want, ["g", "m", "n_flag"])
    assert mv._state.n_parts() <= 2


def test_probe_plan_never_shuffles_state(spark):
    """Scale pin (the golden-plan invariant for the delta path): the
    state probe must be a BROADCAST semi-join — touched keys broadcast,
    state scanned in place; a SortMerge/ShuffledHash probe would shuffle
    the whole support state every batch."""
    from materialize_spark.ckpt import fresh_break
    from materialize_spark.streaming.state_spill import concat

    mv = _mk_threshold_mv(spark)
    mv.on_batch(spark.createDataFrame(
        [(k, k, 1) for k in range(50)], FACT_SCHEMA))
    batch = spark.createDataFrame([(1, 5, 1)], FACT_SCHEMA)
    partial = fresh_break(mv._partial(batch))
    touched = F.broadcast(partial.select("k"))
    probe = (concat(mv._state._parts + [partial])
             .join(touched, on=["k"], how="left_semi"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_threshold_mv_spilled_state_still_exact(spark, spine):
    """q18-shape state forced past the spill budget: the folded sums
    move to the hash-prefix-partitioned tier and threshold flips keep
    working against pre-spill keys (streaming/state_spill.py)."""
    spine(fold_every=2, spill_rows=1)
    mv = _mk_threshold_mv(spark)
    mv.on_batch(spark.createDataFrame(
        [(1, 6, 1), (1, 6, 1), (2, 4, 1)], FACT_SCHEMA))
    mv.on_batch(spark.createDataFrame([(3, 2, 1)], FACT_SCHEMA))
    assert mv._state._disk is not None, "sums should have spilled"
    # retraction against a SPILLED key must still flip it below
    out = mv.on_batch(spark.createDataFrame([(1, 6, -1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == []
    # and back up, folding disk + memory on the next compaction
    out = mv.on_batch(spark.createDataFrame([(1, 9, 1)], FACT_SCHEMA))
    assert _rows(out, ["k", "total", "dim"]) == [(1, 15, 100)]
