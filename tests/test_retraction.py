"""Retraction-aware IVM: incremental == full recompute at every step.

This is the defining property of the reference (incrementally maintained
results are exactly the batch answer at every timestamp), exercised under
*deletes* — the case plain append-only streaming aggregation can't handle.
"""

import random

from pyspark.sql import functions as F

from materialize_spark.operators.setops import threshold
from materialize_spark.streaming.retraction import (
    RetractionAwareAgg, RetractionAwareTopK,
)

SCHEMA = "k string, v long, diff long"


def _recompute_agg(spark, history_rows):
    """Oracle: consolidate history, then plain groupBy aggregate."""
    net = threshold(spark.createDataFrame(history_rows, SCHEMA))
    expanded = net.withColumn(
        "__i", F.explode(F.sequence(F.lit(1), F.col("diff")))).drop("diff", "__i")
    return expanded.groupBy("k").agg(
        F.sum("v").alias("total"), F.count("v").alias("n"),
        F.avg("v").alias("mean"), F.min("v").alias("lo"),
        F.max("v").alias("hi"))


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_agg_incremental_equals_recompute_random_workload(spark):
    rng = random.Random(7)
    mv = RetractionAwareAgg(
        spark, keys=["k"],
        aggs={"total": ("sum", "v"), "n": ("count", "v"),
              "mean": ("avg", "v"), "lo": ("min", "v"), "hi": ("max", "v")})
    history, live = [], []
    for _ in range(5):
        batch = []
        for _ in range(12):
            if live and rng.random() < 0.4:
                victim = live.pop(rng.randrange(len(live)))
                batch.append((victim[0], victim[1], -1))
            else:
                row = (rng.choice("abc"), rng.randrange(10))
                live.append(row)
                batch.append((row[0], row[1], 1))
        history += batch
        got = mv.on_batch(spark.createDataFrame(batch, SCHEMA))
        want = _recompute_agg(spark, history)
        cols = ["k", "total", "n", "mean", "lo", "hi"]
        assert _rows(got, cols) == _rows(want, cols)


def test_agg_min_survives_deleting_current_min(spark):
    """Delete the current minimum — the case that breaks append-only
    streaming min and motivates the Hierarchical plan."""
    mv = RetractionAwareAgg(spark, keys=["k"], aggs={"lo": ("min", "v")})
    mv.on_batch(spark.createDataFrame(
        [("a", 1, 1), ("a", 5, 1), ("a", 9, 1)], SCHEMA))
    got = mv.on_batch(spark.createDataFrame([("a", 1, -1)], SCHEMA))
    assert _rows(got, ["k", "lo"]) == [("a", 5)]


def test_agg_group_vanishes_at_zero_count(spark):
    mv = RetractionAwareAgg(spark, keys=["k"], aggs={"n": ("count", "v")})
    mv.on_batch(spark.createDataFrame([("a", 1, 1), ("b", 2, 1)], SCHEMA))
    got = mv.on_batch(spark.createDataFrame([("a", 1, -1)], SCHEMA))
    assert _rows(got, ["k", "n"]) == [("b", 1)]


def test_agg_untouched_groups_not_recomputed(spark):
    """Support-table split: a batch touching only group b leaves group a's
    support rows bit-identical (pass-through, no re-consolidation)."""
    mv = RetractionAwareAgg(spark, keys=["k"], aggs={"hi": ("max", "v")})
    mv.on_batch(spark.createDataFrame(
        [("a", 3, 1), ("a", 7, 1), ("b", 1, 1)], SCHEMA))
    before = _rows(mv._support["v"].filter("k = 'a'"), ["k", "__val", "mult"])
    mv.on_batch(spark.createDataFrame([("b", 8, 1)], SCHEMA))
    after = _rows(mv._support["v"].filter("k = 'a'"), ["k", "__val", "mult"])
    assert before == after
    assert _rows(mv.result(), ["k", "hi"]) == [("a", 7), ("b", 8)]


def test_topk_evicted_row_returns_after_delete(spark):
    """A row evicted from the top-k must come back when a better row is
    retracted — requires full support, not just the current top-k."""
    tk = RetractionAwareTopK(spark, keys=["k"], order_col="v", limit=2)
    tk.on_batch(spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 1), ("a", 30, 1)], SCHEMA))
    assert _rows(tk.result(), ["k", "v"]) == [("a", 20), ("a", 30)]
    got = tk.on_batch(spark.createDataFrame([("a", 30, -1)], SCHEMA))
    assert _rows(got, ["k", "v"]) == [("a", 10), ("a", 20)]


def test_topk_multiplicities_count_toward_k(spark):
    tk = RetractionAwareTopK(spark, keys=["k"], order_col="v", limit=3)
    tk.on_batch(spark.createDataFrame(
        [("a", 5, 1), ("a", 5, 1), ("a", 4, 1), ("a", 3, 1)], SCHEMA))
    assert _rows(tk.result(), ["k", "v"]) == [("a", 4), ("a", 5), ("a", 5)]


def test_topk_random_workload_matches_recompute(spark):
    rng = random.Random(11)
    tk = RetractionAwareTopK(spark, keys=["k"], order_col="v", limit=3,
                             descending=False)
    history, live = [], []
    for _ in range(4):
        batch = []
        for _ in range(10):
            if live and rng.random() < 0.35:
                victim = live.pop(rng.randrange(len(live)))
                batch.append((victim[0], victim[1], -1))
            else:
                row = (rng.choice("xy"), rng.randrange(50))
                live.append(row)
                batch.append((row[0], row[1], 1))
        history += batch
        got = tk.on_batch(spark.createDataFrame(batch, SCHEMA))
        from pyspark.sql import Window
        net = threshold(spark.createDataFrame(history, SCHEMA))
        expanded = net.withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.col("diff"))))
        w = Window.partitionBy("k").orderBy(F.col("v").asc(), "__i")
        want = (expanded.withColumn("__rn", F.row_number().over(w))
                .filter("__rn <= 3").drop("diff", "__i", "__rn"))
        assert _rows(got, ["k", "v"]) == _rows(want, ["k", "v"])


def test_debezium_envelope_feeds_retraction_view(spark):
    """End-to-end CDC chain: Debezium JSON -> diff frames -> maintained
    aggregate. An update event must retract the old row's contribution and
    a delete must remove it — the full ENVELOPE DEBEZIUM -> IVM path."""
    import json

    from materialize_spark.sources.envelopes import debezium_decode

    def ev(op, before=None, after=None):
        return (json.dumps({"op": op, "before": before, "after": after}),)

    mv = RetractionAwareAgg(spark, keys=["k"],
                            aggs={"total": ("sum", "v"), "hi": ("max", "v")})
    schema = "k string, v long"

    batch1 = spark.createDataFrame([
        ev("c", after={"k": "a", "v": 5}),
        ev("c", after={"k": "a", "v": 9}),
        ev("c", after={"k": "b", "v": 3}),
    ], "value string")
    mv.on_batch(debezium_decode(batch1, "value", schema))

    batch2 = spark.createDataFrame([
        # update a:9 -> a:4 (retracts the current max)
        ev("u", before={"k": "a", "v": 9}, after={"k": "a", "v": 4}),
        # delete b entirely
        ev("d", before={"k": "b", "v": 3}),
    ], "value string")
    out = mv.on_batch(debezium_decode(batch2, "value", schema))

    rows = {r.k: (r.total, r.hi) for r in out.collect()}
    assert rows == {"a": (9, 5)}  # 5+4, max back down to 5; b gone


def test_topk_spilled_state_still_exact(spark, spine):
    """TopK support past the spill budget: probes read the partitioned
    on-disk tier (pruned to touched key prefixes) and a delete that
    evicts a current top-k row still restores the right runner-up."""
    from pyspark.sql import functions as F

    from materialize_spark.streaming.retraction import RetractionAwareTopK

    spine(fold_every=2, spill_rows=1)
    tk = RetractionAwareTopK(spark, keys=["k"], order_col="v", limit=2,
                             descending=True)
    S = "k string, v long, diff long"
    tk.on_batch(spark.createDataFrame(
        [("a", 5, 1), ("a", 9, 1), ("a", 2, 1)], S))
    tk.on_batch(spark.createDataFrame(
        [("b", 30, 1), ("b", 8, 1)], S))  # -> compact + spill
    assert tk._state._disk is not None, "support should have spilled"
    # delete a's current #1: the evicted 2 must come back from DISK
    out = tk.on_batch(spark.createDataFrame([("a", 9, -1)], S))
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", 2), ("a", 5), ("b", 8), ("b", 30)]
    # untouched group b unchanged; another spill cycle keeps history
    tk.on_batch(spark.createDataFrame([("c", 1, 1)], S))
    out = tk.on_batch(spark.createDataFrame([("b", 30, -1)], S))
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", 2), ("a", 5), ("b", 8), ("c", 1)]


def test_setop_spilled_state_still_exact(spark, spine):
    """Set-op support past the spill budget: the (row, side) nets live
    on the partitioned parquet tier and a delete on one side still
    re-derives the visible multiplicity from disk."""
    from materialize_spark.streaming.retraction import (
        RetractionAwareSetOp,
    )

    spine(fold_every=2, spill_rows=1)
    so = RetractionAwareSetOp(spark, cols=["k", "v"], op="except",
                              all=True)
    S = "k string, v long, __side int, diff long"
    so.on_batch(spark.createDataFrame(
        [("a", 1, 0, 1), ("a", 1, 0, 1), ("b", 2, 0, 1)], S))
    so.on_batch(spark.createDataFrame(
        [("a", 1, 1, 1)], S))  # -> compact + spill
    assert so._state._disk is not None, "support should have spilled"
    got = sorted((r.k, r.v) for r in so.result().collect())
    assert got == [("a", 1), ("b", 2)]  # 2-1 copies of a1 + b2
    # retract the right-side a1 FROM DISK state: a1 count goes back to 2
    out = so.on_batch(spark.createDataFrame([("a", 1, 1, -1)], S))
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", 1), ("a", 1), ("b", 2)]
    # drain the left side of a entirely (also disk-resident now)
    out = so.on_batch(spark.createDataFrame(
        [("a", 1, 0, -1), ("a", 1, 0, -1)], S))
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("b", 2)]


def test_distinct_spilled_state_still_exact(spark, spine):
    """DISTINCT support past the spill budget: net multiplicities read
    back from the partitioned tier keep visibility exact when a row's
    last copy is retracted."""
    from materialize_spark.streaming.retraction import (
        RetractionAwareDistinct,
    )

    spine(fold_every=2, spill_rows=1)
    d = RetractionAwareDistinct(spark, cols=["k"])
    S = "k string, diff long"
    d.on_batch(spark.createDataFrame([("a", 1), ("a", 1), ("b", 1)], S))
    d.on_batch(spark.createDataFrame([("c", 1)], S))  # -> spill
    assert d._state._disk is not None, "support should have spilled"
    out = d.on_batch(spark.createDataFrame([("a", -1)], S))
    assert sorted(r.k for r in out.collect()) == ["a", "b", "c"]
    out = d.on_batch(spark.createDataFrame([("a", -1)], S))
    assert sorted(r.k for r in out.collect()) == ["b", "c"]
