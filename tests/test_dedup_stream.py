

# --------------------------------------------------------------------------
# IncrementalLSHDedup: streaming near-dup dedup

def _lsh_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_lsh_cross_batch_near_dup(spark):
    from pyspark.sql import functions as F

    from materialize_spark.streaming.dedup_stream import IncrementalLSHDedup
    dd = IncrementalLSHDedup(spark, num_hashes=8, band_size=2, k=3,
                             min_agree=4)
    tokens = F.split(F.col("text"), " ")
    base = "the quick brown fox jumps over the lazy dog again and again"
    s1 = dd.on_batch(_lsh_docs(spark, [
        (1, base),
        (2, "completely different content about spark engines at scale"),
    ]), tokens)
    assert {r.doc_id for r in s1.collect()} == {1, 2}
    # batch 2: a near-copy of doc 1 (one word changed) must drop; a fresh
    # doc survives
    s2 = dd.on_batch(_lsh_docs(spark, [
        (3, base.replace("dog", "cat")),
        (4, "yet another unrelated document mentioning nothing shared"),
    ]), tokens)
    assert {r.doc_id for r in s2.collect()} == {4}


def test_incremental_lsh_within_batch_and_transitive_to_dropped(spark):
    """A doc matching only a DROPPED lower doc must still drop (state
    keeps all seen docs, not just survivors)."""
    from pyspark.sql import functions as F

    from materialize_spark.streaming.dedup_stream import IncrementalLSHDedup
    dd = IncrementalLSHDedup(spark, num_hashes=8, band_size=2, k=3,
                             min_agree=4)
    tokens = F.split(F.col("text"), " ")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    s1 = dd.on_batch(_lsh_docs(spark, [
        (10, base),
        (11, base + " extra"),  # in-batch near dup of 10 -> dropped
    ]), tokens)
    assert {r.doc_id for r in s1.collect()} == {10}
    # 12 is nearly identical to the DROPPED 11
    s2 = dd.on_batch(_lsh_docs(spark, [(12, base + " extra")]), tokens)
    assert s2.count() == 0


def test_incremental_lsh_short_docs_always_survive(spark):
    from pyspark.sql import functions as F

    from materialize_spark.streaming.dedup_stream import IncrementalLSHDedup
    dd = IncrementalLSHDedup(spark)
    tokens = F.split(F.col("text"), " ")
    s = dd.on_batch(_lsh_docs(spark, [(1, "too short"), (2, "um")]),
                    tokens)
    assert s.count() == 2  # < k tokens: no signature, never candidates


def test_incremental_lsh_spilled_state_still_exact(spark, spine):
    """State forced past the spill budget: the compacted seen-corpus
    moves to hash-prefix-partitioned parquet and probes stay correct —
    a near-dup of a doc seen BEFORE the spill still drops, and the
    spilled tier is actually in use."""
    from pyspark.sql import functions as F

    from materialize_spark.streaming.dedup_stream import IncrementalLSHDedup
    spine(fold_every=2, spill_rows=1)
    dd = IncrementalLSHDedup(spark, num_hashes=8, band_size=2, k=3,
                             min_agree=4)
    tokens = F.split(F.col("text"), " ")
    base = "one two three four five six seven eight nine ten eleven"
    other = "red orange yellow green blue indigo violet ultra infra deep"
    dd.on_batch(_lsh_docs(spark, [(1, base)]), tokens)
    dd.on_batch(_lsh_docs(spark, [(2, other)]), tokens)  # -> compact+spill
    assert dd._buckets._disk, "state should have spilled"
    assert not any(p.count() for p in dd._buckets._parts if p is not None)
    # near-dup of pre-spill doc 1: must still drop via the disk tier
    s = dd.on_batch(_lsh_docs(spark, [
        (3, base.replace("ten", "TEN")),
        (4, "fresh totally novel words that match nothing else here"),
    ]), tokens)
    assert {r.doc_id for r in s.collect()} == {4}
    # another spill cycle folds disk + memory without losing history
    dd.on_batch(_lsh_docs(spark, [
        (5, "more filler content to force a second compaction round")],
    ), tokens)
    s = dd.on_batch(_lsh_docs(spark, [(6, other + " banana")]), tokens)
    assert s.count() == 0  # near-dup of pre-spill doc 2
