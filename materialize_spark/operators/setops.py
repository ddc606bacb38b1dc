"""Multiplicity (diff) algebra: Negate, Threshold, Union.

Reference: MIR Negate/Threshold/Union (src/expr/src/relation.rs:278-299;
threshold render src/compute/src/render/threshold.rs). In the reference every
collection is a multiset with signed multiplicities; set operations are
compiled to Union + Negate + Threshold.

In Spark there are two representations:

1. **Implicit** (batch): plain DataFrames are multisets with positive
   multiplicities; `exceptAll`/`intersectAll` realize
   Threshold(Union(a, Negate(b))) without materializing diffs.
2. **Explicit** (CDC frames): a DataFrame with a ``diff`` LongType column —
   the (data, diff) half of the reference's update triples; used by the
   streaming IVM layer. `negate`/`threshold`/`union_diffs` operate on these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIFF_COL = "diff"


def negate(df: DataFrame, diff_col: str = DIFF_COL) -> DataFrame:
    """MIR Negate: flip multiplicities of an explicit-diff frame."""
    return df.withColumn(diff_col, -F.col(diff_col))


def threshold(df: DataFrame, diff_col: str = DIFF_COL) -> DataFrame:
    """MIR Threshold: keep rows whose summed multiplicity is positive,
    consolidating duplicates. group-by-all-columns → sum(diff) > 0.

    Scale: one hash-shuffle on the full row (same cost shape as the
    reference's arrangement by row).
    """
    data_cols = [c for c in df.columns if c != diff_col]
    return (
        df.groupBy(*data_cols)
        .agg(F.sum(diff_col).alias(diff_col))
        .filter(F.col(diff_col) > 0)
    )


def signed(adds: DataFrame, rets: DataFrame,
           diff_col: str = DIFF_COL) -> DataFrame:
    """The signed frame of a change given as its additions (``+1``) and
    retractions (``-1``)."""
    return (adds.withColumn(diff_col, F.lit(1))
            .unionByName(rets.withColumn(diff_col, F.lit(-1))))


def net_diff(new: DataFrame, old: DataFrame,
             diff_col: str = DIFF_COL) -> DataFrame:
    """``new - old`` as unit rows (one ``+1`` or ``-1`` row per unit of
    net multiplicity): both states through one aggregate, with no join
    in the plan. A delta view's history records this rather than the
    touched-group diff its consumers read:

    - A history break serializes every plan it holds: 32 touched-group
      exceptAll pairs took about 5 s to break on 4 vCPU.
    - A touched-group probe against a small batch plans as a broadcast
      join. The lazy break builds its broadcast at once and keeps it
      while the break is unread: with ``net_diff(new_t, old_t)``, the
      heap after a forced GC was 2.1 GB 8 ticks after the first break
      of 40 UPSERT source ticks (0.13 GB with this form).

    The aggregate scans both full states, but only when the history is
    read; an unread break plans it and runs nothing."""
    net = (new.withColumn("__n", F.lit(1))
           .unionByName(old.withColumn("__n", F.lit(-1)))
           .groupBy(*new.columns).agg(F.sum("__n").alias(diff_col))
           .filter(F.col(diff_col) != 0))
    return expand(net, diff_col)


def expand(df: DataFrame, diff_col: str = DIFF_COL) -> DataFrame:
    """Unit rows of a signed frame: each row ``|diff|`` times, its diff
    ``+1`` or ``-1``. Sinks, SUBSCRIBE output and multiset table states
    hold rows, not multiplicities."""
    return (df.withColumn("__i", F.explode(
                F.sequence(F.lit(1), F.abs(F.col(diff_col)))))
            .withColumn(diff_col, F.when(F.col(diff_col) > 0, F.lit(1))
                        .otherwise(F.lit(-1)))
            .drop("__i"))


def union_diffs(*dfs: DataFrame) -> DataFrame:
    """MIR Union over explicit-diff frames: bag union, multiplicities add
    lazily (consolidate with ``threshold`` when a positive-only view is
    needed)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT ALL == Threshold(Union(a, Negate(b))) — Spark native."""
    return a.exceptAll(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT ALL — Spark native."""
    return a.intersectAll(b)
