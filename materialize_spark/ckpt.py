"""Lineage-break policy for maintained state (the delta-MV hot path).

Every stateful streaming operator breaks lineage with
``DataFrame.localCheckpoint``: state parts, folded supports, table
snapshots and published results would otherwise accumulate plans that
grow with commit count. ``eager=True`` (the historical default) runs one
synchronous Spark job per call — measured with cProfile on
sqlfront_delta_mv_q21_exists at sf0.01, 146 such jobs accounted for
~127 s of a 199 s run: per-commit maintenance cost was dominated by
checkpoint-job latency, not by the actual delta computation
(OPTIMIZATION_r13.md).

``eager=False`` builds the IDENTICAL plan: Spark's ``Dataset.checkpoint``
runs physical planning at call time either way and wraps the result RDD
in the same ``LogicalRDD`` leaf (so every attribute-id / constraint /
relation-dedup behavior downstream is byte-identical); the only
difference is that the eager variant runs ``rdd.count()`` immediately
while the lazy one lets the first downstream action compute-and-persist
the checkpointed RDD as part of its own job. Deferral is value-safe here
because every checkpointed plan in this engine reads only immutable
inputs: literal row frames, prior checkpoints, persisted arrangements,
and append-only spill-tier generations (spill writes always go to a
fresh ``gen<N>`` directory, never overwrite a live one), and
time-dependent expressions are resolved to literals at plan-build time
(tick times are Python datetimes; ``current_timestamp`` is folded by the
optimizer during the checkpoint's own physical planning).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

# Per-session memo of spark.sql.codegen.wholeStage as last READ here.
# Sound because lineage_break is the only engine site that flips the
# conf and it always restores the pre-toggle value before returning.
_CODEGEN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _codegen_conf(spark) -> str | None:
    v = _CODEGEN.get(spark)
    if v is None:
        try:
            v = spark.conf.get("spark.sql.codegen.wholeStage")
        except Exception:
            v = "?"
        _CODEGEN[spark] = v
    return v


def lineage_break(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` (see the module docstring).

    The returned frame is tagged ``_mz_leaf`` so ``fresh_break`` can
    skip re-breaking a frame that IS already a
    checkpoint leaf (each ``localCheckpoint`` costs a full Catalyst
    planning pass — ~50 ms even for a literal frame). Skipping is
    sound: returning the SAME object means the same relation, which
    downstream plans may reference repeatedly (ordinary
    self-reference); the sibling-id hazard needs two DIFFERENT
    relations sharing exprIds, which the fresh-alias path still
    prevents for every newly built part."""
    spark = df.sparkSession
    from materialize_spark.catalog import light_maintenance_plans
    if light_maintenance_plans(spark) and _codegen_conf(spark) == "true":
        # Below the policy's data gate, the break's whole-stage-codegen
        # compile is pure driver cost (per-commit literals make each
        # generated source novel — the janino cache never hits; measured
        # 6.9 s -> 3.9 s of break time on warm q21_exists, OPTIMIZATION_
        # r14.md). Flip codegen off for THIS plan's physical planning
        # only: the conf is read at executedPlan materialization inside
        # localCheckpoint, so ad-hoc query paths (the headline bench)
        # keep compiled evaluation. Interpreted eval of the tiny
        # maintenance parts is execution-neutral at this scale; above
        # the gate the flag is false and nothing changes.
        # The conf read is memoized per session (module cache above):
        # the get costs 2 py4j roundtrips and this path runs once per
        # lineage break (~111/warm churn entry); only this function
        # flips the conf, so the cached value stays true between
        # breaks and the toggle is 2 sends instead of 4.
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            out = df.localCheckpoint(eager=False)
        finally:
            spark.conf.set("spark.sql.codegen.wholeStage", "true")
    else:
        out = df.localCheckpoint(eager=False)
    out._mz_leaf = True
    return out


def fresh_break(df: DataFrame) -> DataFrame:
    """Lineage break with FRESH attribute ids, skipping frames that are
    already checkpoint leaves — how every maintenance operator breaks
    lineage per batch (otherwise plans grow with the commit count).

    The fresh ids are load-bearing: ``localCheckpoint`` keeps the source
    plan's exprIds, so parts built from the same state frames would all
    expose IDENTICAL ids, and a later many-way self-union of such parts
    trips Catalyst's relation dedup with 'key not found: <attr>'. An
    alias projection mints new ids, so every checkpointed part is
    id-disjoint.

    The projection is ``Dataset.toDF`` fed the JVM's own column-name
    array: two py4j roundtrips whatever the width (PySpark's
    ``toDF(*cols)`` ships the names one roundtrip each). It aliases
    the output attributes directly, so duplicate or backtick-bearing
    names need no special case, and the checkpoint's captured
    constraints are rewritten onto the fresh ids (an alias projection
    over a temp view leaves them on the view-qualified old ids, which
    a later union of such leaves cannot map — 'key not found')."""
    if getattr(df, "_mz_leaf", False):
        return df
    jdf = df._jdf
    return lineage_break(type(df)(jdf.toDF(jdf.columns()), df.sparkSession))
