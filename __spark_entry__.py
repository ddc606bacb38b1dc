"""Driver contract for the spark-graft builder (PySpark target).

Backed by the `materialize_spark` engine package; the query inventory lives
in `materialize_spark/queries/` (one registered entry per implemented
operator from SURVEY.md §2, each with a DuckDB oracle where the semantics
are ANSI-SQL-expressible).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from materialize_spark.queries import load_all

_REGISTRY = load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return _REGISTRY["tpch_q1"].fn(spark, "/root/testdata/sf0.001")


def _with_confs(fn: Callable[[SparkSession, str], DataFrame]):
    """Apply the engine's runtime confs (parquet nanos handling, join and
    cache tuning) and ``sf_dir``'s data-sized policy (AQE, shuffle
    partitions, planner rules, UTC) to the caller's session before the
    query builds any plan — the driver contract hands us an arbitrary
    SparkSession."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from materialize_spark.catalog import load_tables
        load_tables(spark, sf_dir)
        return fn(spark, sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_confs(spec.fn) for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _REGISTRY.items()
        if spec.oracle is not None
    }
