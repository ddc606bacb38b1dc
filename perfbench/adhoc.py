"""``adhoc_tpch``: ad-hoc TPC-H texts through the Postgres wire protocol.

Closed loop, one client connection to an in-process ``MzPgServer``. Each
pass sends every registered ``tpch_*`` oracle text the SQL surface
accepts, in an order drawn from the seed; the run times as many whole
passes as fit its length (at least one). Every answer is compared with
DuckDB's answer to the same text over the same parquet files.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen
from perfbench.harness import copy_tables, duckdb_connect, same_rows

SF = 0.1
WARMUP_SF = 0.001
# functions only DuckDB has; texts using them are not sent to the engine
DUCKDB_ONLY = ("strftime(",)


def texts() -> dict[str, str]:
    from materialize_spark.queries import REGISTRY, tpch, tpch2  # noqa: F401
    return {name: spec.oracle for name, spec in sorted(REGISTRY.items())
            if name.startswith("tpch_") and spec.oracle
            and not any(f in spec.oracle for f in DUCKDB_ONLY)}


def pass_order(seed: int, names: list[str], k: int) -> list[str]:
    """Pass k sends every name once, shuffled by (seed, k)."""
    order = sorted(names)
    random.Random(f"adhoc:{seed}:{k}").shuffle(order)
    return order


def duckdb_answers(data_dir: str, queries: dict[str, str]) -> dict:
    con = duckdb_connect()
    try:
        for t in datagen.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {name: con.execute(sql).fetchall()
                for name, sql in queries.items()}
    finally:
        con.close()


class Endpoint:
    """One engine session served over pgwire, with one client."""

    def __init__(self, spark, data_dir: str):
        from materialize_spark.plans.pgwire import MzPgServer, PgWireClient
        from materialize_spark.plans.sqlfront import MzSession
        self.session = MzSession(spark, data_dir)
        self.server = MzPgServer(self.session)
        self.client = PgWireClient(self.server.host, self.server.port,
                                   timeout=170)

    def close(self) -> None:
        self.client.close()
        self.server.close()


def run(ctx) -> dict:
    queries = texts()
    names = sorted(queries)
    base = datagen.write(ctx.dirs.sub("adhoc-data"), ctx.sf or SF, ctx.seed)

    # DuckDB's answers are computed on a thread while the engine warms up:
    # one pass on a tiny table set, so the JVM has compiled the planner and
    # code generator for every text before anything is timed
    with ThreadPoolExecutor(max_workers=1) as pool:
        answers = pool.submit(duckdb_answers, base, queries)
        tiny = datagen.write(ctx.dirs.sub("adhoc-warm"), WARMUP_SF, ctx.seed)
        warm = Endpoint(ctx.spark, tiny)
        for name in names:
            try:
                warm.client.query(queries[name])
            except ValueError:
                pass  # a failing text fails again, counted, when timed
        warm.close()
        ctx.spark.catalog.clearCache()
        want = answers.result()
    ctx.mark("warmup_done")

    ep = ctx.repeat_setup(
        lambda i: Endpoint(ctx.spark,
                           copy_tables(base, ctx.dirs.sub(f"adhoc-{i}"))),
        lambda e: (e.close(), ctx.spark.catalog.clearCache()))
    # the engine caches tables on first use; fill those caches untimed, so
    # no timed statement pays the one-time load
    for t in datagen.TABLES:
        ep.client.query(f"SELECT count(*) FROM {t}")

    ctx.start_timed()

    def one_pass(k: int) -> None:
        for name in pass_order(ctx.seed, names, k):
            op = ctx.op("statement", ep.client.query, queries[name])
            if op.ok and not same_rows(op.value[-1]["rows"], want[name]):
                ctx.mismatch(op, f"{name}: result differs from DuckDB")
    passes = ctx.whole_units(one_pass)
    ctx.stop_timed()
    ep.close()
    ctx.latencies = [o.end - o.start for o in ctx.log.timed()]
    ctx.throughput = (len(ctx.latencies), sum(ctx.latencies))
    return {"texts": len(names), "passes": passes, "sf": ctx.sf or SF}
