"""``mv_churn``: writes beside reads of delta-maintained views.

Closed loop, one pgwire connection. Three ``WITH (MAINTENANCE 'delta')``
views sit over ``lineitem``; each cycle runs one write and then one read.
Writes rotate INSERT (a 50-row batch on existing orders), UPDATE (about 50
rows) and DELETE (the batch inserted two cycles earlier), so the table
size stays flat. Reads alternate a full read and a point lookup, rotating
over the views. The run times as many whole periods of ``PERIOD`` cycles
as fit its length (at least one), so every run measures the same mix. The same
statements run against a DuckDB copy of the tables, and every read is
checked, untimed, against DuckDB's answer at the same point of the write
stream.
"""

from __future__ import annotations

import os
import random

from perfbench import datagen
from perfbench.adhoc import Endpoint
from perfbench.harness import copy_tables, duckdb_connect, same_rows

SF = 0.01
WARMUP_CYCLES = 3     # one write of each kind before timing
BATCH_ROWS = 50
UPDATE_ORDERS = 12      # ~4 lines per order: about 50 rows
DELETE_LAG = 2          # DELETE removes the INSERT of two cycles earlier
TAG_BASE = 1000         # inserted rows carry l_linenumber = TAG_BASE + cycle
# cycles are timed in whole periods: every write kind twice, every view
# read once in full and once by point lookup
PERIOD = 6

VIEWS = {
    "v_big_orders": (
        "SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem "
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 200"),
    "v_priority_revenue": (
        "SELECT o_orderpriority, "
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "count(*) AS line_count "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_orderpriority"),
    "v_top3_price": (
        "SELECT l_suppkey, l_extendedprice, rn FROM ("
        "SELECT l_suppkey, l_extendedprice, ROW_NUMBER() OVER ("
        "PARTITION BY l_suppkey ORDER BY l_extendedprice DESC) AS rn "
        "FROM lineitem) t WHERE rn <= 3"),
}
VIEW_NAMES = list(VIEWS)


def _insert(rng: random.Random, sizes: dict, tag: int) -> str:
    rows = []
    for _ in range(BATCH_ROWS):
        day = rng.randrange(datagen.SHIP_DAYS)
        ship = datagen.SHIP_EPOCH + day
        rows.append(
            f"({rng.randrange(sizes['orders'])}, "
            f"{rng.randrange(sizes['part'])}, "
            f"{rng.randrange(sizes['supplier'])}, {tag}, "
            f"{rng.randint(1, 50)}.0, "
            f"{rng.randint(90_000, 10_500_000) / 100:.2f}, "
            f"{rng.randint(0, 10) / 100:.2f}, {rng.randint(0, 8) / 100:.2f}, "
            f"'{rng.choice('ANR')}', '{rng.choice('FO')}', "
            f"TIMESTAMP '{ship} 00:00:00')")
    return "INSERT INTO lineitem VALUES " + ", ".join(rows)


def cycle(seed: int, c: int, sizes: dict) -> tuple[str, str, str]:
    """The write and the read of cycle ``c`` and the DuckDB text of that
    read; a pure function of (seed, c)."""
    rng = random.Random(f"churn:{seed}:{c}")
    kind = c % 3
    if kind == 0:
        write = _insert(rng, sizes, TAG_BASE + c)
    elif kind == 1:
        k = rng.randrange(sizes["orders"] - UPDATE_ORDERS)
        write = ("UPDATE lineitem SET l_quantity = l_quantity + 1, "
                 "l_extendedprice = l_extendedprice + 1 "
                 f"WHERE l_orderkey BETWEEN {k} AND {k + UPDATE_ORDERS - 1}")
    else:
        write = ("DELETE FROM lineitem WHERE l_linenumber = "
                 f"{TAG_BASE + c - DELETE_LAG}")
    view = VIEW_NAMES[(c // 2) % len(VIEW_NAMES)]
    if c % 2 == 0:
        pred = ""
    elif view == "v_big_orders":
        pred = f" WHERE l_orderkey = {rng.randrange(sizes['orders'])}"
    elif view == "v_priority_revenue":
        pred = (" WHERE o_orderpriority = "
                f"'{rng.choice(datagen.PRIORITIES)}'")
    else:
        pred = f" WHERE l_suppkey = {rng.randrange(sizes['supplier'])}"
    read = f"SELECT * FROM {view}{pred}"
    oracle = f"SELECT * FROM ({VIEWS[view]}) AS v{pred}"
    return write, read, oracle


def _create_views(ep: Endpoint) -> Endpoint:
    for name, body in VIEWS.items():
        ep.client.query(f"CREATE MATERIALIZED VIEW {name} WITH "
                        f"(MAINTENANCE 'delta') AS {body}")
    return ep


def _discard(ctx, ep: Endpoint) -> None:
    for name in VIEWS:
        ep.client.query(f"DROP MATERIALIZED VIEW {name}")
    ep.close()
    ctx.spark.catalog.clearCache()


def run(ctx) -> dict:
    sf = ctx.sf or SF
    sizes = datagen.table_sizes(sf)
    base = datagen.write(ctx.dirs.sub("churn-data"), sf, ctx.seed)
    ep = ctx.repeat_setup(
        lambda i: _create_views(Endpoint(
            ctx.spark, copy_tables(base, ctx.dirs.sub(f"churn-{i}")))),
        lambda e: _discard(ctx, e))
    con = duckdb_connect()
    for t in ("orders", "lineitem"):
        path = os.path.join(base, f"{t}.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}'")

    def one_cycle(c: int, timed: bool) -> None:
        write, read, oracle = cycle(ctx.seed, c, sizes)
        ctx.op("write", ep.client.query, write, timed=timed)
        con.execute(write)
        op = ctx.op("read", ep.client.query, read, timed=timed)
        if op.ok and not same_rows(op.value[-1]["rows"],
                                   con.execute(oracle).fetchall()):
            ctx.mismatch(op, f"cycle {c}: {read} differs from DuckDB")

    for c in range(WARMUP_CYCLES):
        one_cycle(c, timed=False)
    ctx.start_timed()
    periods = ctx.whole_units(lambda k: [
        one_cycle(WARMUP_CYCLES + k * PERIOD + i, timed=True)
        for i in range(PERIOD)])
    c = WARMUP_CYCLES + periods * PERIOD
    ctx.stop_timed()

    writes = [o.end - o.start for o in ctx.log.timed() if o.kind == "write"]
    ctx.latencies = writes
    ctx.reads = [o.end - o.start for o in ctx.log.timed()
                 if o.kind == "read"]
    ctx.throughput = (len(writes), sum(writes) + sum(ctx.reads))
    if ctx.tracer is not None:
        rows = sum(int(ep.client.query(f"SELECT count(*) FROM {v}")
                       [-1]["rows"][0][0]) for v in VIEWS)
        ctx.layers["streaming.view_rows"] = (float(rows), "count")
    ep.close()
    con.close()
    return {"sf": sf, "cycles": c, "warmup_cycles": WARMUP_CYCLES,
            "lineitem_rows": sizes["lineitem"]}
