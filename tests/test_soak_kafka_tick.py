"""Soak: 40 UPSERT source ticks retain no per-tick heap.

A batch frame whose size the planner knows is small invites broadcast
hash joins against the batch keys; each tick's hashed relation (about
35 MB of 32 MB pages) then stayed reachable after the tick, and a
retraction join left in a view's lazy chain built one such relation per
tick at the next read. Here the JVM heap is measured after a forced GC
every 10 ticks: it must grow no faster than before ticks were fetched
in the driver.
"""

import json
import random

import pytest

from materialize_spark.plans.sqlfront import MzSession
from materialize_spark.sources.kafka_wire import KafkaWireClient, MiniBroker

pytestmark = pytest.mark.soak

SF_DIR = "/root/testdata/sf0.001"
TICKS = 40
RECORDS_PER_TICK = 1500
KEYS = 6000
# retained-heap growth allowed per 10 ticks after the first 10: the
# rate of the engine before ticks fetched in the driver (every tick a
# Spark-task fetch and an eager checkpoint), which grew 19.9, 20.0 and
# 22.8 MB per 10 ticks on this soak. The driver fetch grows 5-12 MB;
# one retained 32 MB page per tick would be 320 MB.
GROWTH_PER_10_TICKS_MB = 20


def _heap_after_gc_mb(spark) -> float:
    jvm = spark._jvm
    best = None
    for _ in range(3):  # System.gc() is a request: take the lowest
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        used = (rt.totalMemory() - rt.freeMemory()) / 2 ** 20
        best = used if best is None else min(best, used)
    return best


def test_upsert_ticks_retain_no_heap(spark):
    rng = random.Random(7)
    with MiniBroker() as broker:
        broker.create_topic("ks_soak", partitions=1)
        s = MzSession(spark, SF_DIR)
        s.execute("CREATE CONNECTION ks_soak_conn TO KAFKA "
                  f"(BROKER '{broker.host}:{broker.port}')")
        s.execute("CREATE SOURCE ks_soak FROM KAFKA CONNECTION "
                  "ks_soak_conn (TOPIC 'ks_soak') FORMAT JSON "
                  "ENVELOPE UPSERT")
        s.execute("CREATE MATERIALIZED VIEW ks_soak_by_g WITH "
                  "(MAINTENANCE 'delta') AS SELECT data ->> 'g' AS g, "
                  "count(*) AS n FROM ks_soak GROUP BY data ->> 'g'")
        state: dict[bytes, str] = {}
        heap = []
        with KafkaWireClient(broker.host, broker.port) as c:
            for tick in range(1, TICKS + 1):
                batch = []
                for _ in range(RECORDS_PER_TICK):
                    k = f"k{rng.randrange(KEYS)}".encode()
                    if rng.random() < 0.05:
                        batch.append((k, None, 0))
                        state.pop(k, None)
                    else:
                        g = rng.choice("abcde")
                        batch.append((k, json.dumps({"g": g}).encode(), 0))
                        state[k] = g
                c.produce("ks_soak", 0, batch)
                s.tick_sources()
                if tick % 10 == 0:
                    heap.append(_heap_after_gc_mb(spark))
        want = {}
        for g in state.values():
            want[g] = want.get(g, 0) + 1
        got = {r.g: r.n for r in s.sql("SELECT * FROM ks_soak_by_g")
               .collect()}
        assert got == want
        per_10 = (heap[-1] - heap[0]) / (len(heap) - 1)
        assert per_10 < GROWTH_PER_10_TICKS_MB, heap
