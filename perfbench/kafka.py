"""``kafka_upsert``: open-loop keyed JSON records into an UPSERT source.

A producer thread writes records on a fixed schedule (``RATE`` per
second over ``KEYS`` keys, 80% of them to the hottest 10% of keys, 5%
tombstones) into an in-process ``MiniBroker`` topic with one partition.
The engine reads the topic through ``CREATE SOURCE ... FORMAT JSON
ENVELOPE UPSERT`` under a delta view grouping by region, and the
benchmark calls ``tick_sources()`` back to back. A record is visible once the
``mz_source_statistics.messages_received`` counter passes its offset (one
partition: the count is the offset frontier); its lag runs from its
scheduled creation time to the end of that tick. The counter is read from
the session's statistics record after every tick, since querying the
relation costs a Spark job that would delay the next tick; at the end the
relation itself must report the same count. At the end the view must
also equal a Python upsert fold of every produced record.
"""

from __future__ import annotations

import json
import random
import threading
import time

RATE = 2000             # records per second
KEYS = 20_000
HOT_KEYS = KEYS // 10   # the hottest 10% of keys...
HOT_SHARE = 0.8         # ...receive 80% of the records
TOMBSTONE_SHARE = 0.05
WARMUP_RECORDS = 500
DRAIN_LIMIT_S = 60.0
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

VIEW = ("SELECT data ->> 'region' AS region, count(*) AS keys, "
        "sum(CAST(data ->> 'amount' AS BIGINT)) AS amount "
        "FROM events GROUP BY data ->> 'region'")
COUNTER = ("SELECT messages_received FROM mz_source_statistics "
           "WHERE name = 'events'")


def records(seed: int, n: int) -> list[tuple[bytes, bytes | None]]:
    """The first ``n`` (key, value) records of the seed's stream."""
    rng = random.Random(f"kafka:{seed}")
    out = []
    for _ in range(n):
        if rng.random() < HOT_SHARE:
            k = rng.randrange(HOT_KEYS)
        else:
            k = rng.randrange(HOT_KEYS, KEYS)
        if rng.random() < TOMBSTONE_SHARE:
            value = None
        else:
            value = json.dumps({"region": rng.choice(REGIONS),
                                "amount": rng.randint(1, 1000)},
                               separators=(",", ":")).encode()
        out.append((f"k{k}".encode(), value))
    return out


def fold(recs) -> set[tuple[str, int, int]]:
    """Per-region (keys, amount) of the upsert state after ``recs``."""
    state: dict[bytes, dict] = {}
    for key, value in recs:
        if value is None:
            state.pop(key, None)
        else:
            state[key] = json.loads(value)
    agg: dict[str, list[int]] = {}
    for v in state.values():
        a = agg.setdefault(v["region"], [0, 0])
        a[0] += 1
        a[1] += v["amount"]
    return {(r, n, amt) for r, (n, amt) in agg.items()}


class Producer:
    """Writes ``recs`` to the topic on schedule: record j is due at
    ``t0 + j / RATE``. Runs on its own thread until done or stopped."""

    def __init__(self, host: str, port: int, topic: str, recs, t0: float):
        from materialize_spark.sources.kafka_wire import KafkaWireClient
        self.client = KafkaWireClient(host, port)
        self.topic = topic
        self.recs = recs
        self.t0 = t0
        self.sent = 0
        self.lateness: list[float] = []   # per batch: now - due of its first
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def due(self, j: int) -> float:
        return self.t0 + j / RATE

    def _loop(self) -> None:
        while not self._stop.is_set() and self.sent < len(self.recs):
            now = time.perf_counter()
            upto = min(len(self.recs), int((now - self.t0) * RATE) + 1)
            if upto > self.sent:
                batch = [(k, v, int(time.time() * 1000))
                         for k, v in self.recs[self.sent:upto]]
                self.lateness.append(now - self.due(self.sent))
                self.client.produce(self.topic, 0, batch)
                self.sent = upto
            self._stop.wait(max(0.0, min(0.005, self.due(self.sent)
                                         - time.perf_counter())))

    def start(self) -> "Producer":
        self._thread.start()
        return self

    def stopped(self) -> bool:
        return self._stop.is_set()

    def stop(self) -> None:
        if self.stopped():
            return
        self._stop.set()
        self._thread.join(timeout=30)
        self.client.close()


def _setup(ctx, broker, i: int):
    from materialize_spark.plans.sqlfront import MzSession
    topic = f"events_{i}"
    broker.create_topic(topic, partitions=1)
    s = MzSession(ctx.spark, ctx.dirs.sub(f"kafka-{i}"))
    s.execute(f"CREATE CONNECTION kafka_conn TO KAFKA "
              f"(BROKER '{broker.host}:{broker.port}')")
    s.execute("CREATE SOURCE events FROM KAFKA CONNECTION kafka_conn "
              f"(TOPIC '{topic}') FORMAT JSON ENVELOPE UPSERT")
    s.execute(f"CREATE MATERIALIZED VIEW by_region WITH "
              f"(MAINTENANCE 'delta') AS {VIEW}")
    return s, topic


def _discard(ctx, setup) -> None:
    s, _ = setup
    s.execute("DROP MATERIALIZED VIEW by_region")
    ctx.spark.catalog.clearCache()


def run(ctx) -> dict:
    from materialize_spark.sources.kafka_wire import (
        KafkaWireClient, MiniBroker,
    )
    with MiniBroker() as broker:
        session, topic = ctx.repeat_setup(
            lambda i: _setup(ctx, broker, i), lambda s: _discard(ctx, s))

        def counter() -> int:
            # the record behind mz_source_statistics.messages_received
            return session._source_stats["events"]["messages"] or 0

        n = WARMUP_RECORDS + int(RATE * ctx.seconds)
        recs = records(ctx.seed, n)
        with KafkaWireClient(broker.host, broker.port) as c:
            c.produce(topic, 0, [(k, v, 0) for k, v in
                                 recs[:WARMUP_RECORDS]])
        ctx.op("tick", session.tick_sources, wire=False, timed=False)
        base = counter()

        ctx.start_timed()
        prod = Producer(broker.host, broker.port, topic,
                        recs[WARMUP_RECORDS:], time.perf_counter()).start()
        lags: list[float] = []
        per_tick: list[int] = []
        backlog: list[int] = []
        visible = 0
        last_visible_t = prod.t0
        try:
            while True:
                done = ctx.time_up()
                if done and not prod.stopped():
                    prod.stop()
                if done and (visible >= prod.sent
                             or ctx.elapsed() > ctx.seconds + DRAIN_LIMIT_S):
                    break
                backlog.append(prod.sent - visible)
                op = ctx.op("tick", session.tick_sources, wire=False)
                now_visible = counter() - base
                per_tick.append(now_visible - visible)
                for j in range(visible, now_visible):
                    lags.append(op.end - prod.due(j))
                if now_visible > visible:
                    last_visible_t = op.end
                visible = now_visible
        finally:
            prod.stop()
        ctx.stop_timed()

        check = ctx.op("check", lambda: {
            (r[0], int(r[1]), int(r[2]))
            for r in session.sql("SELECT * FROM by_region").collect()},
            wire=False, timed=False)
        if check.ok and check.value != fold(recs[:WARMUP_RECORDS + prod.sent]):
            ctx.mismatch(check, "by_region differs from the upsert fold")
        if visible < prod.sent:
            ctx.mismatch(check, f"{prod.sent - visible} records never "
                                "became visible")
        public = ctx.op("counter", lambda: int(
            session.sql(COUNTER).collect()[0][0]), wire=False, timed=False)
        if public.ok and public.value != counter():
            ctx.mismatch(public, "mz_source_statistics disagrees with the "
                                 "session's counter")

    ctx.latencies = lags
    ctx.throughput = (visible, last_visible_t - prod.t0)
    if ctx.tracer is not None:
        ticks = max(len(per_tick), 1)
        ctx.layers.update({
            "sources.records_per_tick": (sum(per_tick) / ticks, "count"),
            "sources.empty_tick_ratio": (
                sum(1 for x in per_tick if x == 0) / ticks, "ratio"),
            "sources.backlog_records": (sum(backlog) / ticks, "count"),
        })
    late = sorted(prod.lateness)
    return {
        "rate_per_s": RATE, "keys": KEYS, "records": prod.sent,
        "ticks": len(per_tick),
        "producer_late_p50_s": late[len(late) // 2] if late else None,
        "producer_late_max_s": late[-1] if late else None,
    }
