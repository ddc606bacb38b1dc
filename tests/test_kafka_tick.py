"""Kafka source ticks fetched, counted and compacted in the driver.

A steady UPSERT tick polls over one driver connection into a
one-partition local frame (``KafkaWireStream.poll``), keeps the newest
record per key there, takes its record count from the fetch, and merges
into the collection in one Spark job. A backlog whose record bytes
exceed ``DRIVER_FETCH_BYTES`` is fetched by Spark tasks instead, into
the same frame.
"""

import json
import random

import pytest
from pyspark.sql import functions as F

from materialize_spark.plans.sqlfront import MzSession
from materialize_spark.sources import kafka_wire
from materialize_spark.sources.kafka_wire import (
    KafkaWireClient, KafkaWireStream, MiniBroker, newest_per_key,
)
from materialize_spark.streaming.upsert import upsert_latest

SF_DIR = "/root/testdata/sf0.001"


def _produce(broker, topic, recs, partition=0):
    with KafkaWireClient(broker.host, broker.port) as c:
        c.produce(topic, partition, [(k, v, 0) for k, v in recs])


def _value(g, x):
    return json.dumps({"g": g, "x": x}).encode()


def _upsert_source(spark, broker, name):
    """Session with an UPSERT source ``name`` over a fresh one-partition
    topic and a delta view ``<name>_by_g`` counting keys per group."""
    broker.create_topic(name, partitions=1)
    s = MzSession(spark, SF_DIR)
    s.execute(f"CREATE CONNECTION {name}_conn TO KAFKA "
              f"(BROKER '{broker.host}:{broker.port}')")
    s.execute(f"CREATE SOURCE {name} FROM KAFKA CONNECTION {name}_conn "
              f"(TOPIC '{name}') FORMAT JSON ENVELOPE UPSERT")
    s.execute(f"CREATE MATERIALIZED VIEW {name}_by_g WITH (MAINTENANCE "
              f"'delta') AS SELECT data ->> 'g' AS g, count(*) AS n "
              f"FROM {name} GROUP BY data ->> 'g'")
    return s


def _fold(recs):
    state = {}
    for k, v in recs:
        if v is None:
            state.pop(k, None)
        else:
            state[k] = json.loads(v)["g"]
    out = {}
    for g in state.values():
        out[g] = out.get(g, 0) + 1
    return out


def _churn(rng, n, keys=40):
    return [(f"k{rng.randrange(keys)}".encode(),
             None if rng.random() < 0.1
             else _value(rng.choice("abc"), rng.randrange(100)))
            for _ in range(n)]


def _spark_jobs(spark, fn):
    """Number of Spark jobs ``fn()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"kafka-tick-{random.random()}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_tick_runs_at_most_two_jobs(spark):
    rng = random.Random(1)
    with MiniBroker() as broker:
        s = _upsert_source(spark, broker, "kt_jobs")
        sent = _churn(rng, 200)
        _produce(broker, "kt_jobs", sent)
        s.tick_sources()  # warm-up tick
        for _ in range(3):
            batch = _churn(rng, 150)
            _produce(broker, "kt_jobs", batch)
            sent += batch
            assert _spark_jobs(spark, s.tick_sources) <= 2
        got = {r.g: r.n for r in s.sql("SELECT * FROM kt_jobs_by_g")
               .collect()}
        assert got == _fold(sent)
        assert s._source_stats["kt_jobs"]["messages"] == len(sent)


def test_collection_partition_count_stays_constant(spark):
    rng = random.Random(2)
    with MiniBroker() as broker:
        s = _upsert_source(spark, broker, "kt_parts")
        counts = []
        sent = []
        for _ in range(15):
            batch = _churn(rng, 60)
            _produce(broker, "kt_parts", batch)
            sent += batch
            s.tick_sources()
            counts.append(
                s.catalog._tables["kt_parts"].rdd.getNumPartitions())
        assert counts[0] == counts[-1], counts
        got = {r.g: r.n for r in s.sql("SELECT * FROM kt_parts_by_g")
               .collect()}
        assert got == _fold(sent)


def test_upsert_tick_replaces_null_key(spark):
    """A NULL key is one key: each tick's NULL-key record replaces the
    collection's, as the snapshot keeps only the newest."""
    with MiniBroker() as broker:
        broker.create_topic("kt_null", partitions=1)
        sent = [(None, _value("a", 0)), (b"k1", _value("b", 0))]
        _produce(broker, "kt_null", sent)  # the source's snapshot
        s = _upsert_source(spark, broker, "kt_null")
        for i, g in enumerate("bcd"):
            batch = [(None, _value(g, i))]
            _produce(broker, "kt_null", batch)
            sent += batch
            assert s.tick_sources() == ["kt_null"]
        nulls = s.sql("SELECT data ->> 'g' AS g FROM kt_null "
                      "WHERE key IS NULL").collect()
        assert [r.g for r in nulls] == ["d"]
        got = {r.g: r.n for r in s.sql("SELECT * FROM kt_null_by_g")
               .collect()}
        assert got == _fold(sent) == {"b": 1, "d": 1}


def _records(seed):
    """Seeded (partition, record) pairs over 2 partitions in fetch
    order: duplicate keys, a tombstone then a re-insert of one key in
    the same batch, and NULL keys."""
    rng = random.Random(seed)
    out = []
    for pid in (0, 1):
        recs = [(f"k{rng.randrange(8)}".encode(),
                 None if rng.random() < 0.2 else b"v%d" % rng.randrange(9))
                for _ in range(40)]
        recs += [(b"t%d" % pid, b"old"), (b"t%d" % pid, None),
                 (b"t%d" % pid, b"new"), (None, b"n1"), (None, b"n2")]
        out += [(pid, (off, k, v, 1000 + off))
                for off, (k, v) in enumerate(recs)]
    return out


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_driver_compaction_equals_upsert_latest(spark, seed):
    recs = _records(seed)
    df = spark.createDataFrame(
        [(p, o, k, v) for p, (o, k, v, _t) in recs],
        "partition int, offset long, key binary, value binary")
    want = {tuple(r) for r in upsert_latest(
        df, ["key"], [F.col("partition").desc(), F.col("offset").desc()])
        .select("partition", "offset", "key", "value").collect()}
    got = {(p, o, k, v) for p, (o, k, v, _t) in newest_per_key(recs)}
    assert got == want
    # the tombstone-then-re-insert key keeps its re-insert; NULL keys
    # collapse to their newest record like any other key
    assert {(k, v) for _p, _o, k, v in got} >= {
        (b"t1", b"new"), (None, b"n2")}


def _spy_task_path(monkeypatch) -> list[bool]:
    """The ``compact`` flag of every poll that took the Spark-task path."""
    calls: list[bool] = []
    orig = KafkaWireStream._poll_in_tasks
    monkeypatch.setattr(
        KafkaWireStream, "_poll_in_tasks",
        lambda self, compact: calls.append(compact) or orig(self, compact))
    return calls


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


@pytest.mark.parametrize("compact", [False, True])
@pytest.mark.parametrize("headers", [False, True])
def test_backlog_above_limit_fetches_in_tasks_same_frame(
        spark, monkeypatch, compact, headers):
    with MiniBroker() as broker:
        broker.create_topic("kt_back", partitions=2)
        hdrs = [("h", b"x"), ("n", None)] if headers else []
        with KafkaWireClient(broker.host, broker.port) as c:
            for pid in (0, 1):
                c.produce("kt_back", pid, [
                    (k, v, 1000 + i, hdrs) for i, (k, v) in enumerate(
                        [(b"k%d" % (i % 5), b"v%d" % i) for i in range(12)]
                        + [(b"k1", None), (None, b"z")])])
        bootstrap = f"{broker.host}:{broker.port}"
        in_tasks = _spy_task_path(monkeypatch)
        # 14 records of 34 bytes plus 53 bytes of keys and values per
        # partition: 1058 bytes in all
        monkeypatch.setattr(kafka_wire, "DRIVER_FETCH_BYTES", 1058)
        driver = KafkaWireStream(spark, bootstrap, "kt_back",
                                 include_headers=headers)
        local = driver.poll(compact=compact)
        assert in_tasks == []
        assert local.rdd.getNumPartitions() == 1

        monkeypatch.setattr(kafka_wire, "DRIVER_FETCH_BYTES", 1057)
        tasks = KafkaWireStream(spark, bootstrap, "kt_back",
                                include_headers=headers)
        remote = tasks.poll(compact=compact)
        assert in_tasks == [compact]  # 1058 bytes > 1057: Spark tasks
        assert _rows(remote) == _rows(local)
        assert tasks.polled == driver.polled == 28
        assert tasks.commit() == driver.commit() == {0: 14, 1: 14}


@pytest.mark.parametrize("count, size", [(5, 1 << 20), (1, 5 << 20)])
def test_large_values_fetch_in_tasks(spark, monkeypatch, count, size):
    """5 MiB of values exceed the driver's limit as it ships, as five
    1 MiB records or as one record larger than a fetch window."""
    with MiniBroker() as broker:
        broker.create_topic("kt_big", partitions=1)
        _produce(broker, "kt_big", [(b"k%d" % i, bytes([65 + i]) * size)
                                    for i in range(count)])
        in_tasks = _spy_task_path(monkeypatch)
        stream = KafkaWireStream(spark, f"{broker.host}:{broker.port}",
                                 "kt_big")
        batch = stream.poll(compact=True)
        assert in_tasks == [True]
        got = sorted((r.key, r.value[:1], len(r.value))
                     for r in batch.select("key", "value").collect())
        assert got == [(b"k%d" % i, bytes([65 + i]), size)
                       for i in range(count)]
        assert stream.polled == count
        assert stream.commit() == {0: count}


@pytest.mark.parametrize("limit", [None, 0])
def test_repoll_without_commit_gives_same_batch(spark, monkeypatch, limit):
    if limit is not None:  # 0: every non-empty poll takes the task path
        monkeypatch.setattr(kafka_wire, "DRIVER_FETCH_BYTES", limit)
    with MiniBroker() as broker:
        broker.create_topic("kt_repoll", partitions=2)
        stream = KafkaWireStream(
            spark, f"{broker.host}:{broker.port}", "kt_repoll")
        _produce(broker, "kt_repoll", [(b"a", b"1"), (b"b", b"2")])
        _produce(broker, "kt_repoll", [(b"c", b"3")], partition=1)
        first = _rows(stream.poll(compact=True))
        again = _rows(stream.poll(compact=True))
        assert first == again and stream.polled == 3
        assert stream.commit() == {0: 2, 1: 1}
        assert stream.poll(compact=True).count() == 0
        assert stream.polled == 0


def test_create_source_counts_snapshot_records(spark):
    """messages_received after CREATE SOURCE counts the records the
    snapshot read (6), not the collection's live keys (2)."""
    with MiniBroker() as broker:
        broker.create_topic("kt_snap", partitions=1)
        _produce(broker, "kt_snap", [
            (b"a", _value("x", 1)), (b"b", _value("x", 2)),
            (b"c", _value("y", 3)), (b"a", _value("y", 4)),
            (b"b", None), (b"c", _value("x", 5))])
        s = MzSession(spark, SF_DIR)
        s.execute("CREATE CONNECTION kt_snap_conn TO KAFKA "
                  f"(BROKER '{broker.host}:{broker.port}')")
        s.execute("CREATE SOURCE kt_snap FROM KAFKA CONNECTION "
                  "kt_snap_conn (TOPIC 'kt_snap') FORMAT JSON "
                  "ENVELOPE UPSERT")
        assert s.sql("SELECT count(*) FROM kt_snap").first()[0] == 2
        stat = s.sql("SELECT messages_received FROM mz_source_statistics "
                     "WHERE name = 'kt_snap'").first()[0]
        assert stat == 6
