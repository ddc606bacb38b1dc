"""One commit path: every write kind hands one signed diff frame to
``MzSession._commit``, which swaps in the new state, appends the view
history, feeds each dependent delta view and routes the change to
subscriptions. Each test pins one property of that path."""

import json
from collections import Counter
from datetime import datetime

import pytest

from materialize_spark.plans.sqlfront import MzSession
from materialize_spark.sources.kafka_wire import KafkaWireClient, MiniBroker
from materialize_spark.streaming.history import SinceViolation

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spy_commits(s):
    """Record the relation of every ``_commit`` call on ``s``."""
    seen = []
    orig = s._commit

    def spy(rel, delta, **kw):
        seen.append(rel)
        return orig(rel, delta, **kw)
    s._commit = spy
    return seen


def _check(s, spark, seen, expected, views):
    """Each of ``expected`` committed once, nothing else committed, and
    each view in ``views`` (name -> body) equals its body run as a
    plain SELECT."""
    assert Counter(seen) == Counter(expected), seen
    seen.clear()
    for name, body in views.items():
        assert _rows(s.sql(f"SELECT * FROM {name}")) \
            == _rows(s.sql(body)), name


def test_table_writes_commit_once(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cp_t (k STRING, v BIGINT)")
    s.execute("INSERT INTO cp_t VALUES ('a', 1), ('b', 2)")
    body = "SELECT k, sum(v) AS s FROM cp_t GROUP BY k"
    s.execute(f"CREATE MATERIALIZED VIEW cp_v WITH (MAINTENANCE 'delta') "
              f"AS {body}")
    seen = _spy_commits(s)
    for stmt in ("INSERT INTO cp_t VALUES ('a', 5), ('c', 3)",
                 "UPDATE cp_t SET v = v + 10 WHERE k = 'b'",
                 "DELETE FROM cp_t WHERE k = 'a'"):
        s.execute(stmt)
        _check(s, spark, seen, ["cp_t", "cp_v"], {"cp_v": body})
    s.run_script("DROP MATERIALIZED VIEW cp_v; DROP TABLE cp_t;")


def test_write_diff_reads_the_table_before_the_write(spark):
    """UPDATE and DELETE whose WHERE reads the written table take their
    diff against the table as it was before the statement, the same
    version the new state is computed from."""
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cp_u (k BIGINT, v BIGINT)")
    s.execute("INSERT INTO cp_u VALUES (1, 1), (2, 2)")
    body = "SELECT k, sum(v) AS s FROM cp_u GROUP BY k"
    s.execute(f"CREATE MATERIALIZED VIEW cp_uv WITH (MAINTENANCE 'delta') "
              f"AS {body}")
    for stmt in ("UPDATE cp_u SET v = 10 WHERE v IN (SELECT max(v) FROM "
                 "cp_u)",
                 "DELETE FROM cp_u WHERE v IN (SELECT max(v) FROM cp_u)"):
        s.execute(stmt)
        assert _rows(s.sql("SELECT * FROM cp_uv")) == _rows(s.sql(body)), \
            stmt
    assert _rows(s.sql("SELECT * FROM cp_u")) == [(1, 1)]
    s.run_script("DROP MATERIALIZED VIEW cp_uv; DROP TABLE cp_u;")


def test_refresh_commits_once(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cp_r (k STRING, v BIGINT)")
    s.execute("INSERT INTO cp_r VALUES ('a', 1)")
    body = "SELECT k, sum(v) AS s FROM cp_r GROUP BY k"
    s.execute(f"CREATE MATERIALIZED VIEW cp_mv AS {body}")
    s.execute("INSERT INTO cp_r VALUES ('a', 2), ('b', 4)")
    seen = _spy_commits(s)
    s.execute("REFRESH MATERIALIZED VIEW cp_mv")
    _check(s, spark, seen, ["cp_mv"], {"cp_mv": body})
    s.run_script("DROP MATERIALIZED VIEW cp_mv; DROP TABLE cp_r;")


def test_tick_time_commits_once(spark):
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE cp_tt (k STRING, n BIGINT, vf TIMESTAMP);
        INSERT INTO cp_tt VALUES
          ('a', 1, TIMESTAMP '1990-01-01 00:00:00'),
          ('b', 2, TIMESTAMP '2100-01-01 00:00:00');
        CREATE MATERIALIZED VIEW cp_tmv WITH (MAINTENANCE 'delta') AS
          SELECT k, n FROM cp_tt WHERE mz_now() >= vf;
        CREATE MATERIALIZED VIEW cp_tagg WITH (MAINTENANCE 'delta') AS
          SELECT k, sum(n) AS total FROM cp_tmv GROUP BY k;
    """)
    seen = _spy_commits(s)
    s.tick_time(now=datetime(2100, 2, 1))
    _check(s, spark, seen, ["cp_tmv", "cp_tagg"],
           {"cp_tagg": "SELECT k, sum(n) AS total FROM cp_tt GROUP BY k"})
    s.run_script("DROP MATERIALIZED VIEW cp_tagg;"
                 "DROP MATERIALIZED VIEW cp_tmv; DROP TABLE cp_tt;")


def test_webhook_post_commits_once(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE SOURCE cp_hook FROM WEBHOOK BODY FORMAT JSON")
    body = "SELECT body, count(*) AS n FROM cp_hook GROUP BY body"
    s.execute(f"CREATE MATERIALIZED VIEW cp_hook_n WITH (MAINTENANCE "
              f"'delta') AS {body}")
    seen = _spy_commits(s)
    for e in (1, 1, 2):
        s.webhook("cp_hook").post({"e": e})
        _check(s, spark, seen, ["cp_hook", "cp_hook_n"],
               {"cp_hook_n": body})
    s.run_script("DROP MATERIALIZED VIEW cp_hook_n;")


def test_kafka_upsert_tick_commits_once(spark):
    with MiniBroker() as broker:
        broker.create_topic("cp_k", partitions=1)
        s = MzSession(spark, SF_DIR)
        s.execute(f"CREATE CONNECTION cp_k_conn TO KAFKA "
                  f"(BROKER '{broker.host}:{broker.port}')")
        s.execute("CREATE SOURCE cp_k FROM KAFKA CONNECTION cp_k_conn "
                  "(TOPIC 'cp_k') FORMAT JSON ENVELOPE UPSERT")
        body = ("SELECT data ->> 'g' AS g, count(*) AS n FROM cp_k "
                "GROUP BY data ->> 'g'")
        s.execute(f"CREATE MATERIALIZED VIEW cp_k_by_g WITH (MAINTENANCE "
                  f"'delta') AS {body}")
        seen = _spy_commits(s)
        for recs in ([(b"k1", "a"), (b"k2", "b")],
                     [(b"k1", "b"), (b"k3", None)]):
            with KafkaWireClient(broker.host, broker.port) as c:
                c.produce("cp_k", 0, [
                    (k, None if g is None
                     else json.dumps({"g": g}).encode(), 0)
                    for k, g in recs])
            assert s.tick_sources() == ["cp_k"]
            _check(s, spark, seen, ["cp_k", "cp_k_by_g"],
                   {"cp_k_by_g": body})


def test_cdc_tick_commits_once(spark, tmp_path):
    from materialize_spark.sources.pgoutput import (
        encode_delete, encode_insert, encode_relation, encode_update,
    )
    oid = 920
    logdir = str(tmp_path / "wal")

    def log(*msgs, lsn0):
        spark.createDataFrame(
            [(lsn0 + i, bytearray(m)) for i, m in enumerate(msgs)],
            "lsn long, message binary").write.mode("append") \
            .parquet(logdir)
    log(encode_relation(oid, "public", "accts",
                        [("id", 23, True), ("name", 25, False)]),
        encode_insert(oid, [1, "alice"]), encode_insert(oid, [2, "bob"]),
        lsn0=1)
    s = MzSession(spark, SF_DIR)
    s.execute(f"CREATE CONNECTION cp_repl TO POSTGRES (log = '{logdir}')")
    s.execute("CREATE SOURCE cp_pg FROM POSTGRES CONNECTION cp_repl "
              "(PUBLICATION 'mz') FOR ALL TABLES")
    body = "SELECT name, count(*) AS n FROM cp_pg_accts GROUP BY name"
    s.execute(f"CREATE MATERIALIZED VIEW cp_acct_n WITH (MAINTENANCE "
              f"'delta') AS {body}")
    seen = _spy_commits(s)
    log(encode_update(oid, [2, "bobby"], old_vals=[2, None],
                      old_is_key_only=True),
        encode_insert(oid, [3, "carol"]), encode_delete(oid, [1, None]),
        lsn0=4)
    assert s.tick_sources() == ["cp_pg"]
    _check(s, spark, seen, ["cp_pg_accts", "cp_acct_n"],
           {"cp_acct_n": body})


def test_stacked_views_pass_multiplicities(spark):
    """A projection join view emitting one row twice hands its signed
    delta (diff 2) to a grouped count stacked on it, while a live
    subscription on the join view still receives unit rows."""
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cp_a (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE cp_b (k2 BIGINT, w STRING)")
    s.execute("INSERT INTO cp_b VALUES (1, 'x'), (1, 'x'), (2, 'y')")
    join = "SELECT v, w FROM cp_a JOIN cp_b ON k = k2"
    agg = "SELECT w, count(*) AS n FROM cp_j GROUP BY w"
    s.execute(f"CREATE MATERIALIZED VIEW cp_j WITH (MAINTENANCE 'delta') "
              f"AS {join}")
    s.execute(f"CREATE MATERIALIZED VIEW cp_jn WITH (MAINTENANCE "
              f"'delta') AS {agg}")
    sid, _first, _ = s.subscribe_open("SUBSCRIBE cp_j")
    steps = [
        ("INSERT INTO cp_a VALUES (1, 10), (2, 20)",
         [(10, "x", 1), (10, "x", 1), (20, "y", 1)]),
        ("UPDATE cp_a SET v = 11 WHERE k = 1",
         [(10, "x", -1), (10, "x", -1), (11, "x", 1), (11, "x", 1)]),
        ("DELETE FROM cp_a WHERE k = 1",
         [(11, "x", -1), (11, "x", -1)]),
    ]
    for stmt, units in steps:
        s.execute(stmt)
        assert _rows(s.sql("SELECT * FROM cp_j")) == _rows(spark.sql(join))
        assert _rows(s.sql("SELECT * FROM cp_jn")) == _rows(spark.sql(
            agg.replace("cp_j", f"({join})")))
        got = s.subscribe_poll(sid)
        assert sorted((r.v, r.w, r.diff) for r in got.collect()) \
            == sorted(units), stmt
    s.subscribe_close(sid)
    s.run_script("DROP MATERIALIZED VIEW cp_jn; DROP MATERIALIZED VIEW "
                 "cp_j; DROP TABLE cp_a; DROP TABLE cp_b;")


def test_retain_history_compacts_delta_view(spark):
    """RETAIN HISTORY on a delta view keeps exactly its window: the
    since frontier trails the upper by the window, AS OF below it
    raises, and each retained epoch reads as the view did then."""
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cp_h (k STRING, v BIGINT)")
    body = "SELECT k, sum(v) AS s FROM cp_h GROUP BY k"
    s.execute(f"CREATE MATERIALIZED VIEW cp_hv WITH (MAINTENANCE 'delta') "
              f"AS {body}")
    s.execute("ALTER MATERIALIZED VIEW cp_hv SET (RETAIN HISTORY FOR 2)")
    at = {}
    for i in range(8):
        s.execute(f"INSERT INTO cp_h VALUES ('{'ab'[i % 2]}', {i})")
        at[s._histories["cp_hv"].upper - 1] = _rows(spark.sql(body))
    hist = s._histories["cp_hv"]
    assert hist.upper == 9
    assert hist.since == hist.upper - 1 - 2
    with pytest.raises(SinceViolation):
        s.sql(f"SELECT * FROM cp_hv AS OF {hist.since - 1}")
    for epoch in range(hist.since, hist.upper):
        assert _rows(s.sql(f"SELECT * FROM cp_hv AS OF {epoch}")) \
            == at[epoch], epoch
    s.run_script("DROP MATERIALIZED VIEW cp_hv; DROP TABLE cp_h;")
