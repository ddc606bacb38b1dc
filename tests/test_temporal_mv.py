"""Temporal-filter ticking on delta MVs (reference: MfpPlan temporal
bounds, src/expr/src/linear.rs:1724-1760; rows appear/retract as the
logical clock passes validity bounds, with no commits)."""

from datetime import datetime

import pytest


def _mz(spark):
    from materialize_spark.plans.sqlfront import MzSession
    return MzSession(spark)


def _ks(s, name="tmv"):
    return sorted(r.k for r in s.sql(f"SELECT * FROM {name}").collect())


def test_tick_appears_and_retracts(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE tt (k STRING, vf TIMESTAMP, vu TIMESTAMP);
        INSERT INTO tt VALUES
          ('a', TIMESTAMP '1990-01-01 00:00:00',
                TIMESTAMP '2200-01-01 00:00:00'),
          ('b', TIMESTAMP '2100-01-01 00:00:00',
                TIMESTAMP '2100-06-01 00:00:00');
        CREATE MATERIALIZED VIEW tmv WITH (MAINTENANCE 'delta') AS
          SELECT k FROM tt WHERE mz_now() >= vf AND mz_now() < vu;
    """)
    assert _ks(s) == ["a"]
    assert s.tick_time(now=datetime(2100, 2, 1)) == ["tmv"]
    assert _ks(s) == ["a", "b"]
    # no clock movement -> no work, no change
    assert s.tick_time(now=datetime(2100, 2, 1)) == []
    assert s.tick_time(now=datetime(2100, 7, 1)) == ["tmv"]
    assert _ks(s) == ["a"]
    s.run_script("DROP MATERIALIZED VIEW tmv; DROP TABLE tt;")


def test_tick_diffs_reach_subscribers_and_downstream(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE tt2 (k STRING, n BIGINT, vf TIMESTAMP);
        INSERT INTO tt2 VALUES
          ('a', 1, TIMESTAMP '1990-01-01 00:00:00'),
          ('b', 2, TIMESTAMP '2100-01-01 00:00:00');
        CREATE MATERIALIZED VIEW tmv2 WITH (MAINTENANCE 'delta') AS
          SELECT k, n FROM tt2 WHERE mz_now() >= vf;
        CREATE MATERIALIZED VIEW tagg WITH (MAINTENANCE 'delta') AS
          SELECT k, SUM(n) AS total FROM tmv2 GROUP BY k;
    """)
    sid, snap, _ = s.subscribe_open("SUBSCRIBE tmv2")
    assert sorted(r.k for r in snap.collect()) == ["a"]
    s.tick_time(now=datetime(2100, 2, 1))
    batch = s.subscribe_poll(sid)
    assert sorted((r.k, r.diff) for r in batch.collect()) == [("b", 1)]
    # the stacked MV over the temporal MV saw the tick as a commit
    got = sorted((r.k, r.total)
                 for r in s.sql("SELECT * FROM tagg").collect())
    assert got == [("a", 1), ("b", 2)]
    s.subscribe_close(sid)
    s.run_script("DROP MATERIALIZED VIEW tagg;"
                 "DROP MATERIALIZED VIEW tmv2; DROP TABLE tt2;")


def test_commit_advances_clock_then_folds(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE tt3 (k STRING, vu TIMESTAMP);
        INSERT INTO tt3 VALUES ('a', TIMESTAMP '2200-01-01 00:00:00');
        CREATE MATERIALIZED VIEW tmv3 WITH (MAINTENANCE 'delta') AS
          SELECT k FROM tt3 WHERE mz_now() < vu;
    """)
    s.tick_time(now=datetime(2150, 1, 1))
    # a commit after the clock advanced evaluates at >= that instant:
    # an already-expired row never appears, a valid one does
    s.execute("INSERT INTO tt3 VALUES "
              "('dead', TIMESTAMP '2100-01-01 00:00:00')")
    s.execute("INSERT INTO tt3 VALUES "
              "('ok', TIMESTAMP '2300-01-01 00:00:00')")
    assert _ks(s, "tmv3") == ["a", "ok"]
    s.run_script("DROP MATERIALIZED VIEW tmv3; DROP TABLE tt3;")


def test_between_and_static_conjuncts(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE tt4 (k STRING, cat STRING, vf TIMESTAMP,
                          vu TIMESTAMP);
        INSERT INTO tt4 VALUES
          ('a', 'keep', TIMESTAMP '1990-01-01 00:00:00',
                        TIMESTAMP '2200-01-01 00:00:00'),
          ('b', 'drop', TIMESTAMP '1990-01-01 00:00:00',
                        TIMESTAMP '2200-01-01 00:00:00'),
          ('c', 'keep', TIMESTAMP '2100-01-01 00:00:00',
                        TIMESTAMP '2200-01-01 00:00:00');
        CREATE MATERIALIZED VIEW tmv4 WITH (MAINTENANCE 'delta') AS
          SELECT k FROM tt4
          WHERE cat = 'keep' AND mz_now() BETWEEN vf AND vu;
    """)
    assert _ks(s, "tmv4") == ["a"]
    s.tick_time(now=datetime(2100, 2, 1))
    assert _ks(s, "tmv4") == ["a", "c"]
    s.run_script("DROP MATERIALIZED VIEW tmv4; DROP TABLE tt4;")


def test_unsupported_mznow_shapes_reject_loudly(spark):
    s = _mz(spark)
    s.execute("CREATE TABLE tt5 (k STRING, vu TIMESTAMP)")
    with pytest.raises(Exception, match="temporal filters"):
        s.execute(
            "CREATE MATERIALIZED VIEW bad5 WITH (MAINTENANCE 'delta') "
            "AS SELECT k FROM tt5 WHERE mz_now() = vu")
    s.execute("DROP TABLE tt5")


def test_wmr_delta_maintained(spark):
    """MAINTENANCE 'delta' on WITH MUTUALLY RECURSIVE: always fresh on
    write; monotone insert commits warm-start from the previous
    fixpoint, deletes recompute cold (reference LetRec maintains in
    differential dataflow, src/expr/src/relation.rs:154)."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE wme (src BIGINT, dst BIGINT);
        INSERT INTO wme VALUES (1, 2);
        CREATE MATERIALIZED VIEW wmr_mv WITH (MAINTENANCE 'delta') AS
        WITH MUTUALLY RECURSIVE
          reach (src int8, dst int8) AS (
            SELECT src, dst FROM wme
            UNION
            SELECT r.src, e.dst FROM reach r
            JOIN wme e ON r.dst = e.src)
        SELECT src, dst FROM reach;
    """)
    def ks():
        return sorted((r.src, r.dst)
                      for r in s.sql("SELECT * FROM wmr_mv").collect())
    assert ks() == [(1, 2)]
    assert s._delta_mvs["wmr_mv"].monotone is True
    # warm-start path: a long chain appended edge by edge
    s.execute("INSERT INTO wme VALUES (2, 3)")
    s.execute("INSERT INTO wme VALUES (3, 4)")
    assert ks() == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # delete: cold recompute drops all facts derived through the edge
    s.execute("DELETE FROM wme WHERE src = 2")
    assert ks() == [(1, 2), (3, 4)]
    # subscribers see the recursive MV's diffs like any other
    sid, snap, _ = s.subscribe_open("SUBSCRIBE wmr_mv")
    s.execute("INSERT INTO wme VALUES (2, 3)")
    batch = s.subscribe_poll(sid)
    # edges are now {(1,2),(3,4),(2,3)}: the new edge re-links the
    # chain, deriving four new reachability facts
    assert sorted((r.src, r.dst, r.diff) for r in batch.collect()) == [
        (1, 3, 1), (1, 4, 1), (2, 3, 1), (2, 4, 1)]
    s.subscribe_close(sid)
    s.run_script("DROP MATERIALIZED VIEW wmr_mv; DROP TABLE wme;")


def test_sliding_window_aggregate(spark):
    """The flagship temporal idiom: a grouped aggregate over a
    temporal filter — windows slide with NO commits (tick_time feeds
    the reduce ± diffs for bound-crossing rows)."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sw (k STRING, amt BIGINT, ts TIMESTAMP);
        INSERT INTO sw VALUES
          ('a', 10, TIMESTAMP '1990-01-01 00:00:00'),
          ('a', 5,  TIMESTAMP '2100-01-01 00:00:00'),
          ('b', 7,  TIMESTAMP '1990-06-01 00:00:00');
        CREATE MATERIALIZED VIEW swagg WITH (MAINTENANCE 'delta') AS
          SELECT k, SUM(amt) AS total, COUNT(*) AS n FROM sw
          WHERE mz_now() >= ts AND mz_now() < ts + INTERVAL 150 YEAR
          GROUP BY k;
    """)
    def got():
        return sorted((r.k, r.total, r.n)
                      for r in s.sql("SELECT * FROM swagg").collect())
    # 1990 rows in-window now (2026ish); the 2100 row not yet
    assert got() == [("a", 10, 1), ("b", 7, 1)]
    # commit interleaves with the clock
    s.execute("INSERT INTO sw VALUES "
              "('b', 3, TIMESTAMP '2000-01-01 00:00:00')")
    assert got() == [("a", 10, 1), ("b", 10, 2)]
    # tick into 2100: the future row enters the window
    s.tick_time(now=datetime(2100, 2, 1))
    assert got() == [("a", 15, 2), ("b", 10, 2)]
    # tick past 1990+150y: both groups' oldest rows age out
    s.tick_time(now=datetime(2141, 1, 1))
    assert got() == [("a", 5, 1), ("b", 3, 1)]
    # tick past 2000+150y: group b drains entirely and disappears
    s.tick_time(now=datetime(2160, 1, 1))
    assert got() == [("a", 5, 1)]
    s.run_script("DROP MATERIALIZED VIEW swagg; DROP TABLE sw;")


def test_explain_maintenance_renders_new_plans(spark):
    """EXPLAIN MAINTENANCE covers the round's new maintained kinds:
    semi/anti stages, temporal bounds, ordered windows, LetRec."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE xm_t (k BIGINT, seq BIGINT, v BIGINT,
                           vu TIMESTAMP);
        CREATE TABLE xm_u (j BIGINT);
        CREATE MATERIALIZED VIEW xm_semi WITH (MAINTENANCE 'delta') AS
          SELECT k FROM xm_t WHERE k IN (SELECT j FROM xm_u);
        CREATE MATERIALIZED VIEW xm_tmp WITH (MAINTENANCE 'delta') AS
          SELECT k FROM xm_t WHERE mz_now() < vu;
        CREATE MATERIALIZED VIEW xm_wo WITH (MAINTENANCE 'delta') AS
          SELECT k, seq, SUM(v) OVER (PARTITION BY k ORDER BY seq)
            AS run FROM xm_t;
        CREATE MATERIALIZED VIEW xm_wm WITH (MAINTENANCE 'delta') AS
        WITH MUTUALLY RECURSIVE
          r (k int8) AS (SELECT k FROM xm_t UNION
                         SELECT k + 1 AS k FROM r WHERE k < 2)
        SELECT k FROM r;
    """)

    def plan(name):
        return "\n".join(
            r.plan for r in s.execute(
                f"EXPLAIN MAINTENANCE FOR MATERIALIZED VIEW {name}"
            ).collect())

    assert "SemiJoin[IN]" in plan("xm_semi")
    assert "inner" in plan("xm_semi")
    assert "TemporalFilter" in plan("xm_tmp")
    assert "WindowOrdered" in plan("xm_wo")
    assert "LetRec" in plan("xm_wm")
    assert "warm-start" in plan("xm_wm")
    for v in ("xm_semi", "xm_tmp", "xm_wo", "xm_wm"):
        s.execute(f"DROP MATERIALIZED VIEW {v}")
    s.run_script("DROP TABLE xm_t; DROP TABLE xm_u;")


def test_subscribe_query_over_exists_body(spark):
    """SUBSCRIBE (SELECT ... WHERE EXISTS ...) rides the maintained
    path: inner-side commits push diffs to the subscription."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sq_t (k BIGINT);
        CREATE TABLE sq_u (j BIGINT);
        INSERT INTO sq_t VALUES (1), (2);
        INSERT INTO sq_u VALUES (1);
    """)
    sid, snap, _ = s.subscribe_open(
        "SUBSCRIBE (SELECT k FROM sq_t WHERE EXISTS "
        "(SELECT 1 FROM sq_u WHERE sq_u.j = sq_t.k))")
    assert sorted(r.k for r in snap.collect()) == [1]
    s.execute("INSERT INTO sq_u VALUES (2)")
    batch = s.subscribe_poll(sid)
    assert sorted((r.k, r.diff) for r in batch.collect()) == [(2, 1)]
    s.subscribe_close(sid)
    s.run_script("DROP TABLE sq_t; DROP TABLE sq_u;")


def test_restore_replays_new_maintained_kinds(spark, tmp_path):
    """Catalog durability: a restored session replays the round's new
    MV kinds (semijoin, temporal, WMR) and they keep maintaining."""
    from materialize_spark.plans.sqlfront import MzSession
    path = str(tmp_path / "cat.json")
    SF = "/root/testdata/sf0.001"
    s = MzSession(spark, SF)
    s.run_script("""
        CREATE TABLE rr_t (k BIGINT);
        CREATE TABLE rr_u (j BIGINT);
        INSERT INTO rr_t VALUES (1), (2);
        INSERT INTO rr_u VALUES (1);
        CREATE MATERIALIZED VIEW rr_semi WITH (MAINTENANCE 'delta') AS
          SELECT k FROM rr_t WHERE k IN (SELECT j FROM rr_u);
        CREATE MATERIALIZED VIEW rr_wmr WITH (MAINTENANCE 'delta') AS
        WITH MUTUALLY RECURSIVE
          c (n int8) AS (SELECT k AS n FROM rr_t UNION
                         SELECT n + 10 AS n FROM c WHERE n < 15)
        SELECT n FROM c;
    """)
    s.persist_catalog(path)
    s2 = MzSession.restore_catalog(spark.newSession(), SF, path)
    assert sorted(r.k for r in
                  s2.sql("SELECT * FROM rr_semi").collect()) == [1]
    # the replayed MVs keep maintaining
    s2.execute("INSERT INTO rr_u VALUES (2)")
    assert sorted(r.k for r in
                  s2.sql("SELECT * FROM rr_semi").collect()) == [1, 2]
    assert sorted(r.n for r in
                  s2.sql("SELECT * FROM rr_wmr").collect()) == [
        1, 2, 11, 12, 21, 22]


def test_wmr_monotonicity_is_structural(spark):
    """Monotonicity detection walks the parsed tree, not keyword text:
    a string literal containing 'left' or 'not' must NOT force the
    cold path, while genuinely non-monotone constructs (EXCEPT,
    aggregates, outer joins, NOT EXISTS) must NEVER warm-start —
    warm-starting a non-monotone binding would be a correctness bug,
    not a performance one."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE wmm (src BIGINT, dst BIGINT, note STRING);
        INSERT INTO wmm VALUES (1, 2, 'left not group');
    """)
    s.execute("""
        CREATE MATERIALIZED VIEW wmm_mono WITH (MAINTENANCE 'delta')
        AS WITH MUTUALLY RECURSIVE
          reach (src int8, dst int8) AS (
            SELECT src, dst FROM wmm WHERE note = 'left not group'
            UNION
            SELECT r.src, e.dst FROM reach r
            JOIN wmm e ON r.dst = e.src)
        SELECT src, dst FROM reach
    """)
    # the literal 'left not group' no longer scares the detector
    assert s._delta_mvs["wmm_mono"].monotone is True
    s.execute("DROP MATERIALIZED VIEW wmm_mono")
    for tag, binding in (
        ("except", "SELECT src, dst FROM wmm EXCEPT "
                   "SELECT src, dst FROM reach"),
        ("agg", "SELECT src, max(dst) AS dst FROM wmm GROUP BY src"),
        ("outer", "SELECT r.src, e.dst FROM reach r "
                  "LEFT JOIN wmm e ON r.dst = e.src"),
    ):
        s.execute(f"""
            CREATE MATERIALIZED VIEW wmm_{tag} WITH
            (MAINTENANCE 'delta') AS WITH MUTUALLY RECURSIVE
              reach (src int8, dst int8) AS ({binding})
            SELECT src, dst FROM reach
        """)
        assert s._delta_mvs[f"wmm_{tag}"].monotone is False, tag
        s.execute(f"DROP MATERIALIZED VIEW wmm_{tag}")
    s.execute("DROP TABLE wmm")


def test_wmr_seminaive_differential_rounds(spark):
    """Union-distinct monotone bindings ride DIFFERENTIAL rounds: the
    per-round evaluation substitutes the previous round's FRONTIER for
    one recursive reference (semi-naive in WORK). Pinned: the
    eligibility flag, exact reachability through a long chain built
    edge-by-edge (each commit's warm start grows from the frontier),
    and correct retraction recomputes."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sne (src BIGINT, dst BIGINT);
        INSERT INTO sne VALUES (0, 1), (1, 2), (2, 3);
        CREATE MATERIALIZED VIEW sn_mv WITH (MAINTENANCE 'delta') AS
        WITH MUTUALLY RECURSIVE
          reach (src int8, dst int8) AS (
            SELECT src, dst FROM sne
            UNION
            SELECT r.src, e.dst FROM reach r
            JOIN sne e ON r.dst = e.src)
        SELECT src, dst FROM reach;
    """)
    assert s._delta_mvs["sn_mv"].seminaive is True
    n = lambda: s.sql("SELECT count(*) AS c FROM sn_mv")\
        .collect()[0].c  # noqa: E731
    assert n() == 6      # closure of a 4-node chain: C(4,2)
    # extend the chain: each insert's semi-naive warm start derives
    # exactly the new node's closure
    for k in (3, 4, 5):
        s.execute(f"INSERT INTO sne VALUES ({k}, {k + 1})")
    assert n() == 21     # C(7,2)
    # retraction splits the chain: cold semi-naive re-run
    s.execute("DELETE FROM sne WHERE src = 3")
    assert n() == 6 + 3  # a 4-node chain (0..3) + a 3-node one (4..6)
    # a UNION ALL body (multiset) stays OFF the semi-naive path
    s.execute("""
        CREATE MATERIALIZED VIEW sn_ma WITH (MAINTENANCE 'delta') AS
        WITH MUTUALLY RECURSIVE
          hops (src int8, dst int8) AS (
            SELECT src, dst FROM sne
            UNION ALL
            SELECT h.src, e.dst FROM hops h
            JOIN sne e ON h.dst = e.src)
        SELECT src, dst FROM hops
    """)
    assert s._delta_mvs["sn_ma"].seminaive is False
    s.run_script("DROP MATERIALIZED VIEW sn_mv;"
                 "DROP MATERIALIZED VIEW sn_ma; DROP TABLE sne;")
