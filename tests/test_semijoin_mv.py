"""Delta-maintained [NOT] EXISTS / [NOT] IN subquery filters.

Reference behavior: EXISTS/IN decorrelate to semi/anti joins at
lowering (src/sql/src/plan/lowering.rs:10-37) and maintain like any
dataflow; q21's <> self-correlation is the flagship maintained shape
(test/sqllogictest/tpch_create_materialized_view.slt)."""

import pytest
from pyspark.sql import functions as F


def _mz(spark):
    from materialize_spark.plans.sqlfront import MzSession
    return MzSession(spark)


def rows(s, q):
    return sorted((tuple(r) for r in s.sql(q).collect()),
                  key=lambda t: tuple((x is None, x) for x in t))


def test_exists_churn_both_sides(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sj_t (k BIGINT, v STRING);
        CREATE TABLE sj_u (k2 BIGINT, w BIGINT);
        INSERT INTO sj_t VALUES (1, 'a'), (2, 'b'), (3, 'c');
        INSERT INTO sj_u VALUES (1, 10), (1, 11), (3, 200);
        CREATE MATERIALIZED VIEW sj_e WITH (MAINTENANCE 'delta') AS
          SELECT k, v FROM sj_t
          WHERE EXISTS (SELECT 1 FROM sj_u
                        WHERE sj_u.k2 = sj_t.k AND sj_u.w < 100);
    """)
    assert rows(s, "SELECT * FROM sj_e") == [(1, "a")]
    # inner-side delete drains key 1; insert qualifies key 2; a new
    # outer row probes the live support
    s.run_script("""
        DELETE FROM sj_u WHERE k2 = 1;
        INSERT INTO sj_u VALUES (2, 5);
        INSERT INTO sj_t VALUES (4, 'd');
        INSERT INTO sj_u VALUES (4, 7);
    """)
    assert rows(s, "SELECT * FROM sj_e") == [(2, "b"), (4, "d")]
    # dup inner rows: deleting ONE of two support rows keeps the key
    s.run_script("""
        INSERT INTO sj_u VALUES (2, 6);
        DELETE FROM sj_u WHERE k2 = 2 AND w = 5;
    """)
    assert rows(s, "SELECT * FROM sj_e") == [(2, "b"), (4, "d")]
    s.run_script("DROP MATERIALIZED VIEW sj_e;"
                 "DROP TABLE sj_t; DROP TABLE sj_u;")


def test_not_exists_keeps_null_keys(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE nj_t (k BIGINT, v STRING);
        CREATE TABLE nj_u (j BIGINT);
        INSERT INTO nj_t VALUES (1, 'a'), (2, 'b'), (NULL, 'n');
        INSERT INTO nj_u VALUES (1);
        CREATE MATERIALIZED VIEW nj_e WITH (MAINTENANCE 'delta') AS
          SELECT k, v FROM nj_t
          WHERE NOT EXISTS (SELECT 1 FROM nj_u WHERE nj_u.j = nj_t.k);
    """)
    # NULL keys match nothing -> NOT EXISTS holds them, always
    assert rows(s, "SELECT * FROM nj_e") == [(2, "b"), (None, "n")]
    s.run_script("DELETE FROM nj_u WHERE j = 1;"
                 "INSERT INTO nj_u VALUES (2);")
    assert rows(s, "SELECT * FROM nj_e") == [(1, "a"), (None, "n")]
    s.run_script("DROP MATERIALIZED VIEW nj_e;"
                 "DROP TABLE nj_t; DROP TABLE nj_u;")


def test_not_in_null_poison_and_empty_set(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ni_t (k BIGINT);
        CREATE TABLE ni_u (j BIGINT);
        INSERT INTO ni_t VALUES (1), (2), (NULL);
        CREATE MATERIALIZED VIEW ni WITH (MAINTENANCE 'delta') AS
          SELECT k FROM ni_t WHERE k NOT IN (SELECT j FROM ni_u);
    """)
    # empty inner set: every row qualifies, NULL included
    assert rows(s, "SELECT * FROM ni") == [(1,), (2,), (None,)]
    s.run_script("INSERT INTO ni_u VALUES (1);")
    assert rows(s, "SELECT * FROM ni") == [(2,)]
    s.run_script("INSERT INTO ni_u VALUES (NULL);")  # poison
    assert rows(s, "SELECT * FROM ni") == []
    s.run_script("DELETE FROM ni_u WHERE j IS NULL;")
    assert rows(s, "SELECT * FROM ni") == [(2,)]
    s.run_script("DELETE FROM ni_u WHERE j = 1;")
    assert rows(s, "SELECT * FROM ni") == [(1,), (2,), (None,)]
    s.run_script("DROP MATERIALIZED VIEW ni;"
                 "DROP TABLE ni_t; DROP TABLE ni_u;")


def test_exists_under_group_by(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ga_t (g STRING, k BIGINT, x BIGINT);
        CREATE TABLE ga_u (k2 BIGINT);
        INSERT INTO ga_t VALUES ('a', 1, 10), ('a', 2, 20),
                                ('b', 2, 30);
        INSERT INTO ga_u VALUES (2);
        CREATE MATERIALIZED VIEW ga WITH (MAINTENANCE 'delta') AS
          SELECT g, SUM(x) AS sx FROM ga_t
          WHERE EXISTS (SELECT 1 FROM ga_u WHERE ga_u.k2 = ga_t.k)
          GROUP BY g;
    """)
    assert rows(s, "SELECT * FROM ga") == [("a", 20), ("b", 30)]
    s.run_script("INSERT INTO ga_u VALUES (1);"
                 "DELETE FROM ga_t WHERE g = 'b';")
    assert rows(s, "SELECT * FROM ga") == [("a", 30)]
    # draining the inner support retracts through the aggregate
    s.run_script("DELETE FROM ga_u WHERE k2 = 2;")
    assert rows(s, "SELECT * FROM ga") == [("a", 10)]
    s.run_script("DROP MATERIALIZED VIEW ga;"
                 "DROP TABLE ga_t; DROP TABLE ga_u;")


def test_q21_member_exclusion_self_correlation(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE mq_li (ok BIGINT, sk BIGINT, late BIGINT);
        CREATE MATERIALIZED VIEW mq WITH (MAINTENANCE 'delta') AS
          SELECT ok, sk FROM mq_li
          WHERE late = 1
            AND EXISTS (SELECT 1 FROM mq_li l2
                        WHERE l2.ok = mq_li.ok AND l2.sk <> mq_li.sk)
            AND NOT EXISTS (SELECT 1 FROM mq_li l3
                            WHERE l3.ok = mq_li.ok
                              AND l3.sk <> mq_li.sk AND l3.late = 1);
    """)
    s.run_script("INSERT INTO mq_li VALUES (1, 10, 1), (1, 11, 0);")
    assert rows(s, "SELECT * FROM mq") == [(1, 10)]
    # the other member turns late: both disqualify
    s.run_script("DELETE FROM mq_li WHERE ok = 1 AND sk = 11;"
                 "INSERT INTO mq_li VALUES (1, 11, 1);")
    assert rows(s, "SELECT * FROM mq") == []
    # back on time
    s.run_script("DELETE FROM mq_li WHERE ok = 1 AND sk = 11;"
                 "INSERT INTO mq_li VALUES (1, 11, 0);")
    assert rows(s, "SELECT * FROM mq") == [(1, 10)]
    # single-member order never qualifies (EXISTS other fails)
    s.run_script("INSERT INTO mq_li VALUES (2, 20, 1);")
    assert rows(s, "SELECT * FROM mq") == [(1, 10)]
    s.run_script("DROP MATERIALIZED VIEW mq; DROP TABLE mq_li;")


@pytest.mark.soak
def test_spilled_state_soak(spark, spine):
    spine(spill_rows=5)
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sp_t (k BIGINT, v BIGINT);
        CREATE TABLE sp_u (k2 BIGINT);
    """)
    s.append_rows("sp_t", spark.createDataFrame(
        [(i, i * 10) for i in range(30)], "k: bigint, v: bigint"))
    s.append_rows("sp_u", spark.createDataFrame(
        [(i,) for i in range(0, 30, 2)], "k2: bigint"))
    s.run_script("""
        CREATE MATERIALIZED VIEW sp WITH (MAINTENANCE 'delta') AS
          SELECT k, v FROM sp_t
          WHERE EXISTS (SELECT 1 FROM sp_u WHERE sp_u.k2 = sp_t.k);
    """)
    # churn enough commits to force compaction folds (FOLD_EVERY=16)
    for i in range(18):
        s.execute(f"DELETE FROM sp_u WHERE k2 = {2 * (i % 5)}")
        s.execute(f"INSERT INTO sp_u VALUES ({2 * (i % 5)})")
    got = rows(s, "SELECT k FROM sp")
    assert got == [(i,) for i in range(0, 30, 2)]
    s.run_script("DROP MATERIALIZED VIEW sp;"
                 "DROP TABLE sp_t; DROP TABLE sp_u;")


def test_rejections_are_loud(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE rj_t (k BIGINT);
        CREATE TABLE rj_u (j BIGINT, w BIGINT);
    """)
    # no equality correlation
    with pytest.raises(Exception, match="equality correlation"):
        s.execute(
            "CREATE MATERIALIZED VIEW rj1 WITH (MAINTENANCE 'delta') "
            "AS SELECT k FROM rj_t WHERE EXISTS "
            "(SELECT 1 FROM rj_u WHERE rj_u.w > 5)")
    # TWO inequality correlations in one subquery stay out of scope
    with pytest.raises(Exception, match="inequality"):
        s.execute(
            "CREATE MATERIALIZED VIEW rj2 WITH (MAINTENANCE 'delta') "
            "AS SELECT k FROM rj_t WHERE EXISTS "
            "(SELECT 1 FROM rj_u WHERE rj_u.j = rj_t.k "
            "AND rj_u.w > rj_t.k AND rj_u.j < rj_t.k)")
    # an alias-less self-table subquery with no outer correlation
    # (bare names resolve inner-first) rejects for the missing link
    with pytest.raises(Exception, match="equality correlation"):
        s.execute(
            "CREATE MATERIALIZED VIEW rj3 WITH (MAINTENANCE 'delta') "
            "AS SELECT k FROM rj_t WHERE EXISTS "
            "(SELECT 1 FROM rj_t WHERE k = 1)")
    s.run_script("DROP TABLE rj_t; DROP TABLE rj_u;")


def test_inner_table_drop_protection(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE dp_t (k BIGINT);
        CREATE TABLE dp_u (j BIGINT);
        CREATE MATERIALIZED VIEW dp WITH (MAINTENANCE 'delta') AS
          SELECT k FROM dp_t WHERE k IN (SELECT j FROM dp_u);
    """)
    # the INNER side is a real dependency: dropping it out from under
    # the maintained anti-join must fail without CASCADE
    with pytest.raises(Exception, match="depends"):
        s.execute("DROP TABLE dp_u")
    s.run_script("DROP MATERIALIZED VIEW dp;"
                 "DROP TABLE dp_t; DROP TABLE dp_u;")


def test_subscribe_sees_semijoin_diffs(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE sb_t (k BIGINT);
        CREATE TABLE sb_u (j BIGINT);
        INSERT INTO sb_t VALUES (1), (2);
        INSERT INTO sb_u VALUES (1);
        CREATE MATERIALIZED VIEW sb WITH (MAINTENANCE 'delta') AS
          SELECT k FROM sb_t WHERE k IN (SELECT j FROM sb_u);
    """)
    sub_id, snap, _cols = s.subscribe_open("SUBSCRIBE sb")
    assert sorted(r.k for r in snap.collect()) == [1]
    # an inner-side commit must surface as diffs on the subscription
    s.execute("INSERT INTO sb_u VALUES (2)")
    batch = s.subscribe_poll(sub_id)
    got = [(r.k, r.diff) for r in batch.collect()]
    assert got == [(2, 1)]
    s.subscribe_close(sub_id)
    s.run_script("DROP MATERIALIZED VIEW sb;"
                 "DROP TABLE sb_t; DROP TABLE sb_u;")


def test_ordered_window_maintenance(spark):
    """Ordered windows (running sums, LAG, ROW_NUMBER) maintain by
    touched-partition recompute — a mid-partition delete shifts every
    subsequent running value (reference: window functions execute as
    whole-group Reduce, src/expr/src/relation/func.rs:1960)."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE wo_t (k STRING, seq BIGINT, v BIGINT);
        INSERT INTO wo_t VALUES ('a', 1, 10), ('a', 2, 20),
                                ('a', 3, 5), ('b', 1, 7);
        CREATE MATERIALIZED VIEW wo WITH (MAINTENANCE 'delta') AS
          SELECT k, seq,
                 SUM(v) OVER (PARTITION BY k ORDER BY seq) AS run,
                 ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq) AS rn
          FROM wo_t;
    """)
    assert rows(s, "SELECT * FROM wo") == [
        ("a", 1, 10, 1), ("a", 2, 30, 2), ("a", 3, 35, 3),
        ("b", 1, 7, 1)]
    s.run_script("DELETE FROM wo_t WHERE k = 'a' AND seq = 2;"
                 "INSERT INTO wo_t VALUES ('a', 0, 1);")
    assert rows(s, "SELECT * FROM wo") == [
        ("a", 0, 1, 1), ("a", 1, 11, 2), ("a", 3, 16, 3),
        ("b", 1, 7, 1)]
    # untouched partition b unchanged through a-only commits; a new
    # partition forms from its first commit
    s.run_script("INSERT INTO wo_t VALUES ('c', 5, 4);")
    assert rows(s, "SELECT * FROM wo WHERE k = 'c'") == [("c", 5, 4, 1)]
    s.run_script("DROP MATERIALIZED VIEW wo; DROP TABLE wo_t;")


def test_ordered_window_publishes_touched_diffs_only(spark):
    """The published commit diff is confined to touched partitions."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE wd_t (k STRING, seq BIGINT, v BIGINT);
        INSERT INTO wd_t VALUES ('a', 1, 1), ('b', 1, 2), ('b', 2, 3);
        CREATE MATERIALIZED VIEW wd WITH (MAINTENANCE 'delta') AS
          SELECT k, seq,
                 SUM(v) OVER (PARTITION BY k ORDER BY seq) AS run
          FROM wd_t;
    """)
    sub_id, _snap, _ = s.subscribe_open("SUBSCRIBE wd")
    s.execute("INSERT INTO wd_t VALUES ('b', 3, 5)")
    batch = s.subscribe_poll(sub_id)
    got = sorted((r.k, r.seq, r.run, r.diff) for r in batch.collect())
    # only partition b rows appear in the diff; row (b,2) is unchanged
    # (its running sum keeps its value) so it does not churn
    assert got == [("b", 3, 10, 1)]
    s.subscribe_close(sub_id)
    s.run_script("DROP MATERIALIZED VIEW wd; DROP TABLE wd_t;")


def test_comma_from_implicit_joins_with_aliases(spark):
    """Comma-joined FROM lists (the TPC-H text style) desugar into the
    maintained left-deep chain: WHERE equi conjuncts become ON pairs,
    everything else stays a residual filter, qualifiers strip
    token-wise — and churn flows through every role."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE cf_o (ok BIGINT, ck BIGINT, status STRING);
        CREATE TABLE cf_c (ckey BIGINT, cname STRING);
        CREATE TABLE cf_li (lok BIGINT, amt BIGINT);
        INSERT INTO cf_o VALUES (1, 10, 'F'), (2, 20, 'O');
        INSERT INTO cf_c VALUES (10, 'ann'), (20, 'bob');
        INSERT INTO cf_li VALUES (1, 5), (1, 7), (2, 9);
        CREATE MATERIALIZED VIEW cf WITH (MAINTENANCE 'delta') AS
          SELECT cname, SUM(amt) AS rev
          FROM cf_o o, cf_c, cf_li l
          WHERE o.ok = l.lok AND o.ck = cf_c.ckey
            AND o.status = 'F'
          GROUP BY cname;
    """)
    assert rows(s, "SELECT * FROM cf") == [("ann", 12)]
    s.run_script("""
        UPDATE cf_o SET status = 'F' WHERE ok = 2;
        INSERT INTO cf_li VALUES (2, 1);
        DELETE FROM cf_li WHERE lok = 1 AND amt = 5;
    """)
    assert rows(s, "SELECT * FROM cf") == [("ann", 7), ("bob", 10)]
    s.run_script("DROP MATERIALIZED VIEW cf; DROP TABLE cf_o;"
                 "DROP TABLE cf_c; DROP TABLE cf_li;")


def test_explicit_join_aliases_strip(spark):
    """Explicit JOIN ... ON with table aliases and qualified
    references: qualifiers drop token-wise (string literals never
    rewrite) and the chain maintains as usual."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ea_a (x BIGINT, tag STRING);
        CREATE TABLE ea_b (y BIGINT, v BIGINT);
        INSERT INTO ea_a VALUES (1, 'ea_b.y'), (2, 'keep');
        INSERT INTO ea_b VALUES (1, 100), (2, 200);
        CREATE MATERIALIZED VIEW ea WITH (MAINTENANCE 'delta') AS
          SELECT a.x, a.tag, b.v FROM ea_a a
          JOIN ea_b b ON a.x = b.y
          WHERE a.tag <> 'drop';
    """)
    # the literal 'ea_b.y' survives qualifier stripping intact
    assert rows(s, "SELECT * FROM ea") == [(1, "ea_b.y", 100),
                                           (2, "keep", 200)]
    s.run_script("INSERT INTO ea_b VALUES (3, 300);"
                 "INSERT INTO ea_a VALUES (3, 'drop');")
    assert rows(s, "SELECT * FROM ea") == [(1, "ea_b.y", 100),
                                           (2, "keep", 200)]
    s.run_script("DROP MATERIALIZED VIEW ea;"
                 "DROP TABLE ea_a; DROP TABLE ea_b;")


def test_comma_from_cross_product_rejected(spark):
    s = _mz(spark)
    s.run_script("CREATE TABLE cp_a (x BIGINT);"
                 "CREATE TABLE cp_b (y BIGINT);")
    with pytest.raises(Exception, match="no equality link"):
        s.execute("CREATE MATERIALIZED VIEW cp WITH (MAINTENANCE "
                  "'delta') AS SELECT x, y FROM cp_a, cp_b "
                  "WHERE x > 0")
    s.run_script("DROP TABLE cp_a; DROP TABLE cp_b;")


def test_scalar_agg_comparison_q17_shape(spark):
    """Correlated scalar-aggregate comparison (q17 idiom) maintains:
    the per-key aggregate updates in place and only touched keys'
    rows re-qualify; empty groups yield NULL -> filtered."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ca_li (pk BIGINT, qty DOUBLE);
        INSERT INTO ca_li VALUES (1, 1), (1, 10), (1, 10), (2, 5),
                                 (2, 50);
        CREATE MATERIALIZED VIEW ca WITH (MAINTENANCE 'delta') AS
          SELECT pk, qty FROM ca_li l1
          WHERE l1.qty < (SELECT 0.5 * avg(l2.qty) FROM ca_li l2
                          WHERE l2.pk = l1.pk);
    """)
    assert rows(s, "SELECT * FROM ca") == [(1, 1.0), (2, 5.0)]
    # DELETE drops BOTH (1,10) copies: g1 = {1}, avg 1 -> 0.5,
    # qty 1 leaves the result
    s.execute("DELETE FROM ca_li WHERE pk = 1 AND qty = 10")
    assert rows(s, "SELECT * FROM ca") == [(2, 5.0)]
    # re-adding one big row brings the small one back
    s.execute("INSERT INTO ca_li VALUES (1, 10)")
    assert rows(s, "SELECT * FROM ca") == [(1, 1.0), (2, 5.0)]
    # COUNT kind: empty group compares against 0, not NULL
    s.run_script("""
        CREATE TABLE ca_u (k BIGINT);
        CREATE MATERIALIZED VIEW ca_cnt WITH (MAINTENANCE 'delta') AS
          SELECT pk, qty FROM ca_li l1
          WHERE l1.qty > (SELECT count(*) FROM ca_u u
                          WHERE u.k = l1.pk);
    """)
    # every group empty: count 0, every row qualifies
    assert rows(s, "SELECT pk FROM ca_cnt") == [(1,), (1,), (2,),
                                                (2,)]
    s.append_rows("ca_u", spark.createDataFrame(
        [(2,)] * 6, "k: bigint"))
    # pk=2: count 6 -> qty 5 leaves, qty 50 stays; pk=1 untouched
    assert rows(s, "SELECT pk, qty FROM ca_cnt") == [
        (1, 1.0), (1, 10.0), (2, 50.0)]
    s.run_script("DROP MATERIALIZED VIEW ca_cnt;"
                 "DROP MATERIALIZED VIEW ca;"
                 "DROP TABLE ca_li; DROP TABLE ca_u;")


def test_comma_from_desugars_in_nested_contexts(spark):
    """A comma-joined FROM list inside a set-op BRANCH desugars into
    the maintained join chain (round-13 stateful set-op branches;
    before that it had to reject) — pin that it maintains CORRECTLY
    on churn to either table, never silently planning over the first
    table alone. Inside a FROM subquery the comma list likewise
    desugars (the q7/q8 text style)."""
    s = _mz(spark)
    s.run_script("CREATE TABLE nc_a (x BIGINT); "
                 "CREATE TABLE nc_b (x BIGINT);"
                 "INSERT INTO nc_a VALUES (1), (2), (2);"
                 "INSERT INTO nc_b VALUES (2), (3);")
    s.execute(
        "CREATE MATERIALIZED VIEW nc1 WITH (MAINTENANCE 'delta') "
        "AS SELECT x FROM nc_a, nc_b WHERE nc_a.x = nc_b.x "
        "UNION ALL SELECT x FROM nc_a")
    assert "nc1" in s._delta_mvs

    def nc1():
        return sorted(r.x for r in s.sql("SELECT * FROM nc1").collect())

    # join branch: {2,2}; plain branch: {1,2,2}
    assert nc1() == [1, 2, 2, 2, 2]
    # churn BOTH tables: the join branch must see nc_b commits too
    s.execute("INSERT INTO nc_a VALUES (3), (2)")
    assert nc1() == [1, 2, 2, 2, 2, 2, 2, 3, 3]
    s.execute("INSERT INTO nc_b VALUES (3)")
    assert nc1() == [1, 2, 2, 2, 2, 2, 2, 3, 3, 3]
    s.execute("DELETE FROM nc_b WHERE x = 2")
    assert nc1() == [1, 2, 2, 2, 3, 3, 3]
    s.run_script("DROP MATERIALIZED VIEW nc1;")
    s.execute(
        "CREATE MATERIALIZED VIEW nc2 WITH (MAINTENANCE 'delta') "
        "AS SELECT x, COUNT(*) AS n FROM "
        "(SELECT a.x FROM nc_a a, nc_b b WHERE a.x = b.x) "
        "GROUP BY x")
    # table state after the churn above: nc_a={1,2,2,2,3}, nc_b={3,3}
    assert rows(s, "SELECT * FROM nc2") == [(3, 2)]
    s.execute("INSERT INTO nc_a VALUES (3)")
    assert rows(s, "SELECT * FROM nc2") == [(3, 4)]
    s.run_script("DROP MATERIALIZED VIEW nc2;"
                 "DROP TABLE nc_a; DROP TABLE nc_b;")


def test_aliased_join_subquery_flattens(spark):
    """Aliased explicit-join chains inside a FROM subquery strip their
    qualifiers and flatten into the maintained join+reduce plan."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE aj_o (ok BIGINT, ck BIGINT, amt BIGINT);
        CREATE TABLE aj_c (ckey BIGINT, nm STRING);
        INSERT INTO aj_o VALUES (1, 10, 5), (2, 20, 7), (3, 10, 2);
        INSERT INTO aj_c VALUES (10, 'ann'), (20, 'bob');
        CREATE MATERIALIZED VIEW aj WITH (MAINTENANCE 'delta') AS
          SELECT nm, SUM(rev) AS total FROM
            (SELECT c.nm, o.amt AS rev FROM aj_o o
             JOIN aj_c c ON o.ck = c.ckey)
          GROUP BY nm;
    """)
    assert rows(s, "SELECT * FROM aj") == [("ann", 7), ("bob", 7)]
    s.execute("DELETE FROM aj_o WHERE ok = 3")
    assert rows(s, "SELECT * FROM aj") == [("ann", 5), ("bob", 7)]
    s.run_script("DROP MATERIALIZED VIEW aj;"
                 "DROP TABLE aj_o; DROP TABLE aj_c;")


def test_q21_verbatim_text_churn_vs_duckdb(spark):
    """The verbatim q21 TEXT (comma FROM, aliases, self-correlated
    EXISTS/NOT EXISTS with <>) maintained through churn on every role,
    cross-checked against DuckDB recomputing the same SQL."""
    import duckdb

    s = _mz(spark)
    body = """
        SELECT s_name, count(*) AS numwait
        FROM q21s supplier0, q21l l1, q21o orders0
        WHERE supplier0.sk = l1.lsk
          AND orders0.ok = l1.lok
          AND orders0.status = 'F'
          AND l1.late = 1
          AND EXISTS (SELECT * FROM q21l l2
                      WHERE l2.lok = l1.lok AND l2.lsk <> l1.lsk)
          AND NOT EXISTS (SELECT * FROM q21l l3
                          WHERE l3.lok = l1.lok
                            AND l3.lsk <> l1.lsk AND l3.late = 1)
        GROUP BY s_name"""
    s.run_script("""
        CREATE TABLE q21s (sk BIGINT, s_name STRING);
        CREATE TABLE q21l (lok BIGINT, lsk BIGINT, late BIGINT);
        CREATE TABLE q21o (ok BIGINT, status STRING);
        INSERT INTO q21s VALUES (1, 's1'), (2, 's2'), (3, 's3');
        INSERT INTO q21o VALUES (100, 'F'), (200, 'F'), (300, 'O');
        INSERT INTO q21l VALUES (100, 1, 1), (100, 2, 0),
                                (200, 1, 1), (200, 2, 1), (300, 1, 1);
    """)
    s.execute("CREATE MATERIALIZED VIEW q21v WITH (MAINTENANCE "
              f"'delta') AS {body}")

    con = duckdb.connect()
    con.execute("CREATE TABLE q21s (sk BIGINT, s_name VARCHAR)")
    con.execute("CREATE TABLE q21l (lok BIGINT, lsk BIGINT, "
                "late BIGINT)")
    con.execute("CREATE TABLE q21o (ok BIGINT, status VARCHAR)")
    con.execute("INSERT INTO q21s VALUES (1,'s1'),(2,'s2'),(3,'s3')")
    con.execute("INSERT INTO q21o VALUES (100,'F'),(200,'F'),"
                "(300,'O')")
    con.execute("INSERT INTO q21l VALUES (100,1,1),(100,2,0),"
                "(200,1,1),(200,2,1),(300,1,1)")

    def check():
        mine = sorted((r.s_name, r.numwait)
                      for r in s.sql("SELECT * FROM q21v").collect())
        want = sorted(map(tuple, con.execute(body).fetchall()))
        assert mine == want, (mine, want)

    check()
    steps = [
        # flip order 200 to single-late (s2 starts waiting there)
        "DELETE FROM q21l WHERE lok = 200 AND lsk = 1",
        "INSERT INTO q21l VALUES (200, 1, 0)",
        # order flips out of 'F'
        "UPDATE q21o SET status = 'O' WHERE ok = 100",
        # and back
        "UPDATE q21o SET status = 'F' WHERE ok = 100",
        # new supplier joins an order late
        "INSERT INTO q21l VALUES (100, 3, 1)",
    ]
    for sql in steps:
        s.execute(sql)
        if sql.startswith("UPDATE"):
            # duckdb mirrors the update in one statement
            con.execute(sql)
        else:
            con.execute(sql)
        check()
    s.run_script("DROP MATERIALIZED VIEW q21v; DROP TABLE q21s;"
                 "DROP TABLE q21l; DROP TABLE q21o;")


def test_inequality_correlation_exists(spark):
    """EXISTS with an inequality correlation against an outer column
    (the q4 shape) maintains as a per-key extremum comparison; the
    NOT EXISTS form inverts with correct empty-group truth."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE iq_o (ok BIGINT, odate BIGINT);
        CREATE TABLE iq_l (lok BIGINT, sdate BIGINT);
        INSERT INTO iq_o VALUES (1, 10), (2, 10), (3, 10);
        INSERT INTO iq_l VALUES (1, 20), (1, 5), (2, 5);
        CREATE MATERIALIZED VIEW iqe WITH (MAINTENANCE 'delta') AS
          SELECT ok FROM iq_o
          WHERE EXISTS (SELECT * FROM iq_l
                        WHERE lok = ok AND sdate > odate);
        CREATE MATERIALIZED VIEW iqn WITH (MAINTENANCE 'delta') AS
          SELECT ok FROM iq_o
          WHERE NOT EXISTS (SELECT * FROM iq_l
                            WHERE lok = ok AND sdate > odate);
    """)
    # order 1 has a late line (20>10); order 2 only early; order 3 no
    # lines at all (NOT EXISTS holds it)
    assert rows(s, "SELECT * FROM iqe") == [(1,)]
    assert rows(s, "SELECT * FROM iqn") == [(2,), (3,)]
    # deleting order 1's late line retracts it (MAX falls 20 -> 5)
    s.execute("DELETE FROM iq_l WHERE lok = 1 AND sdate = 20")
    assert rows(s, "SELECT * FROM iqe") == []
    assert rows(s, "SELECT * FROM iqn") == [(1,), (2,), (3,)]
    # a new late line for order 2 flips it
    s.execute("INSERT INTO iq_l VALUES (2, 99)")
    assert rows(s, "SELECT * FROM iqe") == [(2,)]
    assert rows(s, "SELECT * FROM iqn") == [(1,), (3,)]
    s.run_script("DROP MATERIALIZED VIEW iqe;"
                 "DROP MATERIALIZED VIEW iqn;"
                 "DROP TABLE iq_o; DROP TABLE iq_l;")


def test_in_having_threshold_membership(spark):
    """IN (SELECT k FROM t GROUP BY k HAVING AGG(x) > n) — the q18
    membership idiom — maintains as a per-key aggregate threshold:
    membership flips exactly when the key's sum crosses n, in both
    directions."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE th_o (ok BIGINT, nm STRING);
        CREATE TABLE th_l (lok BIGINT, qty BIGINT);
        INSERT INTO th_o VALUES (1, 'a'), (2, 'b');
        INSERT INTO th_l VALUES (1, 60), (1, 70), (2, 50);
        CREATE MATERIALIZED VIEW th WITH (MAINTENANCE 'delta') AS
          SELECT ok, nm FROM th_o
          WHERE ok IN (SELECT lok FROM th_l GROUP BY lok
                       HAVING sum(qty) > 100);
    """)
    assert rows(s, "SELECT * FROM th") == [(1, "a")]
    # order 2 crosses the threshold upward
    s.execute("INSERT INTO th_l VALUES (2, 60)")
    assert rows(s, "SELECT * FROM th") == [(1, "a"), (2, "b")]
    # order 1 drops below: deleting one line retires its membership
    s.execute("DELETE FROM th_l WHERE lok = 1 AND qty = 70")
    assert rows(s, "SELECT * FROM th") == [(2, "b")]
    # NOT IN over a HAVING subquery rejects loudly
    with pytest.raises(Exception, match="NOT IN over a HAVING"):
        s.execute(
            "CREATE MATERIALIZED VIEW thbad WITH (MAINTENANCE "
            "'delta') AS SELECT ok FROM th_o WHERE ok NOT IN "
            "(SELECT lok FROM th_l GROUP BY lok HAVING sum(qty) > 1)")
    s.run_script("DROP MATERIALIZED VIEW th;"
                 "DROP TABLE th_o; DROP TABLE th_l;")


def test_correlated_not_in_three_valued(spark):
    """x NOT IN (SELECT j FROM u WHERE u.g2 = t.g): the emptiness and
    NULL-poison terms are PER correlation key (reference lowering
    keeps them in the decorrelated plan): a key whose inner set is
    empty keeps every outer row (NULL x included); a key whose set
    holds a NULL — or a NULL outer x against a non-empty set — is
    UNKNOWN → filtered."""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE co_t (g BIGINT, x BIGINT);
        CREATE TABLE co_u (g2 BIGINT, j BIGINT);
        INSERT INTO co_t VALUES (1, 5), (1, NULL), (2, 7), (3, 9),
                                (NULL, 4);
        INSERT INTO co_u VALUES (1, 6), (1, NULL), (2, 8);
        CREATE MATERIALIZED VIEW co_ni WITH (MAINTENANCE 'delta') AS
          SELECT g, x FROM co_t
          WHERE x NOT IN (SELECT j FROM co_u WHERE co_u.g2 = co_t.g);
    """)
    # key 1 poisoned by its inner NULL; key 3 and the NULL key have
    # empty sets -> kept; (2,7) not in {8} -> kept
    assert rows(s, "SELECT * FROM co_ni") == [(2, 7), (3, 9),
                                              (None, 4)]
    # un-poison key 1 (x=5 now NOT IN {6}); give key 3 a match;
    # poison key 2
    s.run_script("""
        DELETE FROM co_u WHERE g2 = 1 AND j IS NULL;
        INSERT INTO co_u VALUES (3, 9), (2, NULL);
    """)
    assert rows(s, "SELECT * FROM co_ni") == [(1, 5), (None, 4)]
    # outer churn probes live per-key state: key 4 has the empty set;
    # (1,6) matches {6}
    s.execute("INSERT INTO co_t VALUES (4, 1), (1, 6)")
    assert rows(s, "SELECT * FROM co_ni") == [(1, 5), (4, 1),
                                              (None, 4)]
    # draining key 2's poison row revives (2,7)
    s.execute("DELETE FROM co_u WHERE g2 = 2 AND j IS NULL")
    assert rows(s, "SELECT * FROM co_ni") == [(1, 5), (2, 7), (4, 1),
                                              (None, 4)]
    s.run_script("DROP MATERIALIZED VIEW co_ni;"
                 "DROP TABLE co_t; DROP TABLE co_u;")


def test_correlated_in_per_key_membership(spark):
    """Positive correlated IN: membership is per correlation key; a
    NULL outer value never qualifies (UNKNOWN), a NULL correlation
    key sees the empty set. (DuckDB 1.0.0's WHERE lowering keeps the
    NULL-x row here — a known DuckDB bug; the reference and PG filter
    it, and so do we.)"""
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ci_t (g BIGINT, x BIGINT);
        CREATE TABLE ci_u (g2 BIGINT, j BIGINT);
        INSERT INTO ci_t VALUES (1, 5), (1, NULL), (2, 8), (NULL, 8);
        INSERT INTO ci_u VALUES (1, 6), (1, NULL), (2, 8);
        CREATE MATERIALIZED VIEW ci WITH (MAINTENANCE 'delta') AS
          SELECT g, x FROM ci_t
          WHERE x IN (SELECT j FROM ci_u WHERE ci_u.g2 = ci_t.g);
    """)
    # (2,8) matches key 2's {8}; (NULL,8) has the empty set; NULL x
    # never matches
    assert rows(s, "SELECT * FROM ci") == [(2, 8)]
    # value arrives for key 1; delete key 2's match
    s.run_script("""
        INSERT INTO ci_u VALUES (1, 5);
        DELETE FROM ci_u WHERE g2 = 2 AND j = 8;
    """)
    assert rows(s, "SELECT * FROM ci") == [(1, 5)]
    # same value under the WRONG key does not leak across keys
    s.execute("INSERT INTO ci_u VALUES (2, 5)")
    assert rows(s, "SELECT * FROM ci") == [(1, 5)]
    s.run_script("DROP MATERIALIZED VIEW ci;"
                 "DROP TABLE ci_t; DROP TABLE ci_u;")


def test_dropped_key_name_collision(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ga (x BIGINT, y BIGINT);
        CREATE TABLE gb (y BIGINT, z BIGINT);
        INSERT INTO ga VALUES (10, 77);
        INSERT INTO gb VALUES (10, 500);
        CREATE MATERIALIZED VIEW gmv WITH (MAINTENANCE 'delta') AS
          SELECT ga.y, SUM(gb.z) AS s FROM ga, gb
          WHERE ga.x = gb.y GROUP BY ga.y;
    """)
    assert rows(s, "SELECT * FROM gmv") == [(77, 500)]
    s.execute("INSERT INTO gb VALUES (10, 30)")
    assert rows(s, "SELECT * FROM gmv") == [(77, 530)]
    s.execute("INSERT INTO ga VALUES (10, 99)")
    assert rows(s, "SELECT * FROM gmv") == [(77, 530), (99, 530)]
    # bare ambiguous reference raises loudly
    with pytest.raises(Exception, match="ambiguous"):
        s.execute("CREATE MATERIALIZED VIEW gbad WITH (MAINTENANCE "
                  "'delta') AS SELECT y, SUM(gb.z) AS s FROM ga, gb "
                  "WHERE ga.x = gb.y GROUP BY y")
    s.run_script("DROP MATERIALIZED VIEW gmv; DROP TABLE ga; DROP TABLE gb;")

def test_qualified_dropped_key_select(spark):
    s = _mz(spark)
    s.run_script("""
        CREATE TABLE ha (x BIGINT, v STRING);
        CREATE TABLE hb (w BIGINT, z BIGINT);
        INSERT INTO ha VALUES (1, 'a'), (2, 'b');
        INSERT INTO hb VALUES (1, 10), (2, 20);
        CREATE MATERIALIZED VIEW hmv WITH (MAINTENANCE 'delta') AS
          SELECT hb.w, SUM(hb.z) AS s FROM ha, hb
          WHERE ha.x = hb.w GROUP BY hb.w;
    """)
    assert rows(s, "SELECT * FROM hmv") == [(1, 10), (2, 20)]
    cols = [f.name for f in s.sql("SELECT * FROM hmv").schema.fields]
    assert cols == ["w", "s"]
    s.execute("INSERT INTO hb VALUES (1, 5)")
    assert rows(s, "SELECT * FROM hmv") == [(1, 15), (2, 20)]
    s.run_script("DROP MATERIALIZED VIEW hmv; DROP TABLE ha; DROP TABLE hb;")
