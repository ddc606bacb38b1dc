"""One lifecycle for delta-maintained views: RENAME and SWAP carry a
view (and the internal views it owns) to its new name, a relation a
delta view reads refuses RENAME/SWAP, DROP SCHEMA ... CASCADE and
closing a query subscription forget every internal, and DROP of each
stacking shape leaves no trace in any per-object session store."""

import pytest

from materialize_spark.plans.sqlfront import MzSession
from tests.conftest import SF_DIR, held


def _rows(s, sql):
    return sorted((tuple(r) for r in s.sql(sql).collect()),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


RENAMED = {
    "grouped": "SELECT k, count(*) AS n, sum(v) AS s FROM rn_t GROUP BY k",
    "projection": "SELECT k, v * 2 AS v2 FROM rn_t WHERE v > 0",
    "stacked": ("SELECT n, count(*) AS c FROM (SELECT k, count(*) AS n "
                "FROM rn_t GROUP BY k) AS per GROUP BY n"),
}


@pytest.mark.parametrize("shape", sorted(RENAMED))
def test_renamed_delta_view_keeps_updating(spark, shape):
    body = RENAMED[shape]
    s = MzSession(spark, SF_DIR)
    s.run_script(f"""
        CREATE TABLE rn_t (k BIGINT, v BIGINT);
        INSERT INTO rn_t VALUES (1, 10), (1, 5), (2, 7);
        CREATE MATERIALIZED VIEW rn_v WITH (MAINTENANCE 'delta') AS {body};
    """)
    internals = s._delta_mvs["rn_v"].internal_deps
    assert (shape == "stacked") == ("__jsub_rn_v" in internals)
    s.execute("ALTER MATERIALIZED VIEW rn_v RENAME TO rn_w")
    for sql in ("INSERT INTO rn_t VALUES (3, 4), (1, 1)",
                "UPDATE rn_t SET v = v + 10 WHERE k = 1",
                "DELETE FROM rn_t WHERE k = 2"):
        s.execute(sql)
        assert _rows(s, "SELECT * FROM rn_w") == _rows(s, body), sql
        assert held(s, "rn_v") == [], sql
    with pytest.raises(Exception):
        s.sql("SELECT * FROM rn_v").collect()
    s.run_script("DROP MATERIALIZED VIEW rn_w; DROP TABLE rn_t;")
    for n in internals:
        assert held(s, n) == []


def test_rename_then_recreate_a_stacked_view(spark):
    """A renamed view keeps the internal views it owns, and a new view
    under the old name makes its own instead of colliding with them."""
    body = RENAMED["stacked"].replace("rn_t", "rc_t")
    s = MzSession(spark, SF_DIR)
    s.run_script(f"""
        CREATE TABLE rc_t (k BIGINT, v BIGINT);
        INSERT INTO rc_t VALUES (1, 10), (1, 5), (2, 7);
        CREATE MATERIALIZED VIEW d9 WITH (MAINTENANCE 'delta') AS {body};
        ALTER MATERIALIZED VIEW d9 RENAME TO d9_old;
        CREATE MATERIALIZED VIEW d9 WITH (MAINTENANCE 'delta') AS {body};
        INSERT INTO rc_t VALUES (3, 4), (1, 1);
    """)
    for view in ("d9", "d9_old"):
        assert _rows(s, f"SELECT * FROM {view}") == _rows(s, body), view
    old = set(s._delta_mvs["d9_old"].internal_deps)
    new = set(s._delta_mvs["d9"].internal_deps)
    assert old and new and not old & new
    s.run_script("DROP MATERIALIZED VIEW d9; "
                 "DROP MATERIALIZED VIEW d9_old; DROP TABLE rc_t;")
    for n in old | new:
        assert held(s, n) == [], n


def test_swap_two_delta_views(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE sw_t (k BIGINT, v BIGINT);
        INSERT INTO sw_t VALUES (1, 10), (2, 7);
        CREATE MATERIALIZED VIEW sw_a WITH (MAINTENANCE 'delta') AS
          SELECT k, sum(v) AS s FROM sw_t GROUP BY k;
        CREATE MATERIALIZED VIEW sw_b WITH (MAINTENANCE 'delta') AS
          SELECT k, count(*) AS n FROM sw_t GROUP BY k;
        ALTER MATERIALIZED VIEW sw_a SWAP WITH sw_b;
    """)
    for sql in ("INSERT INTO sw_t VALUES (1, 1), (3, 3)",
                "UPDATE sw_t SET v = v * 2 WHERE k = 2",
                "DELETE FROM sw_t WHERE k = 3"):
        s.execute(sql)
        assert _rows(s, "SELECT * FROM sw_a") == _rows(
            s, "SELECT k, count(*) AS n FROM sw_t GROUP BY k"), sql
        assert _rows(s, "SELECT * FROM sw_b") == _rows(
            s, "SELECT k, sum(v) AS s FROM sw_t GROUP BY k"), sql
    assert not [n for n in s._delta_mvs if n.startswith("__swap_tmp")]
    s.run_script("DROP MATERIALIZED VIEW sw_a; "
                 "DROP MATERIALIZED VIEW sw_b; DROP TABLE sw_t;")


def test_rename_of_a_read_relation_refuses(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE rr_t (v BIGINT);
        CREATE TABLE rr_u (v BIGINT);
        INSERT INTO rr_t VALUES (1);
        CREATE MATERIALIZED VIEW rr_d WITH (MAINTENANCE 'delta') AS
          SELECT sum(v) AS s FROM rr_t;
    """)
    with pytest.raises(ValueError, match="cannot rename 'rr_t': "
                       "delta-maintained view 'rr_d' depends on it"):
        s.execute("ALTER TABLE rr_t RENAME TO rr_t2")
    with pytest.raises(ValueError, match="'rr_d' depends on it"):
        s.execute("ALTER TABLE rr_u SWAP WITH rr_t")
    # nothing moved: the table keeps its name and the view its feed
    s.execute("INSERT INTO rr_t VALUES (10)")
    assert _rows(s, "SELECT * FROM rr_d") == [(11,)]
    assert _rows(s, "SELECT * FROM rr_u") == []
    s.run_script("DROP MATERIALIZED VIEW rr_d; DROP TABLE rr_t; "
                 "DROP TABLE rr_u;")


def test_drop_schema_cascade_forgets_delta_views(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE ds_t (k BIGINT, v BIGINT);
        INSERT INTO ds_t VALUES (1, 10), (2, 7);
        CREATE SCHEMA ds_x;
        CREATE MATERIALIZED VIEW ds_x.dz WITH (MAINTENANCE 'delta') AS
          SELECT k, count(*) AS n FROM ds_t GROUP BY k;
        CREATE MATERIALIZED VIEW ds_x.dj WITH (MAINTENANCE 'delta') AS
          SELECT n, count(*) AS c FROM (SELECT k, count(*) AS n
          FROM ds_t GROUP BY k) AS per GROUP BY n;
    """)
    names = [n for n in s._delta_mvs if "ds_x" in n]
    assert any(n.startswith("__jsub_") for n in names), names
    s.execute("DROP SCHEMA ds_x CASCADE")
    for sql in ("INSERT INTO ds_t VALUES (3, 3)",
                "UPDATE ds_t SET v = v + 1 WHERE k = 1",
                "DELETE FROM ds_t WHERE k = 2"):
        s.execute(sql)
        for n in names:
            assert held(s, n) == [], (sql, n)
    assert _rows(s, "SELECT * FROM ds_t") == [(1, 11), (3, 3)]
    s.execute("DROP TABLE ds_t")


def test_closed_query_subscription_forgets_internals(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE qs_t (k BIGINT, v BIGINT);
        INSERT INTO qs_t VALUES (1, 10), (2, 7);
    """)
    sid, _first, _ = s.subscribe_open(
        "SUBSCRIBE (SELECT count(*) AS n FROM (SELECT k, sum(v) AS s "
        "FROM qs_t GROUP BY k) t)")
    names = [n for n in s._delta_mvs if n.startswith(("__subq",
                                                      "__jsub___subq"))]
    assert len(names) == 2, names
    s.subscribe_close(sid)
    s.execute("INSERT INTO qs_t VALUES (3, 3)")
    for n in names:
        assert held(s, n) == [], n
    s.execute("DROP TABLE qs_t")


# one input per stacking shape served by the internal-view helper:
# (view body, internal-name prefixes the plan must make)
SHAPES = {
    "from_subquery_join": (
        "SELECT seg, sum(dbl) AS rev FROM (SELECT ck, amt * 2 AS dbl "
        "FROM lc_o WHERE amt < 50) JOIN lc_c ON ck = ck2 GROUP BY seg",
        ("__jsub_",)),
    "stateful_from_subquery": (
        "SELECT n, count(*) AS c FROM (SELECT ck, count(*) AS n "
        "FROM lc_o GROUP BY ck) AS per GROUP BY n",
        ("__jsub_",)),
    "window_over_join": (
        "SELECT seg, amt, sum(amt) OVER (PARTITION BY seg) AS tot "
        "FROM lc_o JOIN lc_c ON ck = ck2",
        ("__jsub_",)),
    "topk_over_stateful": (
        "SELECT ck, sum(amt) AS s FROM lc_o GROUP BY ck "
        "ORDER BY s DESC LIMIT 2",
        ("__jsub_",)),
    "having_scalar": (
        "SELECT ck, sum(amt) AS s FROM lc_o GROUP BY ck "
        "HAVING sum(amt) > (SELECT avg(amt) FROM lc_o)",
        ("__jsub_", "__ssub_")),
    "select_scalar_sub": (
        "SELECT ck2, seg, (SELECT max(amt) FROM lc_o WHERE ck = ck2) "
        "AS top FROM lc_c",
        ("__psub_",)),
    "scalar_and_in_subfilters": (
        "SELECT ok, amt FROM lc_o WHERE amt > (SELECT avg(amt) FROM "
        "lc_o) AND ck IN (SELECT ck2 FROM lc_c WHERE ck2 IN "
        "(SELECT ck FROM lc_o WHERE amt > 20))",
        ("__ssub_", "__msub_")),
    "stateful_setop_branch": (
        "SELECT ck, sum(amt) AS s FROM lc_o GROUP BY ck UNION "
        "SELECT ck2, ck2 * 10 AS s FROM lc_c",
        ("__sbr_",)),
    "mixed_setop_chain": (
        "SELECT ck FROM lc_o GROUP BY ck UNION ALL SELECT ck2 FROM lc_c "
        "EXCEPT SELECT ck FROM lc_o WHERE amt > 40",
        ("__setop_", "__sbr_")),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_drop_forgets_every_stacking_shape(spark, drop_forgets, shape):
    body, prefixes = SHAPES[shape]
    s = MzSession(spark, SF_DIR)
    s.run_script(f"""
        CREATE TABLE lc_o (ok BIGINT, ck BIGINT, amt BIGINT);
        CREATE TABLE lc_c (ck2 BIGINT, seg STRING);
        INSERT INTO lc_o VALUES (1, 1, 10), (2, 1, 30), (3, 2, 60),
                                (4, 3, 5);
        INSERT INTO lc_c VALUES (1, 'a'), (2, 'b'), (3, 'a');
        CREATE MATERIALIZED VIEW lc_v WITH (MAINTENANCE 'delta') AS {body};
    """)
    s.execute("INSERT INTO lc_o VALUES (5, 2, 25), (6, 4, 45)")
    assert _rows(s, "SELECT * FROM lc_v") == _rows(s, body)
    internals = s._delta_mvs["lc_v"].internal_deps
    for p in prefixes:
        assert any(n.startswith(p) for n in internals), (p, internals)
    names = drop_forgets(s, "lc_v", ["lc_o", "lc_c"])
    assert set(names) == {"lc_v", *internals}
    s.run_script("DROP TABLE lc_o; DROP TABLE lc_c;")
