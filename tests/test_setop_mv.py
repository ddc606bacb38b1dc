"""Delta-maintained set operations: EXCEPT [ALL] / INTERSECT [ALL] /
UNION [DISTINCT] MVs stay always-fresh through INSERT / DELETE / UPDATE
churn with no REFRESH, every step compared against a full recompute of
the body — the reference compiles set ops into Union/Negate/Threshold
compositions and maintains them like any dataflow
(src/sql/src/plan/query.rs plan_set_expr; Negate/Threshold at
src/expr/src/relation.rs:278-288)."""

import pytest

from materialize_spark.plans.sqlfront import MzSession

SF_DIR = "/root/testdata/sf0.001"

BODIES = {
    "so_exall": "SELECT k, v FROM so_l EXCEPT ALL SELECT k, v FROM so_r",
    "so_exd": "SELECT k, v FROM so_l EXCEPT SELECT k, v FROM so_r",
    "so_inall": "SELECT k, v FROM so_l INTERSECT ALL "
                "SELECT k, v FROM so_r",
    "so_ind": "SELECT k, v FROM so_l INTERSECT SELECT k, v FROM so_r",
    "so_und": "SELECT k, v FROM so_l UNION SELECT k, v FROM so_r",
}


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def _rows(s, name):
    return sorted((tuple(r) for r in s.sql(f"SELECT * FROM {name}")
                   .collect()), key=_key)


def _recompute(s, body):
    return sorted((tuple(r) for r in s.spark.sql(body).collect()),
                  key=_key)


def _mk(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE so_l (k STRING, v BIGINT)")
    s.execute("CREATE TABLE so_r (k STRING, v BIGINT)")
    return s


def _teardown(s, *views):
    for v in views:
        s.execute(f"DROP VIEW {v}")
    for t in ("so_l", "so_r"):
        s.execute(f"DROP TABLE {t}")


@pytest.mark.soak
def test_setop_mv_random_soak(spark):
    """18-step random churn over both inputs of all five set-op MVs at
    once; duplicates are deliberately common (small key space) so the
    ALL-vs-DISTINCT multiplicity arithmetic is exercised, and deletes
    can drive either side's net to zero."""
    import random

    rng = random.Random(7)
    s = _mk(spark)
    s.execute("INSERT INTO so_l VALUES ('a', 1), ('a', 1), ('b', 2)")
    s.execute("INSERT INTO so_r VALUES ('a', 1), ('c', 3)")
    for name, body in BODIES.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")
    live = {"so_l": [("a", 1), ("a", 1), ("b", 2)],
            "so_r": [("a", 1), ("c", 3)]}

    def step():
        t = rng.choice(["so_l", "so_r"])
        r = rng.random()
        if r < 0.5 or not live[t]:
            k = rng.choice("abcd")
            v = rng.randrange(1, 4)
            live[t].append((k, v))
            s.execute(f"INSERT INTO {t} VALUES ('{k}', {v})")
        elif r < 0.8:
            k, v = live[t][rng.randrange(len(live[t]))]
            live[t] = [x for x in live[t] if x != (k, v)]
            s.execute(f"DELETE FROM {t} WHERE k = '{k}' AND v = {v}")
        else:
            k, v = live[t][rng.randrange(len(live[t]))]
            nv = v + 10
            live[t] = [(k, nv) if x == (k, v) else x for x in live[t]]
            s.execute(f"UPDATE {t} SET v = {nv} "
                      f"WHERE k = '{k}' AND v = {v}")

    for i in range(18):
        step()
        for name, body in BODIES.items():
            assert _rows(s, name) == _recompute(s, body), \
                f"{name} diverged at step {i}"
    _teardown(s, *BODIES)


def test_setop_mv_empty_sides(spark):
    """Edge shapes: one side drained to empty, then refilled — EXCEPT
    returns the full left multiset, INTERSECT empties, and the refill
    restores both without a REFRESH."""
    s = _mk(spark)
    s.execute("INSERT INTO so_l VALUES ('x', 1), ('x', 1), ('y', 2)")
    s.execute("INSERT INTO so_r VALUES ('x', 1), ('y', 2)")
    s.execute("CREATE MATERIALIZED VIEW soe_ex WITH (MAINTENANCE "
              "'delta') AS SELECT k, v FROM so_l EXCEPT ALL "
              "SELECT k, v FROM so_r")
    s.execute("CREATE MATERIALIZED VIEW soe_in WITH (MAINTENANCE "
              "'delta') AS SELECT k, v FROM so_l INTERSECT ALL "
              "SELECT k, v FROM so_r")
    s.execute("DELETE FROM so_r")
    assert _rows(s, "soe_ex") == [("x", 1), ("x", 1), ("y", 2)]
    assert _rows(s, "soe_in") == []
    s.execute("INSERT INTO so_r VALUES ('x', 1), ('x', 1), ('x', 1)")
    assert _rows(s, "soe_ex") == [("y", 2)]
    assert _rows(s, "soe_in") == [("x", 1), ("x", 1)]
    _teardown(s, "soe_ex", "soe_in")


def test_setop_mv_branch_filters_and_exprs(spark):
    """Branch WHERE filters and aliased expression columns apply per
    delta before the set-op state (stateless Map/Filter composition,
    the same mfp fusion the union branches get)."""
    s = _mk(spark)
    s.execute("INSERT INTO so_l VALUES ('a', 1), ('b', 20), ('c', 3)")
    s.execute("INSERT INTO so_r VALUES ('a', 2), ('c', 6)")
    body = ("SELECT k, v * 2 AS d FROM so_l WHERE v < 10 "
            "EXCEPT ALL SELECT k, v AS d FROM so_r")
    s.execute(f"CREATE MATERIALIZED VIEW sof WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "sof") == _recompute(s, body)
    s.execute("INSERT INTO so_l VALUES ('d', 4), ('e', 50)")
    s.execute("DELETE FROM so_r WHERE k = 'a'")
    assert _rows(s, "sof") == _recompute(s, body)
    _teardown(s, "sof")


def test_setop_mv_three_branch_chain(spark):
    """Uniform left-associative chains fold into the closed per-side
    forms: A EXCEPT ALL B EXCEPT ALL C and A INTERSECT B INTERSECT C
    maintain with one three-sided state."""
    s = _mk(spark)
    s.execute("CREATE TABLE so_m (k STRING, v BIGINT)")
    s.execute("INSERT INTO so_l VALUES ('a', 1), ('a', 1), ('a', 1), "
              "('b', 2), ('c', 3)")
    s.execute("INSERT INTO so_m VALUES ('a', 1), ('c', 3)")
    s.execute("INSERT INTO so_r VALUES ('a', 1), ('b', 2)")
    ex_body = ("SELECT k, v FROM so_l EXCEPT ALL SELECT k, v FROM so_m "
               "EXCEPT ALL SELECT k, v FROM so_r")
    in_body = ("SELECT k, v FROM so_l INTERSECT SELECT k, v FROM so_m "
               "INTERSECT SELECT k, v FROM so_r")
    s.execute(f"CREATE MATERIALIZED VIEW so3_ex WITH (MAINTENANCE "
              f"'delta') AS {ex_body}")
    s.execute(f"CREATE MATERIALIZED VIEW so3_in WITH (MAINTENANCE "
              f"'delta') AS {in_body}")
    assert _rows(s, "so3_ex") == _recompute(s, ex_body)
    assert _rows(s, "so3_in") == _recompute(s, in_body)
    s.execute("INSERT INTO so_m VALUES ('b', 2)")
    s.execute("DELETE FROM so_r WHERE k = 'a'")
    s.execute("INSERT INTO so_r VALUES ('c', 3)")
    assert _rows(s, "so3_ex") == _recompute(s, ex_body)
    assert _rows(s, "so3_in") == _recompute(s, in_body)
    s.execute("DROP VIEW so3_ex")
    s.execute("DROP VIEW so3_in")
    for t in ("so_m", "so_l", "so_r"):
        s.execute(f"DROP TABLE {t}")


def test_setop_mv_mixed_chain_maintains(spark, drop_forgets):
    """Mixed-operator chains maintain via pairwise stacked internal
    MVs with SQL precedence (INTERSECT binds tighter; UNION/EXCEPT
    left-assoc) — the reference plans such chains as nested
    Threshold/Union/Negate trees (plan_set_expr)."""
    s = _mk(spark)
    body = ("SELECT k, v FROM so_l UNION ALL "
            "SELECT k, v FROM so_r EXCEPT "
            "SELECT k, v FROM so_l")
    s.execute("INSERT INTO so_l VALUES ('a', 1), ('b', 2)")
    s.execute("INSERT INTO so_r VALUES ('b', 2), ('c', 3)")
    s.execute("CREATE MATERIALIZED VIEW so_mix WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "so_mix") == _recompute(s, body)
    s.execute("INSERT INTO so_r VALUES ('d', 4)")
    s.execute("DELETE FROM so_l WHERE k = 'a'")
    s.execute("INSERT INTO so_l VALUES ('c', 3)")
    assert _rows(s, "so_mix") == _recompute(s, body)
    # precedence: INTERSECT groups before the EXCEPT applies
    body2 = ("SELECT k, v FROM so_l EXCEPT "
             "SELECT k, v FROM so_r INTERSECT "
             "SELECT k, v FROM so_l")
    s.execute("CREATE MATERIALIZED VIEW so_mix2 WITH (MAINTENANCE "
              f"'delta') AS {body2}")
    assert _rows(s, "so_mix2") == _recompute(s, body2)
    s.execute("DELETE FROM so_r WHERE k = 'b'")
    assert _rows(s, "so_mix") == _recompute(s, body)
    assert _rows(s, "so_mix2") == _recompute(s, body2)
    # DROP takes the planner-internal pair nodes with it
    names = drop_forgets(s, ["so_mix", "so_mix2"], ["so_l", "so_r"])
    assert [n for n in names if n.startswith("__setop_")]
    for t in ("so_l", "so_r"):
        s.execute(f"DROP TABLE {t}")


def test_setop_subscribe_query(spark):
    """SUBSCRIBE (A EXCEPT ALL B): the set-op body plans as an
    ephemeral delta-maintained view; a commit on either side pushes
    exactly the touched rows' diff."""
    from pyspark.sql import functions as F  # noqa: F401

    s = _mk(spark)
    s.execute("INSERT INTO so_l VALUES ('a', 1), ('b', 2)")
    s.execute("INSERT INTO so_r VALUES ('b', 2)")
    sid, first, _ = s.subscribe_open(
        "SUBSCRIBE (SELECT k, v FROM so_l EXCEPT ALL "
        "SELECT k, v FROM so_r)")
    snap = sorted((r.k, r.v) for r in first.collect())
    assert snap == [("a", 1)]
    s.execute("INSERT INTO so_r VALUES ('a', 1)")
    delta = s.subscribe_poll(sid)
    got = sorted((r.k, r.v, r.diff) for r in delta.collect())
    assert got == [("a", 1, -1)]
    s.subscribe_close(sid)
    assert not any(n.startswith("__subq") for n in s._delta_mvs)
    for t in ("so_l", "so_r"):
        s.execute(f"DROP TABLE {t}")


def test_setop_stateful_branches_union_distinct(spark, drop_forgets):
    """UNION (distinct) of two GROUPED AGGREGATES: each stateful
    branch plans as a planner-owned internal delta MV (__sbr_) and the
    distinct-union rides their published diffs — the reference's
    plan_set_expr over Reduce subtrees. Churn crosses branch outputs
    (a group's sum colliding with the other side's) both ways."""
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE ssb_a (g BIGINT, v BIGINT);
        CREATE TABLE ssb_b (g BIGINT, v BIGINT);
        INSERT INTO ssb_a VALUES (1, 10), (1, 5), (2, 20);
        INSERT INTO ssb_b VALUES (1, 15), (3, 30);
        CREATE MATERIALIZED VIEW ssb_u WITH (MAINTENANCE 'delta') AS
          SELECT g, SUM(v) AS s FROM ssb_a GROUP BY g
          UNION
          SELECT g, SUM(v) AS s FROM ssb_b GROUP BY g;
    """)
    body = ("SELECT g, SUM(v) AS s FROM ssb_a GROUP BY g UNION "
            "SELECT g, SUM(v) AS s FROM ssb_b GROUP BY g")
    assert _rows(s, "ssb_u") == _recompute(s, body)
    for sql in (
        "INSERT INTO ssb_a VALUES (3, 30)",   # collides with b's (3,30)
        "DELETE FROM ssb_a WHERE g = 1 AND v = 5",
        "INSERT INTO ssb_b VALUES (1, -15)",  # b's group 1 flips to 0
        "DELETE FROM ssb_a WHERE g = 3",
    ):
        s.execute(sql)
        assert _rows(s, "ssb_u") == _recompute(s, body), sql
    names = drop_forgets(s, "ssb_u", ["ssb_a", "ssb_b"])
    assert any(n.startswith("__sbr_") for n in names)
    s.run_script("DROP TABLE ssb_a; DROP TABLE ssb_b;")


def test_setop_stateful_branch_with_stateless(spark):
    """UNION ALL mixing one aggregate branch with one stateless
    branch: only the stateful branch desugars; the stateless one stays
    an inline spine branch."""
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE ssm_a (g BIGINT, v BIGINT);
        CREATE TABLE ssm_b (g BIGINT, v BIGINT);
        INSERT INTO ssm_a VALUES (1, 10), (2, 20);
        INSERT INTO ssm_b VALUES (5, 50);
        CREATE MATERIALIZED VIEW ssm_u WITH (MAINTENANCE 'delta') AS
          SELECT g, SUM(v) AS v FROM ssm_a GROUP BY g
          UNION ALL
          SELECT g, v FROM ssm_b WHERE v > 0;
    """)
    body = ("SELECT g, SUM(v) AS v FROM ssm_a GROUP BY g UNION ALL "
            "SELECT g, v FROM ssm_b WHERE v > 0")
    assert _rows(s, "ssm_u") == _recompute(s, body)
    for sql in ("INSERT INTO ssm_a VALUES (1, 1)",
                "INSERT INTO ssm_b VALUES (6, -1)",
                "DELETE FROM ssm_b WHERE g = 5"):
        s.execute(sql)
        assert _rows(s, "ssm_u") == _recompute(s, body), sql
    s.run_script("DROP MATERIALIZED VIEW ssm_u; "
                 "DROP TABLE ssm_a; DROP TABLE ssm_b;")


def test_setop_except_of_aggregates_and_having(spark):
    """EXCEPT of two grouped counts, plus a HAVING-filtered aggregate
    branch under UNION ALL: threshold semantics ride the internal MVs'
    diffs."""
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE sse_a (g BIGINT);
        CREATE TABLE sse_b (g BIGINT);
        INSERT INTO sse_a VALUES (1), (1), (2), (3);
        INSERT INTO sse_b VALUES (2), (2);
        CREATE MATERIALIZED VIEW sse_x WITH (MAINTENANCE 'delta') AS
          SELECT g, COUNT(*) AS c FROM sse_a GROUP BY g
          EXCEPT
          SELECT g, COUNT(*) AS c FROM sse_b GROUP BY g;
    """)
    body = ("SELECT g, COUNT(*) AS c FROM sse_a GROUP BY g EXCEPT "
            "SELECT g, COUNT(*) AS c FROM sse_b GROUP BY g")
    assert _rows(s, "sse_x") == _recompute(s, body)
    for sql in ("INSERT INTO sse_a VALUES (2)",  # (2,2) matches b
                "DELETE FROM sse_b WHERE g = 2"):
        s.execute(sql)
        assert _rows(s, "sse_x") == _recompute(s, body), sql
    s.run_script("DROP MATERIALIZED VIEW sse_x; "
                 "DROP TABLE sse_a; DROP TABLE sse_b;")


def test_groupby_no_aggregates_is_distinct(spark):
    """GROUP BY over exactly its keys with no aggregates plans as
    SELECT DISTINCT (the reference lowers both to Reduce distinct) —
    standalone and as a set-op branch."""
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE sgd_a (g BIGINT, v BIGINT);
        CREATE TABLE sgd_b (g BIGINT);
        INSERT INTO sgd_a VALUES (1, 1), (1, 2), (2, 1);
        INSERT INTO sgd_b VALUES (1), (1), (9);
        CREATE MATERIALIZED VIEW sgd_d WITH (MAINTENANCE 'delta') AS
          SELECT g FROM sgd_a GROUP BY g;
        CREATE MATERIALIZED VIEW sgd_i WITH (MAINTENANCE 'delta') AS
          SELECT g FROM sgd_a GROUP BY g
          INTERSECT
          SELECT DISTINCT g FROM sgd_b;
    """)
    assert _rows(s, "sgd_d") == [(1,), (2,)]
    assert _rows(s, "sgd_i") == [(1,)]
    s.execute("INSERT INTO sgd_b VALUES (2)")
    assert _rows(s, "sgd_i") == [(1,), (2,)]
    s.execute("DELETE FROM sgd_a WHERE g = 1")
    assert _rows(s, "sgd_d") == [(2,)]
    assert _rows(s, "sgd_i") == [(2,)]
    s.run_script("DROP MATERIALIZED VIEW sgd_i; "
                 "DROP MATERIALIZED VIEW sgd_d; "
                 "DROP TABLE sgd_a; DROP TABLE sgd_b;")


def test_setop_mixed_chain_stateful_branches(spark, drop_forgets):
    """A mixed-operator chain whose branches are stateful: the
    pairwise __setop_ reduction composes with the __sbr_ stateful-
    branch desugar, and DROP cascades through BOTH internal layers."""
    s = MzSession(spark)
    s.run_script("""
        CREATE TABLE smc_a (g BIGINT);
        CREATE TABLE smc_b (g BIGINT);
        CREATE TABLE smc_c (g BIGINT);
        INSERT INTO smc_a VALUES (1), (2), (3);
        INSERT INTO smc_b VALUES (2);
        INSERT INTO smc_c VALUES (3), (4);
        CREATE MATERIALIZED VIEW smc_m WITH (MAINTENANCE 'delta') AS
          SELECT g FROM smc_a GROUP BY g
          UNION ALL
          SELECT g FROM smc_b
          EXCEPT
          SELECT g FROM smc_c GROUP BY g;
    """)
    body = ("SELECT g FROM smc_a GROUP BY g UNION ALL "
            "SELECT g FROM smc_b EXCEPT "
            "SELECT g FROM smc_c GROUP BY g")
    assert _rows(s, "smc_m") == _recompute(s, body)
    for sql in ("INSERT INTO smc_c VALUES (2)",
                "DELETE FROM smc_c WHERE g = 3"):
        s.execute(sql)
        assert _rows(s, "smc_m") == _recompute(s, body), sql
    names = drop_forgets(s, "smc_m", ["smc_a", "smc_b", "smc_c"])
    for prefix in ("__sbr_", "__setop_"):
        assert any(n.startswith(prefix) for n in names), prefix
    s.run_script("DROP TABLE smc_a; DROP TABLE smc_b; "
                 "DROP TABLE smc_c;")
