"""Delta-MV composition at the SQL surface: outer-join chains and the
join→TopK composition, maintained always-fresh through INSERT / DELETE /
UPDATE with no REFRESH — every step compared against a full recompute of
the view body (the reference maintains arbitrary SQL this way;
src/compute/src/render.rs assembles per-operator incremental plans)."""

import pytest

from materialize_spark.plans.sqlfront import MzSession

SF_DIR = "/root/testdata/sf0.001"


def _mk(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE dc_ord (okey BIGINT, ckey BIGINT, "
              "price BIGINT)")
    s.execute("CREATE TABLE dc_cust (cust_key BIGINT, cname STRING)")
    s.execute("CREATE TABLE dc_li (li_okey BIGINT, qty BIGINT)")
    return s


def _drop(s, *names):
    for n in names:
        s.execute(f"DROP VIEW {n}")
    for t in ("dc_li", "dc_cust", "dc_ord"):
        s.execute(f"DROP TABLE {t}")


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def _recompute(s, body):
    return sorted((tuple(r) for r in s.spark.sql(body).collect()),
                  key=_key)


def _rows(s, name):
    return sorted((tuple(r) for r in s.sql(f"SELECT * FROM {name}")
                   .collect()), key=_key)


def test_delta_mv_left_join_agg(spark):
    """outer-join→agg: LEFT JOIN with a grouped aggregate on top stays
    fresh under inserts and deletes on BOTH sides, including the
    first-match/last-match transitions that flip null-padding."""
    s = _mk(spark)
    body = ("SELECT cname, SUM(price) AS total, COUNT(*) AS n "
            "FROM dc_ord LEFT JOIN dc_cust ON ckey = cust_key "
            "GROUP BY cname")
    # seed BEFORE creation (formation pass covers existing rows)
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 11, 50)")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice')")
    s.execute(f"CREATE MATERIALIZED VIEW dcv1 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcv1") == _recompute(s, body)
    assert (None, 50, 1) in _rows(s, "dcv1")  # unmatched ckey=11
    # first match for ckey=11: the NULL-group row must migrate
    s.execute("INSERT INTO dc_cust VALUES (11, 'bob')")
    assert _rows(s, "dcv1") == _recompute(s, body)
    # more orders, then delete the customer again (match vanishes)
    s.execute("INSERT INTO dc_ord VALUES (3, 11, 25), (4, 12, 75)")
    assert _rows(s, "dcv1") == _recompute(s, body)
    s.execute("DELETE FROM dc_cust WHERE cust_key = 11")
    assert _rows(s, "dcv1") == _recompute(s, body)
    s.execute("UPDATE dc_ord SET price = price + 1 WHERE okey = 1")
    assert _rows(s, "dcv1") == _recompute(s, body)
    _drop(s, "dcv1")


def test_delta_mv_full_join_projection(spark):
    s = _mk(spark)
    body = ("SELECT okey, ckey, cname "
            "FROM dc_ord FULL JOIN dc_cust ON ckey = cust_key")
    s.execute(f"CREATE MATERIALIZED VIEW dcv2 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100)")
    s.execute("INSERT INTO dc_cust VALUES (20, 'carol')")
    assert _rows(s, "dcv2") == _recompute(s, body)
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice')")
    assert _rows(s, "dcv2") == _recompute(s, body)
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcv2") == _recompute(s, body)
    _drop(s, "dcv2")


def test_delta_mv_join_topk(spark):
    """join→TopK: top-2 orders by price per customer name, over an
    inner join chain, fresh under churn in both inputs."""
    s = _mk(spark)
    body = ("SELECT cname, okey, price FROM ("
            "SELECT cname, okey, price, ROW_NUMBER() OVER ("
            "PARTITION BY cname ORDER BY price DESC) AS rn "
            "FROM dc_ord JOIN dc_cust ON ckey = cust_key) t "
            "WHERE rn <= 2")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute(f"CREATE MATERIALIZED VIEW dcv3 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 200), "
              "(3, 10, 300), (4, 11, 50)")
    got = _rows(s, "dcv3")
    assert got == _recompute(s, body)
    assert ("alice", 1, 100) not in got  # evicted by top-2
    # delete the current #1: the evicted row must come back
    s.execute("DELETE FROM dc_ord WHERE okey = 3")
    got = _rows(s, "dcv3")
    assert got == _recompute(s, body)
    assert ("alice", 1, 100) in got
    # churn the dimension side: bob disappears entirely
    s.execute("DELETE FROM dc_cust WHERE cust_key = 11")
    assert _rows(s, "dcv3") == _recompute(s, body)
    _drop(s, "dcv3")


def test_delta_mv_left_join_chain_three_way(spark):
    """Three-way chain mixing INNER and LEFT links with an aggregate."""
    s = _mk(spark)
    body = ("SELECT cname, SUM(qty) AS q "
            "FROM dc_ord JOIN dc_cust ON ckey = cust_key "
            "LEFT JOIN dc_li ON okey = li_okey GROUP BY cname")
    s.execute(f"CREATE MATERIALIZED VIEW dcv4 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 11, 50)")
    assert _rows(s, "dcv4") == _recompute(s, body)  # q NULL both
    s.execute("INSERT INTO dc_li VALUES (1, 7), (1, 3)")
    assert _rows(s, "dcv4") == _recompute(s, body)
    s.execute("DELETE FROM dc_li WHERE qty = 7")
    assert _rows(s, "dcv4") == _recompute(s, body)
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcv4") == _recompute(s, body)
    _drop(s, "dcv4")


def test_delta_mv_unsupported_still_errors(spark):
    s = _mk(spark)
    # ORDER BY *without* LIMIT is content-irrelevant and now accepted
    # (the reference ignores it in MV bodies — q13's text carries one);
    # DISTINCT + LIMIT stays out of the global-TopK shape and must
    # still reject loudly
    with pytest.raises(ValueError, match="MAINTENANCE 'delta'"):
        s.execute("CREATE MATERIALIZED VIEW dcbad WITH (MAINTENANCE "
                  "'delta') AS SELECT DISTINCT okey FROM dc_ord "
                  "ORDER BY okey LIMIT 3")
    for t in ("dc_li", "dc_cust", "dc_ord"):
        s.execute(f"DROP TABLE {t}")


def test_delta_mv_distinct_single_table(spark):
    """SELECT DISTINCT: deleting one duplicate keeps the row; deleting
    the last copy retires it (reference reduce.rs Distinct plan)."""
    s = _mk(spark)
    body = "SELECT DISTINCT ckey, price FROM dc_ord"
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 100), "
              "(3, 11, 50)")
    s.execute(f"CREATE MATERIALIZED VIEW dcv5 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcv5") == _recompute(s, body)
    # delete ONE of the two (10, 100) rows: distinct row survives
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcv5") == _recompute(s, body)
    assert (10, 100) in _rows(s, "dcv5")
    # delete the last copy: the distinct row retires
    s.execute("DELETE FROM dc_ord WHERE okey = 2")
    assert _rows(s, "dcv5") == _recompute(s, body)
    assert (10, 100) not in _rows(s, "dcv5")
    _drop(s, "dcv5")


def test_delta_mv_distinct_over_join(spark):
    s = _mk(spark)
    body = ("SELECT DISTINCT cname FROM dc_ord "
            "JOIN dc_cust ON ckey = cust_key")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute(f"CREATE MATERIALIZED VIEW dcv6 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 200), "
              "(3, 11, 50)")
    assert _rows(s, "dcv6") == _recompute(s, body)
    # alice still has order 2 after deleting order 1
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcv6") == _recompute(s, body)
    assert ("alice",) in _rows(s, "dcv6")
    # her last order goes: the distinct name retires
    s.execute("DELETE FROM dc_ord WHERE okey = 2")
    assert _rows(s, "dcv6") == _recompute(s, body)
    assert ("alice",) not in _rows(s, "dcv6")
    _drop(s, "dcv6")


def test_delta_mv_having_multi_agg(spark):
    """HAVING over the multi-aggregate shape (beyond SUM > n): the
    maintained result filters on its aggregate aliases."""
    s = _mk(spark)
    body = ("SELECT ckey, COUNT(*) AS n, MIN(price) AS lo "
            "FROM dc_ord GROUP BY ckey HAVING COUNT(*) > 1")
    s.execute(f"CREATE MATERIALIZED VIEW dcv7 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 50), "
              "(3, 11, 75)")
    assert _rows(s, "dcv7") == _recompute(s, body) == [(10, 2, 50)]
    s.execute("INSERT INTO dc_ord VALUES (4, 11, 25)")
    assert _rows(s, "dcv7") == _recompute(s, body)
    # drop ckey=10 below the threshold
    s.execute("DELETE FROM dc_ord WHERE okey = 2")
    assert _rows(s, "dcv7") == _recompute(s, body)
    assert all(r[0] != 10 for r in _rows(s, "dcv7"))
    _drop(s, "dcv7")


def test_delta_mv_having_over_join_agg(spark):
    s = _mk(spark)
    body = ("SELECT cname, SUM(price) AS rev FROM dc_ord "
            "JOIN dc_cust ON ckey = cust_key GROUP BY cname "
            "HAVING SUM(price) > 100")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute(f"CREATE MATERIALIZED VIEW dcv8 WITH (MAINTENANCE "
              f"'delta') AS {body}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 80), (2, 10, 30), "
              "(3, 11, 99)")
    assert _rows(s, "dcv8") == _recompute(s, body) == [("alice", 110)]
    # bob crosses up
    s.execute("INSERT INTO dc_ord VALUES (4, 11, 2)")
    assert _rows(s, "dcv8") == _recompute(s, body)
    # alice crosses back down
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcv8") == _recompute(s, body)
    _drop(s, "dcv8")


def test_delta_mv_expression_aggregates(spark):
    """Aggregate inputs may be scalar expressions — the q3/q5 revenue
    shape SUM(price * (1 - disc)) — computed on each delta before the
    keyed reduce, over both the single-table and join shapes."""
    s = _mk(spark)
    body1 = ("SELECT ckey, SUM(price * 2 + okey) AS w, "
             "MIN(price - okey) AS lo FROM dc_ord GROUP BY ckey")
    s.execute(f"CREATE MATERIALIZED VIEW dcv9 WITH (MAINTENANCE "
              f"'delta') AS {body1}")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 50), "
              "(3, 11, 75)")
    assert _rows(s, "dcv9") == _recompute(s, body1)
    s.execute("DELETE FROM dc_ord WHERE okey = 2")
    assert _rows(s, "dcv9") == _recompute(s, body1)
    s.execute("UPDATE dc_ord SET price = price + 7 WHERE okey = 3")
    assert _rows(s, "dcv9") == _recompute(s, body1)
    s.execute("DROP VIEW dcv9")
    # join shape with expression agg + HAVING over the same expression
    body2 = ("SELECT cname, SUM(price * (1 - okey)) AS rev "
             "FROM dc_ord JOIN dc_cust ON ckey = cust_key "
             "GROUP BY cname HAVING SUM(price * (1 - okey)) < -100")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute(f"CREATE MATERIALIZED VIEW dcv10 WITH (MAINTENANCE "
              f"'delta') AS {body2}")
    assert _rows(s, "dcv10") == _recompute(s, body2)
    s.execute("INSERT INTO dc_ord VALUES (9, 11, 500)")
    assert _rows(s, "dcv10") == _recompute(s, body2)
    s.execute("DELETE FROM dc_ord WHERE okey = 9")
    assert _rows(s, "dcv10") == _recompute(s, body2)
    _drop(s, "dcv10")


def test_delta_mv_multi_key_join(spark):
    """Composite equi-join keys (ON a = b AND c = d — the q5
    customer⋈supplier nation-match shape) maintained bilinearly."""
    from materialize_spark.plans.sqlfront import MzSession
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE mk_ord (okey BIGINT, ckey BIGINT, "
              "nat BIGINT, price BIGINT)")
    s.execute("CREATE TABLE mk_cust (cust_key BIGINT, cust_nat BIGINT, "
              "cname STRING)")
    body = ("SELECT cname, SUM(price) AS rev FROM mk_ord "
            "JOIN mk_cust ON ckey = cust_key AND nat = cust_nat "
            "GROUP BY cname")
    s.execute("INSERT INTO mk_cust VALUES (1, 7, 'alice'), "
              "(1, 8, 'alice_dup'), (2, 7, 'bob')")
    s.execute(f"CREATE MATERIALIZED VIEW mk_mv WITH (MAINTENANCE "
              f"'delta') AS {body}")
    # (1,7) matches alice only — NOT alice_dup (nat differs)
    s.execute("INSERT INTO mk_ord VALUES (100, 1, 7, 50), "
              "(101, 2, 7, 30), (102, 1, 8, 20)")
    assert _rows(s, "mk_mv") == _recompute(s, body)
    s.execute("DELETE FROM mk_cust WHERE cname = 'bob'")
    assert _rows(s, "mk_mv") == _recompute(s, body)
    s.execute("UPDATE mk_ord SET price = price + 5 WHERE okey = 102")
    assert _rows(s, "mk_mv") == _recompute(s, body)
    s.execute("DROP VIEW mk_mv")
    # LEFT variant with composite keys: unmatched rows keep NULL name
    body2 = ("SELECT okey, cname FROM mk_ord LEFT JOIN mk_cust "
             "ON ckey = cust_key AND nat = cust_nat")
    s.execute(f"CREATE MATERIALIZED VIEW mk_mv2 WITH (MAINTENANCE "
              f"'delta') AS {body2}")
    assert _rows(s, "mk_mv2") == _recompute(s, body2)
    s.execute("INSERT INTO mk_cust VALUES (2, 7, 'bob2')")
    assert _rows(s, "mk_mv2") == _recompute(s, body2)
    s.execute("DROP VIEW mk_mv2")
    for t in ("mk_cust", "mk_ord"):
        s.execute(f"DROP TABLE {t}")


@pytest.mark.soak
def test_delta_mv_composition_random_soak(spark):
    """20-step random walk of INSERT/DELETE/UPDATE over both inputs of
    an outer-join→agg MV and a join→TopK MV simultaneously; every step
    the maintained results must equal a full recompute — the property
    the reference guarantees for any maintained dataflow."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(42)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE sk_ord (okey BIGINT, ckey BIGINT, "
              "price BIGINT)")
    s.execute("CREATE TABLE sk_cust (cust_key BIGINT, cname STRING)")
    agg_body = ("SELECT cname, SUM(price) AS rev, COUNT(*) AS n "
                "FROM sk_ord LEFT JOIN sk_cust ON ckey = cust_key "
                "GROUP BY cname")
    tk_body = ("SELECT cname, okey, price FROM (SELECT cname, okey, "
               "price, ROW_NUMBER() OVER (PARTITION BY cname ORDER BY "
               "price DESC) AS rn FROM sk_ord JOIN sk_cust ON "
               "ckey = cust_key) t WHERE rn <= 2")
    s.execute(f"CREATE MATERIALIZED VIEW sk_agg WITH (MAINTENANCE "
              f"'delta') AS {agg_body}")
    s.execute(f"CREATE MATERIALIZED VIEW sk_tk WITH (MAINTENANCE "
              f"'delta') AS {tk_body}")
    next_ok = [1]
    live_ords: list[tuple[int, int, int]] = []
    live_custs: dict[int, str] = {}

    def step():
        r = rng.random()
        if r < 0.45 or not live_ords:
            ok, ck = next_ok[0], rng.randrange(1, 5)
            price = rng.randrange(1, 40) * 10 + ok % 7  # distinct-ish
            next_ok[0] += 1
            live_ords.append((ok, ck, price))
            s.execute(f"INSERT INTO sk_ord VALUES ({ok}, {ck}, "
                      f"{price})")
        elif r < 0.65:
            ok, ck, price = live_ords.pop(
                rng.randrange(len(live_ords)))
            s.execute(f"DELETE FROM sk_ord WHERE okey = {ok}")
        elif r < 0.85 or not live_custs:
            ck = rng.randrange(1, 5)
            if ck not in live_custs:
                live_custs[ck] = f"c{ck}"
                s.execute(f"INSERT INTO sk_cust VALUES ({ck}, "
                          f"'c{ck}')")
            else:  # update an order instead
                if live_ords:
                    ok, ck2, price = live_ords[
                        rng.randrange(len(live_ords))]
                    s.execute(f"UPDATE sk_ord SET price = price + 3 "
                              f"WHERE okey = {ok}")
                    live_ords[[o[0] for o in live_ords].index(ok)] = (
                        ok, ck2, price + 3)
        else:
            ck = rng.choice(list(live_custs))
            del live_custs[ck]
            s.execute(f"DELETE FROM sk_cust WHERE cust_key = {ck}")

    for i in range(20):
        step()
        assert _rows(s, "sk_agg") == _recompute(s, agg_body), \
            f"agg diverged at step {i}"
        assert _rows(s, "sk_tk") == _recompute(s, tk_body), \
            f"topk diverged at step {i}"
    for v in ("sk_agg", "sk_tk"):
        s.execute(f"DROP VIEW {v}")
    for t in ("sk_cust", "sk_ord"):
        s.execute(f"DROP TABLE {t}")


def test_delta_mv_ast_join_filter_churn(spark):
    """WHERE over the join OUTPUT with parenthesized OR branches mixing
    both sides' columns (an AST-dispatcher shape): fresh under churn
    that crosses the predicate in both directions."""
    s = _mk(spark)
    body = ("SELECT okey, cname, price "
            "FROM dc_ord JOIN dc_cust ON ckey = cust_key "
            "WHERE (price > 150 AND cname = 'alice') "
            "OR (cname = 'bob' AND price < 60)")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 10, 200), "
              "(3, 11, 50), (4, 11, 80)")
    s.execute(f"CREATE MATERIALIZED VIEW dcvf WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcvf") == _recompute(s, body)
    # cross INTO the predicate via UPDATE on the fact side
    s.execute("UPDATE dc_ord SET price = 160 WHERE okey = 1")
    assert _rows(s, "dcvf") == _recompute(s, body)
    # cross OUT via the dimension side (bob vanishes)
    s.execute("DELETE FROM dc_cust WHERE cust_key = 11")
    assert _rows(s, "dcvf") == _recompute(s, body)
    s.execute("INSERT INTO dc_cust VALUES (11, 'bob')")
    assert _rows(s, "dcvf") == _recompute(s, body)
    _drop(s, "dcvf")


def test_delta_mv_ast_agg_over_subquery_churn(spark):
    """Aggregate over a stateless inner Map/Filter subquery: the inner
    projection/filter composes per-delta in front of the maintained
    reduce; retraction passes through the projection correctly."""
    s = _mk(spark)
    body = ("SELECT b, SUM(dbl) AS total, COUNT(*) AS n FROM "
            "(SELECT ckey % 2 AS b, price * 2 AS dbl FROM dc_ord "
            "WHERE price > 60) GROUP BY b")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 11, 50)")
    s.execute(f"CREATE MATERIALIZED VIEW dcvs WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcvs") == _recompute(s, body)
    # cross INTO the inner filter
    s.execute("UPDATE dc_ord SET price = 70 WHERE okey = 2")
    assert _rows(s, "dcvs") == _recompute(s, body)
    # retraction through the projection; group retires entirely
    s.execute("DELETE FROM dc_ord WHERE okey = 1")
    assert _rows(s, "dcvs") == _recompute(s, body)
    s.execute("INSERT INTO dc_ord VALUES (5, 12, 61), (6, 13, 59)")
    assert _rows(s, "dcvs") == _recompute(s, body)
    _drop(s, "dcvs")


def test_delta_mv_ast_distinct_over_subquery_churn(spark):
    """DISTINCT over a stateless inner Map/Filter: the inner projection
    composes per-delta in front of the maintained Distinct; retiring
    the last contributing row retires the distinct value."""
    s = _mk(spark)
    body = ("SELECT DISTINCT b FROM "
            "(SELECT ckey % 3 AS b FROM dc_ord WHERE price > 50)")
    s.execute("INSERT INTO dc_ord VALUES (1, 3, 100), (2, 4, 40)")
    s.execute(f"CREATE MATERIALIZED VIEW dcvd WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcvd") == _recompute(s, body)
    s.execute("UPDATE dc_ord SET price = 60 WHERE okey = 2")  # enters
    assert _rows(s, "dcvd") == _recompute(s, body)
    s.execute("DELETE FROM dc_ord WHERE okey = 1")            # retires
    assert _rows(s, "dcvd") == _recompute(s, body)
    s.execute("INSERT INTO dc_ord VALUES (3, 6, 99), (4, 6, 99)")
    s.execute("DELETE FROM dc_ord WHERE okey = 3")  # dup copy survives
    assert _rows(s, "dcvd") == _recompute(s, body)
    _drop(s, "dcvd")


def test_delta_mv_ast_join_subquery_churn(spark):
    """join→Map/Filter subquery→aggregate: inner renames a key column
    and computes expressions; filters at both levels. Fresh through
    churn on both join sides against full recomputes."""
    s = _mk(spark)
    body = ("SELECT who, SUM(dbl) AS total FROM "
            "(SELECT cname AS who, price * 2 AS dbl, price "
            "FROM dc_ord JOIN dc_cust ON ckey = cust_key "
            "WHERE price > 20) WHERE dbl < 500 GROUP BY who")
    s.execute("INSERT INTO dc_cust VALUES (10, 'alice'), (11, 'bob')")
    s.execute("INSERT INTO dc_ord VALUES (1, 10, 100), (2, 11, 30), "
              "(3, 11, 10)")
    s.execute(f"CREATE MATERIALIZED VIEW dcvj WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcvj") == _recompute(s, body)
    s.execute("UPDATE dc_ord SET price = 300 WHERE okey = 1")  # dbl 600: out
    assert _rows(s, "dcvj") == _recompute(s, body)
    s.execute("DELETE FROM dc_cust WHERE cust_key = 11")  # bob vanishes
    assert _rows(s, "dcvj") == _recompute(s, body)
    s.execute("INSERT INTO dc_cust VALUES (11, 'bob')")
    s.execute("UPDATE dc_ord SET price = 25 WHERE okey = 3")  # enters
    assert _rows(s, "dcvj") == _recompute(s, body)
    _drop(s, "dcvj")


def test_delta_mv_global_topk_churn(spark):
    """Global ORDER BY ... LIMIT k (TopK with empty group key): exact
    against full recomputes through leader deletes (evicted rows
    return) and filter-crossing updates."""
    s = _mk(spark)
    body = ("SELECT okey, price FROM dc_ord WHERE price > 10 "
            "ORDER BY price DESC LIMIT 3")
    s.execute("INSERT INTO dc_ord VALUES (1, 0, 100), (2, 0, 90), "
              "(3, 0, 80), (4, 0, 70), (5, 0, 8)")
    s.execute(f"CREATE MATERIALIZED VIEW dcvg WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "dcvg") == _recompute(s, body)
    s.execute("DELETE FROM dc_ord WHERE okey = 1")   # 4 re-enters
    assert _rows(s, "dcvg") == _recompute(s, body)
    s.execute("UPDATE dc_ord SET price = 95 WHERE okey = 5")  # crosses in
    assert _rows(s, "dcvg") == _recompute(s, body)
    s.execute("UPDATE dc_ord SET price = 9 WHERE okey = 2")   # crosses out
    assert _rows(s, "dcvg") == _recompute(s, body)
    _drop(s, "dcvg")


def test_delta_mv_window_agg_churn(spark):
    """Frameless window aggregate (AGG(x) OVER (PARTITION BY k)) stays
    fresh through churn: the maintained reduce + touched-partition row
    refresh must equal a full recompute every step — including a
    partition drained to empty and a WHERE that excludes rows before
    the window (SQL evaluates WHERE first)."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(11)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE wac_t (k STRING, v BIGINT)")
    body = ("SELECT k, v, SUM(v) OVER (PARTITION BY k) AS tot, "
            "COUNT(*) OVER (PARTITION BY k) AS n "
            "FROM wac_t WHERE v < 50")
    s.execute("INSERT INTO wac_t VALUES ('a', 1), ('a', 2), ('b', 3)")
    s.execute(f"CREATE MATERIALIZED VIEW wac WITH (MAINTENANCE "
              f"'delta') AS {body}")
    live = [("a", 1), ("a", 2), ("b", 3)]
    for i in range(15):
        r = rng.random()
        if r < 0.5 or not live:
            k, v = rng.choice("abc"), rng.randrange(1, 60)
            live.append((k, v))
            s.execute(f"INSERT INTO wac_t VALUES ('{k}', {v})")
        elif r < 0.8:
            k, v = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM wac_t WHERE k = '{k}' AND v = {v}")
        else:
            k, v = live[rng.randrange(len(live))]
            nv = v + 5
            live = [(k, nv) if x == (k, v) else x for x in live]
            s.execute(f"UPDATE wac_t SET v = {nv} WHERE k = '{k}' "
                      f"AND v = {v}")
        assert _rows(s, "wac") == _recompute(s, body), \
            f"window agg diverged at step {i}"
    s.execute("DROP VIEW wac")
    s.execute("DROP TABLE wac_t")


def test_delta_mv_rank_and_dense_rank_topk_churn(spark):
    """TopK idiom with RANK / DENSE_RANK: ties share a rank, so the
    <= k filter keeps whole tie groups (RANK) or the rows of the k
    best distinct order values (DENSE_RANK) — the reference's TopK
    family covers all three ranking functions. Churn drives ties in
    and out of the cut line; every step must equal a recompute."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(31)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE rkt_t (g STRING, item BIGINT, "
              "score BIGINT)")
    rank_body = ("SELECT g, item, score FROM (SELECT g, item, score, "
                 "RANK() OVER (PARTITION BY g ORDER BY score DESC) "
                 "AS rnk FROM rkt_t) t WHERE rnk <= 2")
    dense_body = ("SELECT g, item, score FROM (SELECT g, item, score, "
                  "DENSE_RANK() OVER (PARTITION BY g ORDER BY score "
                  "DESC) AS rnk FROM rkt_t) t WHERE rnk <= 2")
    s.execute("INSERT INTO rkt_t VALUES ('a', 1, 10), ('a', 2, 10), "
              "('a', 3, 5), ('b', 4, 7)")
    s.execute(f"CREATE MATERIALIZED VIEW rkt_rank WITH (MAINTENANCE "
              f"'delta') AS {rank_body}")
    s.execute(f"CREATE MATERIALIZED VIEW rkt_dense WITH (MAINTENANCE "
              f"'delta') AS {dense_body}")
    nxt, live = [5], [(1, "a", 10), (2, "a", 10), (3, "a", 5),
                      (4, "b", 7)]
    for i in range(14):
        r = rng.random()
        if r < 0.55 or not live:
            it, g = nxt[0], rng.choice("ab")
            score = rng.randrange(1, 6) * 5  # tie-prone scores
            nxt[0] += 1
            live.append((it, g, score))
            s.execute(f"INSERT INTO rkt_t VALUES ('{g}', {it}, "
                      f"{score})")
        else:
            it, g, score = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM rkt_t WHERE item = {it}")
        assert _rows(s, "rkt_rank") == _recompute(s, rank_body), \
            f"RANK topk diverged at step {i}"
        assert _rows(s, "rkt_dense") == _recompute(s, dense_body), \
            f"DENSE_RANK topk diverged at step {i}"
    for v in ("rkt_rank", "rkt_dense"):
        s.execute(f"DROP VIEW {v}")
    s.execute("DROP TABLE rkt_t")


def test_delta_mv_global_agg_churn(spark):
    """Keyless aggregates (no GROUP BY) delta-maintained, including the
    one-row empty-input guarantee (COUNT = 0, the rest NULL) when the
    state drains, and MIN/MAX re-derivation under deletes."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(17)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE gac_t (k STRING, v BIGINT)")
    body = ("SELECT SUM(v) AS s, COUNT(*) AS n, MIN(v) AS lo, "
            "MAX(v) AS hi FROM gac_t WHERE v < 50")
    s.execute(f"CREATE MATERIALIZED VIEW gac WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert _rows(s, "gac") == _recompute(s, body)  # empty input: 1 row
    live = []
    for i in range(14):
        r = rng.random()
        if r < 0.55 or not live:
            k, v = rng.choice("ab"), rng.randrange(1, 60)
            live.append((k, v))
            s.execute(f"INSERT INTO gac_t VALUES ('{k}', {v})")
        else:
            k, v = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM gac_t WHERE k = '{k}' AND v = {v}")
        assert _rows(s, "gac") == _recompute(s, body), \
            f"global agg diverged at step {i}"
    # drain completely: back to the one empty-input row
    s.execute("DELETE FROM gac_t")
    assert _rows(s, "gac") == _recompute(s, body)
    s.execute("DROP VIEW gac")
    s.execute("DROP TABLE gac_t")


def test_delta_mv_expression_group_keys_churn(spark):
    """Expression GROUP BY keys (date_trunc buckets, concatenations,
    the GROUP BY-alias form) maintained through churn: the key
    expression computes per delta before the keyed reduce — the
    reference's pre-reduce Map (reduce.rs group_key MirScalarExprs)."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(41)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE egk_t (k STRING, d BIGINT, v BIGINT)")
    b1 = ("SELECT k || '_' || CAST(d AS STRING) AS bucket, "
          "SUM(v) AS tot, COUNT(*) AS n FROM egk_t "
          "GROUP BY k || '_' || CAST(d AS STRING)")
    b2 = ("SELECT upper(k) AS ku, MAX(v) AS hi FROM egk_t "
          "GROUP BY ku")
    s.execute("INSERT INTO egk_t VALUES ('a', 1, 10), ('a', 2, 20), "
              "('b', 1, 5)")
    s.execute(f"CREATE MATERIALIZED VIEW egk1 WITH (MAINTENANCE "
              f"'delta') AS {b1}")
    s.execute(f"CREATE MATERIALIZED VIEW egk2 WITH (MAINTENANCE "
              f"'delta') AS {b2}")
    live = [("a", 1, 10), ("a", 2, 20), ("b", 1, 5)]
    for i in range(12):
        r = rng.random()
        if r < 0.55 or not live:
            k, d, v = (rng.choice("ab"), rng.randrange(1, 4),
                       rng.randrange(1, 40))
            live.append((k, d, v))
            s.execute(f"INSERT INTO egk_t VALUES ('{k}', {d}, {v})")
        else:
            k, d, v = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM egk_t WHERE k = '{k}' AND "
                      f"d = {d} AND v = {v}")
        assert _rows(s, "egk1") == _recompute(s, b1), \
            f"expr-key agg diverged at step {i}"
        assert _rows(s, "egk2") == _recompute(s, b2), \
            f"alias-key agg diverged at step {i}"
    for v in ("egk1", "egk2"):
        s.execute(f"DROP VIEW {v}")
    s.execute("DROP TABLE egk_t")


def test_delta_mv_multi_window_sets_churn(spark):
    """One view with several frameless window sets — two different
    PARTITION BY keys plus the global OVER () total (the
    share-of-total idiom) — stays fresh through churn; each set keeps
    its own maintained reduce."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(53)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE mws_t (k STRING, g STRING, v BIGINT)")
    body = ("SELECT k, g, v, SUM(v) OVER (PARTITION BY k) AS sk, "
            "COUNT(*) OVER (PARTITION BY g) AS ng, "
            "SUM(v) OVER () AS total FROM mws_t WHERE v < 50")
    s.execute("INSERT INTO mws_t VALUES ('a', 'x', 1), ('b', 'y', 2)")
    s.execute(f"CREATE MATERIALIZED VIEW mws WITH (MAINTENANCE "
              f"'delta') AS {body}")
    live = [("a", "x", 1), ("b", "y", 2)]
    for i in range(12):
        r = rng.random()
        if r < 0.55 or not live:
            k, g, v = (rng.choice("ab"), rng.choice("xy"),
                       rng.randrange(1, 60))
            live.append((k, g, v))
            s.execute(f"INSERT INTO mws_t VALUES ('{k}', '{g}', {v})")
        else:
            k, g, v = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM mws_t WHERE k = '{k}' AND "
                      f"g = '{g}' AND v = {v}")
        assert _rows(s, "mws") == _recompute(s, body), \
            f"multi-window-set view diverged at step {i}"
    s.execute("DROP VIEW mws")
    s.execute("DROP TABLE mws_t")


def test_delta_mv_join_over_from_subquery_churn(spark, drop_forgets):
    """FROM (stateless subquery) JOIN t — desugared into a stacked
    plan (internal delta MV + join chain reading it); stays fresh
    through churn on both tables, and the internal view dies with its
    owner."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(61)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE jfs_ord (okey BIGINT, ckey BIGINT, "
              "price BIGINT)")
    s.execute("CREATE TABLE jfs_cust (ck2 BIGINT, cname STRING)")
    s.execute("INSERT INTO jfs_ord VALUES (1, 1, 10), (2, 2, 60)")
    s.execute("INSERT INTO jfs_cust VALUES (1, 'ann'), (2, 'bob')")
    body = ("SELECT cname, SUM(dbl) AS rev, COUNT(*) AS n FROM "
            "(SELECT ckey, price * 2 AS dbl FROM jfs_ord "
            "WHERE price < 50) JOIN jfs_cust ON ckey = ck2 "
            "GROUP BY cname")
    s.execute(f"CREATE MATERIALIZED VIEW jfs WITH (MAINTENANCE "
              f"'delta') AS {body}")
    assert "__jsub_jfs" in s._delta_mvs
    nxt = [3]
    live = [(1, 1, 10), (2, 2, 60)]
    for i in range(12):
        r = rng.random()
        if r < 0.55 or not live:
            ok, ck = nxt[0], rng.randrange(1, 3)
            price = rng.randrange(1, 80)
            nxt[0] += 1
            live.append((ok, ck, price))
            s.execute(f"INSERT INTO jfs_ord VALUES ({ok}, {ck}, "
                      f"{price})")
        else:
            ok, ck, price = live.pop(rng.randrange(len(live)))
            s.execute(f"DELETE FROM jfs_ord WHERE okey = {ok}")
        assert _rows(s, "jfs") == _recompute(s, body), \
            f"join-over-subquery diverged at step {i}"
    assert "__jsub_jfs" in drop_forgets(s, "jfs", ["jfs_ord", "jfs_cust"])
    for t in ("jfs_cust", "jfs_ord"):
        s.execute(f"DROP TABLE {t}")


def test_delta_mv_distinct_aggregates_churn(spark):
    """COUNT(DISTINCT)/SUM(DISTINCT) maintained from the shared
    (group, value) support — a delete that removes the LAST copy of a
    value must drop it from the distinct count while earlier copies
    keep it; drained groups disappear."""
    import random

    from materialize_spark.plans.sqlfront import MzSession
    rng = random.Random(71)
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE cda_t (k STRING, v BIGINT)")
    body = ("SELECT k, COUNT(DISTINCT v) AS nd, SUM(DISTINCT v) AS sd,"
            " SUM(v) AS tot FROM cda_t GROUP BY k")
    s.execute("INSERT INTO cda_t VALUES ('a', 1), ('a', 1), ('b', 2)")
    s.execute(f"CREATE MATERIALIZED VIEW cda WITH (MAINTENANCE "
              f"'delta') AS {body}")
    live = [("a", 1), ("a", 1), ("b", 2)]
    for i in range(14):
        r = rng.random()
        if r < 0.55 or not live:
            k, v = rng.choice("ab"), rng.randrange(1, 5)
            live.append((k, v))
            s.execute(f"INSERT INTO cda_t VALUES ('{k}', {v})")
        else:
            k, v = live[rng.randrange(len(live))]
            s.execute(f"UPDATE cda_t SET v = -{i + 1} WHERE k = '{k}' "
                      f"AND v = {v}")
            # UPDATE rewrites ALL copies of (k, v); mirror that
            live = [(k, -(i + 1)) if x == (k, v) else x for x in live]
        assert _rows(s, "cda") == _recompute(s, body), \
            f"distinct aggs diverged at step {i}"
    s.execute("DROP VIEW cda")
    s.execute("DROP TABLE cda_t")
