"""``JOIN ... USING (k)`` in delta-view bodies: INNER and LEFT joins
parse as the equi pairs (k, k) with one ``k`` in the chain, and each
view equals its body run as a plain SELECT after every write. RIGHT and
FULL joins (whose USING column is COALESCE(left.k, right.k)) are
refused by name."""

import pytest

from materialize_spark.plans.sqlfront import MzSession

SF_DIR = "/root/testdata/sf0.001"

BODIES = {
    "ju_agg": ("SELECT w, sum(v) AS s, count(*) AS n "
               "FROM ju_a JOIN ju_b USING (k) GROUP BY w"),
    "ju_left": "SELECT k, v, w FROM ju_a LEFT JOIN ju_b USING (k)",
    "ju_top": ("SELECT k, v, w FROM (SELECT k, v, w, ROW_NUMBER() OVER ("
               "PARTITION BY w ORDER BY v DESC) AS rn "
               "FROM ju_a JOIN ju_b USING (k)) t WHERE rn <= 1"),
}


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=_key)


def test_using_views_match_their_bodies(spark):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE ju_a (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE ju_b (k BIGINT, w STRING)")
    s.execute("INSERT INTO ju_a VALUES (1, 10), (2, 20), (3, 30)")
    s.execute("INSERT INTO ju_b VALUES (1, 'x'), (2, 'y')")
    for name, body in BODIES.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")

    def check(step):
        for name, body in BODIES.items():
            assert _rows(s.sql(f"SELECT * FROM {name}")) \
                == _rows(spark.sql(body)), (step, name)

    check("create")
    for stmt in ("INSERT INTO ju_a VALUES (4, 40), (1, 15)",
                 "INSERT INTO ju_b VALUES (3, 'x'), (5, 'z')",
                 "UPDATE ju_a SET v = v + 100 WHERE k = 2",
                 "UPDATE ju_b SET w = 'y' WHERE k = 3",
                 "DELETE FROM ju_a WHERE k = 1",
                 "DELETE FROM ju_b WHERE k = 2"):
        s.execute(stmt)
        check(stmt)
    for name in BODIES:
        s.execute(f"DROP MATERIALIZED VIEW {name}")
    s.execute("DROP TABLE ju_a")
    s.execute("DROP TABLE ju_b")


@pytest.mark.parametrize("kind", ["RIGHT", "FULL"])
def test_using_outer_join_refused_by_name(spark, kind):
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE ju_c (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE ju_d (k BIGINT, w STRING)")
    with pytest.raises(Exception, match="USING"):
        s.execute("CREATE MATERIALIZED VIEW ju_bad WITH (MAINTENANCE "
                  f"'delta') AS SELECT k, v, w FROM ju_c {kind} JOIN ju_d "
                  "USING (k)")
    s.execute("DROP TABLE ju_c")
    s.execute("DROP TABLE ju_d")


@pytest.mark.parametrize("col, join", [("ju_e.k", "ON ju_e.k = ju_f.k"),
                                       ("k", "USING (k)")])
def test_join_topk_dropping_order_column(spark, col, join):
    """A join-chain top-k view whose outer SELECT drops the ORDER BY
    column ``v`` equals its body after every write."""
    body = (f"SELECT k, w FROM (SELECT {col}, v, w, ROW_NUMBER() OVER ("
            f"PARTITION BY w ORDER BY v DESC) AS rn FROM ju_e JOIN ju_f "
            f"{join}) t WHERE rn <= 1")
    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE ju_e (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE ju_f (k BIGINT, w STRING)")
    s.execute("INSERT INTO ju_e VALUES (1, 10), (2, 20), (3, 30)")
    s.execute("INSERT INTO ju_f VALUES (1, 'x'), (2, 'x'), (3, 'y')")
    s.execute(f"CREATE MATERIALIZED VIEW ju_topv WITH (MAINTENANCE "
              f"'delta') AS {body}")
    for stmt in ("INSERT INTO ju_e VALUES (4, 40)",
                 "INSERT INTO ju_f VALUES (4, 'x')",
                 "UPDATE ju_e SET v = 5 WHERE k = 4",
                 "DELETE FROM ju_e WHERE k = 2",
                 "DELETE FROM ju_f WHERE k = 3"):
        s.execute(stmt)
        assert _rows(s.sql("SELECT * FROM ju_topv")) \
            == _rows(spark.sql(body)), stmt
    s.execute("DROP MATERIALIZED VIEW ju_topv")
    s.execute("DROP TABLE ju_e")
    s.execute("DROP TABLE ju_f")
