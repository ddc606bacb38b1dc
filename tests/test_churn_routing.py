"""Routing guard for the ``mv_churn`` benchmark views.

``perfbench/churn.py`` times three delta views. A planner change that
silently routes one of them to a slower plan (a stacked subquery feeding
a projection spine, say) would show only as a slower benchmark; here it
fails instead. The view texts are imported read-only and run over small
tables of the same columns."""

import re

from perfbench.churn import VIEWS

from materialize_spark.plans.delta import SingleFront, Spine, TopK
from materialize_spark.plans.sqlfront import MzSession
from tests.conftest import SF_DIR


def _local(body):
    """The view text over private tables: the session's data directory
    already holds ``orders`` and ``lineitem``."""
    return re.sub(r"\b(orders|lineitem)\b", r"rt_\1", body)


def _norm(df):
    return sorted(tuple(round(x, 6) if isinstance(x, float) else x
                        for x in r) for r in df.collect())


def test_churn_views_plan_to_keyed_operators(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE rt_orders (o_orderkey BIGINT, o_orderpriority STRING);
        CREATE TABLE rt_lineitem (l_orderkey BIGINT, l_suppkey BIGINT,
                                  l_quantity DOUBLE, l_extendedprice DOUBLE,
                                  l_discount DOUBLE);
        INSERT INTO rt_orders VALUES (1, '1-URGENT'), (2, '2-HIGH');
        INSERT INTO rt_lineitem VALUES (1, 10, 150, 100, 0.1),
            (1, 11, 60, 50, 0.0), (2, 10, 5, 70, 0.05), (2, 10, 9, 90, 0.0);
    """)
    for name, body in VIEWS.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} WITH "
                  f"(MAINTENANCE 'delta') AS {_local(body)}")
    published = {}

    def spy(name, view):
        orig = view.feed

        def feed(rel, delta):
            change = orig(rel, delta)
            published[name] = change is not None \
                and change.touched is not None and bool(change.keys)
            return change
        view.feed = feed
    try:
        top3 = s._delta_mvs["v_top3_price"]
        assert isinstance(top3.front, SingleFront) \
            and isinstance(top3.terminal, TopK)
        for name in VIEWS:
            spy(name, s._delta_mvs[name])
        for commit in (
                "INSERT INTO rt_lineitem VALUES (2, 11, 70, 80, 0.0)",
                "UPDATE rt_lineitem SET l_extendedprice = l_extendedprice "
                "+ 1 WHERE l_orderkey = 1",
                "DELETE FROM rt_lineitem WHERE l_extendedprice = 90"):
            published.clear()
            s.execute(commit)
            # every view publishes a diff confined to its touched keys
            assert published == {n: True for n in VIEWS}, commit
            for name, body in VIEWS.items():
                assert not isinstance(s._delta_mvs[name].terminal, Spine), \
                    name
                assert _norm(s.sql(f"SELECT * FROM {name}")) == \
                    _norm(s.spark.sql(_local(body))), f"{name} after {commit}"
    finally:
        s.run_script("".join(f"DROP MATERIALIZED VIEW {n};" for n in VIEWS)
                     + "DROP TABLE rt_lineitem; DROP TABLE rt_orders;")
