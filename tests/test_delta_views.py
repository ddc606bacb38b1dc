"""Typed delta views: every maintained shape is one DeltaView (an input
front plus one shared terminal), EXPLAIN MAINTENANCE renders each shape
unchanged, and a keyless aggregate reads its one-row answer after its
input drains, over one table and over a join."""

import re
from pathlib import Path

import pytest

from materialize_spark.plans.sqlfront import MzSession
from tests.conftest import SF_DIR

SETUP = """
    CREATE TABLE xp_t (k BIGINT, v BIGINT, o BIGINT, vu TIMESTAMP);
    CREATE TABLE xp_u (k BIGINT, w BIGINT);
    CREATE TABLE xp_d (dk BIGINT, w BIGINT);
    INSERT INTO xp_t VALUES (1, 10, 1, NULL), (1, 5, 2, NULL),
                            (2, 7, 1, NULL);
    INSERT INTO xp_u VALUES (1, 3), (3, 4);
    INSERT INTO xp_d VALUES (1, 3), (1, 6);
"""

# one view per maintained shape, in creation order
SHAPES = {
    "xp_agg": "SELECT k, sum(v) AS s, min(v) AS lo FROM xp_t WHERE v > 0 "
              "GROUP BY k HAVING min(v) > 1",
    "xp_layers": "SELECT k, count(*) AS n FROM (SELECT k, v * 2 AS v2 "
                 "FROM xp_t WHERE v > 0) AS s GROUP BY k",
    "xp_gagg": "SELECT count(*) AS n, sum(v) AS s FROM xp_t",
    "xp_thr": "SELECT k, sum(v) AS s FROM xp_t GROUP BY k "
              "HAVING sum(v) > 5",
    "xp_dist": "SELECT DISTINCT k FROM xp_t WHERE v > 0",
    "xp_topk": "SELECT k, v FROM (SELECT k, v, ROW_NUMBER() OVER "
               "(PARTITION BY k ORDER BY v DESC) AS rn FROM xp_t) "
               "WHERE rn <= 1",
    "xp_gtopk": "SELECT k, v FROM xp_t WHERE v > 0 ORDER BY v DESC "
                "LIMIT 2",
    "xp_union": "SELECT k, v FROM xp_t WHERE v > 0 UNION ALL "
                "SELECT k, w AS v FROM xp_u",
    "xp_uagg": "SELECT k, sum(v) AS s FROM (SELECT k, v FROM xp_t "
               "UNION ALL SELECT k, w AS v FROM xp_u) AS un GROUP BY k "
               "HAVING sum(v) > 1",
    "xp_udist": "SELECT k FROM xp_t UNION SELECT k FROM xp_u",
    "xp_uadist": "SELECT DISTINCT k FROM (SELECT k FROM xp_t "
                 "UNION ALL SELECT k FROM xp_u) AS un",
    "xp_setop": "SELECT k FROM xp_t EXCEPT SELECT k FROM xp_u",
    "xp_join": "SELECT xp_t.k, v, w FROM xp_t JOIN xp_u "
               "ON xp_t.k = xp_u.k WHERE v > 0",
    "xp_jagg": "SELECT xp_t.k, sum(w) AS s FROM xp_t JOIN xp_u "
               "ON xp_t.k = xp_u.k GROUP BY xp_t.k",
    "xp_jwagg": "SELECT xp_t.k, sum(w) AS s FROM xp_t JOIN xp_u "
                "ON xp_t.k = xp_u.k WHERE v > 0 GROUP BY xp_t.k "
                "HAVING sum(w) > 1",
    "xp_jgagg": "SELECT count(*) AS n FROM xp_t JOIN xp_u "
                "ON xp_t.k = xp_u.k",
    "xp_jdist": "SELECT DISTINCT v FROM xp_t JOIN xp_u "
                "ON xp_t.k = xp_u.k",
    "xp_jtopk": "SELECT k, w FROM (SELECT k, w, ROW_NUMBER() OVER "
                "(PARTITION BY k ORDER BY w DESC) AS rn FROM xp_t "
                "JOIN xp_d ON k = dk) WHERE rn <= 1",
    "xp_semi": "SELECT k, v FROM xp_t WHERE EXISTS (SELECT 1 FROM xp_u "
               "WHERE xp_u.k = xp_t.k) AND v > 0",
    "xp_semiagg": "SELECT k, count(*) AS n FROM xp_t "
                  "WHERE k IN (SELECT k FROM xp_u) GROUP BY k",
    "xp_semigagg": "SELECT count(*) AS n FROM xp_t "
                   "WHERE k IN (SELECT k FROM xp_u)",
    "xp_winagg": "SELECT k, v, SUM(v) OVER (PARTITION BY k) AS sk "
                 "FROM xp_t",
    "xp_winorder": "SELECT k, o, SUM(v) OVER (PARTITION BY k ORDER BY o) "
                   "AS run FROM xp_t",
    "xp_tmp": "SELECT k FROM xp_t WHERE mz_now() < vu",
    "xp_tmpagg": "SELECT k, count(*) AS n FROM xp_t "
                 "WHERE mz_now() < vu GROUP BY k",
    "xp_stacked": "SELECT n, count(*) AS c FROM (SELECT k, count(*) AS n "
                  "FROM xp_t GROUP BY k) AS per GROUP BY n",
    "xp_wmr": "WITH MUTUALLY RECURSIVE r (k int8) AS (SELECT k FROM xp_t "
              "UNION SELECT k + 1 AS k FROM r WHERE k < 2) SELECT k FROM r",
}
# EXPLAIN MAINTENANCE FOR each view, pinned line by line
EXPECTED = {
    'xp_agg': [
        "Reduce keys=['k'] aggs={'s': 'accumulable', 'lo': 'hierarchical'} having=[lo > 1]",
        '  Filter [v > 0]',
        '  Scan xp_t',
    ],
    'xp_layers': [
        "Reduce keys=['k'] aggs={'n': 'accumulable'}",
        '  MapFilterProject (subquery layer) [filter: v > 0]',
        '  Scan xp_t',
    ],
    'xp_gagg': [
        "Reduce keys=[] (global, one-row guarantee) aggs={'n': 'accumulable', 's': 'accumulable'}",
        '  Scan xp_t',
    ],
    'xp_thr': [
        "ThresholdSemijoinMV keys=['k']",
        '  Scan xp_t',
    ],
    'xp_dist': [
        "Distinct cols=['k'] (net-multiplicity state)",
        '  Filter [v > 0]',
        '  Scan xp_t',
    ],
    'xp_topk': [
        "TopK mode=row_number keys=['k'] order=v limit=1 (compacted support survives deletes)",
        '  Scan xp_t',
    ],
    'xp_gtopk': [
        "TopK mode=row_number keys=['__g'] order=v limit=2 (compacted support survives deletes)",
        '  Filter [v > 0]',
        '  Scan xp_t',
    ],
    'xp_union': [
        'Union (diff-sum, linear)',
        '  MapFilterProject [filter: coalesce((v > 0), false)]',
        '    Scan xp_t',
        '  MapFilterProject',
        '    Scan xp_u',
    ],
    'xp_uagg': [
        "Reduce keys=['k'] aggs=['s'] having=[s > 1]",
        'Union (diff-sum, linear)',
        '  MapFilterProject',
        '    Scan xp_t',
        '  MapFilterProject',
        '    Scan xp_u',
    ],
    'xp_udist': [
        "Distinct cols=['k']",
        'Union (diff-sum, linear)',
        '  MapFilterProject',
        '    Scan xp_t',
        '  MapFilterProject',
        '    Scan xp_u',
    ],
    'xp_uadist': [
        "Distinct cols=['k']",
        'Union (diff-sum, linear)',
        '  MapFilterProject',
        '    Scan xp_t',
        '  MapFilterProject',
        '    Scan xp_u',
    ],
    'xp_setop': [
        'Threshold[Except] sides=2 (per-side multiplicity state)',
        '  MapFilterProject',
        '    Scan xp_t',
        '  MapFilterProject',
        '    Scan xp_u',
    ],
    'xp_join': [
        'Filter [v > 0]',
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_u on=[('k', 'k')]",
    ],
    'xp_jagg': [
        "Reduce keys=['k'] aggs=['s']",
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_u on=[('k', 'k')]",
    ],
    'xp_jwagg': [
        "Reduce keys=['k'] aggs=['s'] having=[s > 1]",
        'Filter [v > 0]',
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_u on=[('k', 'k')]",
    ],
    'xp_jgagg': [
        "Reduce keys=['__g'] aggs=['n']",
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_u on=[('k', 'k')]",
    ],
    'xp_jdist': [
        'Distinct',
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_u on=[('k', 'k')]",
    ],
    'xp_jtopk': [
        "TopK mode=row_number keys=['k'] order=w limit=1",
        'DeltaJoin (bilinear: dA*B + A*dB + dA*dB, spill-tiered state)',
        '  Scan xp_t',
        "  INNER JOIN Scan xp_d on=[('k', 'dk')]",
    ],
    'xp_semi': [
        "SemiJoin[EXISTS] keys=['k'] (support counts, flip retractions)",
        '  Scan xp_u (inner)',
        'Filter [(v > 0)]',
        'Scan xp_t',
    ],
    'xp_semiagg': [
        "Reduce keys=['k'] aggs=['n']",
        'SemiJoin[IN] keys=[] (support counts, flip retractions)',
        '  Scan xp_u (inner)',
        'Scan xp_t',
    ],
    'xp_semigagg': [
        "Reduce keys=['__g'] aggs=['n']",
        'SemiJoin[IN] keys=[] (support counts, flip retractions)',
        '  Scan xp_u (inner)',
        'Scan xp_t',
    ],
    'xp_winagg': [
        "WindowAggregate partition=['k'] aggs=['sk'] (Reduce + touched-partition row refresh)",
        '  Scan xp_t',
    ],
    'xp_winorder': [
        "WindowOrdered partition=['k'] exprs=['k', 'o', 'run'] (touched-partition recompute via native windows)",
        '  Scan xp_t',
    ],
    'xp_tmp': [
        "TemporalFilter bounds=[('<', 'vu')] (rows appear/retract as tick_time passes the bounds)",
        '  Scan xp_t',
    ],
    'xp_tmpagg': [
        "TemporalFilter bounds=[('<', 'vu')] (rows appear/retract as tick_time passes the bounds)",
        '  Scan xp_t',
    ],
    'xp_stacked': [
        "Reduce keys=['n'] aggs={'c': 'accumulable'}",
        '  Subplan __jsub_xp_stacked (planner-internal)',
        "    Reduce keys=['k'] aggs={'n': 'accumulable'}",
        '      Scan xp_t',
    ],
    'xp_wmr': [
        "LetRec bindings=['r'] [warm-start fixpoint (monotone, insert-only)]",
        '  Scan xp_t',
    ],
}


@pytest.fixture(scope="module")
def sess(spark):
    s = MzSession(spark, SF_DIR)
    s.run_script(SETUP)
    for name, body in SHAPES.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} "
                  f"WITH (MAINTENANCE 'delta') AS {body}")
    return s


def test_explain_maintenance_of_every_shape(sess):
    for name in SHAPES:
        plan = [r.plan for r in sess.sql(
            f"EXPLAIN MAINTENANCE FOR MATERIALIZED VIEW {name}")
            .orderBy("seq").collect()]
        assert plan == EXPECTED[name], name


def test_every_maintained_view_is_a_delta_view(sess):
    from materialize_spark.plans.delta import DeltaView
    assert set(SHAPES) <= set(sess._delta_mvs)
    for name, view in sess._delta_mvs.items():
        assert isinstance(view, DeltaView), name


def _rows(s, sql):
    return sorted((tuple(r) for r in s.sql(sql).collect()),
                  key=lambda t: tuple((v is None, str(v)) for v in t))


def test_keyless_aggregates_after_input_drains(sess):
    """COUNT reads 0 (and SUM NULL) once the input is empty, as the
    body does, over one table and over a join."""
    sess.run_script("""
        CREATE TABLE kd_t (k BIGINT, v BIGINT);
        CREATE TABLE kd_u (k BIGINT);
        INSERT INTO kd_t VALUES (1, 10), (1, 10), (2, 5);
        INSERT INTO kd_u VALUES (1), (2);
    """)
    bodies = {
        "kd_one": "SELECT count(DISTINCT v) AS c, count(*) AS n, "
                  "sum(v) AS s FROM kd_t",
        "kd_join": "SELECT count(*) AS n, sum(v) AS s FROM kd_t "
                   "JOIN kd_u ON kd_t.k = kd_u.k",
    }
    for name, body in bodies.items():
        sess.execute(f"CREATE MATERIALIZED VIEW {name} "
                     f"WITH (MAINTENANCE 'delta') AS {body}")
    sess.execute("DELETE FROM kd_t")
    for name, body in bodies.items():
        assert _rows(sess, f"SELECT * FROM {name}") \
            == _rows(sess, body), name
    sess.execute("INSERT INTO kd_t VALUES (2, 5)")
    for name, body in bodies.items():
        assert _rows(sess, f"SELECT * FROM {name}") \
            == _rows(sess, body), name


def test_semijoin_projection_renames_columns(sess):
    """A semijoin projection may alias its plain columns, as a join
    projection may: the published rows carry the SELECT-list names."""
    body = ("SELECT k AS kk, v FROM sa_t WHERE EXISTS "
            "(SELECT 1 FROM sa_u WHERE sa_u.k = sa_t.k)")
    sess.run_script(f"""
        CREATE TABLE sa_t (k BIGINT, v BIGINT);
        CREATE TABLE sa_u (k BIGINT);
        INSERT INTO sa_t VALUES (1, 10), (2, 20);
        INSERT INTO sa_u VALUES (1);
        CREATE MATERIALIZED VIEW sa_v WITH (MAINTENANCE 'delta') AS {body};
    """)
    assert sess.sql("SELECT * FROM sa_v").columns == ["kk", "v"]
    for sql in ("INSERT INTO sa_u VALUES (2)", "DELETE FROM sa_u WHERE k = 1",
                "INSERT INTO sa_t VALUES (2, 5)"):
        sess.execute(sql)
        assert _rows(sess, "SELECT * FROM sa_v") == _rows(sess, body), sql


_SQLFRONT = (Path(__file__).resolve().parents[1] / "materialize_spark"
             / "plans" / "sqlfront.py")


def _dict_reads_of_views(tree):
    """(line, text) of every subscript or ``.get`` read on a
    ``_delta_mvs`` value: directly, or through a name bound to one in
    the same function."""
    import ast

    def is_views(node):
        return isinstance(node, ast.Attribute) and node.attr == "_delta_mvs"

    def is_value(node, bound):
        if isinstance(node, ast.BoolOp):  # (views.get(n) or {})
            return any(is_value(v, bound) for v in node.values)
        if isinstance(node, ast.Name):
            return node.id in bound
        if isinstance(node, ast.Subscript):
            return is_views(node.value)
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get" and is_views(node.func.value))

    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.Lambda)):
            continue
        bound = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and is_value(node.value,
                                                         bound):
                bound |= {t.id for t in node.targets
                          if isinstance(t, ast.Name)}
            if isinstance(node, (ast.For, ast.comprehension)) \
                    and isinstance(node.iter, ast.Call) \
                    and isinstance(node.iter.func, ast.Attribute) \
                    and node.iter.func.attr in ("items", "values") \
                    and is_views(node.iter.func.value):
                names = [n.id for n in ast.walk(node.target)
                         if isinstance(n, ast.Name)]
                bound.add(names[-1])
        for node in ast.walk(fn):
            target = None
            if isinstance(node, ast.Subscript):
                target = node.value
            elif isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "get":
                target = node.func.value
            if target is not None and is_value(target, bound):
                hits.append((node.lineno, ast.unparse(node)))
    return hits


def test_sqlfront_holds_no_delta_view_dict():
    """Structural guard (text only): the session reads delta views
    through their type, never as a dict keyed by strings — no "kind"
    key and no subscript or .get on a _delta_mvs value."""
    import ast

    text = _SQLFRONT.read_text()
    assert not re.findall(r"[\"']kind[\"']", text)
    assert _dict_reads_of_views(ast.parse(text)) == []
