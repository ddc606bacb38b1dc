"""Grouped-TopK delta views that project their rank column.

``SELECT g, v, rn FROM (... ROW_NUMBER() OVER (PARTITION BY g ORDER BY v
DESC) AS rn ...) WHERE rn <= k`` plans as the TopK operator
(RetractionAwareTopK emits the rank under the projected name), over one
table and over a join chain, for ROW_NUMBER, RANK and DENSE_RANK. Every
commit is compared with the plain SELECT. ROW_NUMBER views project no
column that could tell tied rows apart, because SQL leaves the order of
ties unspecified."""

import pytest

from materialize_spark.plans.delta import JoinFront, SingleFront, Spine, TopK
from materialize_spark.plans.sqlfront import MzSession
from materialize_spark.streaming.retraction import RetractionAwareTopK
from materialize_spark.streaming.state_spill import SpilledPartsState
from tests.conftest import SF_DIR


def _key(t):
    return tuple((v is None, str(v)) for v in t)


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=_key)


def _inner(rank_fn, alias, src):
    part = "gname" if "JOIN" in src else "g"
    return (f"SELECT {part}, id, v, {rank_fn}() OVER (PARTITION BY {part} "
            f"ORDER BY v DESC) AS {alias} FROM {src}")


def _bodies(src):
    """One view per rank mode; the aliases differ in name and case, and
    the rank column sits at a different place in each SELECT list."""
    g = "gname" if "JOIN" in src else "g"
    return {
        "rk_rn": (f"SELECT {g}, v, rn FROM ("
                  f"{_inner('ROW_NUMBER', 'rn', src)}) t WHERE rn <= 2"),
        "rk_rank": (f"SELECT {g}, id, v, Place FROM ("
                    f"{_inner('RANK', 'place', src)}) t WHERE PLACE <= 2"),
        "rk_dense": (f"SELECT id, DR, v, {g} FROM ("
                     f"{_inner('DENSE_RANK', 'Dr', src)}) t WHERE dr <= 2"),
    }


def _topk_op(view):
    """The TopK operator maintaining a view: over one table or
    stacked over the join chain."""
    assert isinstance(view.terminal, TopK)
    assert isinstance(view.front, (SingleFront, JoinFront))
    return view.terminal.op


_SETUP = """
    CREATE TABLE rk_t (g BIGINT, id BIGINT, v BIGINT);
    CREATE TABLE rk_g (gk BIGINT, gname STRING);
    INSERT INTO rk_g VALUES (1, 'one'), (2, 'two'), (3, 'three');
    INSERT INTO rk_t VALUES (1, 10, 50), (1, 11, 50), (1, 12, 40),
                            (2, 20, 5);
"""

_COMMITS = [
    # a new #1 in group 1, a three-way tie in group 2
    "INSERT INTO rk_t VALUES (1, 13, 60), (2, 21, 5), (2, 22, 5)",
    # 40 -> 50: a third row ties at 50
    "UPDATE rk_t SET v = v + 10 WHERE id = 12",
    # evicts the current #1 of group 1
    "DELETE FROM rk_t WHERE id = 13",
    # a new group, and an exact duplicate row
    "INSERT INTO rk_t VALUES (3, 30, 1), (1, 14, 50), (1, 14, 50)",
    "UPDATE rk_t SET v = 1 WHERE id = 21",
    # evicts four of the tied #1s of group 1; the duplicate remains
    "DELETE FROM rk_t WHERE v = 50 AND id <> 14",
    # group 1 empties
    "DELETE FROM rk_t WHERE id = 14",
    # a whole group leaves
    "DELETE FROM rk_t WHERE g = 3",
]

_JOIN_COMMITS = [
    "INSERT INTO rk_g VALUES (4, 'four')",
    "INSERT INTO rk_t VALUES (4, 40, 9), (4, 41, 9), (4, 42, 3)",
    # the dimension side drops a whole group
    "DELETE FROM rk_g WHERE gk = 2",
]


@pytest.mark.parametrize("src", ["rk_t", "rk_t JOIN rk_g ON g = gk"],
                         ids=["table", "join"])
def test_rank_projecting_topk_tracks_select(spark, src):
    s = MzSession(spark, SF_DIR)
    s.run_script(_SETUP)
    bodies = _bodies(src)
    for name, body in bodies.items():
        s.execute(f"CREATE MATERIALIZED VIEW {name} WITH "
                  f"(MAINTENANCE 'delta') AS {body}")
    try:
        for name in bodies:
            view = s._delta_mvs[name]
            assert not isinstance(view.terminal, Spine), name
            assert isinstance(_topk_op(view), RetractionAwareTopK), name
            if "JOIN" not in src:
                assert isinstance(view.front, SingleFront), name
            else:
                assert isinstance(view.front, JoinFront) \
                    and not view.front.stages, name
        commits = _COMMITS + (_JOIN_COMMITS if "JOIN" in src else [])
        for i, commit in enumerate(["-- formed"] + commits):
            if i:
                s.execute(commit)
            for name, body in bodies.items():
                got = s.sql(f"SELECT * FROM {name}")
                want = s.spark.sql(body)
                assert got.columns == want.columns, name
                assert _sorted(got) == _sorted(want), \
                    f"{name} after {commit}"
    finally:
        s.run_script("".join(f"DROP MATERIALIZED VIEW {n};" for n in bodies)
                     + "DROP TABLE rk_t; DROP TABLE rk_g;")


def test_formed_over_filled_table_equals_filled_after(spark, monkeypatch):
    """A TopK view created over a filled table (the formation fast
    path: no probe of the spine) equals the same view created over an
    empty table and then filled, in every rank mode."""
    probes = []
    probe = SpilledPartsState.probe_frame
    monkeypatch.setattr(SpilledPartsState, "probe_frame",
                        lambda st, t: probes.append(1) or probe(st, t))
    s = MzSession(spark, SF_DIR)
    s.run_script("""
        CREATE TABLE rf_full (g BIGINT, id BIGINT, v BIGINT);
        CREATE TABLE rf_late (g BIGINT, id BIGINT, v BIGINT);
    """)
    rows = ("(1, 1, 9), (1, 2, 9), (1, 3, 7), (1, 4, 5), (2, 5, 3), "
            "(2, 6, 3), (2, 6, 3), (3, 7, 1)")
    s.execute(f"INSERT INTO rf_full VALUES {rows}")
    body = ("SELECT g, v, r FROM (SELECT g, id, v, {fn}() OVER "
            "(PARTITION BY g ORDER BY v DESC) AS r FROM {t}) x "
            "WHERE r <= 2")
    names = []
    try:
        for fn in ("ROW_NUMBER", "RANK", "DENSE_RANK"):
            for t in ("rf_full", "rf_late"):
                names.append(f"{t}_{fn.lower()}")
                del probes[:]
                s.execute(f"CREATE MATERIALIZED VIEW {names[-1]} WITH "
                          f"(MAINTENANCE 'delta') AS "
                          f"{body.format(fn=fn, t=t)}")
                assert not probes, f"{names[-1]} probed its spine to form"
        s.execute(f"INSERT INTO rf_late VALUES {rows}")
        for fn in ("row_number", "rank", "dense_rank"):
            full, late = (_sorted(s.sql(f"SELECT * FROM {t}_{fn}"))
                          for t in ("rf_full", "rf_late"))
            assert full == late, fn
            assert full == _sorted(s.spark.sql(body.format(
                fn=fn, t="rf_full"))), fn
    finally:
        s.run_script("".join(f"DROP MATERIALIZED VIEW {n};" for n in names)
                     + "DROP TABLE rf_full; DROP TABLE rf_late;")
