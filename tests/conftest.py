import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from materialize_spark.catalog import load_tables
    from materialize_spark.session import get_spark
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    # start every test file, alone or in the suite, under the fixture
    # data's policy (the engine applies it at each load and statement)
    load_tables(s, SF_DIR)
    yield s


@pytest.fixture
def spine(monkeypatch):
    """Set the parts-spine constants for one test:
    ``spine(fold_every=2, spill_rows=1)`` folds on every 2nd part and
    spills every fold of more than one row."""
    from materialize_spark.streaming import state_spill

    def set_(fold_every=None, spill_rows=None):
        if fold_every is not None:
            monkeypatch.setattr(state_spill, "FOLD_EVERY", fold_every)
        if spill_rows is not None:
            monkeypatch.setattr(state_spill, "SPILL_ROWS", spill_rows)
    return set_


def held(s, name):
    """Every place the session ``s`` still holds the object ``name``:
    its per-object stores, plus the catalog when it is a view there."""
    return ([st for st in s._object_stores if name in st]
            + [name] * (name in s.catalog._views))


@pytest.fixture
def drop_forgets(monkeypatch):
    """``drop_forgets(s, views, tables)`` drops the delta views
    ``views`` (a name or a list) and asserts they are wholly gone: no
    catalog view and no per-object session store holds one of them or
    an internal view they owned, and an empty commit to each of
    ``tables`` (their base tables) feeds no delta view and re-creates
    none of those names. Returns the forgotten names."""
    def check(s, views, tables):
        names = []
        for view in [views] if isinstance(views, str) else views:
            names += [view, *s._delta_mvs[view].internal_deps]
            s.execute(f"DROP MATERIALIZED VIEW {view}")
        fed = []

        def spy(rel, _orig=s._dependents):
            # the one commit fan-out: the views a commit feeds
            deps = _orig(rel)
            fed.extend(deps)
            return deps
        monkeypatch.setattr(s, "_dependents", spy)
        for t in tables:
            s.execute(f"INSERT INTO {t} SELECT * FROM {t} WHERE false")
        assert fed == []
        for n in names:
            assert held(s, n) == [], n
        return names
    return check
