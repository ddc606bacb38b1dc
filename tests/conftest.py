import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from materialize_spark.session import get_spark
    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
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
