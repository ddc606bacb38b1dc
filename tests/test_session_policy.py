"""Session configuration has one owner: each engine session applies its
own data-sized policy and timezone at statement start
(``catalog.apply_policy``), so one session's data or ``SET`` never
changes another's answers (reference: SessionVars over SystemVars,
src/sql/src/session/vars.rs)."""

import ast
import pathlib
import re

import pytest

from materialize_spark import catalog
from materialize_spark.plans.sqlfront import MzSession

from tests.conftest import SF_DIR

SF_DIR_BIG = "/root/testdata/sf0.01"
PKG = pathlib.Path(catalog.__file__).parent

# 12:00 UTC read back in the session timezone
_HOUR = "SELECT hour(TIMESTAMP '2024-01-01 12:00:00 UTC') AS h"


def _hour(sess):
    return sess.sql(_HOUR).first()[0]


def test_set_timezone_stays_in_its_session(spark):
    a, b = MzSession(spark, SF_DIR), MzSession(spark, SF_DIR)
    try:
        a.execute("SET timezone = 'America/New_York'")
        assert (_hour(a), _hour(b)) == (7, 12)
        assert (_hour(b), _hour(a)) == (12, 7)
        assert b.sql("SHOW timezone").first()[0] == "UTC"
        # an unresolvable zone is refused before the session value moves
        for bad in ("SET timezone = 'Not/AZone'",
                    "ALTER SYSTEM SET timezone = 'Not/AZone'",
                    "ALTER ROLE materialize SET timezone = 'Not/AZone'"):
            with pytest.raises(ValueError, match="TimeZone"):
                a.execute(bad)
        assert a.sql("SHOW timezone").first()[0] == "America/New_York"
        a.execute("RESET timezone")
        assert (_hour(a), _hour(b)) == (12, 12)
    finally:
        b.execute("SELECT 1")  # leave the SparkSession on UTC


def _seen(spark):
    """The policy a statement ran under: AQE, the planner rules and the
    light-maintenance flag."""
    return (spark.conf.get("spark.sql.adaptive.enabled"),
            {spark.conf.get(k) for k in catalog._PLANNER_SCALE_CONFS},
            catalog.light_maintenance_plans(spark))


def test_each_statement_runs_under_its_sessions_policy(spark, monkeypatch):
    """Two directories on either side of the data gate, interleaved, and
    again after a second get_spark (the reload that used to leave AQE on
    beside planner rules that stayed off)."""
    from materialize_spark.session import get_spark
    small_bytes = sum(catalog._footer_stats(f"{SF_DIR}/{t}.parquet")[1]
                      for t in catalog.TABLES)
    big_bytes = sum(catalog._footer_stats(f"{SF_DIR_BIG}/{t}.parquet")[1]
                    for t in catalog.TABLES)
    assert small_bytes < 1 << 20 < big_bytes
    monkeypatch.setattr(catalog, "SMALL_DATA_BYTES", 1 << 20)
    saved = catalog.clear_table_cache(spark)  # policies under the new gate
    try:
        small, big = MzSession(spark, SF_DIR), MzSession(spark, SF_DIR_BIG)
        want = {small: ("false", {"false"}, True),
                big: ("true", {"true"}, False)}
        for sess in (small, big, small, big):
            sess.execute("SELECT 1")
            assert _seen(spark) == want[sess]
        get_spark("tests")
        for sess in (small, big, small):
            sess.execute("SELECT 1")
            assert _seen(spark) == want[sess]
    finally:
        catalog.restore_table_cache(spark, saved)
        catalog.load_tables(spark, SF_DIR).register_all()


# -- structural guards (text only, no Spark) ----------------------------------

_KNOBS = {"CPUS", "SF_DIR", "DRIVER_JAVA_OPTS"}

# the confs apply_policy owns
_POLICY_KEYS = (
    "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
    "spark.sql.constraintPropagation.enabled",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.session.timeZone",
)


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def _owned_nodes(tree):
    """Every node with its owner: the innermost function, or the target
    of the module-level assignment it sits in."""
    def walk(node, owner):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        elif isinstance(node, ast.Assign) and owner is None:
            owner = ast.unparse(node.targets[0])
        yield node, owner
        for child in ast.iter_child_nodes(node):
            yield from walk(child, owner)
    return walk(tree, None)


def test_three_env_knobs():
    read, named = set(), set()
    for _rel, text in _sources():
        read |= set(re.findall(
            r"os\.(?:environ\.get\(|environ\[|getenv\()\s*"
            r"[\"']SPARK_GRAFT_(\w+)", text))
        named |= set(re.findall(r"SPARK_GRAFT_(\w+)", text))
    assert read == _KNOBS
    assert named == _KNOBS


def test_policy_confs_have_one_writer():
    """Policy-owned keys are spelled only in apply_policy's table, and the
    only conf writers are apply_policy, the runtime-conf table's one-time
    apply and the two scoped toggles that restore their conf."""
    spelled, writers = set(), set()
    for rel, text in _sources():
        for node, owner in _owned_nodes(ast.parse(text)):
            if isinstance(node, ast.Constant) and isinstance(
                    node.value, str) \
                    and any(k in node.value for k in _POLICY_KEYS):
                spelled.add((rel, owner))
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and node.func.attr in ("set", "unset") \
                    and isinstance(node.func.value, ast.Attribute) \
                    and node.func.value.attr == "conf":
                writers.add((rel, owner, ast.unparse(node.args[0])))
    assert spelled == {("catalog.py", "_policy_confs"),
                       ("catalog.py", "_PLANNER_SCALE_CONFS")}
    assert writers == {
        ("catalog.py", "apply_policy", "k"),
        ("catalog.py", "_ensure_runtime_confs", "k"),
        ("ckpt.py", "lineage_break", "'spark.sql.codegen.wholeStage'"),
        # MzSession._strict's ANSI window
        ("plans/sqlfront.py", "ctx", "'spark.sql.ansi.enabled'"),
    }
