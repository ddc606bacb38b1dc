"""Driver-side py4j roundtrip caches for plan construction.

Every PySpark Column/DataFrame operation is built by a driver↔JVM
roundtrip (~0.3-1 ms each); the delta-MV maintenance path issues
thousands per commit batch, and the roundtrip count — not executor
work — is the measured floor of the heavy churn entries
(OPTIMIZATION_r13.md item 6: ~18 s of plan-construction chatter per
warm sqlfront_delta_mv_q21_exists). Three of PySpark's hottest
internals re-fetch immutable JVM handles on every call:

- ``_get_jvm_function(name, sc)`` re-reflects
  ``org.apache.spark.sql.functions`` and the named method — 2
  roundtrips per ``F.<fn>()`` call (measured 2158 sends on one warm
  q21_exists run);
- ``_create_column_from_name`` builds a fresh JVM ``col(name)`` — 3
  roundtrips per name reference (1707 sends);
- ``F.col``/``F.lit`` mint a new JVM Column per call even for the
  same name / small literal.

All three return IMMUTABLE handles (a JavaMember method reference, an
unresolved-attribute Column, a literal Column), so memoizing them per
SparkContext is value-neutral: reusing one Column object across plans
is ordinary PySpark usage (users hold ``c = F.col("x")`` and reuse it
freely), and Catalyst copies expression trees during analysis rather
than mutating them. Caches are keyed on the live SparkContext and die
with it (a restarted context gets fresh handles).

Classic (py4j) mode only — Spark Connect never reaches these
internals; the install is a no-op for it.
"""

from __future__ import annotations

import threading

_installed = False
_lock = threading.Lock()

# ctx-generation guard: caches keyed by id() of the live SparkContext
# would alias a restarted context reusing the address; key on the
# (pid, applicationId-ish) tuple PySpark already tracks via the
# context object itself using a WeakKeyDictionary is not possible for
# str keys, so the caches store the owning context and are cleared
# whenever a different context instance is observed.
_owner_ctx = None
_fn_cache: dict = {}
_col_cache: dict = {}
_lit_cache: dict = {}

# floats excluded: -0.0 == 0.0 under dict hashing but the two literals
# differ semantically (sign of a division); the hot-path literals are
# small ints and marker strings anyway
_LIT_TYPES = (int, str, bool)
_MAX_CACHE = 4096


def _ctx_caches(sc):
    """Return the (fn, col, lit) caches valid for ``sc``, clearing
    them when the active context changed (restart safety)."""
    global _owner_ctx
    if _owner_ctx is not sc:
        _fn_cache.clear()
        _col_cache.clear()
        _lit_cache.clear()
        _owner_ctx = sc
    return _fn_cache, _col_cache, _lit_cache


def install() -> None:
    """Patch the three hot PySpark internals with per-context memos.

    Idempotent and thread-safe."""
    global _installed
    if _installed:
        return
    with _lock:
        if _installed:
            return
        try:
            import pyspark.sql.classic.column as cc
            import pyspark.sql.functions as F
            import pyspark.sql.functions.builtin as B
        except Exception:
            return  # exotic build: leave PySpark untouched

        orig_get_fn = B._get_jvm_function
        orig_from_name = cc._create_column_from_name
        orig_col = B.col
        orig_lit = B.lit

        def cached_get_jvm_function(name, sc):
            fns, _cols, _lits = _ctx_caches(sc)
            f = fns.get(name)
            if f is None:
                f = orig_get_fn(name, sc)
                if len(fns) < _MAX_CACHE:
                    fns[name] = f
            return f

        def cached_create_column_from_name(name):
            from pyspark.sql.classic.column import get_active_spark_context
            sc = get_active_spark_context()
            _fns, cols, _lits = _ctx_caches(sc)
            c = cols.get(("jc", name))
            if c is None:
                c = orig_from_name(name)
                if len(cols) < _MAX_CACHE:
                    cols[("jc", name)] = c
            return c

        def cached_col(name):
            if not isinstance(name, str):
                return orig_col(name)
            from pyspark import SparkContext
            sc = SparkContext._active_spark_context
            if sc is None:
                return orig_col(name)
            _fns, cols, _lits = _ctx_caches(sc)
            c = cols.get(name)
            if c is None:
                c = orig_col(name)
                if len(cols) < _MAX_CACHE:
                    cols[name] = c
            return c

        def cached_lit(v):
            # hashable scalar literals only; bool before int (True is
            # an int) so True/1 cache as distinct JVM literals
            t = type(v)
            if t not in _LIT_TYPES:
                return orig_lit(v)
            from pyspark import SparkContext
            sc = SparkContext._active_spark_context
            if sc is None:
                return orig_lit(v)
            _fns, _cols, lits = _ctx_caches(sc)
            key = (t.__name__, v)
            c = lits.get(key)
            if c is None:
                c = orig_lit(v)
                if len(lits) < _MAX_CACHE:
                    lits[key] = c
            return c

        B._get_jvm_function = cached_get_jvm_function
        cc._create_column_from_name = cached_create_column_from_name
        B.col = cached_col
        B.lit = cached_lit
        # pyspark.sql.functions re-exports builtin's names at import
        # time; rebind so `F.col`/`F.lit` resolve the cached versions.
        F.col = cached_col
        F.lit = cached_lit
        _installed = True
