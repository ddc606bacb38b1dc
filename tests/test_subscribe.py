"""SUBSCRIBE envelope shaping over IVM delta frames."""

from pyspark.sql import functions as F

from materialize_spark.streaming.ivm import MaterializedView
from materialize_spark.streaming.subscribe import (
    envelope_debezium, envelope_upsert, within_timestamp_order_by,
)

SRC = "k string, v long"


def _mv(spark):
    return MaterializedView(
        spark,
        define=lambda df: df.groupBy("k").agg(F.sum("v").alias("total")),
        keys=["k"], combine={"total": "sum"})


def test_upsert_envelope_update_and_insert(spark):
    mv = _mv(spark)
    mv.on_batch(spark.createDataFrame([("a", 1), ("b", 2)], SRC))
    delta = mv.on_batch(spark.createDataFrame([("a", 10), ("c", 5)], SRC))
    up = {(r.k): r.total for r in envelope_upsert(delta, ["k"]).collect()}
    # a updated (11), c inserted (5); b unchanged -> absent
    assert up == {"a": 11, "c": 5}


def test_upsert_envelope_tombstone_needs_true_delete(spark):
    """A key that only retracts (no matching addition) yields NULL values."""
    mv = _mv(spark)
    mv.on_batch(spark.createDataFrame([("a", 1), ("b", 2)], SRC))
    new_state = spark.createDataFrame([("b", 2)], "k string, total long")
    delta = mv._delta(mv._state, new_state)  # a disappears entirely
    rows = {r.k: r.total for r in envelope_upsert(delta, ["k"]).collect()}
    assert rows == {"a": None}


def test_debezium_envelope_before_after(spark):
    mv = _mv(spark)
    mv.on_batch(spark.createDataFrame([("a", 1)], SRC))
    delta = mv.on_batch(spark.createDataFrame([("a", 4), ("b", 7)], SRC))
    rows = {r.k: (r.before, r.after)
            for r in envelope_debezium(delta, ["k"]).collect()}
    assert rows["a"] == ((1,), (5,))   # update: before and after
    assert rows["b"] == (None, (7,))   # insert: no before


def test_within_timestamp_order_by(spark):
    mv = _mv(spark)
    delta = mv.on_batch(spark.createDataFrame(
        [("c", 3), ("a", 1), ("b", 2)], SRC))
    ordered = within_timestamp_order_by(delta, "k").collect()
    assert [r.k for r in ordered] == ["a", "b", "c"]


def test_subscribe_with_snapshot_false(spark):
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_snap (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_snap VALUES ('a', 1), ('b', 2)")
    first = sess.execute(
        "SUBSCRIBE sub_snap WITH (SNAPSHOT = false)").collect()
    assert first == []  # initial state suppressed
    sess.execute("INSERT INTO sub_snap VALUES ('c', 3)")
    second = sess.execute(
        "SUBSCRIBE sub_snap WITH (SNAPSHOT = false)").collect()
    assert [(r.k, r.v, r.diff) for r in second] == [("c", 3, 1)]


def test_subscribe_with_progress(spark):
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_prog (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_prog VALUES ('a', 1)")
    b1 = sess.execute("SUBSCRIBE sub_prog WITH (PROGRESS)").collect()
    data = [r for r in b1 if not r.mz_progressed]
    marks = [r for r in b1 if r.mz_progressed]
    assert [(r.k, r.v, r.diff) for r in data] == [("a", 1, 1)]
    assert len(marks) == 1 and marks[0].k is None and marks[0].diff is None
    # a no-change batch still progresses: one marker, zero data rows
    b2 = sess.execute("SUBSCRIBE sub_prog WITH (PROGRESS)").collect()
    assert [r.mz_progressed for r in b2] == [True]
    assert b2[0].mz_timestamp > marks[0].mz_timestamp


def test_subscribe_progress_composes_with_envelope(spark):
    """WITH (PROGRESS) must not be silently dropped when combined with
    ENVELOPE UPSERT or WITHIN TIMESTAMP ORDER BY (ADVICE r5): the
    marker wraps whatever shape the modifier produced."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_pc (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_pc VALUES ('a', 1), ('b', 2)")
    b1 = sess.execute(
        "SUBSCRIBE sub_pc ENVELOPE UPSERT (KEY (k)) WITH (PROGRESS)"
    ).collect()
    marks = [r for r in b1 if r.mz_progressed]
    data = [r for r in b1 if not r.mz_progressed]
    assert len(marks) == 1 and marks[0].mz_timestamp == 1
    assert {r.k for r in data} == {"a", "b"}
    # envelope shape kept: upsert rows carry no raw diff column
    assert not any(hasattr(r, "diff") for r in data)
    # and with WITHIN TIMESTAMP ORDER BY
    b2 = sess.execute(
        "SUBSCRIBE sub_pc WITHIN TIMESTAMP ORDER BY v DESC WITH (PROGRESS)"
    ).collect()
    marks2 = [r for r in b2 if r.mz_progressed]
    assert len(marks2) == 1 and marks2[0].mz_timestamp == 2


# -- per-subscriber push cursors (reference: each SUBSCRIBE is its own
# dataflow sink with its own frontier, src/compute/src/sink/subscribe.rs) --

def _drain(sess, sub_id):
    out = sess.subscribe_poll(sub_id)
    return ([] if out is None else
            sorted((r.k, r.v, r.diff) for r in out.collect()))


def test_concurrent_subscribers_each_get_full_stream(spark):
    """Two concurrent subscriptions on one object each receive the
    COMPLETE delta sequence — the defect this API fixes was a shared
    per-object cursor where the first poller consumed the delta."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_conc (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_conc VALUES ('a', 1)")
    s1, first1, _ = sess.subscribe_open("SUBSCRIBE sub_conc")
    s2, first2, _ = sess.subscribe_open("SUBSCRIBE sub_conc")
    assert s1 != s2
    snap = sorted((r.k, r.v, r.diff) for r in first1.collect())
    assert snap == [("a", 1, 1)]
    assert snap == sorted((r.k, r.v, r.diff) for r in first2.collect())
    sess.execute("INSERT INTO sub_conc VALUES ('b', 2)")
    # BOTH subscribers see the commit, regardless of poll order
    assert _drain(sess, s1) == [("b", 2, 1)]
    assert _drain(sess, s2) == [("b", 2, 1)]
    sess.execute("DELETE FROM sub_conc WHERE k = 'a'")
    sess.execute("INSERT INTO sub_conc VALUES ('c', 3)")
    # multiple commits between polls coalesce into one batch
    both = [("a", 1, -1), ("c", 3, 1)]
    assert _drain(sess, s2) == both   # reversed poll order this time
    assert _drain(sess, s1) == both
    sess.subscribe_close(s1)
    sess.subscribe_close(s2)


def test_late_subscriber_gets_own_snapshot(spark):
    """A subscriber arriving after others have consumed deltas gets its
    own complete snapshot, not a diff vs someone else's frontier."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_late (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_late VALUES ('a', 1)")
    s1, _, _ = sess.subscribe_open("SUBSCRIBE sub_late")
    sess.execute("INSERT INTO sub_late VALUES ('b', 2)")
    assert _drain(sess, s1) == [("b", 2, 1)]
    s2, first2, _ = sess.subscribe_open("SUBSCRIBE sub_late")
    assert sorted((r.k, r.v, r.diff) for r in first2.collect()) == \
        [("a", 1, 1), ("b", 2, 1)]
    # and the late subscriber still receives subsequent commits
    sess.execute("INSERT INTO sub_late VALUES ('c', 3)")
    assert _drain(sess, s2) == [("c", 3, 1)]
    assert _drain(sess, s1) == [("c", 3, 1)]
    sess.subscribe_close(s1)
    sess.subscribe_close(s2)


def test_wait_commit_wakes_on_commit(spark):
    """The commit clock wakes a blocked waiter promptly — the stream
    loops block on this instead of a 10 Hz table poll."""
    import threading
    import time

    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_wake (k STRING, v BIGINT)")
    seq0 = sess.commit_seq()
    got = {}

    def waiter():
        got["seq"] = sess.wait_commit(seq0, timeout=10.0)

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.1)
    sess.execute("INSERT INTO sub_wake VALUES ('a', 1)")
    t.join(timeout=5.0)
    assert not t.is_alive()
    assert got["seq"] > seq0
    # no commit: wait_commit times out without advancing
    assert sess.wait_commit(got["seq"], timeout=0.05) == got["seq"]


def test_subscribe_poll_is_fed_by_commit_diffs_no_table_diff(spark):
    """The poll path returns the commit's own frames: the delta plan
    must not contain an Except against the full table (the O(table)
    anti-pattern this API replaces)."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_otable (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_otable VALUES ('a', 1)")
    sid, _, _ = sess.subscribe_open("SUBSCRIBE sub_otable")
    sess.execute("INSERT INTO sub_otable VALUES ('b', 2)")
    delta = sess.subscribe_poll(sid)
    plan = delta._jdf.queryExecution().optimizedPlan().toString()
    assert "Except" not in plan
    sess.subscribe_close(sid)


def test_subscribe_progress_per_cursor_clock(spark):
    """WITH (PROGRESS) batch timestamps are per-subscription, not
    shared across subscribers."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_prog2 (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_prog2 VALUES ('a', 1)")
    s1, f1, _ = sess.subscribe_open("SUBSCRIBE sub_prog2 WITH (PROGRESS)")
    assert {r.mz_timestamp for r in f1.collect()} == {1}
    sess.execute("INSERT INTO sub_prog2 VALUES ('b', 2)")
    sess.execute("INSERT INTO sub_prog2 VALUES ('c', 3)")
    # a LATE second subscriber starts at ITS OWN ts=1
    s2, f2, _ = sess.subscribe_open("SUBSCRIBE sub_prog2 WITH (PROGRESS)")
    assert {r.mz_timestamp for r in f2.collect()} == {1}
    out1 = sess.subscribe_poll(s1)
    assert {r.mz_timestamp for r in out1.collect()} == {2}
    sess.subscribe_close(s1)
    sess.subscribe_close(s2)


def test_push_subscriptions_under_interleaved_commits(spark):
    """A longer churn: two subscribers polling at different rhythms
    while commits interleave — each must reconstruct the table's exact
    final state from its snapshot + the sum of its deltas."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_soak (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_soak VALUES ('seed', 0)")

    def net(state, batch):
        for row in batch.collect():
            key = (row.k, row.v)
            state[key] = state.get(key, 0) + row.diff
        return state

    s1, f1, _ = sess.subscribe_open("SUBSCRIBE sub_soak")
    st1 = net({}, f1)
    s2, f2, _ = sess.subscribe_open("SUBSCRIBE sub_soak")
    st2 = net({}, f2)
    import random
    rng = random.Random(11)
    live = [("seed", 0)]
    for step in range(12):
        if live and rng.random() < 0.4:
            k, v = live.pop(rng.randrange(len(live)))
            sess.execute(f"DELETE FROM sub_soak WHERE k = '{k}' "
                         f"AND v = {v}")
        else:
            kv = (f"k{step}", rng.randrange(100))
            live.append(kv)
            sess.execute(f"INSERT INTO sub_soak VALUES "
                         f"('{kv[0]}', {kv[1]})")
        if step % 3 == 0:  # subscriber 1 polls often
            out = sess.subscribe_poll(s1)
            if out is not None:
                st1 = net(st1, out)
    # drain both fully at the end (coalesced multi-commit batches)
    for sid, st in ((s1, st1), (s2, st2)):
        out = sess.subscribe_poll(sid)
        if out is not None:
            net(st, out)
    want = {}
    for r in sess.execute("SELECT * FROM sub_soak").collect():
        want[(r.k, r.v)] = want.get((r.k, r.v), 0) + 1
    for st in (st1, st2):
        got = {k: n for k, n in st.items() if n != 0}
        assert got == want
    sess.subscribe_close(s1)
    sess.subscribe_close(s2)


def test_subscribe_seq_captured_at_registration(spark):
    """A commit landing between subscribe_open and the caller's first
    wait_commit is NOT lost: the cursor's starting frontier (seq0) is
    captured under the commit lock at registration, so wait_commit on
    it returns immediately and the queued frame drains."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_seq0 (k STRING, v BIGINT)")
    sess.execute("INSERT INTO sub_seq0 VALUES ('a', 1)")
    sid, first, _ = sess.subscribe_open("SUBSCRIBE sub_seq0")
    assert len(first.collect()) == 1
    # the commit lands while the caller would be collecting/sending the
    # snapshot — BEFORE it ever reads the clock
    sess.execute("INSERT INTO sub_seq0 VALUES ('b', 2)")
    seq0 = sess.subscribe_seq(sid)
    # the clock already moved past the cursor's frontier: no wait
    assert sess.wait_commit(seq0, 0.0) > seq0
    out = sess.subscribe_poll(sid)
    assert out is not None
    assert {(r.k, r.v) for r in out.collect()} == {("b", 2)}
    sess.subscribe_close(sid)
    sess.execute("DROP TABLE sub_seq0")


def test_as_of_stream_frames_carry_mz_timestamp(spark):
    """Plain AS OF (no UP TO) streams on; pushed frames must carry the
    SAME column set as the historical first batch (mz_timestamp
    included), or the wire protocol desyncs (DataRow field count !=
    RowDescription)."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE sub_asof_t (k STRING, v BIGINT)")
    sess.execute("CREATE MATERIALIZED VIEW sub_asof_mv AS "
                 "SELECT k, SUM(v) AS total FROM sub_asof_t GROUP BY k")
    sess.execute("INSERT INTO sub_asof_t VALUES ('a', 1)")
    sess.execute("REFRESH MATERIALIZED VIEW sub_asof_mv")
    sid, first, _ = sess.subscribe_open("SUBSCRIBE sub_asof_mv AS OF 0")
    ncols = len(first.columns)
    assert "mz_timestamp" in first.columns
    sess.execute("INSERT INTO sub_asof_t VALUES ('b', 7)")
    sess.execute("REFRESH MATERIALIZED VIEW sub_asof_mv")
    out = sess.subscribe_poll(sid)
    assert out is not None
    assert len(out.columns) == ncols
    assert set(out.columns) == set(first.columns)
    rows = out.collect()
    assert rows and all(r["mz_timestamp"] is not None for r in rows)
    sess.subscribe_close(sid)
    sess.execute("DROP VIEW sub_asof_mv")
    sess.execute("DROP TABLE sub_asof_t")


def test_subscribe_query_delta_maintained(spark):
    """SUBSCRIBE (SELECT ...) over a delta-maintainable shape: the body
    becomes an ephemeral always-fresh view; two concurrent subscribers
    each receive the complete stream; close tears the view down."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE subq_t (k STRING, v BIGINT)")
    sess.execute("INSERT INTO subq_t VALUES ('a', 1), ('b', 2)")
    stmt = ("SUBSCRIBE (SELECT k, SUM(v) AS total FROM subq_t "
            "GROUP BY k)")
    s1, f1, n1 = sess.subscribe_open(stmt)
    s2, f2, n2 = sess.subscribe_open(stmt)
    assert n1.name != n2.name  # each subscription owns its own view
    for f in (f1, f2):
        assert {(r.k, r.total) for r in f.collect()} == {
            ("a", 1), ("b", 2)}
    sess.execute("INSERT INTO subq_t VALUES ('a', 10)")
    for sid in (s1, s2):
        out = sess.subscribe_poll(sid)
        got = {}
        for r in out.collect():
            got[(r.k, r.total)] = got.get((r.k, r.total), 0) + r.diff
        assert got == {("a", 1): -1, ("a", 11): 1}
    sess.subscribe_close(s1)
    sess.subscribe_close(s2)
    # the ephemeral views are gone
    assert not any(k.startswith("__subq") for k in sess._matviews)
    assert not any(k.startswith("__subq") for k in sess._delta_mvs)
    sess.execute("DROP TABLE subq_t")


def test_subscribe_query_recompute_fallback(spark):
    """A body the delta dispatcher can't maintain (a navigation window
    with an ORDER BY frame) falls back to recompute-on-commit: commits
    to the base table still push correct diffs to the subscriber."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE subq_g (v BIGINT)")
    sess.execute("INSERT INTO subq_g VALUES (1), (2)")
    sid, first, node = sess.subscribe_open(
        "SUBSCRIBE (SELECT v, LAG(v) OVER (ORDER BY v) AS m "
        "FROM subq_g)")
    assert node.name in sess._query_subs  # the fallback path
    assert sorted((r.v, r.m) for r in first.collect()) == \
        [(1, None), (2, 1)]
    sess.execute("INSERT INTO subq_g VALUES (9)")
    out = sess.subscribe_poll(sid)
    got = {}
    for r in out.collect():
        got[(r.v, r.m)] = got.get((r.v, r.m), 0) + r.diff
    assert got == {(9, 2): 1}
    # DELETE flows through the recompute too
    sess.execute("DELETE FROM subq_g WHERE v = 2")
    out = sess.subscribe_poll(sid)
    got = {}
    for r in out.collect():
        got[(r.v, r.m)] = got.get((r.v, r.m), 0) + r.diff
    assert got == {(2, 1): -1, (9, 2): -1, (9, 1): 1}
    sess.subscribe_close(sid)
    assert sess._query_subs == {}
    sess.execute("DROP TABLE subq_g")


def test_subscribe_query_global_agg_maintained(spark):
    """SUBSCRIBE (SELECT MAX(v) ...) — a keyless aggregate — is now
    DELTA-maintained (reduce with an empty key), not recompute
    fallback; deletes that evict the current max re-derive it from the
    maintained support."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE subq_ga (v BIGINT)")
    sess.execute("INSERT INTO subq_ga VALUES (1), (2)")
    sid, first, node = sess.subscribe_open(
        "SUBSCRIBE (SELECT MAX(v) AS m FROM subq_ga)")
    assert node.name in sess._delta_mvs  # maintained, not fallback
    assert node.name not in sess._query_subs
    assert [r.m for r in first.collect()] == [2]
    sess.execute("INSERT INTO subq_ga VALUES (9)")
    out = sess.subscribe_poll(sid)
    got = {}
    for r in out.collect():
        got[r.m] = got.get(r.m, 0) + r.diff
    assert got == {2: -1, 9: 1}
    sess.execute("DELETE FROM subq_ga WHERE v = 9")
    out = sess.subscribe_poll(sid)
    got = {}
    for r in out.collect():
        got[r.m] = got.get(r.m, 0) + r.diff
    assert got == {9: -1, 2: 1}
    sess.subscribe_close(sid)
    sess.execute("DROP TABLE subq_ga")


def test_subscribe_query_one_shot_execute(spark):
    """Execute-path SUBSCRIBE (SELECT ...) is a stateless one-shot
    snapshot (the polling forms are DECLARE cursors / stream loops)."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE subq_o (k STRING, v BIGINT)")
    sess.execute("INSERT INTO subq_o VALUES ('a', 1)")
    rows = sess.sql(
        "SUBSCRIBE (SELECT k, v FROM subq_o WHERE v > 0)").collect()
    assert [(r.k, r.v, r.diff) for r in rows] == [("a", 1, 1)]
    # no ephemeral state left behind
    assert sess._query_subs == {}
    assert not any(k.startswith("__subq") for k in sess._matviews)
    sess.execute("DROP TABLE subq_o")


def test_subscribe_query_via_declared_cursor(spark):
    """DECLARE c CURSOR FOR SUBSCRIBE (SELECT ...): the reference's
    polling idiom over a query subscription."""
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE subq_c (k STRING, v BIGINT)")
    sess.execute("INSERT INTO subq_c VALUES ('a', 1)")
    sess.execute("DECLARE qc CURSOR FOR SUBSCRIBE "
                 "(SELECT k, SUM(v) AS total FROM subq_c GROUP BY k)")
    rows = sess.sql("FETCH ALL qc").collect()
    assert {(r.k, r.total) for r in rows} == {("a", 1)}
    sess.execute("INSERT INTO subq_c VALUES ('a', 4)")
    rows = sess.sql("FETCH ALL qc").collect()
    got = {}
    for r in rows:
        got[(r.k, r.total)] = got.get((r.k, r.total), 0) + r.diff
    assert got == {("a", 1): -1, ("a", 5): 1}
    sess.execute("CLOSE qc")
    assert not any(k.startswith("__subq") for k in sess._delta_mvs)
    sess.execute("DROP TABLE subq_c")


def test_subscribe_query_union_all_delta_maintained(spark):
    """SUBSCRIBE (SELECT ... UNION ALL SELECT ...) routes through the
    UNION ALL delta planner — pushed frames are the branches' diff-sum,
    not a recompute."""
    from materialize_spark.plans.delta import Spine, UnionFront
    from materialize_spark.plans.sqlfront import MzSession
    sess = MzSession(spark, "/root/testdata/sf0.001")
    sess.execute("CREATE TABLE squ_l (k STRING, v BIGINT)")
    sess.execute("CREATE TABLE squ_r (k STRING, v BIGINT)")
    sess.execute("INSERT INTO squ_l VALUES ('a', 1)")
    sess.execute("INSERT INTO squ_r VALUES ('b', 2)")
    sid, first, node = sess.subscribe_open(
        "SUBSCRIBE (SELECT k, v FROM squ_l UNION ALL "
        "SELECT k, v FROM squ_r)")
    assert node.name in sess._delta_mvs  # maintained, not recompute
    view = sess._delta_mvs[node.name]
    assert isinstance(view.front, UnionFront)
    assert isinstance(view.terminal, Spine)
    assert {(r.k, r.v) for r in first.collect()} == {("a", 1), ("b", 2)}
    sess.execute("INSERT INTO squ_r VALUES ('c', 3)")
    out = sess.subscribe_poll(sid)
    assert {(r.k, r.v, r.diff) for r in out.collect()} == {("c", 3, 1)}
    sess.subscribe_close(sid)
    assert not any(k.startswith("__subq") for k in sess._delta_mvs)
    sess.execute("DROP TABLE squ_l")
    sess.execute("DROP TABLE squ_r")
