"""Span bookkeeping of the traced mode, without an engine."""

import json
import threading
import time

from perfbench.tracing import Tracer


def _span(tr, name, secs, inner=None):
    idx = tr.enter(name)
    if inner:
        inner()
    time.sleep(secs)
    tr.exit(idx)


def test_spans_record_parent_and_operation():
    tr = Tracer()
    tr.begin_op(7)
    _span(tr, "outer", 0.0, lambda: _span(tr, "inner", 0.0))
    tr.op_id = None
    _span(tr, "untimed", 0.0)
    (n0, s0, e0, p0, o0), (n1, s1, e1, p1, o1), (n2, *_, o2) = tr.spans
    assert (n0, p0, o0) == ("outer", None, 7)
    assert (n1, p1, o1) == ("inner", 0, 7)
    assert s0 <= s1 <= e1 <= e0
    assert (n2, o2) == ("untimed", None)


def test_self_time_excludes_traced_children():
    tr = Tracer()
    tr.begin_op(0)
    _span(tr, "outer", 0.02, lambda: _span(tr, "inner", 0.05))
    tr.op_id = None
    _span(tr, "outer", 0.05)           # outside any operation: ignored
    selfs = tr.self_times()
    assert selfs["inner"][1] == 1 and selfs["outer"][1] == 1
    assert 0.045 < selfs["inner"][0] < 0.2
    assert 0.015 < selfs["outer"][0] < 0.045
    assert abs(tr.root_time(0) - (selfs["outer"][0] + selfs["inner"][0])) \
        < 1e-9


def test_threads_keep_separate_stacks(tmp_path):
    tr = Tracer()
    tr.begin_op(1)
    idx = tr.enter("driver")
    t = threading.Thread(target=lambda: _span(tr, "server", 0.0))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.exit(idx)
    assert [s[3] for s in tr.spans] == [None, None]
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    assert len(json.loads(path.read_text())["spans"]) == 2
