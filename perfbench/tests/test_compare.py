"""The oracle comparison: wire-protocol text rows against DuckDB rows."""

import datetime

from perfbench.harness import same_rows


def test_order_and_representation_do_not_matter():
    got = [["2", "ASIA", "1.5"], ["1", "EUROPE", None]]
    want = [(1, "EUROPE", None), (2, "ASIA", 1.5)]
    assert same_rows(got, want)


def test_floats_compare_within_tolerance():
    assert same_rows([["1000000.0000001"]], [(1000000.0,)])
    assert not same_rows([["1000010"]], [(1000000.0,)])


def test_multisets_not_sets():
    assert not same_rows([["1"], ["1"]], [(1,)])
    assert not same_rows([["1"], ["1"]], [(1,), (2,)])


def test_timestamps_and_booleans():
    ts = datetime.datetime(1998, 1, 1)
    assert same_rows([["1998-01-01 00:00:00", "t"]], [(ts, True)])


def test_close_keys_stay_aligned():
    # orderkeys that share their first 4 significant digits
    got = [[str(k), str(k % 7)] for k in range(123400, 123460)]
    want = [(k, k % 7) for k in reversed(range(123400, 123460))]
    assert same_rows(got, want)
