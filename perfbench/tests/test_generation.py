"""Seeded generation: the same seed gives byte-identical inputs, another
seed gives different ones."""

import os

from perfbench import adhoc, churn, datagen, kafka


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read()
            for n in sorted(os.listdir(d))}


def test_tables_are_byte_identical_per_seed(tmp_path):
    a = _files(datagen.write(str(tmp_path / "a"), 0.001, 7))
    b = _files(datagen.write(str(tmp_path / "b"), 0.001, 7))
    c = _files(datagen.write(str(tmp_path / "c"), 0.001, 8))
    assert a == b
    assert sorted(a) == [f"{t}.parquet" for t in sorted(datagen.TABLES)]
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_table_sizes_follow_tpch_ratios():
    n = datagen.table_sizes(0.01)
    assert n["lineitem"] == 60_000 and n["orders"] == 15_000
    assert n["supplier"] == 100 and n["part"] == 2_000


def _churn_stream(seed, cycles=12):
    sizes = datagen.table_sizes(0.01)
    return "\n".join("\n".join(churn.cycle(seed, c, sizes))
                     for c in range(cycles)).encode()


def test_churn_statements_are_seeded():
    assert _churn_stream(3) == _churn_stream(3)
    assert _churn_stream(3) != _churn_stream(4)


def test_churn_deletes_the_batch_inserted_two_cycles_earlier():
    sizes = datagen.table_sizes(0.01)
    for c in range(2, 12, 3):
        write = churn.cycle(1, c, sizes)[0]
        tag = churn.TAG_BASE + c - churn.DELETE_LAG
        assert write.endswith(f"l_linenumber = {tag}")
        assert f", {tag}, " in churn.cycle(1, c - 2, sizes)[0]


def test_kafka_records_are_seeded():
    a, b, c = (kafka.records(s, 5000) for s in (5, 5, 6))
    assert b"".join(k + (v or b"-") for k, v in a) == \
        b"".join(k + (v or b"-") for k, v in b)
    assert a != c
    hot = sum(1 for k, _ in a if int(k[1:]) < kafka.HOT_KEYS) / len(a)
    tomb = sum(1 for _, v in a if v is None) / len(a)
    assert 0.77 < hot < 0.83 and 0.03 < tomb < 0.07


def test_kafka_fold_is_an_upsert():
    recs = [(b"a", b'{"region":"ASIA","amount":5}'),
            (b"b", b'{"region":"ASIA","amount":7}'),
            (b"a", b'{"region":"EUROPE","amount":1}'),
            (b"b", None)]
    assert kafka.fold(recs) == {("EUROPE", 1, 1)}


def test_adhoc_pass_order_is_seeded():
    names = [f"q{i}" for i in range(20)]
    assert adhoc.pass_order(1, names, 0) == adhoc.pass_order(1, names, 0)
    assert adhoc.pass_order(1, names, 0) != adhoc.pass_order(2, names, 0)
    assert sorted(adhoc.pass_order(1, names, 3)) == sorted(names)
