"""Tiny-scale smoke runs: every workload passes its oracle, and the
benchmark refuses to run without the engine package."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["adhoc_tpch", "mv_churn",
                                      "kafka_upsert"])
def test_tiny_run_passes_every_oracle(workload):
    proc = _run(ROOT, "--workload", workload, "--seed", "1",
                "--seconds", "2", "--trace", "0", "--sf", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    assert result["correct"], report["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    e2e = report["end_to_end"]
    assert set(e2e) == {"setup_s", "throughput_ops_s", "latency_p50_s",
                        "latency_p90_s", "read_p50_s", "read_p90_s",
                        "failed_ratio", "peak_rss_mb"}
    assert all({"value", "unit", "n"} <= set(m) for m in e2e.values())
    assert e2e["failed_ratio"]["value"] == 0.0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(PKG, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "mv_churn", "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
