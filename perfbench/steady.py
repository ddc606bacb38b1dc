"""Steadiness check: repeat one workload over several seeds and report,
for every metric of the result line, the median, the quartiles and the
spread (interquartile distance over the median) against the bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py --workload mv_churn --seeds 1-10
        [--seconds 15] [--trace 0]

Each run is a separate ``perfbench/run.py`` process, run one after
another. The last line printed is a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["load_per_cpu_before"] = json.loads(
        lines[-2])["report"]["env"]["load_per_cpu_before"]
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound")
              for m in spec["end_to_end"] + spec["per_layer"]}

    runs = []
    for seed in seed_list(args.seeds):
        r = run_once(args.workload, seed, seconds, args.trace)
        runs.append(r)
        print(json.dumps({"seed": seed, "wall_s": round(r["wall_s"], 1),
                          "load_per_cpu": r["load_per_cpu_before"],
                          "correct": r["correct"],
                          "metrics": {k: v["value"] for k, v in
                                      r["metrics"].items()}}), flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        sp = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        sp["bound"] = bound
        if bound is not None:
            sp["within_bound"] = sp["spread"] <= bound
            sp["within_third"] = sp["spread"] < bound / 3
        summary[name] = sp
        print(f"{name:28s} median {sp['median']:.6g}  q1 {sp['q1']:.6g}  "
              f"q3 {sp['q3']:.6g}  spread {sp['spread']:.4f}"
              + (f"  bound {bound}" if bound is not None else ""),
              flush=True)
    print(json.dumps({
        "workload": args.workload, "seconds": seconds, "trace": args.trace,
        "runs": len(runs), "all_correct": all(r["correct"] for r in runs),
        "max_wall_s": max(r["wall_s"] for r in runs),
        "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
