#!/usr/bin/env python3
"""Steadiness check: run one workload in two alternating sets of runs,
each run a fresh process with its own seed, and print every end-to-end
metric's median and quartiles per set.

    python3 perfbench/steady.py --workload olap_mix --runs 10

Runs use BENCHMARK.json's command and run_seconds. Set A uses seeds
1..runs and set B seeds 101..100+runs; runs alternate A, B, A, B so a
drift in machine load hits both sets alike. A set is steady when each
metric's quartile spread (q3 - q1) / median is within its bound in
BENCHMARK.json; the two sets agree when their medians differ, in either
direction, by at most the bound (as a share of A's median) and the share
of failed operations is the same in every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(bench: dict, workload: str, seed: int) -> dict:
    proc = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["info"] = json.loads(lines[-2]) if len(lines) > 1 else {}
    return res


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets: list[list[dict]] = [[], []]
    for i in range(a.runs):
        for s, runs in enumerate(sets):
            seed = 100 * s + i + 1
            r = one_run(bench, a.workload, seed)
            runs.append(r)
            print(json.dumps({"set": "AB"[s], "seed": seed, **r}), flush=True)
    ok = True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for s, runs in enumerate(sets):
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in runs])
            steady = spread <= bound
            ok &= steady
            meds.append(med)
            print(f"{a.workload} {name} set {'AB'[s]}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {spread:.3f} (bound {bound}, target < {bound / 3:.3f}) "
                  f"{'steady' if steady else 'NOT STEADY'}")
        gap = (meds[1] - meds[0]) / meds[0]
        agree = abs(gap) <= bound
        ok &= agree
        print(f"{a.workload} {name}: B vs A median {gap:+.3f} ({m['better']} is better) "
              f"{'agree' if agree else 'DISAGREE'}")
    shares = {r["failed"] / r["attempted"] for runs in sets for r in runs}
    correct = all(r["correct"] for runs in sets for r in runs)
    print(f"{a.workload}: failed shares {sorted(shares)}, all correct {correct}")
    ok &= len(shares) == 1 and correct
    print(f"{a.workload}: {'OK' if ok else 'NOT OK'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
