"""Steadiness check: two interleaved sets of runs of the same code.

    python3 perfbench/steady.py --workload W [--runs 5] [--seed0 100]

Runs `run.py` 2 x N times per workload, alternating set A and set B, each
run with its own seed, and prints for every end-to-end metric each set's
median and quartiles, the spread of all runs (interquartile range over
median), and the gap between the two sets' medians, each against the
metric's bound.  Every run measures BENCHMARK.json's `run_seconds`.
Exits 1 if a spread or a gap exceeds its bound, or if the share of
failed operations differs between runs.  Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
END_TO_END = BENCHMARK["end_to_end"]
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def run_once(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(BENCHMARK["run_seconds"]), "--trace", "0"],
        capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, \
        res["failed"] / res["attempted"]


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def report(workload, sets):
    ok = True
    print(f"\n### {workload}\n")
    print("| metric | bound | A median [q1, q3] | B median [q1, q3] "
          "| spread, all runs | gap B vs A |")
    print("|---|---|---|---|---|---|")
    for m in END_TO_END:
        name, bound = m["name"], m["bound"]
        a = [r[name] for r in sets["A"]]
        b = [r[name] for r in sets["B"]]
        qa, qb = quartiles(a), quartiles(b)
        q1, med, q3 = quartiles(a + b)
        spread = (q3 - q1) / med
        worse = (qb[1] - qa[1]) / qa[1] * (1 if m["better"] == "lower" else -1)
        flag_s = "" if spread <= bound else " **over**"
        flag_g = "" if worse <= bound else " **over**"
        ok &= not flag_s and not flag_g
        print(f"| {name} | {bound} | {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
              f"| {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] "
              f"| {spread:.3f}{flag_s} | {worse:+.3f}{flag_g} |")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seed0", type=int, default=100)
    a = ap.parse_args()
    ok = True
    for w in a.workload or WORKLOADS:
        sets = {"A": [], "B": []}
        fails = set()
        for i in range(a.runs):
            for k, s in (("A", 0), ("B", 1)):
                vals, fail_share = run_once(w, a.seed0 + 2 * i + s)
                sets[k].append(vals)
                fails.add(fail_share)
                print(json.dumps({"workload": w, "set": k, **vals}),
                      file=sys.stderr)
        ok &= report(w, sets) and len(fails) == 1
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
