#!/usr/bin/env python3
"""Steadiness check: run one workload k times under each of two seeds and
report, per metric, the median and quartiles of each set, the spread (the
distance between the quartiles as a share of the median) and whether the
two sets agree within the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload corpus_dedup --runs 10 --seeds 100,200

Run j of a set uses seed base + j, so every run has new inputs, as a
regression gate's runs do. A metric is steady when the spread of each set
is within its bound, and the sets agree when their medians differ by at
most the bound, in either direction. Exits non-zero when a run fails, a
metric is not steady or the sets disagree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds", default="100,200",
                    help="two base seeds, comma-separated, at least --runs apart")
    a = ap.parse_args(argv)

    spec = bench_spec()
    seconds = spec["run_seconds"]
    bases = [int(s) for s in a.seeds.split(",")]
    assert len(bases) == 2 and abs(bases[1] - bases[0]) >= a.runs, \
        "--seeds takes two base seeds at least --runs apart"
    sets = []
    for base in bases:
        runs = []
        for j in range(a.runs):
            seed = base + j
            t0 = time.monotonic()
            res = run_once(a.workload, seed, seconds)
            runs.append(res["metrics"])
            print(f"seed {seed}: wall {time.monotonic() - t0:.1f} s, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        sets.append(runs)

    ok = True
    print(f"\n{a.workload}: {a.runs} runs per set, seeds from {a.seeds}, {seconds} s per run")
    print(f"{'metric':<14} {'bound':>6} {'median A':>10} {'q1..q3 A':>21} {'spread A':>9} "
          f"{'median B':>10} {'spread B':>9} {'B vs A':>8} {'spread all':>10}  verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a_med, a_q1, a_q3, a_sp = summary([r[name]["value"] for r in sets[0]])
        b_med, _, _, b_sp = summary([r[name]["value"] for r in sets[1]])
        all_sp = summary([r[name]["value"] for r in sets[0] + sets[1]])[3]
        diff = (b_med - a_med) / a_med
        steady = a_sp <= bound and b_sp <= bound
        agree = abs(diff) <= bound
        ok &= steady and agree
        print(f"{name:<14} {bound:>6.3f} {a_med:>10.4g} {a_q1:>10.4g}..{a_q3:<10.4g} {a_sp:>9.3f} "
              f"{b_med:>10.4g} {b_sp:>9.3f} {diff:>+8.3f} {all_sp:>10.3f}  "
              f"{'ok' if steady and agree else 'NOT STEADY' if not steady else 'DISAGREE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
