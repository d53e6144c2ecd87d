#!/usr/bin/env python3
"""Run two sets of benchmark runs of one commit and say whether they agree.

    python3 perfbench/twosets.py [--workloads a,b] [--first-seed 1]

Run from the root of a checkout. Each set runs every workload ten times
at BENCHMARK.json's run_seconds, one run at a time, each with its own
seed (set k, run i uses seed first_seed + 10 * (k - 1) + i). For every
end-to-end metric of BENCHMARK.json it prints each set's median, quartiles and spread
(q3 - q1) / median, and the distance between the two medians,
|m2 - m1| / min(m1, m2). The sets agree when:

- every spread is within the metric's bound, setup_s's excepted: set-up
  time includes JVM start, and its bound governs only its median;
- every distance between medians is within the metric's bound;
- both sets fail the same share of operations.

It ends with one line, AGREE or DISAGREE, and exits 0 only on AGREE.
The raw results go to <build dir>/twosets-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUNS = 10


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        sys.exit(f"twosets: {workload} seed {seed} failed:\n{p.stdout}")
    r = json.loads(lines[-1])
    r["wall_s"] = time.time() - t0
    r["log"] = lines[:-1]
    return r


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    results = {}
    ok = True
    for w in a.workloads.split(","):
        sets = [[run_once(w, a.first_seed + k * RUNS + i, bench["run_seconds"])
                 for i in range(RUNS)] for k in range(2)]
        results[w] = sets
        print(f"\n{w}: wall per run "
              f"{statistics.median(r['wall_s'] for s in sets for r in s):.1f} s")
        shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s)
                  for s in sets]
        same = shares[0] == shares[1]
        ok &= same and all(r["correct"] for s in sets for r in s)
        print(f"  failed share: set 1 {shares[0]:.6f}, set 2 {shares[1]:.6f}"
              f"{'' if same else '  SHARES DIFFER'}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sums = [summary([r["metrics"][name]["value"] for r in s])
                    for s in sets]
            m1, m2 = sums[0]["median"], sums[1]["median"]
            apart = abs(m2 - m1) / min(m1, m2)
            verdict = []
            if name != "setup_s" and any(s["spread"] > bound for s in sums):
                verdict.append("SPREAD>BOUND")
            if apart > bound:
                verdict.append("MEDIANS>BOUND")
            ok &= not verdict
            print(f"  {name} (bound {bound:.2f}): medians apart {apart:.3f}"
                  f" {' '.join(verdict)}")
            for k, s in enumerate(sums, 1):
                print(f"    set {k}: median {s['median']:.6g}  q1 {s['q1']:.6g}"
                      f"  q3 {s['q3']:.6g}  spread {s['spread']:.3f}")
    out = os.path.join(build.build_dir(), f"twosets-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\n{'AGREE' if ok else 'DISAGREE'} (raw results in {out})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
