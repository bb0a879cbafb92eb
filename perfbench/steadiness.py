#!/usr/bin/env python3
"""Check that the benchmark repeats: run each workload on several seeds, in
one or more sets, and hold every end-to-end metric to its bound.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--first-seed 1] [--workloads a,b]

For every workload of BENCHMARK.json each set makes `--runs` untraced runs,
each on another seed (set k uses the `--runs` seeds after set k-1's). Per
set and metric it prints the median and the distance between the first and
third quartile as a share of the median, and judges that spread against the
metric's bound (setup_s included). With two or more sets it also judges
each later set's median against the first: it may be worse by at most the
bound. Run from the root of the checkout; every run's JSON goes to
perfbench/target/steadiness.json. Exits 1 when a run fails or a check does.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]

    runs, medians, ok = {}, {}, True
    for k in range(a.sets):
        for w in names:
            seeds = range(a.first_seed + k * a.runs, a.first_seed + (k + 1) * a.runs)
            rs = runs.setdefault(w, [])
            for seed in seeds:
                res = run(w, seed, spec["run_seconds"])
                rs.append(dict(res, set=k + 1, seed=seed))
                if not res["correct"]:
                    ok = False
                    print(f"{w} seed {seed}: {res.get('failed', '?')} of {res.get('attempted', '?')} "
                          "outcomes wrong" if res["metrics"] else f"{w} seed {seed}: run failed",
                          file=sys.stderr)
            # a run with wrong outcomes still timed its work; one that threw did not
            good = [r for r in rs if r["set"] == k + 1 and r["metrics"]]
            print(f"== {w}, set {k + 1} (seeds {seeds.start}-{seeds.stop - 1}): "
                  f"{sum(r['correct'] for r in rs if r['set'] == k + 1)}/{a.runs} correct, "
                  f"{len(good)} with metrics")
            if len(good) < 2:
                ok = False
                continue
            for m in spec["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in good]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                verdict = ("ok" if spread < m["bound"] / 3 else
                           "within bound" if spread <= m["bound"] else "TOO WIDE")
                ok &= spread <= m["bound"]
                line = (f"  {m['name']:<20} median {med:12.3f} {m['unit']:<6} "
                        f"spread {spread:7.4f}  bound {m['bound']:.2f}  {verdict}")
                first = medians.get((w, m["name"]))
                if first is None:
                    medians[(w, m["name"])] = med
                else:
                    worse = (med - first if m["better"] == "lower" else first - med) / first
                    ok &= worse <= m["bound"]
                    line += (f"  | vs set 1: {'worse' if worse > 0 else 'better'} by "
                             f"{abs(worse):.4f} {'ok' if worse <= m['bound'] else 'TOO MUCH'}")
                print(line)
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    with open(os.path.join(BENCH, "target", "steadiness.json"), "w") as fh:
        json.dump(runs, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
