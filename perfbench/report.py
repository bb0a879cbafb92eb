#!/usr/bin/env python3
"""Print every metric of every workload, the traced layer breakdown and the
tracing overhead.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

For each workload it makes one untraced and one traced run through run.py,
prints the end-to-end metrics by name and unit, the per-layer metrics, the
tracing overhead (traced minus untraced end-to-end values) and the layer
checks below. By default it covers the workloads of BENCHMARK.json plus the
two that are kept out of the timed set (ingest_live, cdc_flaky). Run from
the root of the checkout; the JSON of every run is written to
perfbench/target/report.json.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
EXTRA = ["ingest_live", "cdc_flaky"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"{workload} trace={trace} printed no result: {p.stderr.strip()}")
    return json.loads(lines[-1])


def checks(w, e2e, layer):
    """Layer claims the benchmark's workloads were chosen for."""
    v = {k: m["value"] for k, m in layer["metrics"].items()}
    out = []
    parts = v["streaming.parts_sum_ms"]
    out.append(("streaming parts + driver_gap_ms = epoch time",
                abs(parts - v["streaming.epoch_sum_ms"]) < 1e-6 and v["streaming.driver_gap_ms"] >= 0,
                f"{parts:.0f} vs {v['streaming.epoch_sum_ms']:.0f} ms"))
    if w.startswith("cdc_"):
        out.append(("sink share of add_batch_ms", None, f"{v['sink.add_batch_share']:.3f}"))
        out.append(("route share of add_batch_ms", None, f"{v['route.add_batch_share']:.3f}"))
    if w == "cdc_live":
        out.append(("sink is the largest part of add_batch_ms",
                    v["sink.add_batch_share"] > max(v["route.add_batch_share"],
                                                    1 - v["sink.add_batch_share"] - v["route.add_batch_share"]),
                    f"sink {v['sink.add_batch_share']:.3f}"))
        out.append(("lifecycle reads 0",
                    all(v[k] == 0 for k in v if k.startswith("lifecycle.")), ""))
        out.append(("no duplicate acks", e2e["metrics"]["acks_per_delivery"]["value"] == 1.0, ""))
    if w == "cdc_backlog":
        out.append(("route.keep_ratio <= 0.001", v["route.keep_ratio"] <= 0.001,
                    f"{v['route.keep_ratio']:.5f}"))
    if w == "cdc_flaky":
        out.append(("lifecycle.replayed_epochs >= 1", v["lifecycle.replayed_epochs"] >= 1,
                    f"{v['lifecycle.replayed_epochs']:.0f}"))
    if w == "ingest_live":
        out.append(("gate_append_ms dominates the epoch", v["ingest.gate_append_share"] > 0.5,
                    f"share {v['ingest.gate_append_share']:.3f}"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    names = a.workloads.split(",") if a.workloads else (
        [w["name"] for w in spec["workloads"]] + EXTRA)

    report = {}
    ok = True
    for w in names:
        e2e, layer = run(w, a.seed, seconds, 0), run(w, a.seed, seconds, 1)
        report[w] = {"untraced": e2e, "traced": layer}
        print(f"== {w}  seed {a.seed}, {seconds} s: correct={e2e['correct']} "
              f"attempted={e2e['attempted']} failed={e2e['failed']}")
        ok &= e2e["correct"] and layer["correct"]
        if not (e2e["metrics"] and layer["metrics"]):
            continue
        print(f"  {'end-to-end metric':<24}{'untraced':>14}{'traced':>14}{'overhead':>12}  unit")
        for m in spec["end_to_end"]:
            u = e2e["metrics"][m["name"]]["value"]
            t = layer["metrics"]["traced." + m["name"]]["value"]
            print(f"  {m['name']:<24}{u:>14.3f}{t:>14.3f}{t - u:>12.3f}  {m['unit']}")
        print("  per-layer:")
        for k, m in layer["metrics"].items():
            if not k.startswith("traced.") and m["value"] != 0:
                print(f"    {k:<36}{m['value']:>16.3f}  {m['unit']}")
        for name, passed, detail in checks(w, e2e, layer):
            mark = "    " if passed is None else ("ok  " if passed else "FAIL")
            ok &= passed is not False
            print(f"  {mark} {name} {detail}")
    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    with open(os.path.join(BENCH, "target", "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
