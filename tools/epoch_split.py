#!/usr/bin/env python3
"""Split each CDC epoch of a traced perfbench run into its driver and sink parts.

Reads the spans file a `--trace 1` run writes
(`perfbench/target/work/spans/<workload>-seed<n>.jsonl`) and prints, over
the epochs from `--from` on (default 12, the end of the CDC warm-up), the
median of each part of an epoch's `addBatch`:

  before_job    addBatch start -> the epoch's first job start (driver time)
  to_first_post first stage start -> first POST arrival at the stub
  sink          first POST arrival -> last acknowledgement
  after_ack     last acknowledgement -> the epoch's last job end

plus the epoch itself (trigger start -> offset commit), addBatch, and
`driver`: the epoch's driver time before its first job, getBatch +
queryPlanning + before_job. An epoch without a job or without an
acknowledged POST is counted and left out of the parts it lacks.

    python3 tools/epoch_split.py perfbench/target/work/spans/cdc_live-seed7.jsonl
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def split(lines, first_epoch):
    spans = defaultdict(lambda: defaultdict(list))
    for line in lines:
        if line.strip():
            s = json.loads(line)
            kind = s["name"].rstrip("0123456789") if s["layer"] == "spark" else s["name"]
            spans[s["epoch"]][kind].append((s["start_ms"], s["end_ms"]))
    parts = defaultdict(list)
    for epoch in sorted(e for e in spans if e >= first_epoch):
        sp = spans[epoch]
        if not sp["epoch"] or not sp["addBatch"]:
            continue
        (t0, t1), = sp["epoch"]
        (a0, a1), = sp["addBatch"]
        parts["epoch"].append(t1 - t0)
        parts["add_batch"].append(a1 - a0)
        jobs, stages, acks = sp["job"], sp["stage"], sp["ack"]
        if not jobs:
            parts["no_job"].append(epoch)
            continue
        parts["before_job"].append(min(j[0] for j in jobs) - a0)
        parts["driver"].append(parts["before_job"][-1] + sum(
            e - s for k in ("getBatch", "queryPlanning") for s, e in sp[k]))
        if not acks:
            parts["no_ack"].append(epoch)
            continue
        first_post = min(p[0] for p in acks + sp["reject"])
        last_ack = max(p[1] for p in acks)
        if stages:
            parts["to_first_post"].append(first_post - min(s[0] for s in stages))
        parts["sink"].append(last_ack - first_post)
        parts["after_ack"].append(max(j[1] for j in jobs) - last_ack)
    return parts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans", help="a perfbench spans .jsonl file")
    ap.add_argument("--from", dest="first", type=int, default=12,
                    help="first epoch counted (default 12: after the CDC warm-up)")
    args = ap.parse_args()
    with open(args.spans) as f:
        parts = split(f, args.first)
    if not parts["epoch"]:
        sys.exit(f"no epoch >= {args.first} in {args.spans}")
    print(f"{args.spans}: {len(parts['epoch'])} epochs from {args.first}")
    for name in ("epoch", "add_batch", "before_job", "to_first_post", "sink", "after_ack",
                 "driver"):
        xs = parts[name]
        if xs:
            print(f"  {name:<14} p50 {statistics.median(xs):8.1f} ms  (n={len(xs)})")
    for name in ("no_job", "no_ack"):
        if parts[name]:
            print(f"  {len(parts[name])} epochs {name.replace('_', ' ')}: {parts[name][:10]}")


if __name__ == "__main__":
    main()
