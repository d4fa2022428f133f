#!/usr/bin/env python3
"""Layer ledger: one traced and one untraced run per workload, same seed.

    python3 perfbench/ledger.py [--seed 1] [--seconds 14] > perfbench/LEDGER.md

Prints a markdown report: per workload, each op phase's self time and its
share of op wall time (the unattributed rest is the gap), the per-layer
counters, and the tracing overhead (untraced against traced ops/s).
"""
import argparse
import json
import subprocess
import sys
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PHASES = {
    "catalog-short": ["catalog.construct_s", "catalog.action_s"],
    "catalog-long": ["catalog.construct_s", "catalog.action_s"],
    "etl-cycles": ["etl.Extract.extractAll_s", "etl.Transforms.transformAll_s",
                   "etl.Load.loadAll_s", "etl.Load.upsertRow_s"],
}


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    return json.loads(next(l for l in out if l.startswith("report "))[len("report "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    args = ap.parse_args()
    print(f"## Measured ledger (seed {args.seed}, {args.seconds} s timed per run)\n")
    for w, phases in PHASES.items():
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        layers = traced["layers"]
        parts = {p: layers[p] for p in phases}
        parts["unattributed (gap)"] = layers["trace.unattributed_s"]
        wall = sum(parts.values())
        untraced = plain["end_to_end"]["ops_per_s"]
        overhead = 1 - layers["trace.ops_per_s"] / untraced
        print(f"### {w}\n")
        print(f"{traced['ops']} traced ops, {plain['ops']} untraced; "
              f"mean traced op wall {wall:.3f} s. Tracing overhead: "
              f"{untraced:.3f} ops/s untraced vs {layers['trace.ops_per_s']:.3f} traced "
              f"({overhead:+.1%} of the untraced rate).\n")
        print("| phase (self time per op) | s/op | share of op wall |")
        print("|---|---|---|")
        for p, v in parts.items():
            print(f"| `{p}` | {v:.4f} | {v / wall:.1%} |")
        print("\n| per-layer metric | value |")
        print("|---|---|")
        for k in sorted(layers):
            print(f"| `{k}` | {layers[k]:.6g} |")
        print("\nEnd to end (untraced): " + ", ".join(
            f"`{k}` {v:.4g}" for k, v in plain["end_to_end"].items())
              + f"; host {plain['host']}\n")


if __name__ == "__main__":
    main()
