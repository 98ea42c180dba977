"""Order-alternated A/B of ``perfbench/run.py`` between two checkouts.

Usage (from anywhere):

    python tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N \
        [--seconds 6] [--trace 0]

Pair ``i`` runs ``python3 perfbench/run.py --workload W --seed i`` once in
each checkout, each run in its own process with the checkout as its
working directory; even pairs run the parent first, odd pairs the change
first, so neither side always gets the warmer machine.  Only the last
line of each run's standard output is read: the JSON result.

For each end-to-end metric the report gives each side's median and
quartiles, how many pairs the change won (ties count for neither side),
and whether the claim rule holds: the change wins at least 9 of every 10
pairs, and its median beats the parent's by more than the parent's
interquartile range.  Which direction is better comes from the change's
``BENCHMARK.json`` (lower when a metric is not listed there).  Failed
operations are summed per side.  The last line printed is the whole
report as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {' '.join(cmd)} exited with code {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def compare(parent: list, change: list, lower_is_better: bool) -> dict:
    """The claim-rule summary of one metric over paired runs."""
    sign = 1 if lower_is_better else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (p - c) < 0 for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gain = sign * (pq[1] - cq[1])
    return {
        "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
        "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
        "change_vs_parent": cq[1] / pq[1] - 1 if pq[1] else None,
        "wins": wins,
        "losses": losses,
        "pairs": len(parent),
        "claim_holds": wins * 10 >= 9 * len(parent) and gain > pq[2] - pq[0],
    }


def directions(checkout: str) -> dict:
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m.get("better", "lower") == "lower" for m in spec.get("end_to_end", [])}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent_dir")
    p.add_argument("change_dir")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sides = {"parent": os.path.abspath(args.parent_dir),
             "change": os.path.abspath(args.change_dir)}
    runs = {"parent": [], "change": []}
    for seed in range(args.pairs):
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_once(sides[side], args.workload, seed,
                                       args.seconds, args.trace))
        values = {s: {m: v["value"] for m, v in runs[s][-1]["metrics"].items()}
                  for s in runs}
        print(f"pair {seed} ({order[0]} first): {json.dumps(values)}", flush=True)

    lower = directions(sides["change"])
    metrics = [m for m in runs["parent"][0]["metrics"] if m in runs["change"][0]["metrics"]]
    report = {"workload": args.workload, "metrics": {}, "failed": {}, "attempted": {}}
    for side in runs:
        report["failed"][side] = sum(r["failed"] for r in runs[side])
        report["attempted"][side] = sum(r["attempted"] for r in runs[side])
    for m in metrics:
        summary = compare([r["metrics"][m]["value"] for r in runs["parent"]],
                          [r["metrics"][m]["value"] for r in runs["change"]],
                          lower.get(m, True))
        report["metrics"][m] = summary
        pq, cq = summary["parent"], summary["change"]
        print(f"{m:18s} parent {pq['median']:.4f} [{pq['q1']:.4f}, {pq['q3']:.4f}]  "
              f"change {cq['median']:.4f} [{cq['q1']:.4f}, {cq['q3']:.4f}]  "
              f"wins {summary['wins']}/{summary['pairs']}  "
              f"claim {'holds' if summary['claim_holds'] else 'does not hold'}")
    for side in runs:
        print(f"{side} failed {report['failed'][side]}/{report['attempted'][side]} operations")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
