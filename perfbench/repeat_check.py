#!/usr/bin/env python3
"""Checks that the Spark counts of a workload repeat exactly across two
traced runs of the same code (same workload, same seed).

    python3 perfbench/repeat_check.py --workload queries --seed 1 [--seconds 10]

Run from the repository root. Exits 1 and names each count that differs.
"""

import argparse
import json
import subprocess
import sys

# Per-layer metrics that are counts of work, not times: a change in any of
# them between two runs of one commit means the count is not reproducible.
COUNT_SUFFIXES = (".jobs", ".stages", ".tasks", ".tasks_failed", ".rows_out",
                  "ml.train_jobs")


def counts(metrics):
    return {k: v["value"] for k, v in metrics.items()
            if k.endswith(COUNT_SUFFIXES)}


def differences(a, b):
    ca, cb = counts(a), counts(b)
    return sorted(k for k in set(ca) | set(cb) if ca.get(k) != cb.get(k))


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    diff = differences(a, b)
    for k in diff:
        print(f"{k}: {a.get(k, {}).get('value')} != {b.get(k, {}).get('value')}")
    print(json.dumps({"workload": args.workload, "counts": len(counts(a)),
                      "differing": len(diff)}))
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
