#!/usr/bin/env python3
"""Job ledger: diff the per-query Spark counts of two graft.Bench captures.

Usage: python3 tools/job_ledger.py BEFORE.json AFTER.json

Both files are `BENCH_local.json` or `BENCH_local_partial.json` captures.
Their `layers` map holds, per query, the fastest successful trial's
`executions` (SQL executions), `jobs` and `stages`. These counts depend on
the code and the data, not on the box's load, so one capture per side is
enough to show that a change added no job.

Prints every query whose count grew, then a one-line summary. A query
missing from either side's `layers` (a capture made before the split
existed, or a query that failed every trial) is listed as skipped.
Exit status: 1 if any count grew, 0 otherwise, 2 on a usage error.
"""
import json
import sys

COUNTS = ("executions", "jobs", "stages")


def layers(path):
    with open(path) as f:
        return json.load(f).get("layers") or {}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = layers(argv[1]), layers(argv[2])
    names = sorted(set(before) | set(after))
    grew, skipped, totals = [], [], {c: [0, 0] for c in COUNTS}
    for q in names:
        b, a = before.get(q), after.get(q)
        if b is None or a is None:
            skipped.append(q)
            continue
        for c in COUNTS:
            totals[c][0] += b.get(c, 0)
            totals[c][1] += a.get(c, 0)
        up = [(c, b.get(c, 0), a.get(c, 0)) for c in COUNTS
              if a.get(c, 0) > b.get(c, 0)]
        if up:
            grew.append(q)
            print(f"GREW {q}: " + ", ".join(f"{c} {x} -> {y}" for c, x, y in up))
    if skipped:
        print(f"skipped (no layers on one side): {', '.join(skipped)}")
    print(f"{len(names) - len(skipped)} queries compared, {len(grew)} grew; "
          + ", ".join(f"{c} {x} -> {y}" for c, (x, y) in totals.items()))
    return 1 if grew else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
