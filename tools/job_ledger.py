#!/usr/bin/env python3
"""Job ledger: diff the per-query Spark counts of two graft.Bench captures.

Usage: python3 tools/job_ledger.py BEFORE.json AFTER.json

Both files are `BENCH_local.json` or `BENCH_local_partial.json` captures.
Each entry of a capture's `trials` carries that trial's `executions` (SQL
executions), `jobs` and `stages`; when both captures have them, the ledger
compares the last successful trial of each query, so both sides count the
same steady state whichever trial was fastest. A capture made before trials
carried counts falls back to `layers`, the fastest successful trial's
counts, for both sides, and the ledger says so: gates that stage their
input once per JVM count one more execution and more jobs when trial 1 won.
These counts depend on the code and the data, not on the box's load, so
one capture per side is enough to show that a change added no job.

Prints every query whose count grew, then a one-line summary. A query
missing from either side (a query that failed every trial, or a capture
made before the split existed) is listed as skipped.
Exit status: 1 if any count grew, 0 otherwise, 2 on a usage error.
"""
import json
import sys

COUNTS = ("executions", "jobs", "stages")


def last_ok_trials(capture):
    """Per query, the last successful trial's entry, or None when the
    capture's trials carry no counts."""
    trials = capture.get("trials") or {}
    entries = [t for ts in trials.values() for t in ts]
    if not entries or any("jobs" not in t for t in entries):
        return None
    last = {}
    for q, ts in trials.items():
        ok = [t for t in ts if t.get("ok")]
        if ok:
            last[q] = ok[-1]
    return last


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    captures = []
    for path in argv[1:]:
        with open(path) as f:
            captures.append(json.load(f))
    before, after = (last_ok_trials(c) for c in captures)
    if before is None or after is None:
        before, after = ((c.get("layers") or {}) for c in captures)
        print("counts from `layers` (the fastest trial; a capture has no "
              "per-trial counts): gates that stage input once per JVM count "
              "more where trial 1 was fastest")
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
        print(f"skipped (no counts on one side): {', '.join(skipped)}")
    print(f"{len(names) - len(skipped)} queries compared, {len(grew)} grew; "
          + ", ".join(f"{c} {x} -> {y}" for c, (x, y) in totals.items()))
    return 1 if grew else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
