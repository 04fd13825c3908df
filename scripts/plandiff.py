#!/usr/bin/env python3
"""Compare two plans.json dumps (written by graft.Verify) key by key.

Usage: python3 scripts/plandiff.py A/plans.json B/plans.json

Each dump maps a declared key to the optimized logical plan of the
relation Verify wrote. Expression ids (`#123`) and the counters Spark
appends to lambda variable names (`x_42`) depend on how many
expressions the session built before, so both are masked before the
compare. Prints every key added in B, removed from A, or whose masked
plan changed (with the first differing line of each side). Exits 0
when every key's masked plan is identical, 1 on any difference, 2 on
bad usage.
"""
import json
import re
import sys

EXPR_ID = re.compile(r"#\d+L?")
LAMBDA_VAR = re.compile(r"\b(lambda [A-Za-z]+)_\d+\b")


def mask(plan):
    return LAMBDA_VAR.sub(r"\1_N", EXPR_ID.sub("#N", plan))


def first_diff_line(a, b):
    la, lb = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(la, lb)):
        if x != y:
            return i, x, y
    n = min(len(la), len(lb))
    return n, (la[n] if n < len(la) else "<end>"), (lb[n] if n < len(lb) else "<end>")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = {k: mask(v) for k, v in json.load(f).items()}
    with open(argv[2]) as f:
        b = {k: mask(v) for k, v in json.load(f).items()}
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = sorted(k for k in set(a) & set(b) if a[k] != b[k])
    for k in added:
        print(f"ADDED    {k}")
    for k in removed:
        print(f"REMOVED  {k}")
    for k in changed:
        line, x, y = first_diff_line(a[k], b[k])
        print(f"CHANGED  {k} @line {line}")
        print(f"    A: {x.strip()[:160]}")
        print(f"    B: {y.strip()[:160]}")
    same = len(set(a) & set(b)) - len(changed)
    print(f"{same} identical, {len(changed)} changed, "
          f"{len(added)} added, {len(removed)} removed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
