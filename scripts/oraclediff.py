#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps key by key.

Usage: python3 scripts/oraclediff.py A/oracle_sql.json B/oracle_sql.json

Prints every key added in B, removed from A, or whose oracle text
changed (with the offset of the first differing character and a short
excerpt of both sides there). Exits 0 when the two dumps are
byte-identical key for key, 1 on any difference, 2 on bad usage.
"""
import json
import sys


def first_diff(a, b):
    n = min(len(a), len(b))
    for i in range(n):
        if a[i] != b[i]:
            return i
    return n


def excerpt(s, at, width=40):
    return repr(s[max(0, at - 10):at + width])


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = sorted(k for k in set(a) & set(b) if a[k] != b[k])
    for k in added:
        print(f"ADDED    {k}")
    for k in removed:
        print(f"REMOVED  {k}")
    for k in changed:
        at = first_diff(a[k], b[k])
        print(f"CHANGED  {k} @{at}")
        print(f"    A: {excerpt(a[k], at)}")
        print(f"    B: {excerpt(b[k], at)}")
    same = len(set(a) & set(b)) - len(changed)
    print(f"{same} identical, {len(changed)} changed, "
          f"{len(added)} added, {len(removed)} removed")
    return 1 if added or removed or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
