#!/usr/bin/env python3
"""Compare two plans.json dumps (written by graft.Verify) key by key.

Usage: python3 scripts/plandiff.py A/plans.json B/plans.json

Each dump maps a declared key to the optimized logical plan of the
relation Verify wrote. Expression ids (`#123`) and the counters Spark
appends to lambda variable names (`x_42`) depend on how many
expressions the session built before, so both are masked before the
compare. So are the group numbering and the column order of Spark's
distinct-aggregate rewrite (the `gid` Expand under `countDistinct`),
which follow hash order and differ between sessions. Prints every key
added in B, removed from A, or whose masked plan changed (with the
first differing line of each side). Exits 0 when every key's masked
plan is identical, 1 on any difference, 2 on bad usage.
"""
import json
import re
import sys

EXPR_ID = re.compile(r"#\d+L?")
LAMBDA_VAR = re.compile(r"\b(lambda [A-Za-z]+)_\d+\b")
GID = re.compile(r"gid#\d+")
GID_TEST = re.compile(r"\b(gid#\d+) = (\d+)\b")
EXPAND = re.compile(r"Expand \[(.*)\], \[([^\]]*)\]")


def split_top(s):
    """Splits `s` on the commas outside any brackets."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out + [s[start:].strip()]


def top_lists(line):
    """(start, end) of each outermost `[...]` list in `line`."""
    spans, depth, start = [], 0, 0
    for i, c in enumerate(line):
        if c in "([":
            if depth == 0 and c == "[":
                start = i
            depth += 1
        elif c in ")]":
            depth -= 1
            if depth == 0 and c == "]":
                spans.append((start, i + 1))
    return spans


def mask_gids(plan):
    """Canonical form of Spark's distinct-aggregate rewrite, whose group
    numbering and column order follow hash order and so differ between
    sessions: each rewrite's `gid` literals are renumbered by first use,
    the lists that carry its `gid` column are sorted, and its Expand
    rows are sorted by the new numbers."""
    gids = {g for m in EXPAND.finditer(plan) for g in split_top(m[2])
            if GID.fullmatch(g)}
    if not gids:
        return plan
    order = {}
    for gid, n in GID_TEST.findall(plan):
        if gid in gids:
            order.setdefault(gid, {}).setdefault(n, len(order[gid]))
    plan = GID_TEST.sub(lambda m: f"{m[1]} = g{order[m[1]][m[2]]}"
                        if m[1] in order else m[0], plan)

    def key(item):
        return EXPR_ID.sub("#N", item)

    def expand(m):
        outputs = split_top(m[2])
        gid = next((g for g in outputs if g in gids), None)
        if gid is None:
            return m[0]
        cols = sorted(range(len(outputs)), key=lambda i: key(outputs[i]))
        at = [outputs[i] for i in cols].index(gid)
        rows = [[r[i] for i in cols]
                for r in (split_top(r[1:-1]) for r in split_top(m[1]))]
        renum = order.get(gid, {})
        for r in rows:
            r[at] = f"g{renum.get(r[at], r[at])}"
        rows.sort(key=lambda r: (len(r[at]), r[at]))
        body = ", ".join("[" + ", ".join(r) + "]" for r in rows)
        return f"Expand [{body}], [{', '.join(outputs[i] for i in cols)}]"

    lines = []
    for line in plan.splitlines():
        if EXPAND.search(line):
            line = EXPAND.sub(expand, line)
        else:
            for a, b in reversed(top_lists(line)):
                items = split_top(line[a + 1:b - 1])
                if gids & set(items):
                    line = line[:a] + "[" + ", ".join(sorted(items, key=key)) + "]" + line[b:]
        lines.append(line)
    return "\n".join(lines)


def mask(plan):
    return LAMBDA_VAR.sub(r"\1_N", EXPR_ID.sub("#N", mask_gids(plan)))


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
