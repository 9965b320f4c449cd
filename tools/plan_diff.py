#!/usr/bin/env python3
"""Diff two `graft.PlanDump` output directories, plan by plan.

Usage:
  python3 tools/plan_diff.py PARENT_DIR CHANGE_DIR [PARENT_DIR2]

Each directory holds one `<query>_<suffix>.txt` per query, as written by
`runMain graft.PlanDump <dir> <suffix> <query>...`. Before comparing, the
text is normalized so that two runs of the same plan compare equal:
expression ids (`#123`), RDD ids (`[12]`), source positions
(`File.scala:42`), shared-artifact names (`graft_shared_*`), `plan_id=N`,
JVM lambda class names and `@hex` object hashes are masked.

With a second parent directory, a query whose two parent runs differ is
reported as UNSTABLE, and the change's plan counts as unchanged when it
equals either parent run. Exits 1 if any query changed or is missing.
"""
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[\d+\](?= at )"), "[N]"),
    (re.compile(r"\b\w+\.(?:scala|java):\d+\b"), "FILE:N"),
    (re.compile(r"graft_shared_[\w-]+"), "graft_shared_X"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda[$/\w.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@HEX"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def load(d):
    plans = {}
    for name in os.listdir(d):
        if name.endswith(".txt"):
            query = name[:-4].rsplit("_", 1)[0]
            with open(os.path.join(d, name), encoding="utf-8") as f:
                plans[query] = normalize(f.read())
    return plans


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    parent, change = load(argv[1]), load(argv[2])
    parent2 = load(argv[3]) if len(argv) == 4 else None
    unstable = changed = 0
    for q in sorted(set(parent) | set(change)):
        if q not in parent or q not in change:
            print(f"MISSING  {q} (only in {'change' if q in change else 'parent'})")
            changed += 1
            continue
        runs = [parent[q]] + ([parent2[q]] if parent2 and q in parent2 else [])
        if len(set(runs)) > 1:
            print(f"UNSTABLE {q} (the two parent runs differ)")
            unstable += 1
        if change[q] not in runs:
            print(f"CHANGED  {q}")
            changed += 1
    same = len(change) - changed
    print(f"{same}/{len(set(parent) | set(change))} plans unchanged, "
          f"{changed} changed, {unstable} unstable")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
