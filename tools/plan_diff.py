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

Spark's distinct-aggregate rewrite numbers its `Expand` projections in an
order that varies from JVM to JVM (q99, q113, q114 and q130 carry one),
and the column order and `gid` literals of every node above the `Expand`
follow that order. Each such `Expand` is rewritten into one canonical order
first: its distinct columns sorted by name, its projections re-numbered
to match, and the same permutation applied to the rest of the plan.

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


EXPAND = re.compile(r"^Arguments: \[(\[.*\])\], \[([^\[\]]*, (gid#\d+))\]$", re.M)
ID = re.compile(r"#\d+L?")


def canonical_expand(text, gid):
    """`text` with the distinct-aggregate `Expand` that outputs `gid` put in
    canonical order; unchanged if its Arguments line does not parse."""
    m = next(m for m in EXPAND.finditer(text) if m.group(3) == gid)
    projs = [p.split(", ") for p in m.group(1)[1:-1].split("], [")]
    out = m.group(2).split(", ")
    if any(len(p) != len(out) or not p[-1].isdigit() for p in projs):
        return text
    cols = [i for i in range(len(out) - 1) if any(p[i] == "null" for p in projs)]
    names = [ID.sub("", out[i]) for i in cols]
    if not cols or cols != list(range(cols[0], cols[-1] + 1)) or len(set(names)) < len(names):
        return text
    order = [cols[k] for k in sorted(range(len(cols)), key=names.__getitem__)]
    perm = list(range(cols[0])) + order + list(range(cols[-1] + 1, len(out)))
    projs = sorted(([p[i] for i in perm] for p in projs),
                   key=lambda p: ID.sub("", ", ".join(p[:-1])))
    renumber = dict(zip((p[-1] for p in projs), sorted(p[-1] for p in projs)))
    line = "Arguments: [%s], [%s]" % (
        ", ".join("[%s]" % ", ".join(p[:-1] + [renumber[p[-1]]]) for p in projs),
        ", ".join(out[i] for i in perm))
    text = text[:m.start()] + line + text[m.end():]
    run = re.escape(", ".join(out[i] for i in cols)) + r"(?![\dL])"
    text = re.sub(run, ", ".join(out[i] for i in order), text)
    return re.sub(re.escape(gid) + r" = (\d+)\b",
                  lambda g: "%s = %s" % (gid, renumber.get(g.group(1), g.group(1))), text)


def normalize(text):
    for gid in [m.group(3) for m in EXPAND.finditer(text)]:
        text = canonical_expand(text, gid)
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
