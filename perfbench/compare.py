#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark's end-to-end metrics.

    python3 perfbench/compare.py run --parent DIR --change DIR --pairs 10 --out pairs.jsonl
    python3 perfbench/compare.py report pairs.jsonl

`run` makes alternating runs: in pair i, both sides run every workload with
the same seed, and which side goes first alternates between pairs. Each side
runs its own perfbench/run.py from its own checkout, with the run length
from BENCHMARK.json. Every result is appended to the output file as it
arrives.

`report` prints, per end-to-end metric and workload, each side's median and
quartiles, the change's win fraction over the pairs, and a verdict:
  improved    over at least ten pairs, the change wins at least 9/10 of
              them (ties count for neither) and the medians differ by more
              than the parent's quartile spread;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's quartile spread is wider than the bound, unless
              every change run reads better than every parent run;
  unchanged   otherwise.
A gain is void when the change fails more operations than the parent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_spec():
    with open(SPEC) as fh:
        return json.load(fh)


def run_pairs(args):
    spec = load_spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                    proc = subprocess.run(cmd, cwd=sides[side], stdout=subprocess.PIPE, text=True)
                    lines = proc.stdout.strip().splitlines()
                    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
                    out.write(json.dumps({"pair": i, "side": side, "workload": w, "seed": seed,
                                          "result": result}) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side}: {'ok' if result else 'FAILED'}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, wins, pairs, better, bound):
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (mc - mp) / mp
    if pairs >= 10 and wins >= 0.9 * pairs and abs(mc - mp) > q3 - q1 and worse_by < 0:
        return "improved"
    if worse_by > bound:
        return "worse"
    every_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if (q3 - q1) / mp > bound and not every_better:
        return "unresolved"
    return "unchanged"


def report(args):
    spec = load_spec()
    with open(args.results) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    by = {}
    for r in rows:
        by.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r["result"]
    print(f"{'workload':15} {'metric':26} {'parent median [q1, q3]':34} "
          f"{'change median [q1, q3]':34} {'wins':>7}  verdict")
    for w, pairs in sorted(by.items()):
        both = {i: p for i, p in pairs.items() if p.get("parent") and p.get("change")}
        failed = {s: sum(p[s]["failed"] for p in both.values()) for s in ("parent", "change")}
        for m in spec["end_to_end"]:
            name = m["name"]
            vals = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                    for p in both.values()
                    if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
            if not vals:
                continue
            parent, change = [v[0] for v in vals], [v[1] for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for p, c in vals if sign * (c - p) < 0)
            v = verdict(parent, change, wins, len(vals), m["better"], m["bound"])
            if v == "improved" and failed["change"] > failed["parent"]:
                v = "void (more failures)"
            cells = []
            for xs in (parent, change):
                q1, q3 = quartiles(xs)
                cells.append(f"{statistics.median(xs):.6g} [{q1:.6g}, {q3:.6g}]")
            print(f"{w:15} {name:26} {cells[0]:34} {cells[1]:34} {wins:>3}/{len(vals):<3}  {v}")
        incomplete = len(pairs) - len(both)
        print(f"{w:15} failed operations: parent {failed['parent']}, change {failed['change']}"
              + (f"; {incomplete} pair(s) with a failed run left out" if incomplete else ""))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="make alternating parent/change runs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000, help="seed of the first pair")
    r.add_argument("--workloads", help="comma-separated subset (default: all)")
    r.add_argument("--out", required=True, help="JSON-lines file the results are appended to")
    q = sub.add_parser("report", help="print medians, quartiles, win fractions and verdicts")
    q.add_argument("results")
    args = p.parse_args()
    if args.cmd == "run":
        run_pairs(args)
    else:
        report(args)


if __name__ == "__main__":
    main()
