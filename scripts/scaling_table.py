#!/usr/bin/env python3
"""Regenerate SCALING.md's per-query table from captured bench JSONs.

Usage: scaling_table.py <dir-with-bench_{sf}_{i}.json> — prints the
markdown table (min over runs per scale factor, queries >= 0.5 s at
sf0.1, sorted by sf0.1 descending) plus the totals row and headline
numbers. The prose around the table stays hand-maintained.
"""
import json, sys, glob, collections

d = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaling"
mins = {}  # sf -> {q: min}
gates = {}  # sf -> [floor_gate dicts per capture]
for sf in ("0.001", "0.01", "0.1"):
    runs = []
    for p in sorted(glob.glob(f"{d}/bench_{sf}_*.json")):
        rec = json.load(open(p))
        runs.append(rec["queries"])
        if "floor_gate" in rec:
            gates.setdefault(sf, []).append(rec["floor_gate"])
    if not runs:
        sys.exit(f"no bench_{sf}_*.json captures under {d}")
    agg = {}
    for q in set().union(*runs):  # union, not runs[0] — captures may differ
        agg[q] = min(r[q] for r in runs if q in r)
    mins[sf] = agg

# per-SF floor gates: every capture at every scale factor carries Bench's
# floor_gate block (ok, re-time rounds, worst best/floor ratio); print
# them so a capture with queries still over 2x their floor is visible at
# any sf, not just sf0.1
print("per-SF floor gates (ok/rounds/max_vs_floor per capture):")
for sf in ("0.001", "0.01", "0.1"):
    gs = gates.get(sf, [])
    if not gs:
        print(f"  sf{sf}: NO floor_gate blocks (pre-r15 captures?)")
    else:
        desc = ", ".join(
            f"ok={g['ok']} r={g['rounds']} max={g['max_vs_floor']}"
            for g in gs)
        print(f"  sf{sf}: {desc}")
print()

qs = sorted(mins["0.1"], key=lambda q: -mins["0.1"][q])
missing = [q for q in qs
           if q not in mins["0.001"] or q not in mins["0.01"]]
if missing:  # no silent coverage claims (the no-silent-caps rule)
    print(f"DROPPED (not in every scale factor's captures): {missing}")
rows = [q for q in qs
        if mins["0.1"][q] >= 0.5 and q not in missing]
print("| query | sf0.001 | sf0.01 | sf0.1 | sf0.01→sf0.1 (10× data) |")
print("|---|---|---|---|---|")
for q in rows:
    a, b, c = mins["0.001"][q], mins["0.01"][q], mins["0.1"][q]
    print(f"| {q} | {a:.2f} | {b:.2f} | {c:.2f} | ×{c/b:.1f} |")
common = [q for q in mins["0.1"] if q not in missing]
n = len(common)
ta = sum(mins["0.001"][q] for q in common)
tb = sum(mins["0.01"][q] for q in common)
tc = sum(mins["0.1"][q] for q in common)
print(f"| total ({n} queries, min-of-run sums) | {ta:.1f} | {tb:.1f} "
      f"| {tc:.1f} | ×{tc/tb:.2f} |")
print()
print(f"HEADLINE: 10x = x{tc/tb:.2f} total ({tb:.1f} s -> {tc:.1f} s, "
      f"{n} queries)")
new = [q for q in qs if q not in missing and
       int(''.join(ch for ch in q[1:4] if ch.isdigit())) >= 217]
print("new-query ratios:",
      {q: round(mins['0.1'][q] / mins['0.01'][q], 1) for q in new
       if mins['0.01'][q] > 0})
