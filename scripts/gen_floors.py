#!/usr/bin/env python3
"""Regenerate scripts/bench_floors.tsv from bench captures: per (sf,
query), the minimum over every capture's min-of-2.

Usage: gen_floors.py [DIR ...]  (default: newest bench_captures/rN dir)
       gen_floors.py --selftest (unit-check the note arithmetic)

A capture is either a committed `bench_<sf>_<n>.json` or a record that
Bench writes itself, `<sf>-<epoch>.json` (as under target/bench). When
no capture is found the script exits non-zero and leaves the tsv as it
is: an empty floor set would turn Bench's floor gate off.

Run this whenever the capture set changes — Bench's floor gate compares
each live min-of-2 against these floors (>2x is re-timed, and fails if
it stays over), so floors from a retired slower tree would mask
regressions. Keep them in the same commit as the captures.

The raise note in the header diffs against the LAST ROUND's committed
tsv (the newest `round N:` driver commit), NOT the on-disk file: an
intra-round double regeneration used to compare the second run against
the first and wash out the reset signal (r16 verdict note 1).
"""
import json, glob, os, re, subprocess, sys, collections


def parse_tsv(text):
    """tsv text -> {(sf, query): floor} (header/blank lines skipped)."""
    prev = {}
    for line in text.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        parts = line.rstrip("\n").split("\t")
        if len(parts) == 3:
            try:
                prev[(parts[0], parts[1])] = float(parts[2])
            except ValueError:
                pass
    return prev


def raise_note(prev, floors, baseline_label):
    """The header note: how many floors ROSE vs the baseline set, and
    the worst ratio. Pure so --selftest can pin the arithmetic."""
    raised, worst = 0, 0.0
    for sf in floors:
        for q, t in floors[sf].items():
            p0 = prev.get((sf, q))
            if p0 and p0 > 0 and t > p0:
                raised += 1
                worst = max(worst, t / p0)
    if raised:
        return (f"{raised} floors raised vs {baseline_label} "
                f"(worst x{worst:.2f})")
    return f"no floors raised vs {baseline_label}"


def committed_baseline():
    """The last round's committed floors: scripts/bench_floors.tsv as of
    the newest driver round-boundary commit (message `round N: ...`).
    Falls back to the on-disk file (first round / no such commit), then
    to empty."""
    try:
        log = subprocess.run(
            ["git", "log", "--format=%H %s"],
            capture_output=True, text=True, check=True).stdout
        sha = next(l.split()[0] for l in log.splitlines()
                   if re.match(r"^[0-9a-f]+ round \d+:", l))
        txt = subprocess.run(
            ["git", "show", f"{sha}:scripts/bench_floors.tsv"],
            capture_output=True, text=True, check=True).stdout
        return parse_tsv(txt), f"committed set @{sha[:7]}"
    except Exception:
        if os.path.exists("scripts/bench_floors.tsv"):
            return (parse_tsv(open("scripts/bench_floors.tsv").read()),
                    "on-disk set (no round commit found)")
        return {}, "empty baseline"


def capture_sf(path):
    """The sf key of a capture file, or None for any other file:
    bench_0.01_2.json -> sf0.01, sf0.01-1760000000.json -> sf0.01."""
    name = os.path.basename(path)
    m = re.fullmatch(r"bench_(.+)_\d+\.json", name)
    if m:
        return "sf" + m.group(1)
    m = re.fullmatch(r"(sf.+)-\d+\.json", name)
    return m.group(1) if m else None


def collect_floors(dirs):
    """({sf: {query: min seconds}}, number of captures read)."""
    floors = collections.defaultdict(dict)
    n = 0
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "*.json"))):
            sf = capture_sf(p)
            if sf is None:
                continue
            with open(p) as f:
                cap = json.load(f)
            n += 1
            for q, t in cap["queries"].items():
                if q not in floors[sf] or t < floors[sf][q]:
                    floors[sf][q] = t
    return floors, n


def selftest():
    # raise counting: only strictly-higher floors count; worst is a ratio
    prev = {("sf0.1", "q1"): 1.0, ("sf0.1", "q2"): 2.0,
            ("sf0.01", "q1"): 0.5}
    floors = {"sf0.1": {"q1": 1.5, "q2": 2.0, "q3": 9.9},
              "sf0.01": {"q1": 0.25}}
    note = raise_note(prev, floors, "BASE")
    assert note == "1 floors raised vs BASE (worst x1.50)", note
    # no raises -> the quiet form
    note2 = raise_note(prev, {"sf0.1": {"q1": 0.9}}, "BASE")
    assert note2 == "no floors raised vs BASE", note2
    # zero/missing baselines never divide or count
    note3 = raise_note({("sf0.1", "q1"): 0.0}, {"sf0.1": {"q1": 5.0}}, "B")
    assert note3 == "no floors raised vs B", note3
    # both capture namings map to the tsv's sf key; other files are skipped
    assert capture_sf("x/bench_0.01_2.json") == "sf0.01"
    assert capture_sf("target/bench/sf0.01-1760000000.json") == "sf0.01"
    assert capture_sf("x/notes.json") is None
    # parse round-trips the emitted row format
    assert parse_tsv("# h\nsf0.1\tq1\t1.250\n") == {("sf0.1", "q1"): 1.25}
    # the baseline resolver anchors on a `round N:` commit when one
    # exists (this repo always has one after round 1)
    _, label = committed_baseline()
    assert label.startswith("committed set @") or "baseline" in label \
        or "on-disk" in label, label
    print("gen_floors selftest OK")


if __name__ == "__main__" and len(sys.argv) > 1 and sys.argv[1] == "--selftest":
    selftest()
    sys.exit(0)

if len(sys.argv) > 1:
    dirs = sys.argv[1:]  # several dirs -> minima across ALL of them
else:
    rounds = sorted(glob.glob("bench_captures/r*"),
                    key=lambda p: int(re.search(r"r(\d+)$", p).group(1)))
    if not rounds:
        sys.exit("no bench_captures/r* directory")
    dirs = [rounds[-1]]

floors, n = collect_floors(dirs)
if n == 0:
    sys.exit(f"no captures in {'+'.join(dirs)}; scripts/bench_floors.tsv "
             "left unchanged")

# floor-reset visibility (r15 ADVICE + r16 verdict): a regeneration that
# RAISES floors (slower box, or a genuinely slower tree) must be visible
# cumulatively — diff against the last ROUND's committed tsv and stamp
# the raise summary into the header, which Bench quotes verbatim into
# every floor_gate record
prev, baseline_label = committed_baseline()
reset_note = raise_note(prev, floors, baseline_label)

lines = [
    "# per-query committed bench floors: sf<TAB>query<TAB>"
    f"min-over-committed-captures ({'+'.join(dirs)}); {reset_note}",
    "# regenerated alongside the captures (scripts/gen_floors.py; pass "
    "several capture dirs for cross-round minima); Bench re-times any "
    "query whose min-of-2 exceeds 2x its floor",
]
for sf in sorted(floors):
    for q in sorted(floors[sf]):
        lines.append(f"{sf}\t{q}\t{floors[sf][q]:.3f}")
open("scripts/bench_floors.tsv", "w").write("\n".join(lines) + "\n")
print(f"{sum(len(v) for v in floors.values())} floors from {n} captures "
      f"in {'+'.join(dirs)}; {reset_note}")
