#!/usr/bin/env python3
"""Render SHUFFLE_LEDGER.md from a `Probe time` sweep.

Usage:
    sbt -batch "runMain graft.tools.Probe time all /root/testdata/sf0.01 2" \
        2>&1 | tee /tmp/ledger.log
    python3 tools/shuffle_ledger.py /tmp/ledger.log [...more logs] > SHUFFLE_LEDGER.md

Reads every `{"probe":"time",...}` record (later files override earlier
ones for the same query, so an incremental re-probe of a few queries can
be appended as a second log). Per query it keeps the warm reps (rep 1 is
cold), reports their median wall time and the last warm rep's
shuffle-write MB, and emits the committed ledger table sorted by
descending shuffle-write bytes. A query with no warm rep (a sweep with
reps = 1) is an error. The table is the full-registry extension of
PipelineSpec's top-10 byte ceilings: the pins FAIL on regression, the
ledger makes every query's exchange width reviewable.
"""
import json
import statistics
import sys

runs = {}
for path in sys.argv[1:]:
    per_file = {}
    with open(path) as f:
        for line in f:
            # sbt prefixes forked-run stdout with nothing, but be lenient
            i = line.find('{"probe":"time"')
            if i < 0:
                continue
            r = json.loads(line[i:])
            per_file.setdefault(r["q"], []).append(r)
    runs.update(per_file)

if not runs:
    sys.exit("no `Probe time` records found")

sfs = {r["sf"] for recs in runs.values() for r in recs}
if len(sfs) != 1:
    sys.exit(f"expected one sf dir, got {sfs} — pass a single-sf sweep")
sf = sfs.pop()

rows = {}
for q, recs in runs.items():
    warm = sorted((r for r in recs if not r["cold"]), key=lambda r: r["rep"])
    if not warm:
        sys.exit(f"{q}: no warm rep — sweep with reps >= 2")
    rows[q] = {"q": q,
               "sec": statistics.median(r["wall_s"] for r in warm),
               "shuffleMB": warm[-1]["shuffle_write_mb"]}

ordered = sorted(rows.values(), key=lambda r: (-r["shuffleMB"], r["q"]))
total = sum(r["shuffleMB"] for r in ordered)
zero = sum(1 for r in ordered if r["shuffleMB"] < 0.005)

print(f"""# Shuffle-write ledger (full bench registry, {sf.rsplit('/', 1)[-1]})

The currency of a 100 TB run is bytes crossing exchanges — wall-time
noise masks a widened shuffle, bytes don't. This ledger records total
shuffle-WRITE bytes (`tools.ShuffleMeter`, task-metrics listener) and
warm wall time for every bench-registry query at {sf.rsplit('/', 1)[-1]},
median of the warm reps (bytes are rep-stable: same plan, same data; wall
times here are load-sensitive — BENCH_HISTORY.md is the timing ledger).

Regression teeth live in PipelineSpec: the heaviest queries are pinned
at ≤2× these bytes, and a new exchange in a pinned query fails the
suite. This file extends visibility to the whole registry so a review
can ask "why does THIS query shuffle at all?" line by line.

Regenerate:
```bash
sbt -batch "runMain graft.tools.Probe time all {sf} 2" 2>&1 | tee /tmp/ledger.log
python3 tools/shuffle_ledger.py /tmp/ledger.log > SHUFFLE_LEDGER.md
```

Queries: {len(ordered)} · total shuffle write: {total:.1f} MB ·
zero-shuffle (<5 KB): {zero}

| query | shuffle write (MB) | warm sec |
|---|---:|---:|""")
for r in ordered:
    print(f"| {r['q']} | {r['shuffleMB']:.2f} | {r['sec']:.3f} |")
