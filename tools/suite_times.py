#!/usr/bin/env python3
"""Per-suite test times against the tier-1 timeout budget.

Usage:
    sbt -batch test
    python3 tools/suite_times.py [report_dir]

Reads the JUnit XML reports sbt writes (`target/test-reports/*.xml` by
default), prints one line per suite with its seconds and share of the
2670 s tier-1 `testOnly *` timeout, slowest first, then the total. Exits
1 when the total exceeds 80% of that budget, so a suite that keeps
growing is caught before the whole run times out with every test green.
Exits 2 when no report is found.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

BUDGET_S = 2670.0
LIMIT = 0.8


def suite_times(report_dir):
    times = {}
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            name = s.get("name") or os.path.basename(path)
            times[name] = times.get(name, 0.0) + float(s.get("time") or 0.0)
    return times


def main(argv):
    report_dir = argv[0] if argv else "target/test-reports"
    times = suite_times(report_dir)
    if not times:
        print(f"no JUnit XML reports under {report_dir}", file=sys.stderr)
        return 2
    width = max(len(n) for n in times)
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{name:<{width}}  {sec:9.1f} s  {sec / BUDGET_S:6.1%}")
    total = sum(times.values())
    share = total / BUDGET_S
    print(f"{'TOTAL':<{width}}  {total:9.1f} s  {share:6.1%} of "
          f"{BUDGET_S:.0f} s (limit {LIMIT:.0%})")
    if share > LIMIT:
        print(f"suite time {total:.0f} s is over {LIMIT:.0%} of the "
              f"{BUDGET_S:.0f} s budget", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
