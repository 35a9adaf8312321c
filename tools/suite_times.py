#!/usr/bin/env python3
"""Per-suite wall time of the last sbt test run.

Reads the JUnit XML reports sbt leaves in target/test-reports
(TEST-<suite>.xml), prints each suite's `time` slowest first, and the total
against the tier-1 budget (the `timeout` the tier-1 command runs under).

Usage:
  python3 tools/suite_times.py [--reports target/test-reports]
                               [--budget 2670] [--prefix graft.sources.]
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

ap = argparse.ArgumentParser()
ap.add_argument("--reports", default="target/test-reports",
                help="directory holding the TEST-*.xml reports")
ap.add_argument("--budget", type=float, default=2670.0,
                help="tier-1 time budget in seconds")
ap.add_argument("--prefix", default="",
                help="only list suites whose name starts with this")
args = ap.parse_args()

suites = []
for path in glob.glob(os.path.join(args.reports, "TEST-*.xml")):
    ts = ET.parse(path).getroot()  # sbt writes one <testsuite> per file
    suites.append((float(ts.get("time", 0)), ts.get("name"),
                   int(ts.get("tests", 0)),
                   int(ts.get("failures", 0)) + int(ts.get("errors", 0))))
if not suites:
    sys.exit(f"no TEST-*.xml reports under {args.reports}")

total = sum(t for t, _, _, _ in suites)
shown = sorted((s for s in suites if s[1].startswith(args.prefix)),
               key=lambda s: -s[0])
width = max(len(n) for _, n, _, _ in shown) if shown else 10
for t, name, tests, bad in shown:
    flag = f"  {bad} failed" if bad else ""
    print(f"{name:<{width}}  {t:8.1f} s  {tests:4d} tests{flag}")
if args.prefix:
    print(f"{'subtotal (' + args.prefix + '*)':<{width}}  "
          f"{sum(s[0] for s in shown):8.1f} s")
print(f"{'total, ' + str(len(suites)) + ' suites':<{width}}  {total:8.1f} s  "
      f"of {args.budget:.0f} s budget ({100 * total / args.budget:.0f}%, "
      f"{args.budget - total:.0f} s headroom)")
