#!/usr/bin/env python3
"""Per-spec test wall report from sbt's JUnit XML reports.

Usage: python3 tools/spec_walls.py [reports_dir] [--top N]

Reads reports_dir/TEST-*.xml (default target/test-reports), prints one
line per spec -- wall seconds, test count, failures+errors, name --
sorted by wall (largest first), then the total over all specs.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    args = sys.argv[1:]
    top = None
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        del args[i:i + 2]
    reports = args[0] if args else "target/test-reports"
    specs = []
    for f in glob.glob(os.path.join(reports, "TEST-*.xml")):
        suite = ET.parse(f).getroot()
        specs.append((float(suite.get("time", 0)), int(suite.get("tests", 0)),
                      int(suite.get("failures", 0)) + int(suite.get("errors", 0)),
                      suite.get("name", os.path.basename(f))))
    if not specs:
        sys.exit(f"no TEST-*.xml under {reports}")
    specs.sort(key=lambda s: (-s[0], s[3]))
    print(f"{'wall_s':>9} {'tests':>5} {'failed':>6}  spec")
    for wall, tests, failed, name in specs[:top]:
        print(f"{wall:9.1f} {tests:5d} {failed:6d}  {name}")
    print(f"{sum(s[0] for s in specs):9.1f} {sum(s[1] for s in specs):5d} "
          f"{sum(s[2] for s in specs):6d}  TOTAL ({len(specs)} specs)")


if __name__ == "__main__":
    main()
