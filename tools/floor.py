#!/usr/bin/env python3
"""Exact tier-1 floor check.

Reads the JUnit XML that sbt writes under target/test-reports/ for every
failure and its message, and the sbt log for cancels (the XML records a
ScalaTest cancel as a plain pass, so cancels come from the log's
`!!! CANCELED !!!` lines). Both are compared with the checked-in floor
in tools/floor_expected.txt. Exits non-zero when

  - a test fails or cancels that the floor does not list,
  - a listed failure fails for another cause than a missing fixture
    under the reference root (`SparkSpec.refBase`, where the fixture
    specs read the reference's bundled CSVs), or
  - fewer tests ran than the floor's `tests` count.

A listed failure that now passes, or a listed cancel that now runs, is
reported but is not an error.

Usage:
    python3 tools/floor.py --log tier1.log [--reports target/test-reports]
        [--expected tools/floor_expected.txt]
"""

import argparse
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_SPEC = os.path.join(HERE, "..", "src", "test", "scala", "graft", "SparkSpec.scala")

MISSING_FIXTURE = re.compile(
    r"(path_not_found|path does not exist|filenotfoundexception|no such file)", re.I)
SUITE = re.compile(r"^\[info\] (\w+):$")
CANCEL = re.compile(r"^\[info\] - (.*) !!! CANCELED !!!$")
SUMMARY = re.compile(r"canceled (\d+), ignored")


def reference_root():
    """The fixture root the specs read, as `SparkSpec.refBase` declares it."""
    with open(SPARK_SPEC, encoding="utf-8") as f:
        m = re.search(r'val refBase = "([^"]+)"', f.read())
    if not m:
        raise SystemExit(f"{SPARK_SPEC}: no refBase")
    # the reference checkout's root: the directory above the fixture tree
    return os.path.dirname(m.group(1).rstrip("/")).lower() + "/"


def load_expected(path):
    """(floor test count, {(class, name)} failures, {(class, name)} cancels)."""
    tests, fails, cancels = None, set(), set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            kind, _, rest = line.partition("\t")
            if kind == "tests":
                tests = int(rest)
            elif kind in ("fail", "cancel"):
                cls, _, name = rest.partition("\t")
                (fails if kind == "fail" else cancels).add((cls, name))
            else:
                raise SystemExit(f"{path}: unknown line kind {kind!r}")
    if tests is None:
        raise SystemExit(f"{path}: no `tests` line")
    return tests, fails, cancels


def read_reports(reports):
    """(all (class, name) test ids, {(class, name): failure message})."""
    ids, failures = [], {}
    for f in sorted(glob.glob(os.path.join(reports, "*.xml"))):
        for tc in ET.parse(f).getroot().iter("testcase"):
            tid = (tc.get("classname"), tc.get("name"))
            ids.append(tid)
            for kind in ("failure", "error"):
                e = tc.find(kind)
                if e is not None:
                    failures[tid] = (e.get("message") or "") + "\n" + (e.text or "")
    return ids, failures


def read_cancels(log, classes):
    """The canceled (class, name) ids, and the cancel total sbt's summaries report."""
    by_simple = {}
    for c in classes:
        by_simple.setdefault(c.rsplit(".", 1)[-1], set()).add(c)
    cancels, reported, suite = set(), 0, None
    with open(log, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = SUITE.match(line)
            if m:
                suite = m.group(1)
                continue
            m = CANCEL.match(line)
            if m:
                owners = by_simple.get(suite, set())
                if len(owners) != 1:
                    raise SystemExit(f"cannot place cancel {m.group(1)!r}: suite {suite!r}")
                cancels.add((next(iter(owners)), m.group(1)))
                continue
            m = SUMMARY.search(line)
            if m:
                reported += int(m.group(1))
    return cancels, reported


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--log", required=True, help="sbt output of the tier-1 run")
    ap.add_argument("--reports", default="target/test-reports")
    ap.add_argument("--expected", default=os.path.join(HERE, "floor_expected.txt"))
    args = ap.parse_args()

    floor, exp_fails, exp_cancels = load_expected(args.expected)
    ids, failures = read_reports(args.reports)
    cancels, reported = read_cancels(args.log, {c for c, _ in ids})

    ref = reference_root()
    errors = []
    if not ids:
        errors.append(f"no test reports under {args.reports}")
    if reported != len(cancels):
        errors.append(f"sbt reports {reported} cancels but the log names {len(cancels)}")
    if len(ids) < floor:
        errors.append(f"test count dropped: {len(ids)} < floor {floor}")
    for tid in sorted(set(failures) - exp_fails):
        errors.append(f"unlisted failure: {tid[0]} :: {tid[1]}\n    "
                      + failures[tid].strip().splitlines()[0][:300])
    for tid in sorted(set(failures) & exp_fails):
        msg = failures[tid]
        if ref not in msg.lower() or not MISSING_FIXTURE.search(msg):
            errors.append(f"listed failure with another cause: {tid[0]} :: {tid[1]}\n    "
                          + msg.strip().splitlines()[0][:300])
    for tid in sorted(cancels - exp_cancels):
        errors.append(f"unlisted cancel: {tid[0]} :: {tid[1]}")

    for tid in sorted(exp_fails - set(failures)):
        print(f"note: listed failure did not fail: {tid[0]} :: {tid[1]}")
    for tid in sorted(exp_cancels - cancels):
        print(f"note: listed cancel did not cancel: {tid[0]} :: {tid[1]}")
    print(f"tests {len(ids)} (floor {floor}), failed {len(failures)} "
          f"(listed {len(exp_fails)}), canceled {len(cancels)} (listed {len(exp_cancels)})")
    for e in errors:
        print("FLOOR: " + e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
