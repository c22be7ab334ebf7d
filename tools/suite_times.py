#!/usr/bin/env python3
"""Tests and seconds per suite, and in total, from sbt's JUnit XML reports.

Usage:
    python3 tools/suite_times.py [REPORT_DIR] [OTHER_REPORT_DIR]

REPORT_DIR defaults to target/test-reports. With a second directory the
table shows both runs side by side with the second's time as a ratio of
the first's (for example a parent run against a change, on the same box).
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    """{suite name: (tests, failures + errors, seconds)} for one run."""
    out = {}
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name", os.path.basename(path)).removeprefix("graft.")
            out[name] = (int(s.get("tests", 0)),
                         int(s.get("failures", 0)) + int(s.get("errors", 0)),
                         float(s.get("time", 0.0)))
    if not out:
        sys.exit(f"no test reports under {report_dir}")
    return out


def total(runs):
    return tuple(sum(v[i] for v in runs.values()) for i in range(3))


def main(argv):
    dirs = argv[1:] or ["target/test-reports"]
    if len(dirs) > 2:
        sys.exit(__doc__)
    runs = [suites(d) for d in dirs]
    names = sorted(set().union(*runs))
    if len(runs) == 1:
        (run,) = runs
        print(f"| suite | tests | failed | s |\n|---|---:|---:|---:|")
        for n in names:
            t, f, s = run[n]
            print(f"| {n} | {t} | {f} | {s:.1f} |")
        t, f, s = total(run)
        print(f"| **total** | {t} | {f} | {s:.1f} |")
        return
    a, b = runs
    print("| suite | tests A | s A | tests B | s B | B/A |\n"
          "|---|---:|---:|---:|---:|---:|")

    def row(name, x, y):
        ratio = f"{y[2] / x[2]:.2f}" if x and y and x[2] > 0 else "-"
        cell = lambda v: (f"{v[0]}" + (f" ({v[1]} failed)" if v[1] else ""),
                          f"{v[2]:.1f}") if v else ("-", "-")
        print("| {} | {} | {} | {} | {} | {} |".format(
            name, *cell(x), *cell(y), ratio))

    for n in names:
        row(n, a.get(n), b.get(n))
    row("**total**", total(a), total(b))


if __name__ == "__main__":
    main(sys.argv)
