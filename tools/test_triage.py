#!/usr/bin/env python3
"""Group the test suite's failures and errors by root cause.

Reads the JUnit XML reports sbt writes (target/test-reports/*.xml), finds
each failing test's root cause (the innermost "Caused by:" of its stack
trace, else the reported exception), groups failures by that cause and
prints one line per group, then the suites' summed time and the five
slowest suites. Exits 1 when any failure falls outside the known set, 2
when there are no reports, 0 otherwise.

The known set is the environment-blocked one: a suite whose test reads
the Calcite reference tree (REFERENCE_TREE, the path the census and .iq
specs open) fails with FileNotFoundException or NoSuchFileException on a
path under it when that tree is absent. When the tree is present those
suites run unchanged, and the known set is empty.

Usage: python3 tools/test_triage.py [reports_dir]
"""
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET

REFERENCE_TREE = "/root/reference"
MISSING_FILE = ("java.io.FileNotFoundException", "java.nio.file.NoSuchFileException")
FORK_ERROR = "sbt.ForkMain$ForkError"
CAUSED_BY = re.compile(r"^\s*Caused by: ([\w.$]+)(?::\s*(.*))?$", re.M)


def unwrap(cls, message):
    """sbt re-throws a forked test's exception as ForkError("<class>: <message>")."""
    while cls == FORK_ERROR:
        m = re.match(r"([\w.$]+)(?::\s*(.*))?$", message, re.S)
        if not m:
            break
        cls, message = m.group(1), m.group(2) or ""
    return cls, message.strip()


def root_cause(el):
    """(exception class, message) of a report entry's innermost cause."""
    causes = CAUSED_BY.findall(el.text or "")
    if causes:
        return unwrap(*causes[-1])
    return unwrap(el.get("type") or el.tag, el.get("message") or "")


def is_known(cls, message):
    path = message.split(" (")[0]
    return cls in MISSING_FILE and (path == REFERENCE_TREE or path.startswith(REFERENCE_TREE + "/"))


def group_key(cls, message):
    """Cause with run-specific detail (numbers, paths, ids) removed."""
    msg = re.sub(r"(/[\w.\-]+)+", "<path>", message.splitlines()[0] if message else "")
    msg = re.sub(r"\b\d+(\.\d+)?\b", "<n>", msg)
    return f"{cls}: {msg[:160]}"


def suites(reports_dir):
    for path in sorted(glob.glob(os.path.join(reports_dir, "*.xml"))):
        yield from ET.parse(path).getroot().iter("testsuite")


def failures(reports_dir):
    for suite in suites(reports_dir):
        for case in suite.iter("testcase"):
            for kind in ("failure", "error"):
                for el in case.findall(kind):
                    cls, msg = root_cause(el)
                    yield {"suite": suite.get("name"), "kind": kind, "cause": cls, "message": msg}


def suite_times(reports_dir):
    """(seconds, suite name) of every suite, slowest first."""
    return sorted(((float(s.get("time") or 0), s.get("name")) for s in suites(reports_dir)),
                  reverse=True)


def main(argv):
    reports_dir = argv[0] if argv else os.path.join("target", "test-reports")
    found = list(failures(reports_dir))
    if not glob.glob(os.path.join(reports_dir, "*.xml")):
        print(f"test_triage: no reports under {reports_dir}", file=sys.stderr)
        return 2
    groups = {}
    for f in found:
        known = is_known(f["cause"], f["message"])
        key = ("known: reference tree absent" if known else "NEW: " + group_key(f["cause"], f["message"]))
        g = groups.setdefault(key, {"known": known, "failures": 0, "errors": 0, "suites": set()})
        g["failures" if f["kind"] == "failure" else "errors"] += 1
        g["suites"].add(f["suite"])
    unknown = sum(g["failures"] + g["errors"] for g in groups.values() if not g["known"])
    for key, g in sorted(groups.items(), key=lambda kv: (kv[1]["known"], kv[0])):
        print(f"{g['failures']:4d} failures {g['errors']:4d} errors  {len(g['suites']):3d} suites  {key}")
        if not g["known"]:
            for s in sorted(g["suites"]):
                print(f"       {s}")
    times = suite_times(reports_dir)
    print(f"== {sum(t for t, _ in times):.0f} s over {len(times)} suites; slowest: "
          + ", ".join(f"{name} {t:.0f} s" for t, name in times[:5]) + " ==")
    print(f"== {len(found)} failing, {unknown} outside the known set ==")
    return 1 if unknown else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
