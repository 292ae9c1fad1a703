#!/usr/bin/env python3
"""Diff two `runMain graft.Explain <sfDir> <q...>` outputs after
normalizing away what differs between any two runs of the same plan.

Usage: python3 dev/plan_diff.py A B

Keeps only the plan text (from the first `========== <query> ==========`
banner on). Dropped lines: Spark log lines, sbt `[info]`/`[warn]`/
`[success]` lines, and stack traces (the exception line, `\tat ...`,
`\t... N more`, `Caused by:`; a run can print an asynchronous
`Block rdd_N does not exist` trace).
Normalized tokens: expression ids (`#123`), `plan_id=`, RDD ids
(`MapPartitionsRDD[90]`, `rdd_12_0`), the file of an RDD call site
(`at localCheckpoint at <File>.scala`), `*.scala:<line>` call sites,
lambda and array object identities (`$$Lambda$N/0x..@..`, `[[D@..`),
attempt UUIDs, `/tmp` paths (random sink dirs) and the warehouse
directory. Prints a unified diff and exits 1 when the normalized plans
differ, 0 when they are identical.
"""
import difflib
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_"),
    (re.compile(r"([\w$]+\.scala):\d+"), r"\1:"),
    (re.compile(r"(\bat \w+ at )[\w$]+\.scala"), r"\1<File>.scala"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"(\[+(?:[ZBCSIJFD]|L[\w.$]+;))@[0-9a-f]+"), r"\1@"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"/tmp/[^\s,\]\)\}]*"), "/tmp/<dir>"),
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:<warehouse>/"),
]
LOG = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[(info|warn|error|success)\] )")
STACK = re.compile(r"^(\s+(at |\.\.\. \d+ more)|Caused by: |[\w.$]+(Exception|Error)\b)")


def normalized(lines):
    out, started = [], False
    for line in lines:
        line = line.rstrip("\n")
        if LOG.match(line) or STACK.match(line):
            continue
        started = started or line.startswith("========== ")
        if not started:
            continue
        for pat, rep in SUBS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def plan_diff(a, b, name_a="A", name_b="B"):
    """Unified-diff lines between two Explain outputs (line lists)."""
    return list(difflib.unified_diff(
        normalized(a), normalized(b), name_a, name_b, lineterm=""))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1], errors="replace") as fa, open(argv[2], errors="replace") as fb:
        diff = plan_diff(fa.readlines(), fb.readlines(), argv[1], argv[2])
    print("\n".join(diff) if diff else "no plan differences")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
