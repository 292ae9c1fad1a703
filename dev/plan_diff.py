#!/usr/bin/env python3
"""Diff two `runMain graft.Explain <sfDir> <q...>` outputs after
normalizing away what differs between any two runs of the same plan.

Usage: python3 dev/plan_diff.py A B

Keeps only the plan text (from the first `========== <query> ==========`
banner on; Spark log lines and sbt `[info]`/`[warn]`/`[success]` lines are
dropped) and strips expression ids (`#123`), `plan_id=`, RDD ids
(`MapPartitionsRDD[90]`, `rdd_12_0`), `*.scala:<line>` call sites and the
warehouse directory. Prints a unified diff and exits 1 when the
normalized plans differ, 0 when they are identical.
"""
import difflib
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\bRDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"file:\S*?/spark-warehouse/"), "file:<warehouse>/"),
]
LOG = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[(info|warn|error|success)\] )")


def normalized(path):
    out, started = [], False
    for line in open(path, errors="replace"):
        line = line.rstrip("\n")
        if LOG.match(line):
            continue
        started = started or line.startswith("========== ")
        if not started:
            continue
        for pat, rep in SUBS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = normalized(argv[1]), normalized(argv[2])
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm=""))
    print("\n".join(diff) if diff else "no plan differences")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
