#!/usr/bin/env python3
"""Checks for dev/plan_diff.py. Run: python3 dev/test_plan_diff.py"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from plan_diff import plan_diff  # noqa: E402

A = """\
[info] compiling 3 Scala sources
========== st09_sink ==========
(1) Scan ExistingRDD
Output [2]: [doc_id#12L, text#13]
Arguments: [doc_id#12L, text#13], MapPartitionsRDD[563] at localCheckpoint at Lines.scala:475, ExistingRDD, UnknownPartitioning(0)
(2) Project [codegen id : 1]
Input [2]: [doc_id#12L, text#13]
Arguments: graft.SparkEntry$$$Lambda$1234/0x00000008012a3b40@6f1a2b3c, [[D@1b2c3d4e, [J@5f6a7b
(3) Scan parquet
Location: InMemoryFileIndex [file:/tmp/st09_sink7345101/batch=1/part-00000-0b7e5a1c-3f2d-4c1e-9a8b-1234567890ab-c000.snappy.parquet]
(4) Exchange plan_id=88
""".splitlines(True)

# the same plan from another run: every difference is a normalized token,
# plus an asynchronous stack trace printed into the middle of it
B = """\
========== st09_sink ==========
(1) Scan ExistingRDD
Output [2]: [doc_id#907L, text#908]
Arguments: [doc_id#907L, text#908], MapPartitionsRDD[90] at localCheckpoint at IndexFold.scala:131, ExistingRDD, UnknownPartitioning(0)
org.apache.spark.SparkException: Block rdd_12_0 does not exist
\tat org.apache.spark.storage.BlockManager.get(BlockManager.scala:1101)
\t... 12 more
(2) Project [codegen id : 1]
Input [2]: [doc_id#907L, text#908]
Arguments: graft.SparkEntry$$$Lambda$98/0x0000000800c1d000@1a2b3c, [[D@77aa88, [J@99
(3) Scan parquet
Location: InMemoryFileIndex [file:/tmp/st09_sink99/batch=1/part-00000-ffffffff-0000-1111-2222-333333333333-c000.snappy.parquet]
(4) Exchange plan_id=4
""".splitlines(True)

assert plan_diff(A, B) == [], "\n".join(plan_diff(A, B))

# a real operator change still diffs
C = [line.replace("(4) Exchange", "(4) BroadcastExchange") for line in A]
diff = plan_diff(A, C)
assert any(d.startswith("+(4) BroadcastExchange") for d in diff), diff
assert any(d.startswith("-(4) Exchange") for d in diff), diff

print("plan_diff checks passed")
