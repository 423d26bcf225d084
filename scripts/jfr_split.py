#!/usr/bin/env python3
"""Split a JFR CPU profile of a perfbench run by op kind and by Spark machinery.

Record a run on an already built checkout (perfbench passes
JAVA_TOOL_OPTIONS through to its harness JVM):

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=1024 \\
      -XX:StartFlightRecording=filename=/tmp/pb.jfr,settings=profile" \\
      python3 perfbench/run.py --workload pagila_sweep --seed 5 --seconds 15 --trace 0

then export the execution samples with deep stacks (jfr's default depth
of 5 frames hides every caller) and split them:

    jfr print --json --stack-depth 300 --events jdk.ExecutionSample /tmp/pb.jfr > /tmp/pb.json
    python3 scripts/jfr_split.py /tmp/pb.json

A sample's op kind is the first perfbench op frame on its stack
(`arrowOp`, `fileOps`, `loadOp`) when it also runs inside the op's timed
window (a `timed` frame); under an op frame but outside that window it
counts as `checks` (output checks, untimed set-up). Samples from Spark's
task threads have no op frame and count as `tasks`, every other thread
as `other`. Its
bucket is the first of BUCKETS (in that order) whose class prefix
appears anywhere on the stack, so the closure cleaner claims the
bytecode reads and serialization it drives.
"""
import json
import sys
from collections import Counter

OPS = [("arrowOp", "to_arrow"), ("fileOps", "file_ops"), ("loadOp", "load")]

BUCKETS = [
    ("cleaner", ("org.apache.spark.util.ClosureCleaner", "org.apache.spark.util.SparkClosureCleaner")),
    ("serializer", ("org.apache.spark.serializer.",)),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.apache.spark.sql.execution.WholeStageCodegenExec",
                 "org.codehaus.janino.", "org.codehaus.commons.")),
    ("minipg_read", ("graft.jdbc.MiniPgScan$.read",)),
    ("analyzer", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",)),
    ("planner", ("org.apache.spark.sql.execution.SparkStrategies",
                 "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
                 "org.apache.spark.sql.catalyst.planning.",
                 # the sinks' plan execution (executedPlan, executeColumnar),
                 # which the arrow_encode prefix below would otherwise claim
                 "graft.sinks.FeatherSink$.source")),
    ("pg_wire", ("graft.jdbc.MiniPgWire",)),
    ("arrow_encode", ("graft.sinks.FeatherSink", "org.apache.arrow.")),
    ("parquet", ("org.apache.parquet.",)),
    ("scheduler", ("org.apache.spark.scheduler.", "org.apache.spark.SparkContext.runJob")),
]


def frame_name(frame):
    method = frame.get("method", {})
    cls = method.get("type", {}).get("name", "").replace("/", ".")
    return f"{cls}.{method.get('name', '')}"


def classify(names):
    op = next((kind for m, kind in OPS for n in names if n.endswith("." + m)), None)
    if op is not None and not any(n.endswith(".timed") for n in names):
        op = "checks"
    bucket = next((b for b, prefixes in BUCKETS
                   if any(n.startswith(p) for n in names for p in prefixes)), "rest")
    return op, bucket


def main(path):
    with open(path) as f:
        events = json.load(f)["recording"]["events"]
    table = Counter()
    for e in events:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        names = [frame_name(fr) for fr in (v.get("stackTrace") or {}).get("frames", [])]
        op, bucket = classify(names)
        if op is None:
            op = "tasks" if thread.startswith("Executor task launch") else "other"
        table[(op, bucket)] += 1
    ops = [k for _, k in OPS] + ["checks", "tasks", "other"]
    buckets = [b for b, _ in BUCKETS] + ["rest"]
    width = max(len(b) for b in buckets) + 2
    print("samples".ljust(width) + "".join(o.rjust(10) for o in ops))
    for b in buckets:
        print(b.ljust(width) + "".join(str(table[(o, b)]).rjust(10) for o in ops))
    print("total".ljust(width) + "".join(
        str(sum(table[(o, b)] for b in buckets)).rjust(10) for o in ops))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
