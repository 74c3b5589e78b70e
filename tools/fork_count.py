#!/usr/bin/env python3
"""Count the processes one benchmark run starts, per timed block pair, per
operation and per (command, call site), without editing perfbench.

Hadoop's local filesystem shells out (`chmod`, `readlink`, `ls`) when the
native libhadoop is missing. The script runs the harness JVM under a JFR
recording of `jdk.ProcessStart` with stack traces (through
`JAVA_TOOL_OPTIONS`, shared with `tools/codegen_count.py`), and charges
every start inside `timed_start_ms`..`timed_end_ms` to the timed operation
whose `t0`..`t1` holds it. The call site is the first stack frame outside
the JDK, Hadoop's filesystem and shell classes, Parquet's Hadoop output
file and Spark's `Utils`: the caller that asked for the process.

Usage (from the repository root):
  python3 tools/fork_count.py --workload lake_ingest --seed 714 [--seconds 8]

Prints one line per timed block pair, per operation name and per
(command, call site), then a JSON summary line.
"""
import argparse
import collections
import datetime
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import codegen_count  # noqa: E402

JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
"""

# frames of the machinery between a caller and the process start
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.fs.", "org.apache.hadoop.util.",
            "org.apache.hadoop.io.", "org.apache.parquet.hadoop.util.",
            "org.apache.spark.util.Utils")


def epoch_ms(stamp):
    """Epoch ms of a JFR timestamp such as 2026-10-20T01:02:03.123456789Z."""
    m = re.match(r"(.{19})(\.\d+)?(.*)$", stamp)
    t = datetime.datetime.fromisoformat(m.group(1) + (m.group(3) or "Z").replace("Z", "+00:00"))
    return t.timestamp() * 1000.0 + float("0" + (m.group(2) or ".0")) * 1000.0


def call_site(frames):
    for f in frames:
        cls = f["method"]["type"]["name"].replace("/", ".")
        if not cls.startswith(PLUMBING):
            return f"{cls.rsplit('.', 1)[-1]}.{f['method']['name']}"
    return "?"


def starts(jfr_file):
    """(epoch ms, command name, call site) of every recorded process start."""
    jfr = shutil.which("jfr") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jfr")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64", "--events",
                          "jdk.ProcessStart", jfr_file], capture_output=True, text=True,
                         check=True).stdout
    events = json.loads(out)["recording"]["events"]
    return [(epoch_ms(e["values"]["startTime"]),
             os.path.basename(e["values"]["command"].split(" ", 1)[0]),
             call_site((e["values"].get("stackTrace") or {}).get("frames", [])))
            for e in events]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="lake_ingest")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args(argv)
    work = tempfile.mkdtemp(prefix="fork_count_")
    jfc = os.path.join(work, "starts.jfc")
    rec = os.path.join(work, "run.jfr")
    with open(jfc, "w") as f:
        f.write(JFC)
    try:
        raw = codegen_count.run_bench(a.workload, a.seed, a.seconds,
                                      f"-XX:StartFlightRecording=filename={rec},settings={jfc}")
        if raw is None:
            return 1
        events = starts(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    pairs, per_op, per_site = (collections.Counter() for _ in range(3))
    outside = between = 0
    for ts, cmd, site in events:
        op = codegen_count.timed_op(raw, ts)
        if op is None:
            outside += 1
        elif not op:
            between += 1
            per_site[(cmd, site)] += 1
        else:
            pairs[op["block"] // 2] += 1
            per_op[op["name"]] += 1
            per_site[(cmd, site)] += 1
    # a pair with no starts still prints, as 0
    for k in sorted({o["block"] // 2 for o in raw["ops"] if o["phase"] == "timed"}):
        print(f"[forks] pair {k}: {pairs[k]}")
    for name in sorted(per_op):
        print(f"[forks] op {name}: {per_op[name]}")
    for (cmd, site), n in per_site.most_common():
        print(f"[forks] {cmd} @ {site}: {n}")
    print(json.dumps({"seed": a.seed, "timed": sum(per_op.values()) + between,
                      "between_ops": between, "outside_timed": outside,
                      "per_op": dict(sorted(per_op.items())),
                      "per_site": {f"{c} @ {s}": n for (c, s), n in per_site.most_common()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
