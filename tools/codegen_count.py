#!/usr/bin/env python3
"""Count the Janino compiles of one benchmark run, per timed block pair and
per operation, without editing perfbench.

Spark logs `Code generated in N ms` (CodeGenerator, INFO) once per compile,
that is once per miss of its codegen cache. The cache key is the pair
(context class loader, generated source): in `local[N]` a whole-stage class
compiles once on the driver (application class loader) and once in the
tasks (the session's executor class loader), so driver threads and
`Executor task launch worker` threads are counted apart.

The script points `JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=...` at a
log4j2 file that sends that logger, with the thread name and an epoch-ms
timestamp, to a file of its own; runs `perfbench/run.py` in-process with the
deletion of its run directory deferred, so the harness's `raw.json`
(`timed_start_ms`, `timed_end_ms`, each operation's `t0`/`t1`) is still
there; and charges each compile line to the timed operation whose interval
holds it.

Usage (from the repository root):
  python3 tools/codegen_count.py --workload lake_ingest --seed 807 [--seconds 8]

Prints one line per timed block pair (driver / executor / total compiles)
and one line per operation name (compiles summed over the timed region),
then a JSON summary line.
"""
import argparse
import collections
import importlib.util
import json
import os
import re
import shutil
import sys
import tempfile

LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
LINE = re.compile(r"^(\d+) \[(.*?)\] Code generated in ([\d.]+) ms")

LOG4J = """\
status = error
rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = stderr
appender.console.type = Console
appender.console.name = stderr
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n
appender.cg.type = File
appender.cg.name = codegen
appender.cg.fileName = {log}
appender.cg.layout.type = PatternLayout
appender.cg.layout.pattern = %d{{UNIX_MILLIS}} [%t] %m%n
logger.cg.name = {logger}
logger.cg.level = info
logger.cg.additivity = false
logger.cg.appenderRef.cg.ref = codegen
"""


def compiles(log_path):
    """(epoch ms, thread, compile ms) of every compile line."""
    out = []
    with open(log_path) as f:
        for line in f:
            m = LINE.match(line)
            if m:
                out.append((int(m.group(1)), m.group(2), float(m.group(3))))
    return out


def is_executor(thread):
    return thread.startswith("Executor task launch worker")


def timed_op(raw, ts):
    """The timed operation whose `t0`..`t1` holds epoch-ms `ts`: None
    outside the timed region, "" between two operations."""
    if not raw["timed_start_ms"] <= ts <= raw["timed_end_ms"]:
        return None
    return next((o for o in raw["ops"] if o["phase"] == "timed" and o["t0"] <= ts <= o["t1"]), "")


def run_bench(workload, seed, seconds, java_opts):
    """Run `perfbench/run.py` in-process with `java_opts` added to
    `JAVA_TOOL_OPTIONS` and the deletion of its run directory deferred;
    returns the harness's `raw.json`, or None when the run failed. The
    engine is compiled and the tables generated first, under the caller's
    own options, so the harness is the only JVM that runs with
    `java_opts`."""
    root = os.getcwd()
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(root, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    _, sf, replicas = run.WORKLOADS[workload]
    run.build.compile_classes(root)
    run.build.data(root, sf, replicas)
    before = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = ((before or "") + " " + java_opts).strip()
    kept = []

    class DeferRmtree:
        """run.py's `shutil`, with `rmtree` deferred to the end."""
        rmtree = staticmethod(lambda p, *args, **kw: kept.append(p))

        def __getattr__(self, name):
            return getattr(shutil, name)

    run.shutil = DeferRmtree()
    try:
        rc = run.main(["--workload", workload, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", "0"])
        runs = [p for p in kept if os.path.isfile(os.path.join(p, "raw.json"))]
        if rc or not runs:
            print("error: the benchmark run failed", file=sys.stderr)
            return None
        with open(os.path.join(runs[0], "raw.json")) as f:
            return json.load(f)
    finally:
        for p in kept:
            shutil.rmtree(p, ignore_errors=True)
        # JVMs the caller starts afterwards (`jfr print`) run without them
        if before is None:
            del os.environ["JAVA_TOOL_OPTIONS"]
        else:
            os.environ["JAVA_TOOL_OPTIONS"] = before


def summarize(raw, lines):
    pairs = collections.defaultdict(lambda: [0, 0, 0.0])
    per_op = collections.defaultdict(lambda: [0, 0])
    unattributed = 0
    for ts, thread, ms in lines:
        op = timed_op(raw, ts)
        if op is None:
            continue
        if not op:
            unattributed += 1
            continue
        side = 1 if is_executor(thread) else 0
        p = pairs[op["block"] // 2]
        p[side] += 1
        p[2] += ms
        per_op[op["name"]][side] += 1
    return pairs, per_op, unattributed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="lake_ingest")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args(argv)
    work = tempfile.mkdtemp(prefix="codegen_count_")
    log = os.path.join(work, "codegen.log")
    conf = os.path.join(work, "log4j2.properties")
    with open(conf, "w") as f:
        f.write(LOG4J.format(log=log, logger=LOGGER))
    try:
        raw = run_bench(a.workload, a.seed, a.seconds,
                        f"-Dlog4j2.configurationFile={conf}")
        if raw is None:
            return 1
        pairs, per_op, unattributed = summarize(raw, compiles(log))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k in sorted(pairs):
        d, e, ms = pairs[k]
        print(f"[codegen] pair {k}: driver={d} executor={e} total={d + e} compile_ms={ms:.0f}")
    for name in sorted(per_op):
        d, e = per_op[name]
        print(f"[codegen] op {name}: driver={d} executor={e}")
    print(json.dumps({"seed": a.seed, "pairs": [sum(pairs[k][:2]) for k in sorted(pairs)],
                      "per_op": {n: sum(v) for n, v in sorted(per_op.items())},
                      "unattributed": unattributed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
