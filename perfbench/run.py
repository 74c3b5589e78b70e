#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client drives the engine
through its public modules, checks the outputs, and prints every metric.

Usage (from the repository root):
  python3 perfbench/run.py --workload query_mix|scan_heavy|lake_ingest \
      --seed N --seconds T --trace 0|1

The first run in a checkout compiles the engine and generates the input
tables under `.bench_build` (or `$CARGO_TARGET_DIR`). Each run gets its own
temporary root there (JVM temp dir, Spark local dirs, warehouse, lake
roots), deleted afterwards. Lines starting with `[perfbench]` report run
facts, every metric with its unit, and the output checks; the last line
is the JSON result: end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`. See perfbench/README.md.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

# name -> (primary operation kind, scale factor, key-shifted replicas)
WORKLOADS = {"query_mix": ("query", 0.1, 1), "scan_heavy": ("query", 0.1, 10),
             "lake_ingest": ("commit", 0.01, 1)}
HEAP = "3g"
# N of local[N]
CORES = min(len(os.sched_getaffinity(0)), 4)


def jvm_timeout_s(seconds):
    """170 s keeps a short run inside 180 s; longer timed regions (runs by
    hand, `scan_heavy`) get five seconds of slack per extra second."""
    return 170 + 5 * max(0.0, seconds - 10)


def say(*parts):
    print("[perfbench]", *parts, flush=True)


def count_entries(dirs):
    """Files and directories left under the given roots."""
    n = 0
    for d in dirs:
        for _, subdirs, files in os.walk(d):
            n += len(subdirs) + len(files)
    return n


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def oracle_checks(root, raw, data_dir, check_dir):
    """Run tools/check.py's DuckDB comparison over the harness's result
    dumps; returns {check name: (ok, detail)}."""
    todo = {c["name"]: c["sql"] for c in raw["checks"] if c["result_dir"]}
    if not todo:
        return {}
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(todo, f)
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, check_dir)
    verdicts = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("OK   "):
            verdicts[line[5:].split(" ")[0]] = (True, "")
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdicts[name] = (False, why[:200])
    return {n: verdicts.get(n, (False, "no verdict")) for n in todo}


def end_to_end(raw, spawn_ms, primary, failed_names):
    """Every end-to-end metric that applies to the workload, as
    {name: (value, unit)}."""
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    secs = (raw["timed_end_ms"] - raw["timed_start_ms"]) / 1000.0
    ok = [o for o in timed if o["err"] is None and o["name"] not in failed_names]
    m = {"setup_s": ((raw["timed_start_ms"] - spawn_ms) / 1000.0, "s")}

    def lat(prefix, kind):
        t = stats.timing([o["t1"] - o["t0"] for o in ok if o["kind"] == kind])
        m[f"{prefix}_p50_ms"] = (t["p50"], "ms")
        if t["tail_level"]:
            m[f"{prefix}_p{t['tail_level']:g}_ms"] = (t["tail"], "ms")
        m[f"{prefix}_samples"] = (t["n"], "count")
        return t

    if primary == "query":
        lat("query", "query")
        m["queries_per_s"] = (sum(o["kind"] == "query" for o in ok) / secs, "1/s")
    else:
        lat("commit", "commit")
        commits = [o for o in ok if o["kind"] == "commit"]
        m["ingest_rows_per_s"] = (sum(o["rows"] for o in commits) /
                                  (sum(o["t1"] - o["t0"] for o in commits) / 1000.0), "rows/s")
        lat("lake_read", "read")
        m["maintenance_s"] = (sum(o["t1"] - o["t0"] for o in timed
                                  if o["kind"] == "maintenance") / 1000.0, "s")
        x = raw["extra"]
        m["write_amp"] = (stats.amplification(x["timed_bytes_written"],
                                              x["plain_batch_bytes"]), "ratio")
        m["space_amp"] = (stats.amplification(x["final_lake_bytes"],
                                              x["plain_live_bytes"]), "ratio")
    m["storage_peak_mb"] = (max(o["storage_mb"] for o in raw["ops"]), "MB")
    failed = len(timed) - len(ok)
    m["error_rate"] = (failed / len(timed) if timed else 1.0, "ratio")
    # one pass over the workload's operations, each at its median: in
    # wall time, in engine CPU time, and in rounds of the host gauge run
    # between the same operations (see README: host gauge)
    m["pass_ms"] = (stats.pass_time(ok, lambda o: o["t1"] - o["t0"]), "ms")
    m["pass_cpu_ms"] = (stats.pass_time(ok, lambda o: o["cpu_ms"]), "ms")
    gauge = stats.percentile([o["gauge_ms"] for o in ok], 50)
    m["gauge_ms"] = (gauge, "ms")
    m["pass_gauges"] = (m["pass_ms"][0] / gauge, "gauges")
    return m, len(timed), failed


def per_layer(raw, cores, leftovers, primary):
    """Every per-layer metric the traced run can give, as {name: (value, unit)}."""
    spans = stats.trace_spans(raw)
    traced = [o for o in raw["ops"] if o["phase"] == "timed" and o["traced"]]
    untraced = [o for o in raw["ops"] if o["phase"] == "timed" and not o["traced"]]
    n = max(len(traced), 1)
    m = {}
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def median_ms(name):
        xs = [s["t1"] - s["t0"] for s in by_name.get(name, [])]
        return stats.percentile(xs, 50) if xs else 0.0

    def jobs_under(name):
        ids = {s["id"] for s in by_name.get(name, [])}
        calls = max(len(ids), 1)
        return sum(1 for s in by_name.get("spark.job", []) if s["parent"] in ids) / calls

    # Tables: the first touch of every base table in set-up (relations are
    # memoized, so that is where resolution costs), and the files the
    # operations' file indexes listed
    m["tables.resolve_ms"] = (sum(s["t1"] - s["t0"] for s in raw["spans"]
                                  if s["name"] == "tables.resolve"), "ms")
    m["tables.files_listed"] = (sum(o["files_listed"] for o in traced) / n, "count")
    # a layer the workload does not call reads 0
    m["entry.build_ms"] = (median_ms("entry.build"), "ms")
    m["entry.eager_jobs"] = (jobs_under("entry.build"), "count")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (sum(s["t1"] - s["t0"] for s in by_name.get(
            f"catalyst.{ph}", [])) / n, "ms")
    m["codegen.compile_ms"] = (raw["codegen_total_ns"] / 1e6, "ms")
    m["codegen.compiles"] = (raw["codegen_total_compiles"], "count")

    jobs = by_name.get("spark.job", [])
    opmap = {o["id"]: o for o in traced}
    span_ms = 0.0
    for o in traced:
        mine = [(s["t0"], s["t1"]) for s in jobs if s["op"] == o["id"]]
        span_ms += stats.union_length(mine, o["t0"], o["t1"])
    wall = sum(o["t1"] - o["t0"] for o in traced)
    js = [s["job"] for s in jobs if s["op"] in opmap]
    tot = lambda k: sum(j[k] for j in js)  # noqa: E731
    m["spark.jobs"] = (len(js) / n, "count")
    m["spark.stages"] = (tot("stages") / n, "count")
    m["spark.tasks"] = (tot("tasks") / n, "count")
    m["spark.job_span_ms"] = (span_ms / n, "ms")
    m["spark.driver_gap_ms"] = ((wall - span_ms) / n, "ms")
    m["spark.task_run_ms"] = (tot("run_ms") / n, "ms")
    m["spark.task_cpu_ms"] = (tot("cpu_ns") / 1e6 / n, "ms")
    m["spark.task_gc_ms"] = (tot("gc_ms") / n, "ms")
    m["spark.core_busy_ratio"] = (tot("run_ms") / (span_ms * cores) if span_ms else 0.0, "ratio")
    m["spark.input_bytes"] = (tot("input_bytes") / n, "bytes")
    m["spark.shuffle_read_bytes"] = (tot("shuffle_read") / n, "bytes")
    m["spark.shuffle_write_bytes"] = (tot("shuffle_write") / n, "bytes")
    m["spark.spill_bytes"] = (tot("spill") / n, "bytes")
    m["storage.cached_mb"] = (max((o["storage_mb"] for o in traced), default=0.0), "MB")
    m["storage.cached_rdds"] = (max((o["cached_rdds"] for o in traced), default=0), "count")

    for name in ("versioned_lake.apply", "versioned_lake.as_of", "streams.trigger",
                 "zorder_lake.apply", "zorder_lake.compact", "zorder_lake.rebuild",
                 "zorder_lake.box_read", "ivf.apply", "ivf.compact", "ivf.rebuild",
                 "ivf.probe", "ivf.probe_batch"):
        m[f"{name}_ms"] = (median_ms(name), "ms")
    for name in ("versioned_lake.apply", "zorder_lake.apply", "ivf.apply"):
        m[f"{name}_jobs"] = (jobs_under(name), "count")

    def read_ratio(names):
        ops = [o for o in traced if o["name"] in names and o["rows"] > 0]
        recs = sum(s["job"]["input_records"] for s in jobs
                   if s["op"] in {o["id"] for o in ops})
        rows = sum(o["rows"] for o in ops)
        return recs / rows if rows else 0.0

    m["zorder_lake.rows_read_per_row_returned"] = (read_ratio({"zorder_lake.box_read"}), "ratio")
    m["ivf.rows_scored_per_result"] = (read_ratio({"ivf.probe", "ivf.probe_batch"}), "ratio")
    x = raw["extra"]
    m["fsio.bytes_written"] = (x.get("timed_bytes_written", 0), "bytes")
    m["fsio.files_written"] = (x.get("timed_files_written", 0), "count")
    m["fsio.versions_committed"] = (x.get("versions_committed", 0), "count")
    m["fsio.leftover_entries"] = (leftovers, "count")
    m["jvm.gc_ms"] = (raw["timed_gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = (raw["timed_heap_peak_mb"], "MB")

    # block 0 runs once untraced, then traced: the like-for-like pair
    def p50(ops):
        return stats.percentile([o["t1"] - o["t0"] for o in ops if o["block"] == 0 and
                                 o["kind"] == primary and o["err"] is None], 50)
    on, off = p50(traced), p50(untraced)
    m["trace.overhead_ms"] = (on - off if on is not None and off is not None else 0.0, "ms")
    m["trace.overhead_pct"] = (100.0 * (on - off) / off if on and off else 0.0, "%")
    layers = stats.layer_table(spans)
    return m, layers


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help="scale factor of the tables instead of the workload's own")
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("error: src/main/scala not found; run from the repository root",
              file=sys.stderr)
        return 2
    primary, sf, replicas = WORKLOADS[a.workload]
    cp = build.compile_classes(root)
    data_dir = build.data(root, sf if a.sf is None else a.sf, replicas)
    runs = os.path.join(build.build_dir(root), "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    try:
        dirs = {d: os.path.join(run_dir, d) for d in ("java", "check", "lake", "warehouse")}
        for d in dirs.values():
            os.makedirs(d)
        out = os.path.join(run_dir, "raw.json")
        cmd = [build.java(), *build.ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={dirs['java']}", "-cp", cp, "graftbench.Harness",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", data_dir, "--tmp", run_dir,
               "--out", out, "--cores", str(CORES)]
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            ticks0 = cpu_ticks()
            spawn_ms = time.time() * 1000.0
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=jvm_timeout_s(a.seconds))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
            ticks1 = cpu_ticks()
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"error: harness exited with {rc}", file=sys.stderr)
            return 1
        with open(out) as f:
            raw = json.load(f)
        leftovers = count_entries([dirs["java"], dirs["lake"], dirs["warehouse"]])
        verdicts = {c["name"]: (c["ok"], c["detail"]) for c in raw["checks"] if c["ok"] is not None}
        verdicts.update(oracle_checks(root, raw, data_dir, dirs["check"]))
        failed_names = {n for c in raw["checks"] if not verdicts[c["name"]][0] for n in c["covers"]}

        facts = dict(raw["facts"], nproc=os.cpu_count(), git_commit=git_commit(root),
                     source_digest=build.source_digest(root)[:16], seconds=a.seconds,
                     warmup_passes_ms=[round(x, 1) for x in raw["warm_passes_ms"]],
                     phases_s={p["name"]: round((p["t1"] - p["t0"]) / 1000, 2)
                               for p in raw["setup_spans"]},
                     jvm_start_s=round((raw["harness_start_ms"] - spawn_ms) / 1000, 2),
                     # share of host CPU time stolen by other guests during the JVM run
                     cpu_steal_pct=round(100.0 * (ticks1[0] - ticks0[0]) /
                                         max(ticks1[1] - ticks0[1], 1), 1)
                     if ticks0 and ticks1 else None)
        say("facts", json.dumps(facts, sort_keys=True))
        bad = sorted(n for n, (ok, _) in verdicts.items() if not ok)
        say(f"checks {len(verdicts) - len(bad)}/{len(verdicts)} ok" +
            "".join(f"; FAIL {n}: {verdicts[n][1]}" for n in bad))
        timed = [o for o in raw["ops"] if o["phase"] == "timed"]
        for name in sorted({o["name"] for o in timed}):
            xs = [o["t1"] - o["t0"] for o in timed if o["name"] == name]
            say(f"op {name}: n={len(xs)} p50_ms={stats.percentile(xs, 50):.1f}")
        e2e, attempted, failed = end_to_end(raw, spawn_ms, primary, failed_names)
        for k, (v, unit) in e2e.items():
            say(f"{k} = {v:.6g} {unit}" if isinstance(v, float) else f"{k} = {v} {unit}")
        contract = json.load(open(os.path.join(root, "BENCHMARK.json"))) \
            if os.path.isfile(os.path.join(root, "BENCHMARK.json")) else None
        if a.trace:
            layers, table = per_layer(raw, CORES, leftovers, primary)
            for name, row in sorted(table.items()):
                say(f"layer {name}: calls={row['calls']} total_ms={row['total_ms']:.1f} "
                    f"self_ms={row['self_ms']:.1f}")
            for k, (v, unit) in layers.items():
                say(f"{k} = {v:.6g} {unit}" if isinstance(v, float) else f"{k} = {v} {unit}")
            wanted, source = ("per_layer", layers)
        else:
            wanted, source = ("end_to_end", e2e)
        # the contract's metrics; a workload outside the contract (lake_ingest)
        # reports those it has
        names = [x["name"] for x in contract[wanted]] if contract else list(source)
        metrics = {k: {"value": source[k][0], "unit": source[k][1]}
                   for k in names if k in source}
        print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
