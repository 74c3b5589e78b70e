"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, amplification ratios, and the span tree of a traced run."""
import bisect
import math

# Tail levels a timing may report; the highest one with at least ten
# samples beyond it is used.
TAIL_LEVELS = (75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(xs, p):
    """The p-th percentile, interpolating linearly between closest ranks."""
    s = sorted(xs)
    if not s:
        return None
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_level(n):
    """Highest level in TAIL_LEVELS with at least ten of n samples beyond
    it, or None when even the lowest has fewer."""
    levels = [p for p in TAIL_LEVELS if n * (100.0 - p) / 100.0 >= 10 - 1e-9]
    return levels[-1] if levels else None


def timing(xs):
    """Median, the tail percentile the sample supports, and the count."""
    lvl = tail_level(len(xs))
    return {"p50": percentile(xs, 50), "tail_level": lvl,
            "tail": percentile(xs, lvl) if lvl else None, "n": len(xs)}


def pass_time(ops, value):
    """One pass over a workload's operations: the sum, over operation
    names, of the median `value(op)` of each name's operations."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(value(o))
    return sum(percentile(xs, 50) for xs in by_name.values())


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.
    `spans` are dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) -
            union_length(kids.get(s["id"], []), s["t0"], s["t1"]) for s in spans}


def amplification(bytes_stored, plain_bytes):
    """Bytes a format wrote or holds per byte of the same rows as plain
    parquet."""
    return bytes_stored / plain_bytes if plain_bytes > 0 else None


class OpIndex:
    """Finds the operation whose interval contains an instant."""

    def __init__(self, ops):
        self.ops = sorted(ops, key=lambda o: o["t0"])
        self.starts = [o["t0"] for o in self.ops]

    def at(self, t, slack=1.0):
        """`slack` (ms) absorbs Spark's whole-millisecond event times."""
        i = bisect.bisect_right(self.starts, t + slack) - 1
        if i >= 0 and self.ops[i]["t0"] - slack <= t <= self.ops[i]["t1"] + slack:
            return self.ops[i]
        return None


def trace_spans(raw):
    """Every span of the traced operations in one list: the harness's own
    spans, one span per Spark job (parent: the span that submitted it, by
    the job's local property, else its operation's root span) and one per
    planning phase (parent: the innermost harness span that contains it)."""
    ops = {o["id"]: o for o in raw["ops"] if o["traced"]}
    index = OpIndex(list(ops.values()))
    harness = [dict(s) for s in raw["spans"] if s["op"] in ops]
    roots = {s["op"]: s["id"] for s in harness if s["parent"] == 0}
    by_op = {}
    for s in harness:
        by_op.setdefault(s["op"], []).append(s)
    ids = {s["id"] for s in harness}
    out = list(harness)
    for j in raw["jobs"]:
        grp = j["group"]
        op = ops.get(int(grp[3:])) if grp.startswith("op-") else index.at(j["t0"])
        if op is None or op["id"] not in roots:
            continue
        t1 = j["t1"] if j["t1"] >= 0 else op["t1"]
        parent = j["span"] if j["span"] in ids else roots[op["id"]]
        out.append({"id": f"job-{j['id']}", "parent": parent, "op": op["id"],
                    "name": "spark.job", "t0": j["t0"], "t1": t1, "job": j})
    for i, p in enumerate(raw["phases"]):
        op = index.at(p["t0"])
        if op is None or op["id"] not in roots:
            continue
        inner = [s for s in by_op.get(op["id"], []) if s["t0"] <= p["t0"] <= s["t1"]]
        parent = min(inner, key=lambda s: s["t1"] - s["t0"])["id"] if inner else roots[op["id"]]
        out.append({"id": f"phase-{i}", "parent": parent, "op": op["id"],
                    "name": "catalyst." + p["name"], "t0": p["t0"], "t1": p["t1"]})
    return out


def layer_table(spans):
    """{span name: {calls, total_ms, self_ms}} over the given spans."""
    selfs = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["calls"] += 1
        row["total_ms"] += s["t1"] - s["t0"]
        row["self_ms"] += selfs[s["id"]]
    return table
