#!/usr/bin/env python3
"""Reduce a traced run to its per-layer ledger.

    python3 lakebench/trace_report.py TRACED.json [UNTRACED.json]

Input: run artifacts from lakebench/work/runs/. The ledger covers the first
`ledger_ops` operations of the run, which every run of a workload executes
whatever the host speed, so its counts repeat exactly for a given seed.

Per span name it prints the call count, total time, self time (duration
minus the time its child spans cover) and driver gap (duration not covered
by any Spark job: log replay, listing, planning, commit). Per operation type
it prints the mean Spark and filesystem counters. With an untraced artifact
of the same workload and seed (found in the same directory when not given)
it adds the tracing-overhead line: traced minus untraced end-to-end figures.
"""
import glob
import json
import os
import sys
from collections import defaultdict

SPARK_COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
                  "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
                  "spark.shuffle_read_bytes", "spark.input_bytes", "spark.output_bytes",
                  "spark.spill_bytes"]
IO_COUNTERS = ["io.create_calls", "io.rename_calls", "io.delete_calls", "io.open_calls",
               "io.list_calls", "io.status_calls", "io.bytes_written", "io.bytes_read"]

# The per-layer metrics a traced run reports, with their units; every value
# is a mean per ledger operation unless its name says otherwise.
PER_LAYER = [
    ("graft.call_ms", "ms"), ("graft.driver_gap_ms", "ms"), ("spark.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
    ("spark.input_bytes", "B"), ("spark.output_bytes", "B"), ("spark.spill_bytes", "B"),
    ("io.create_calls", "count"), ("io.rename_calls", "count"), ("io.delete_calls", "count"),
    ("io.open_calls", "count"), ("io.list_calls", "count"), ("io.status_calls", "count"),
    ("io.bytes_written", "B"), ("io.bytes_read", "B"),
    ("table.files_live", "count"), ("table.versions", "count"),
    ("table.files_scanned", "count"), ("table.skip_kept_ratio", "ratio"),
    ("table.write_amp", "ratio"), ("sql.metadata_only_share", "ratio"),
]


def _union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _covered(s, e, union):
    return sum(max(0.0, min(e, b) - max(s, a)) for a, b in union)


def reduce(art):
    """Per-layer ledger of a traced artifact: spans by name, counters by op type."""
    ops = [s for s in art["samples"] if s["op"] < art["ledger_ops"] and s["ok"]]
    kind_of = {s["op"]: s["kind"] for s in ops}
    jobs = defaultdict(list)
    for op, st, en in art.get("jobs", []):
        if op in kind_of and en >= st:
            jobs[op].append((float(st), float(en)))
    jobs = {op: _union(v) for op, v in jobs.items()}
    op_win = [(s["start_ns"] / 1e6, s["end_ns"] / 1e6, s["op"]) for s in ops]
    planning = defaultdict(float)
    for st, ms in art.get("planning", []):
        for a, b, op in op_win:
            if a <= st <= b:
                planning[op] += ms
                break

    spans = [dict(zip(("id", "parent", "op", "name", "start", "end"), s))
             for s in art.get("spans", [])]
    spans = [s for s in spans if s["op"] in kind_of]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"], s["op"]].append((s["start"] / 1e6, s["end"] / 1e6))
    by_name = defaultdict(lambda: {"calls": 0, "ms": 0.0, "self_ms": 0.0, "gap_ms": 0.0})
    call_ms = defaultdict(float)
    gap_ms = defaultdict(float)
    for s in spans:
        a, b = s["start"] / 1e6, s["end"] / 1e6
        d = by_name[s["name"]]
        d["calls"] += 1
        d["ms"] += b - a
        d["self_ms"] += (b - a) - _covered(a, b, _union(children[s["id"], s["op"]]))
        gap = (b - a) - _covered(a, b, jobs.get(s["op"], []))
        d["gap_ms"] += gap
        if s["parent"] == -1 and not s["name"].startswith("exec."):
            call_ms[s["op"]] += b - a
            gap_ms[s["op"]] += gap
    # operation level: the client's whole call, and what its child spans leave
    for o in ops:
        a, b = o["start_ns"] / 1e6, o["end_ns"] / 1e6
        d = by_name["op." + o["kind"]]
        d["calls"] += 1
        d["ms"] += b - a
        d["self_ms"] += (b - a) - _covered(a, b, _union(children[-1, o["op"]]))
        d["gap_ms"] += (b - a) - _covered(a, b, jobs.get(o["op"], []))

    per_kind = defaultdict(lambda: defaultdict(float))
    n_kind = defaultdict(int)
    for o in ops:
        k = o["kind"]
        n_kind[k] += 1
        c = dict(o.get("counters", {}))
        c["io.bytes_read"] = o.get("io.bytes_read", 0)
        c["io.bytes_written"] = o.get("io.bytes_written", 0)
        c["spark.planning_ms"] = planning.get(o["op"], 0.0)
        c["graft.call_ms"] = call_ms.get(o["op"], 0.0)
        c["graft.driver_gap_ms"] = gap_ms.get(o["op"], 0.0)
        for key, v in c.items():
            per_kind[k][key] += v
    return {"by_name": dict(by_name), "per_kind": {k: dict(v) for k, v in per_kind.items()},
            "n_kind": dict(n_kind), "n_ops": len(ops)}


def per_layer_metrics(art, layers):
    """The per_layer metrics of BENCHMARK.json: means per ledger operation."""
    n = max(1, layers["n_ops"])
    tot = defaultdict(float)
    for k, c in layers["per_kind"].items():
        for key, v in c.items():
            tot[key] += v
    facts = art.get("table_facts", {})
    inputs = art.get("inputs", {})
    out = {}
    for name, unit in PER_LAYER:
        if name in facts:
            v = facts[name]
        elif name == "table.files_scanned" or name == "table.skip_kept_ratio":
            v = 0.0
        elif name == "table.write_amp":
            batch = inputs.get("batch_bytes_median") or inputs.get("append_bytes_median") \
                or inputs.get("input_bytes") or 0
            writes = layers["n_kind"].get("append", 0) or n
            v = (tot["io.bytes_written"] / writes) / batch if batch else 0.0
        elif name == "sql.metadata_only_share":
            sql = [s for s in art["samples"] if s["kind"] == "sql" and s["op"] < art["ledger_ops"]]
            v = (sum(1 for s in sql if s.get("counters", {}).get("spark.jobs", 0) == 0) / len(sql)
                 if sql else 0.0)
        else:
            v = tot[name] / n
        out[name] = {"value": v, "unit": unit}
    return out


def render(art, layers):
    lines = ["per-layer ledger: %s seed %s, first %d ops (%s)" % (
        art["workload"], art["seed"], layers["n_ops"],
        ", ".join("%s x%d" % kv for kv in sorted(layers["n_kind"].items())))]
    lines.append("  %-26s %6s %11s %11s %11s" % ("span", "calls", "total_ms", "self_ms", "gap_ms"))
    for name, d in sorted(layers["by_name"].items()):
        lines.append("  %-26s %6d %11.1f %11.1f %11.1f" % (
            name, d["calls"], d["ms"], d["self_ms"], d["gap_ms"]))
    keys = ["graft.call_ms", "graft.driver_gap_ms", "spark.planning_ms"] + SPARK_COUNTERS + IO_COUNTERS
    kinds = sorted(layers["per_kind"])
    lines.append("  %-26s" % "mean per op" + "".join("%14s" % k for k in kinds))
    for key in keys:
        lines.append("  %-26s" % key + "".join(
            "%14.6g" % (layers["per_kind"][k].get(key, 0.0) / layers["n_kind"][k]) for k in kinds))
    for k, v in sorted(art.get("table_facts", {}).items()):
        lines.append("  %-26s %14.6g  (at the end of the ledger)" % (k, v))
    return "\n".join(lines)


def untraced_twin(runs_dir, art):
    """The newest untraced artifact of the same workload and seed, if any."""
    pat = os.path.join(runs_dir, "%s_s%s_t0_*.json" % (art["workload"], art["seed"]))
    for path in sorted(glob.glob(pat), key=os.path.getmtime, reverse=True):
        with open(path) as fh:
            return json.load(fh)
    return None


def overhead_line(traced, untraced):
    if untraced is None:
        return ("tracing overhead: no untraced run of %s seed %s to compare; run it with "
                "--trace 0 first" % (traced["workload"], traced["seed"]))
    parts = []
    for name, m in traced["metrics"].items():
        u = untraced["metrics"].get(name)
        if u and u["value"]:
            d = m["value"] - u["value"]
            parts.append("%s %+.4g %s (%+.1f%%)" % (name, d, m["unit"], 100.0 * d / u["value"]))
    return "tracing overhead (traced - untraced): " + "; ".join(parts)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fh:
        art = json.load(fh)
    if not art.get("trace"):
        sys.exit("%s is not a traced run" % sys.argv[1])
    if len(sys.argv) > 2:
        with open(sys.argv[2]) as fh:
            twin = json.load(fh)
    else:
        twin = untraced_twin(os.path.dirname(os.path.abspath(sys.argv[1])), art)
    layers = reduce(art)
    print(render(art, layers))
    print(overhead_line(art, twin))


if __name__ == "__main__":
    main()
