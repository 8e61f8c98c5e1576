#!/usr/bin/env python3
"""Compare sets of lakehouse benchmark runs.

    python3 lakebench/compare.py RUNS                 # one set: spread per metric
    python3 lakebench/compare.py PARENT CHANGE        # two sets: bound verdicts + pair rule

RUNS, PARENT and CHANGE are run artifacts (lakebench/work/runs/*.json, not the
*.stderr.log files): a directory, a glob in quotes, or a comma-separated list
of files. Traced runs are ignored; their timings carry the tracing overhead.

For every workload x metric it prints the median, the quartiles
(statistics.quantiles(values, n=4)), the spread (q3 - q1) / median and a
verdict against the bound BENCHMARK.json fixes for that metric:

  one set    steady        spread <= bound / 3
             noisy         spread <= bound
             too noisy     spread >  bound (a change cannot be judged on it)
  two sets   ok            the change's median is not worse than the parent's
                           by more than the bound
             REGRESSION    it is worse by more than the bound
             unresolved    a spread is wider than the bound and not every
                           change run beats every parent run
             GAIN          the pair rule holds: pairs are (parent run i,
                           change run i) in run order, the change wins at
                           least 9 of 10 pairs (ties count for neither), and
                           the medians differ by more than the parent's own
                           quartile distance, and the change failed no more
                           operations than the parent

op_p50_ms combines per-type medians: on lake_reads the geometric mean of
read.point/range/sql/append_p50_ms, so one type could slow by more than 2x
before it crosses its bound; on etl_incremental the cycle median alone,
without etl.maintain_p50_s. Every workload figure named *_p50_* is therefore
held to op_p50_ms's bound as well. The other workload figures
(read.p90_ms, read.ops_per_s, failed_op_share, ...) are listed with their
better-direction and no bound. Artifacts of --selftest runs (small inputs)
and traced runs are skipped. Run the parent and the change alternately, the
same number of times, with the same seeds.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
HIGHER = ("1/s", "rows/s", "ops/s", "docs/s")


def load_set(spec):
    if os.path.isdir(spec):
        files = glob.glob(os.path.join(spec, "*.json"))
    elif "," in spec:
        files = spec.split(",")
    else:
        files = glob.glob(spec)
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if a.get("trace") or a.get("selftest") or "metrics" not in a:
            continue
        a["_mtime"] = os.path.getmtime(f)
        runs.append(a)
    runs.sort(key=lambda a: a["_mtime"])
    return runs


def gated():
    with open(BENCH) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}


def series(runs):
    """workload -> metric -> (unit, better, bound, [values in run order])."""
    g = gated()
    out = {}
    for a in runs:
        w = out.setdefault(a["workload"], {})
        att = max(1, a["attempted"])
        rows = [(n, m, g.get(n)) for n, m in a["metrics"].items()]
        rows += [(n, m, g.get("op_p50_ms") if "_p50_" in n else None)
                 for n, m in a.get("named", {}).items() if n not in a["metrics"]]
        if not any(r[0] == "failed_op_share" for r in rows):
            rows.append(("failed_op_share", {"value": a["failed"] / att, "unit": "ratio"}, None))
        for name, m, spec in rows:
            if m["value"] is None:
                continue
            better = spec["better"] if spec else ("higher" if m["unit"] in HIGHER else "lower")
            bound = spec["bound"] if spec else None
            e = w.setdefault(name, [m["unit"], better, bound, []])
            e[3].append(float(m["value"]))
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def spread(v):
    q1, med, q3 = quartiles(v)
    return (q3 - q1) / med if med else float("inf") if q3 > q1 else 0.0


def worse(better, a, b):
    """How much b is worse than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (b - a) / a if better == "lower" else (a - b) / a


def one_set(runs):
    print("%-16s %-32s %4s %12s %12s %12s %8s %6s  %s" % (
        "workload", "metric", "n", "q1", "median", "q3", "spread", "bound", "verdict"))
    for wname, ms in sorted(series(runs).items()):
        for name, (unit, better, bound, v) in sorted(ms.items(), key=lambda kv: (kv[1][2] is None, kv[0])):
            q1, med, q3 = quartiles(v)
            sp = spread(v)
            if bound is None:
                verdict = "not gated (%s is better)" % better
            elif name == "setup_s":
                verdict = "gated on median shift only"
            else:
                verdict = "steady" if sp <= bound / 3 else "noisy" if sp <= bound else "too noisy"
            print("%-16s %-32s %4d %12.5g %12.5g %12.5g %8.4f %6s  %s %s" % (
                wname, name, len(v), q1, med, q3, sp, "-" if bound is None else bound,
                verdict, unit))


def failures(runs):
    """workload -> failed operations summed over the set."""
    out = {}
    for a in runs:
        out[a["workload"]] = out.get(a["workload"], 0) + a["failed"]
    return out


def two_sets(parent, change):
    ps, cs = series(parent), series(change)
    pf, cf = failures(parent), failures(change)
    print("%-16s %-28s %12s %12s %9s %8s %8s %6s %7s  %s" % (
        "workload", "metric", "parent_med", "change_med", "change%", "p_sprd", "c_sprd",
        "bound", "wins", "verdict"))
    regressions = []
    for wname in sorted(set(ps) & set(cs)):
        for name in sorted(set(ps[wname]) & set(cs[wname])):
            unit, better, bound, pv = ps[wname][name]
            cv = cs[wname][name][3]
            pq1, pmed, pq3 = quartiles(pv)
            _, cmed, _ = quartiles(cv)
            d = worse(better, pmed, cmed)
            pairs = list(zip(pv, cv))
            wins = sum(1 for a, b in pairs if worse(better, a, b) < 0)
            gain = (len(pairs) > 0 and wins >= 0.9 * len(pairs)
                    and abs(cmed - pmed) > (pq3 - pq1) and d < 0
                    and cf[wname] <= pf[wname])
            if bound is None:
                verdict = "GAIN" if gain else "not gated"
            elif gain:
                verdict = "GAIN"
            elif d > bound:
                verdict = "REGRESSION"
            elif max(spread(pv), spread(cv)) > bound and not all(
                    worse(better, a, b) < 0 for a in pv for b in cv):
                verdict = "unresolved"
            else:
                verdict = "ok"
            if verdict == "REGRESSION":
                regressions.append("%s %s" % (wname, name))
            print("%-16s %-28s %12.5g %12.5g %+8.1f%% %8.4f %8.4f %6s %3d/%-3d  %s" % (
                wname, name, pmed, cmed, 100.0 * (cmed - pmed) / pmed if pmed else 0.0,
                spread(pv), spread(cv), "-" if bound is None else bound, wins, len(pairs),
                verdict))
    for wname in sorted(set(ps) & set(cs)):
        print("%-16s failed operations: parent %d, change %d" % (wname, pf[wname], cf[wname]))
    print("REGRESSION: " + ", ".join(regressions) if regressions else "no regression")


def main():
    args = sys.argv[1:]
    if not args or len(args) > 2:
        sys.exit(__doc__)
    sets = [load_set(a) for a in args]
    for spec, runs in zip(args, sets):
        if not runs:
            sys.exit("no untraced run artifacts in %s" % spec)
    if len(sets) == 1:
        one_set(sets[0])
    else:
        two_sets(*sets)


if __name__ == "__main__":
    main()
