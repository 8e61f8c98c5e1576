#!/usr/bin/env python3
"""Run one lakehouse benchmark workload and print its result.

    python3 lakebench/run.py --workload etl_incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (the engine's sources under src/main/scala
are compiled into the benchmark's own build); later runs reuse the build
while the sources are unchanged. Everything the run writes stays under
lakebench/work/.

Human-readable lines come first; the last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). The full artifact of each
run is kept under lakebench/work/runs/. --selftest 1 runs a workload on a
small input and checks that corrupted outputs fail its checks.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("etl_incremental", "lake_reads", "corpus_dedup")

sys.path.insert(0, HERE)
import trace_report  # noqa: E402


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt unless the sources match the last build; return the classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        sys.exit("lakebench: no engine sources at src/main/scala/graft; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s " % repos) + opts
        env["SBT_OPTS"] = opts
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("lakebench: build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print("build: %.1f s" % (time.time() - t0))
    return cp


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def launch(cp, workload, seed, seconds, trace, selftest, out):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    # no perf-data file: the JVM would write it outside the checkout
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp,
            "-cp", cp, "lakebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", WORK, "--out", out,
            "--selftest", "1" if selftest else "0"]
    p = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        _, err = p.communicate(timeout=170 if not selftest else 600)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("lakebench: run timed out")
    return p.returncode, err


def fmt(v):
    return "n/a" if v is None else ("%.6g" % v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(runs, "%s_s%d_t%d_%s_%d.json" % (a.workload, a.seed, a.trace, stamp, os.getpid()))
    code, err = launch(cp, a.workload, a.seed, a.seconds, a.trace == 1, a.selftest == 1, out)
    with open(out[:-len(".json")] + ".stderr.log", "w") as fh:
        fh.write(err)
    if not os.path.exists(out):
        sys.stderr.write(err[-6000:])
        sys.exit("lakebench: the run left no result (exit %d); its log is %s.stderr.log"
                 % (code, os.path.relpath(out[:-len(".json")], ROOT)))
    with open(out) as fh:
        art = json.load(fh)
    art["artifact"] = os.path.relpath(out, ROOT)

    print("workload %s seed %d trace %d: %d ops, %d failed, correct=%s" % (
        a.workload, a.seed, a.trace, art["attempted"], art["failed"], art["correct"]))
    for p in art["problems"][:10]:
        print("  check failed: " + p)
    for name, m in art["named"].items():
        print("  %-32s %12s %s" % (name, fmt(m["value"]), m["unit"]))
    h = art["host"]
    print("  host: nproc %d, load %.2f -> %.2f, probe %.3f -> %.3f s" % (
        h["nproc"], h["loadavg_start"], h["loadavg_end"], h["probe_s_start"], h["probe_s_end"]))
    print("  inputs: " + json.dumps(art["inputs"], sort_keys=True))
    if a.selftest:
        for k, v in art["selftest"].items():
            print("  selftest %-28s %s" % (k, "ok" if v else "FAILED"))
    if a.trace:
        layers = trace_report.reduce(art)
        print(trace_report.render(art, layers))
        print(trace_report.overhead_line(art, trace_report.untraced_twin(runs, art)))
        metrics = trace_report.per_layer_metrics(art, layers)
    else:
        metrics = art["metrics"]
    print(json.dumps({"correct": bool(art["correct"]), "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))
    if a.selftest and not (art["selftest"] and all(art["selftest"].values())):
        sys.exit(1)


if __name__ == "__main__":
    main()
