#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload cdc_batch --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first run builds the program and
the benchmark with sbt (the classpath is cached under perfbench/.build
until a source file changes); each run then starts one JVM
(perfbench.Main) that generates its inputs from --seed, measures for
--seconds and checks its outputs. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1, the per-layer ones.

--record FILE (suite only) writes the per-query row counts and hashes
the correctness check compares against, instead of checking them.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JAVA_OPTS = [
    # a fixed, pre-touched heap: no heap resizing inside a measured window
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
    # no hsperfdata file in the system temp dir
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".json", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt and return the runtime classpath."""
    cache = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(cache, "classpath"), os.path.join(cache, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
        try:
            code = proc.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("build timed out")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-library" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def run_jvm(cp, args, work, deadline):
    raw_path = os.path.join(work, "raw.json")
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                  "-cp", cp, "perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--work", work, "--out", raw_path]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(raw_path):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("benchmark JVM exited with %s" % code)
    with open(raw_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="suite only: write expectations to this file")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the program's build.sbt and src/ are missing")
    cp = build(root)
    start = time.time()
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        raw = run_jvm(cp, args, work, start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, layers = metrics.compute(raw)
    chosen, units = (layers, dict(metrics.PER_LAYER)) if args.trace else (e2e, dict(metrics.END_TO_END))
    attempted, failed = raw["attempted"], raw["failed"]
    for err in raw.get("errors", [])[:20]:
        print("error: " + err)
    print("failed_frac %.6f (%d of %d)" % (failed / attempted if attempted else 1.0,
                                           failed, attempted))
    for name, value in chosen.items():
        print("%-30s %14.6f %s" % (name, value, units[name]))
    if args.trace and args.workload == "suite":
        print(metrics.layer_table(layers))
    print(json.dumps({
        "correct": bool(raw["correct"]) and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in chosen.items()},
    }))


if __name__ == "__main__":
    main()
