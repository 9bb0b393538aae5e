#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a source checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, builds the engine and the
benchmark from source (once per checkout; later runs reuse the build while
no source changes), and runs the workload in one JVM on local[nproc]. The
last stdout line is the result object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
with ``--trace 1``). Scratch files live under perfbench/.work and are
removed on exit; traced runs leave their spans under perfbench/out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
GTEX_FIXTURES = os.path.join(ROOT, "src", "test", "resources", "gtex")
STAMP = os.path.join(HERE, "target", "perfbench.classpath")
WORKLOADS = ("gtex_etl", "iter_graph")
GEN_REPS = 3
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    classes = os.path.join(HERE, "target")
    cps = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip().startswith(classes)]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed", 1)
    with open(STAMP, "w") as f:
        f.write(digest + "\n" + cps[-1])
    return cps[-1]


def java_cmd(cp, work, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}"] + opens +
            [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             "-Dspark.ui.enabled=false",
             "-cp", cp, "graft.perfbench.Main"] + main_args)


def make_inputs(workload, seed, dest):
    """Generate the inputs GEN_REPS times; return (median seconds, counts)."""
    secs = []
    for _ in range(GEN_REPS):
        shutil.rmtree(dest, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "gtex_etl":
            info = gen.gtex_inputs(seed, dest, GTEX_FIXTURES)
        else:
            info = gen.star_tables(seed, dest)
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs), info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # SIGTERM unwinds like an exception: subprocess.run kills and reaps the
    # JVM, and the scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(ENGINE_SRC) and os.path.isdir(GTEX_FIXTURES)):
        fail("run from the root of a graft source checkout (no src/ here)")

    cp = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        inputs = os.path.join(work, "in")
        gen_s, info = make_inputs(args.workload, args.seed, inputs)
        info_path = os.path.join(work, "info.json")
        with open(info_path, "w") as f:
            json.dump(info, f)
        cmd = java_cmd(cp, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--inputs", inputs, "--info", info_path, "--gen-s", repr(gen_s),
            "--goldens", os.path.join(HERE, "goldens.json"),
            "--work", work, "--out", os.path.join(HERE, "out")])
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                      stderr=log, text=True, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"workload exceeded {JVM_TIMEOUT_S} s", 1)
        with open(log_path) as f:
            errors = [ln for ln in f if "[perfbench]" in ln or "Exception" in ln]
        sys.stderr.writelines(errors[-40:])
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError, AssertionError):
            result = None
        if proc.returncode != 0 or result is None:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"JVM exited with {proc.returncode} and no result", 1)
        for ln in lines[:-1]:
            print(ln)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
