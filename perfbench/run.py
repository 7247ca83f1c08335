#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload register --seed 7 --seconds 20 --trace 0

Builds the engine and the benchmark with sbt on first use (the classpath is
kept in .bench_build/ and rebuilt when a source file changes), then starts
one JVM for the run. Everything the run writes goes under
.bench_build/runs/<run>/, which is deleted when the run ends. The last line
of standard output is the result object; see perfbench/README.md.

Environment: SPARK_GRAFT_SF_DIR (the sf0.1 fixture tables; default
~/testdata/sf0.1, as in graft.Bench) and SPARK_GRAFT_CPUS (default: the
CPUs this process may use) are the variables graft.Bench reads.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(CHECKOUT, ".bench_build")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src", "perfbench/build.sbt", "perfbench/project", "perfbench/src"]
    for r in roots:
        top = os.path.join(CHECKOUT, r)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, CHECKOUT).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, CHECKOUT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Build if needed; return the run classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env={**os.environ, **SBT_ENV}, start_new_session=True)
        code = wait(proc, deadline)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def wait(proc, deadline):
    """Wait for proc; past the deadline kill its whole process group."""
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def java_cmd(cp, root):
    """The JVM command line, up to the main class; temp files go under root."""
    # deep call sites, so the traced run's attribution reaches the engine frame
    return (["java", "-Xmx4g", f"-Djava.io.tmpdir={root}/tmp", "-Dspark.callstack.depth=64"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", cp])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated launcher still stops its JVM or sbt and deletes the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.monotonic()
    spec_path = os.path.join(CHECKOUT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala", "graft")):
        fail("no engine sources in this checkout")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isdir(sf_dir):
        fail(f"fixture tables not found at {sf_dir}")
    cores = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    before_build = time.monotonic()
    cp = classpath(start + BUILD_LIMIT_S)
    # a run that had to build gets the build's time on top of its own limit
    deadline = time.monotonic() + RUN_LIMIT_S - (before_build - start)

    root = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
    cmd = java_cmd(cp, root) + ["perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", root, "--sf", sf_dir, "--cores", cores, "--spec", spec_path,
              "--expected", os.path.join(HERE, "expected", "register.json"),
              "--trace-out", os.path.join(BUILD_DIR, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.jsonl")]
    try:
        proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, deadline)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if code != 0:
        fail(f"run failed (exit {code})", 1)


if __name__ == "__main__":
    main()
