#!/usr/bin/env python3
"""Record expected/register.json: digest, row count, seconds, family and
substrate use of every register row on the sf0.1 fixture.

    python3 perfbench/record.py

Runs perfbench.Record twice, at the CPU count the benchmark uses and at
half of it. A row whose digest differs between the two is recorded with a
null digest and is checked on its row count only. Seconds come from the
first pass. Re-record only when a change is meant to alter a row's output.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run


def record_pass(cp, cores, sf_dir, out):
    root = os.path.join(run.BUILD_DIR, "runs", f"record-{cores}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        subprocess.run(run.java_cmd(cp, root) + ["perfbench.Record", str(cores), sf_dir, out],
                       cwd=root, check=True, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    with open(out) as f:
        return {p[0]: p[1:] for p in (l.rstrip("\n").split("\t") for l in f)}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    cp = run.classpath(time.monotonic() + run.BUILD_LIMIT_S)
    passes = [record_pass(cp, c, sf_dir, os.path.join(run.BUILD_DIR, f"record-{c}.tsv"))
              for c in (cores, max(1, cores // 2))]
    first, second = passes
    if set(first) != set(second):
        sys.exit("the two passes saw different rows")
    rows = {}
    for name, (digest, count, secs, substrate, family) in sorted(first.items()):
        d2, c2 = second[name][0], second[name][1]
        if count != c2:
            sys.exit(f"{name}: row count {count} vs {c2}")
        rows[name] = {"digest": digest if digest == d2 else None, "rows": int(count),
                      "seconds": round(float(secs), 3), "substrate": substrate == "true",
                      "family": family}
    unstable = sorted(n for n, r in rows.items() if r["digest"] is None)
    out = os.path.join(run.HERE, "expected", "register.json")
    with open(out, "w") as f:
        json.dump({"fixture": "sf0.1", "cores": [cores, max(1, cores // 2)],
                   "count_only": unstable, "rows": rows}, f, indent=1)
        f.write("\n")
    print(f"{len(rows)} rows, {len(unstable)} checked on row count only: {', '.join(unstable)}")


if __name__ == "__main__":
    main()
