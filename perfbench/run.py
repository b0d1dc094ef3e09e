#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload x2_fresh|x15_slab|lookup_clicks \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt on first use
(the build is cached in .bench_build and redone when any source changes),
then runs perfbench.Main in a JVM. Prints a report line, then as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
Exits non-zero without printing a result if anything fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("x2_fresh", "x15_slab", "lookup_clicks")
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit; the same list as the
# program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=700)
    sys.stderr.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout of the program: {need} is missing")

    cp = classpath()
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, f"result-{a.workload}-{a.seed}.json")
    if os.path.exists(out):
        os.remove(out)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=32m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out])
    # its own process group, so that a timeout also stops the JVMs it starts
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited {rc}")
    with open(out) as f:
        res = json.load(f)
    print(json.dumps({"report": res["report"], "errors": res["errors"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
