#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print its result as the last line of stdout.

    python3 perfbench/run.py --workload consume_merge --seed 1 --seconds 18 --trace 0

Run it from the repository root. The build (sbt, offline) happens once per
checkout and is reused while no source or build file changes. Scratch data
lives under perfbench/.work and is removed when the run ends; a traced run
leaves its span file under perfbench/.out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("consume_merge", "poll_outbox", "curate_corpus")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (the same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError("no engine build at the repository root")
    log("perfbench: building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError("build failed")
    cp = lines[-1].strip()
    if os.pathsep not in cp or "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        raise RuntimeError("could not read the runtime classpath from sbt")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def check_result(line):
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys: %s" % sorted(r))
    if not isinstance(r["attempted"], int) or r["attempted"] < 1:
        raise ValueError("attempted must be a positive integer")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s malformed" % name)
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    out = os.path.join(HERE, ".out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    # A fixed, pre-touched heap keeps peak RSS from depending on when the
    # collector happens to grow the heap; what moves it is native memory.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            # Compiler threads that never exit, so their CPU can be told
            # apart from the rest for cpu_per_krec_s.
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC",
            "-Dderby.system.home=" + work,
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(a.cores), "--work", work, "--out", out])
    err_path = os.path.join(HERE, ".out", "stderr-%s-%d.log" % (a.workload, a.seed))
    try:
        with open(err_path, "w") as err:
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not lines:
        with open(err_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("benchmark process exited with %d" % p.returncode)
    result = check_result(lines[-1])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # any failure: no result line, non-zero exit
        log("perfbench: %s" % e)
        sys.exit(1)
