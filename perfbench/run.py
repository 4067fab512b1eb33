#!/usr/bin/env python3
"""Benchmark entry point for finmlkitspark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (an sbt
project in this directory that compiles ../src/main/scala with the harness)
into .bench_build/; later runs reuse it while the sources are unchanged.
Every file a run creates (Spark local dirs, checkpoints, stores, indexes,
java.io.tmpdir) lives under one run root in .bench_run/, deleted at exit.
Traced runs also write a per-layer report to .bench_out/.

The last stdout line is the JSON result. The exit code is 0 only when every
operation and output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
RUNS = os.path.join(REPO, ".bench_run")
REPORTS = os.path.join(REPO, ".bench_out")
PROGRAM = os.path.join(REPO, "src", "main", "scala")
WORKLOADS = ("series_bulk", "symbols_skew", "bars_stream", "corpus_stream")
RUN_TIMEOUT_S = 170
HEAP_MB = 2048
SBT_OPTS = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
REPOS_FILE = os.path.expanduser("~/.sbt/repositories")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or ".", "jars")


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = list(SBT_OPTS) + ["-Dperfbench.sparkJars=" + spark_jars()]
    if os.path.exists(REPOS_FILE):
        opts.append("-Dsbt.repository.config=" + REPOS_FILE)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")])
    p = subprocess.run(["sbt", "--batch", "export Compile/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        sys.stderr.write("perfbench: program sources not found at %s\n" % PROGRAM)
        return 2
    cp = build()
    os.makedirs(RUNS, exist_ok=True)
    root = os.path.join(RUNS, "%s-%d-%d" % (a.workload, os.getpid(), int(time.time())))
    os.makedirs(os.path.join(root, "tmp"))
    # a fixed heap, whatever the machine's memory: G1 sizes its young
    # generation from it, and a heap that grows during the first measured
    # unit slows that unit alone
    cmd = (["java", "-Xms%dm" % HEAP_MB, "-Xmx%dm" % HEAP_MB, "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for o in JDK_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", root]
           + (["--report", REPORTS] if a.trace else []))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        for line in out.splitlines():
            if line.startswith('{"correct"'):
                result = line
            elif line.strip():
                sys.stderr.write(line + "\n")
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("perfbench: run exceeded %d s\n" % RUN_TIMEOUT_S)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    if result is None:
        return code or 4
    print(result)
    return code


if __name__ == "__main__":
    sys.exit(main())
