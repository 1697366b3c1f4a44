#!/usr/bin/env python3
"""The graft benchmark: builds the tree it sits in, then runs one workload.

    python3 perfbench/run.py --workload closure --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py sweep --data <dir of sf tables> [--out <file>]

The first form prints progress lines and, as its last line, one JSON object
with the keys correct, attempted, failed and metrics. The sweep form runs
every registered query once, traced, and writes a per-query breakdown.
See perfbench/README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# JDK packages Spark needs opened, shared with build.sbt's test runs
ADD_OPENS = os.path.join(BENCH, "add-opens.txt")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for top in (ROOT, BENCH):
        for rel in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(top, rel)
            if os.path.isfile(p):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
        src = os.path.join(top, "src", "main")
        for d, dirs, files in os.walk(src):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the repository and the harness with sbt once per tree and
    records the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources are not next to perfbench/; nothing to build")
    stamp = sources_stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    with open(log, "w") as out:
        code = run_group(cmd, BENCH, BUILD_TIMEOUT_S, stdout=out)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln
          and ".jar" in ln]
    if code != 0 or not cp:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        fail(f"build failed (exit {code}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


def run_group(cmd, cwd, timeout, stdout=None, env=None):
    """Runs cmd in its own process group and kills the group on timeout,
    waiting until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: the full collections that read the retained heap must
    # not shrink it under the operations that follow
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    with open(ADD_OPENS) as f:
        for p in (ln.strip() for ln in f):
            if p and not p.startswith("#"):
                cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    return run_group(cmd, ROOT, RUN_TIMEOUT_S, env=env)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    # a terminated run stops its JVM too (run_group kills it on the exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    argv = sys.argv[1:]
    if argv[:1] == ["sweep"]:
        ap = argparse.ArgumentParser(prog="run.py sweep")
        ap.add_argument("--data", required=True)
        ap.add_argument("--out", default=os.path.join(BENCH, "out", "sweep.json"))
        a = ap.parse_args(argv[1:])
        cp = build()
        global RUN_TIMEOUT_S
        RUN_TIMEOUT_S = 3 * 3600
        code = java(cp, "perfbench.Sweep", [
            "--data", os.path.abspath(a.data), "--out", os.path.abspath(a.out),
            "--cpus", str(cpus()), "--work", WORK,
            "--expected", os.path.join(BENCH, "expected.json")])
        sys.exit(code)
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build()
    code = java(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus()), "--work", WORK,
        "--benchmark", os.path.join(ROOT, "BENCHMARK.json"),
        "--data", os.path.join(BENCH, "data"),
        "--expected", os.path.join(BENCH, "expected.json"),
        "--out", os.path.join(BENCH, "out")])
    sys.exit(code)


if __name__ == "__main__":
    main()
