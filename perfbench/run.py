#!/usr/bin/env python3
"""Run one workload of graft's benchmark from the root of a checkout.

    python3 perfbench/run.py --workload wire_read --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark program from the checkout's sources (once;
the build is cached under perfbench/target), then runs the program in a
fresh JVM. All scratch state (warehouses, Spark temp files, result and
span files) goes under .perfbench/ in the checkout. The last line of
stdout is the result object; the lines before it name each metric with
its unit and sample count. Exits non-zero without a result when the
build, the run or an output check cannot complete.
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wire_read", "suite_sf01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the same list the root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_id():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, timeout, env, stdout, stderr):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(work, sid):
    """Compiles graft and the benchmark with sbt; caches the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached_sid, cp = fh.read().split("\n", 1)
        if cached_sid == sid:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    home = os.path.expanduser("~")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "export Runtime/fullClasspath"],
                         HERE, BUILD_TIMEOUT_S, env, out, subprocess.STDOUT)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and (os.pathsep in l or l.endswith(".jar"))]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(sid + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--pin", help="write the suite's pinned outputs to this file instead of checking them")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout: build.sbt and src/main/scala/graft are missing")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    work = os.path.join(ROOT, ".perfbench", a.workload)
    if os.path.isdir(work):
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)

    sid = source_id()
    cp = build(os.path.join(ROOT, ".perfbench"), sid)
    env = dict(os.environ, PERFBENCH_SOURCE_ID=sid)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Djava.awt.headless=true",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--data", os.path.join(HERE, "data", "sf0.1")]
           + (["--pin", os.path.abspath(a.pin)] if a.pin else []))
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(ROOT, ".perfbench", f"{a.workload}.stderr.log")
    t0 = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, env, out, err)
    with open(out_path) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    # keep the per-run result and span files; drop the warehouses
    results = os.path.join(work, "results")
    if os.path.isdir(results):
        for f in os.listdir(results):
            shutil.copy(os.path.join(results, f), os.path.join(ROOT, ".perfbench", "results", f))
    shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {err_path}")
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {rc}); see {err_path}")
    for l in lines:
        print(l)
    print(f"# run wall {time.time() - t0:.1f} s, source {sid}", file=sys.stderr)


if __name__ == "__main__":
    main()
