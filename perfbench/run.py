#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload diff_suite --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source with sbt on first use (or when
a source file changed), then runs one workload in a fresh JVM. The JVM
prints every metric with its unit and, as the last line, one JSON object
with the keys correct, attempted, failed and metrics. Inputs, outputs and
scratch files stay under perfbench/ (work/ is removed after each run;
results/ keeps one JSON result per run and, for traced runs, the spans).
Exits non-zero when the build fails, an output check fails, or the run
exceeds its time limit.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("diff_suite", "lake_cycle", "corpus_prep")
RUN_LIMIT_S = 170       # one run, when nothing needs building
BUILD_LIMIT_S = 700     # a cold sbt build of graft plus the benchmark
CDS = os.path.join(BUILD, "classes.jsa")
JVM_OPTS = [
    "-Xmx3g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
              os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_limited(cmd, cwd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past the limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    """Compile with sbt, archive the classes a run loads (class-data
    sharing shortens every later JVM start), and return the classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    code, out = run_limited(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        BENCH, BUILD_LIMIT_S, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("sbt build failed")
    cp = [line for line in lines if not line.startswith("[") and os.pathsep in line]
    if not cp:
        raise SystemExit("sbt printed no classpath")
    classpath = cp[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    log("recording the class-data archive with a short diff_suite run")
    jvm(classpath, "diff_suite", 1, 1, 0, ["-XX:ArchiveClassesAtExit=" + CDS], BUILD_LIMIT_S)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f}s")
    return classpath


def jvm(classpath, workload, seed, seconds, trace, extra, limit):
    """One benchmark JVM; returns (exit code, stdout)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(BENCH, "work", tag)
    results = os.path.join(BENCH, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    cmd = [java] + JVM_OPTS + extra + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--out", results, "--commit", commit()]
    try:
        with open(os.path.join(results, tag + ".log"), "w") as err:
            return run_limited(cmd, ROOT, limit, env=env, stdout=subprocess.PIPE,
                               stderr=err, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {limit:.0f}s; see perfbench/results/{tag}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"graft sources not found next to the benchmark: {missing}")

    classpath = build()
    extra = ["-XX:SharedArchiveFile=" + CDS, "-Xlog:disable"] if os.path.exists(CDS) else []
    limit = max(30.0, start + (BUILD_LIMIT_S + RUN_LIMIT_S if time.time() - start > 60
                               else RUN_LIMIT_S) - time.time())
    code, out = jvm(classpath, a.workload, a.seed, a.seconds, a.trace, extra, limit)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    lines = out.rstrip("\n").splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        raise SystemExit(f"no result line (exit {code}); see perfbench/results/{tag}.log")
    print(lines[-1], flush=True)
    if code != 0 or not result["correct"]:
        raise SystemExit(code or 1)


if __name__ == "__main__":
    main()
