#!/usr/bin/env python3
"""Builds and runs one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run compiles the repo's main sources together with the benchmark
(perfbench/build.sbt) and caches the classpath under perfbench/target; later
runs with unchanged sources launch `java` directly. Inputs, run records and
the run's temp dirs live under .perfbench/ in the checkout. The last line of
stdout is the result object printed by perfbench.Main. Extra arguments
(--size tiny, --inject ...) are passed through to it.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
WORK = ".perfbench"
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join("src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    return p.returncode, out


def build(digest):
    """Compiles with sbt (offline) unless the stamp matches; returns the classpath."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("source") == digest:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail(f"build failed (exit {code})")
    cp = [l for l in out.splitlines() if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(STAMP, "w") as fh:
        json.dump({"source": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def main():
    args = sys.argv[1:]
    for flag in ("--workload", "--seed", "--seconds", "--trace"):
        if flag not in args:
            fail(f"missing {flag}")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("perfbench/build.sbt is missing")

    digest = source_hash()
    classpath = build(digest)

    tmp = os.path.abspath(os.path.join(WORK, "tmp", str(os.getpid())))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.source={digest}",
        "-cp", classpath, "perfbench.Main"] + args
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was killed", 3)
    lines = (out or "").strip().splitlines()
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out or "")
        fail(f"run ended (exit {code}) without a result", 3)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
