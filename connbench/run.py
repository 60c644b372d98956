#!/usr/bin/env python3
"""Connector benchmark launcher.

    python3 connbench/run.py --workload <ingest|scan|tail|dedup> --seed <n> \
        --seconds <s> --trace <0|1> [--spans-out <file>]

Run from the repository root. Builds the repository's main sources together
with the benchmark's own (sbt, in this directory) when any source changed
since the last build, then runs one measured window in a fresh JVM. Every
store, checkpoint and Spark scratch file lives under a temp root inside this
directory, deleted on exit. The last line of standard output is the JSON
result; progress and Spark logs go to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "connbench.stamp")
CLASSPATH = os.path.join(TARGET, "connbench.classpath")
WORKLOADS = ("ingest", "scan", "tail", "dedup")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def log(msg):
    print(f"[connbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("[connbench] no Spark install: set SPARK_HOME")
    return home


def build(env):
    """Compile with sbt unless the stamp matches the current sources."""
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building (sources changed since the last build)")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    benv["SBT_OPTS"] = (benv.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    code, out = run_group(["sbt", "--batch", "-Dsbt.server.forcestart=false", "compile",
                           "export Runtime/fullClasspath"], HERE, benv, BUILD_TIMEOUT_S)
    lines = [l.strip() for l in out]
    for l in lines:
        if l.startswith("[error]"):
            print(l, file=sys.stderr)
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.exit(f"[connbench] build failed (sbt exit {code})")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, env, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "connbench.Main",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--work", work,
                               "--spec", os.path.join(ROOT, "BENCHMARK.json")]
    if args.spans_out:
        cmd += ["--spans-out", os.path.abspath(args.spans_out)]
    return run_group(cmd, work, env, RUN_TIMEOUT_S)


def run_group(cmd, cwd, env, timeout):
    """Run cmd in its own process group; kill the whole group if it times
    out or this launcher is stopped. Returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            sys.exit(f"[connbench] {cmd[0]} exceeded {timeout} s")
        raise
    return proc.returncode, out.splitlines()


def parse_result(lines):
    """The JVM's last stdout line, checked against the result contract."""
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    ok = (isinstance(res, dict)
          and set(res) == {"correct", "attempted", "failed", "metrics"}
          and isinstance(res["attempted"], int) and res["attempted"] >= 1
          and isinstance(res["failed"], int))
    return res if ok else None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--spans-out", help="write the traced run's spans here (JSON lines)")
    args = p.parse_args()
    # a terminated launcher still stops its JVM and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[connbench] repository sources not found next to the benchmark")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)
    work = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    try:
        code, lines = run_jvm(args, env, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    res = parse_result(lines)
    if code != 0 or res is None:
        sys.exit(f"[connbench] run failed (exit {code}); no result")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
