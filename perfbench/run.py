#!/usr/bin/env python3
"""Run one benchmark workload of the graft library on local[4].

Usage, from the repository root:

    python3 perfbench/run.py --workload <relational|archive_backfill> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness with sbt when their sources or their
compiled classes changed since the last build in this checkout, then runs
the harness in one JVM.
Its standard output ends with one JSON line: correct, attempted, failed
and the metrics (end-to-end with --trace 0, per-layer with --trace 1).
Everything it writes stays under perfbench/target.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.classpath")
BUILD_TIMEOUT_S = 840
WORKLOADS = ("relational", "archive_backfill")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath_state(cp):
    """Path, size and mtime of every file on the classpath. A build of
    another commit into the same class directories changes it, so the
    cached classpath is not reused for bytecode its stamp does not match."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        files = [entry]
        if os.path.isdir(entry):
            files = [os.path.join(d, n) for d, _, names in sorted(os.walk(entry))
                     for n in sorted(names)]
        for f in files:
            try:
                st = os.stat(f)
                h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
            except OSError:
                h.update(f"{f}\0missing\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        sys.exit(f"perfbench: {cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def classpath():
    """The harness classpath, rebuilt when any build input or any file
    on the classpath changed since the last build."""
    want = stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            have, state, cp = fh.read().split("\n", 2)
        cp = cp.strip()
        if have == want and state == classpath_state(cp):
            return cp
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n" + classpath_state(cp) + "\n" + cp + "\n")
    return cp


def java_cmd(cp, work, main_class, args):
    """The harness JVM on local[4], keeping every file it writes under work."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", "-Xmx4g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return java + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-cp", cp, main_class] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the graft library sources are not in this checkout")
    cp = classpath()
    work = os.path.join(TARGET, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    java = java_cmd(cp, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", os.path.join(HERE, "data", "sf0.1"),
        "--work", work, "--out", os.path.join(TARGET, "traces")])
    try:
        rc, out = run_bounded(java, RUN_TIMEOUT_S, cwd=work,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if result:
        print(result[-1])
    sys.exit(rc if rc != 0 or result else 1)


if __name__ == "__main__":
    main()
