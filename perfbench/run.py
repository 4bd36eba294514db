#!/usr/bin/env python3
"""Engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt (offline) the first time the sources change, keeping a
copy of the compiled classes and the classpath under the build
directory ($CARGO_TARGET_DIR, default .bench_build), then runs one
workload in a fresh JVM. The last
line of standard output is the result JSON; the line before it carries
provenance and sample counts.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("htap_analytics", "rest_mixed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
MAIN = "graft.perfbench.Main"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# engine's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, in a stable order."""
    out = []
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(os.path.join(root, f))
    for d in ("src/main", "perfbench/src/main"):
        for base, _, files in os.walk(os.path.join(root, d)):
            out.extend(os.path.join(base, f) for f in files)
    return sorted(out)


def digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def snapshot(cp, dest):
    """Copy the class directories of classpath `cp` under `dest` and
    return the classpath naming the copies: a later build of the shared
    target/ directories then cannot change the classes a digest runs."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(dest, f"classes-{i}")
            shutil.copytree(entry, copy)
            out.append(copy)
        else:
            out.append(entry)
    return os.pathsep.join(out)


def build(root, build_dir, dig):
    """Compile engine + benchmark once per source digest; return the
    runtime classpath, whose class directories are private copies."""
    dest = os.path.join(build_dir, f"classes-{dig}")
    cp_file = os.path.join(dest, "classpath.txt")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            t0 = time.time()
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=sbt_env(), stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                timeout=BUILD_TIMEOUT_S)
            lines = [l.strip() for l in p.stdout.splitlines()]
            cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
            if p.returncode != 0 or not cps:
                sys.stderr.write(p.stdout[-4000:])
                fail("build failed", 3)
            for old in os.listdir(build_dir):
                if old.startswith("classes-"):
                    shutil.rmtree(os.path.join(build_dir, old))
            os.makedirs(dest)
            cp = snapshot(cps[-1], dest)
            with open(cp_file + ".tmp", "w") as fh:
                fh.write(cp)
            os.replace(cp_file + ".tmp", cp_file)
            print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--statements", type=int,
                    help="run exactly this many statements on one client, no writer "
                         "(checks that the Spark work counters repeat)")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; choose from {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/engine/Engine.scala",
                 "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    dig = digest(root)
    cp = build(root, build_dir, dig)

    work = os.path.join(build_dir, "run", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Duser.language=en",
           "-Duser.country=US", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.statements:
        cmd += ["--statements", str(a.statements)]
    env = dict(os.environ, PERFBENCH_SOURCE_DIGEST=dig)
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if proc.returncode != 0 or not result:
        fail(f"benchmark exited with {proc.returncode}", proc.returncode or 5)
    print(result[-1])


if __name__ == "__main__":
    main()
