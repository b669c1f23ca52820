#!/usr/bin/env python3
"""Daemon benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
benchmark package (perfbench/build.sbt: the engine's main sources plus the
harness) with sbt and records the runtime classpath; later runs reuse it
until a source file changes. The measurement itself runs in one JVM,
`perfbench.Main`, whose last stdout line is the JSON result. Scratch state
lives under perfbench/target/ and is removed after the run; the traced
run's span file stays at perfbench/target/traces/.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
WORKLOADS = ("sync_backlog", "sync_tail", "curate_backlog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit (the engine build sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_stamp():
    """Digest of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala — run from a full checkout")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
            with open(STAMP) as f:
                if f.read() == stamp:
                    with open(CLASSPATH) as c:
                        return c.read().strip()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        cp = next((l for l in reversed(lines) if not l.startswith("[") and "scala-library" in l), None)
        if proc.returncode != 0 or cp is None:
            sys.stderr.write(proc.stdout[-4000:])
            sys.exit("perfbench: build failed")
        with open(CLASSPATH, "w") as f:
            f.write(cp)
        with open(STAMP, "w") as f:
            f.write(stamp)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build()
    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(TARGET, "traces", f"{a.workload}-{a.seed}.spans.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
