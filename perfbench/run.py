#!/usr/bin/env python3
"""End-to-end benchmark of the extraction path that graft.spark.Main runs.

Run from the repository root:

    python3 perfbench/run.py --workload pdf_fresh --seed 1 --seconds 10 --trace 0

Builds the harness (perfbench/build.sbt: the repository's main sources plus
perfbench/src) with sbt when the sources changed since the last build, then
runs one JVM that sets up a seeded corpus, times jobs for --seconds seconds,
checks every committed row and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 1
prints the per-layer metrics instead of the end-to-end ones and writes the
spans to perfbench/out/. All scratch data lives under perfbench/work/ and is
deleted when the run ends, whether it succeeds or not. See perfbench/README.md.
"""

import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-stamp.txt")
WORKLOADS = ("pdf_fresh", "pdf_rotation", "html_recrawl")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the harness is compiled from, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The unmanaged jar directory of the repository's own build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        raise SystemExit("perfbench: no unmanagedBase := file(...) in build.sbt")
    return m.group(1)


def build():
    """Compile with sbt unless the same sources were built before; returns the classpath."""
    want = stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            built = fh.read().strip() == want
        with open(CLASSPATH) as fh:
            cp = fh.read().strip()
        if built and os.path.exists(cp.split(os.pathsep)[0]):
            return cp
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = "-Dsbt.offline=true"
        if os.path.exists(repos):
            extra += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
        env["SBT_OPTS"] = (opts + " " + extra).strip()
    log("perfbench: building the harness with sbt")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    proc = subprocess.run(
        # No sbt server, no JVM perf-data files, and sbt's own temporary
        # files inside the checkout: nothing is written to /tmp.
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-Djava.io.tmpdir=" + tmp,
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("perfbench: sbt build failed")
    cp = next((l for l in reversed(lines) if l.startswith("/") and "perfbench" in l), None)
    if cp is None:
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return cp


def interrupted(signum, _frame):
    raise SystemExit("perfbench: stopped by signal %d" % signum)


def main():
    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the repository's sources (src/main/scala/graft) are missing")
    cp = build()

    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, "work"))
    heap = "3g"
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Xss8m", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", os.path.join(HERE, "out")]
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
        if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
            sys.stderr.write(out)
            raise SystemExit("perfbench: the harness failed (exit %d)" % proc.returncode)
        print(out, end="" if out.endswith("\n") else "\n", flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


if __name__ == "__main__":
    main()
