#!/usr/bin/env python3
"""Build the program with the benchmark and run one benchmark workload.

    python3 perfbench/run.py --workload ref_text --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program's main
sources together with the benchmark (sbt project in this directory);
later runs reuse the classes while no source has changed. The last line
of standard output is the result object; a self-describing record of the
run goes to perfbench/out/<workload>-seed<seed>-trace<trace>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
DEADLINE_S = 175          # every run must end within 180 s
BUILD_DEADLINE_S = 700    # the first run in a checkout also builds (900 s)
HEAP = "3g"
# The parallel collector: on 4 cores G1's concurrent threads cost each
# pipeline run about 15% more CPU and wall time than it.
GC = "-XX:+UseParallelGC"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory, as the repository's own build names it."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if m is None:
        fail("no Spark jar directory in build.sbt", 2)
    return m.group(1) + "/*"


def source_files():
    roots = [PROGRAM_SRC, HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*.scala") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, deadline_s, stdout=None):
    """Run cmd in its own process group; kill the group at the deadline,
    or when this process is told to stop."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=deadline_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build(digest, deadline_s):
    stamp = OUT / "build.stamp"
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return False
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          HERE, env, deadline_s, stdout=sys.stderr)
    if code != 0:
        fail("build failed" if code is not None else "build timed out", 3)
    stamp.write_text(digest)
    return True


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not PROGRAM_SRC.is_dir() or not any(PROGRAM_SRC.rglob("*.scala")):
        fail(f"program sources not found under {PROGRAM_SRC}", 2)
    if shutil.which("sbt") is None and not CLASSES.is_dir():
        fail("sbt not found", 2)
    OUT.mkdir(exist_ok=True)
    digest = source_digest()
    built = build(digest, BUILD_DEADLINE_S)
    elapsed = time.monotonic() - t0
    deadline = min(DEADLINE_S, 890 - elapsed) if built else DEADLINE_S - elapsed

    work = OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    artifact = OUT / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    env = dict(os.environ, PERFBENCH_SOURCE="sources-sha256:" + digest[:16])
    cmd = (["java", f"-Xmx{HEAP}", GC,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{CLASSES}:{spark_jars()}", "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--artifact", str(artifact),
              "--cache", str(OUT / "cache" / digest[:16])])
    try:
        code, out = run_bounded(cmd, ROOT, env, max(10.0, deadline),
                                stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run timed out", 4)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
