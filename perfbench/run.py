#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
then runs one workload in one JVM.

    python3 perfbench/run.py --workload feed_small --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. The first run builds with sbt
(offline) into `target/` directories and records the classpath under
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Feeds, outputs and traces go to `.bench_build/` too. The last
line of stdout is the result as JSON. The benchmark's own tests run with
`sbt test` inside `perfbench/`.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("feed_small", "feed_large")
# the JDK module flags Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
START = time.monotonic()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout."""
    yield os.path.join(ROOT, "build.sbt")
    for base in (ROOT, HERE):
        yield os.path.join(base, "project", "build.properties")
    yield os.path.join(HERE, "build.sbt")
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(tree)):
            for n in sorted(names):
                yield os.path.join(d, n)


def stamp():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group. The group is killed on timeout
    and when this script is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    return proc.returncode, out


def build():
    """The runtime classpath, and whether it had to be built first."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        timeout=800, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed with exit code {code}")
    cp = out.strip().splitlines()[-1].strip()
    if "perfbench" not in cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cp, built = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.makedirs(work)
    java = ["java", "-Xms2g", "-Xmx2g"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work,
    ]
    # a run ends within 180 s of its start, or 900 s if it built first
    deadline = 880 if built else 175
    code, _ = run_group(java, timeout=max(deadline - (time.monotonic() - START), 1),
                        cwd=BUILD, stdin=subprocess.DEVNULL)
    sys.exit(code)


if __name__ == "__main__":
    main()
