#!/usr/bin/env python3
"""Build the benchmark (once per source state) and run one workload.

    python3 sketchbench/run.py --workload build|probe|dedup|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the library from
src/main/scala together with the benchmark (sbt, offline); later runs start
the JVM directly. The last line of standard output is the JSON result.
Generated inputs, checkpoints, span files and the run log go to
sketchbench/out/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
LIB = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"sketchbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [LIB, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(LIB, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB, ROOT)}")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    try:
        # build output goes to stderr: stdout carries only the result
        rc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    print(f"sketchbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "probe", "dedup", "stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", default="0", choices=["0", "1"],
                    help="tiny inputs, for the self-test")
    ap.add_argument("--wrong-expected", default="0", choices=["0", "1"],
                    help="perturb the expected outputs, for the self-test of the gates")
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "sketchbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", OUT, "--smoke", a.smoke,
            "--wrong-expected", a.wrong_expected]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    sys.exit(rc)


if __name__ == "__main__":
    main()
