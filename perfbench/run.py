#!/usr/bin/env python3
"""Build and run the DICOM ingest-to-query benchmark.

    python3 perfbench/run.py --workload ingest_loose --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program (the
sbt build at the root) together with the benchmark (the sbt build in this
directory) and caches the runtime classpath under perfbench/target; later
runs reuse it until a source or build file changes. The benchmark JVM
prints one metric per line and, as its last line, one JSON result.
Scratch data goes to perfbench/work/run-<pid> and is removed at exit;
traced runs (--trace 1) keep their spans in perfbench/work/traces.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ("ingest_loose", "ingest_archives")
RUN_LIMIT_S = 170       # one run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # a run that builds may take 900 s

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change requires a rebuild, as sorted paths."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        files += [os.path.join(ROOT, f), os.path.join(HERE, f)]
    for d in (os.path.join(ROOT, "project"),):
        if os.path.isdir(d):
            files += [os.path.join(d, n) for n in os.listdir(d) if n.endswith((".sbt", ".scala"))]
    return sorted(set(f for f in files if os.path.isfile(f)))


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The cached runtime classpath, building first when sources changed.
    Returns (classpath, built_now)."""
    want = stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want and all(os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip(), False
    log("building the program and the benchmark (sbt)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-8000:])
        log(f"build failed (sbt exit {proc.returncode})")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(want + "\n" + cp + "\n")
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources at {ROOT} (build.sbt, src/main/scala); nothing to measure")
        return 2

    cp, built = classpath()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--traces", os.path.join(HERE, "work", "traces")]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        log("benchmark exceeded its time limit; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
