#!/usr/bin/env python3
"""Entity-resolution benchmark: one workload per run.

    python3 perfbench/run.py --workload resolve_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the benchmark from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The run itself is one
JVM on a local[nproc] Spark session (perfbench.Main). Its last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The exit code is 0 only when every
correctness gate held. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
DEADLINE_S = 175.0  # a run must end within 180 s once built
BUILD_TIMEOUT_S = 800.0
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
        current = source_stamp()
        if stamp.exists() and cp_file.exists() and stamp.read_text() == current:
            return cp_file.read_text()
        log = BUILD / "build.log"
        with open(log, "w") as out:
            proc = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=offline_env(),
                stdin=subprocess.DEVNULL, start_new_session=True)
            rc = wait(proc, BUILD_TIMEOUT_S)
        lines = log.read_text().splitlines()
        # `export` prints the classpath as one bare line
        exported = [l.strip() for l in lines if not l.startswith("[") and ".jar" in l]
        if rc != 0 or not exported:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail(f"sbt build failed (exit {rc}); log in {log}")
        classpath = exported[-1]
        cp_file.write_text(classpath)
        stamp.write_text(current)
        return classpath


def offline_env():
    """The build resolves only from local caches, never the network."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def wait(proc, timeout):
    """Wait for `proc`; on timeout, or when this runner is told to stop,
    kill its whole process group and wait for it."""
    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def run_jvm(classpath, args, work, deadline):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)]
    log = BUILD / f"last-{args.workload}.log"
    with open(log, "w") as err, open(work / "stdout", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(proc, deadline - time.monotonic())
    stdout = (work / "stdout").read_text().splitlines()
    result = next((json.loads(l.split(" ", 1)[1]) for l in reversed(stdout)
                   if l.startswith("PERFBENCH_RESULT ")), None)
    if rc != 0 or result is None:
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        fail(f"benchmark JVM exited {rc} without a result; log in {log}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT}; run from a source checkout")

    classpath = build()
    deadline = time.monotonic() + DEADLINE_S
    work = BUILD / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = run_jvm(classpath, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = r["per_layer"] if args.trace else r["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if not args.trace and missing:
        fail(f"end-to-end metrics not measured: {missing}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for f in r["failures"]:
        print(f"GATE FAILED {args.workload}: {f}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    correct = r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
