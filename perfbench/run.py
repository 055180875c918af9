#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the program and
this benchmark from source with sbt (offline) and caches the classpath
in perfbench/.build; later calls rebuild only when a source changed.
Each call then starts one JVM that runs the workload at local[<cores>]
and prints one JSON result line as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Every answer is checked; a wrong or failed one makes the
exit code 1. `--record-fingerprints` rewrites the expected board
fingerprints from the current code instead of running a workload.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORKLOADS = ("ingest_lake", "driver_bound")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted(p for p in (ROOT / "project").glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256(str(ROOT).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp, cp_file, stamp_file = source_stamp(), BUILD / "classpath", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if not a.record_fingerprints and a.workload is None:
        die("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"{ROOT} is not a checkout of the repository (no build.sbt or src/main/scala)")
    java = shutil.which("java") or die("java not found on PATH")
    classpath = build()

    name = "record" if a.record_fingerprints else a.workload
    work = HERE / ".work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    args = ["--cores", str(len(os.sched_getaffinity(0))), "--data", str(HERE / "data" / "sf0.01")]
    if a.record_fingerprints:
        args += ["--record", str(HERE / "fingerprints.json")]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", str(work), "--result", str(result),
                 "--fingerprints", str(HERE / "fingerprints.json")]
        if a.trace:
            (HERE / ".trace").mkdir(exist_ok=True)
            args += ["--spans", str(HERE / ".trace" / f"{a.workload}-seed{a.seed}.jsonl")]
    # a fixed, pre-touched heap keeps the resident set from tracking
    # when the collector chose to grow the heap
    cmd = [java, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark'}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", *args]
    log_path = work / "jvm.log"
    try:
        with open(log_path, "w") as log:
            args_launch = ["--launched-us", str(time.time_ns() // 1000)]
            proc = subprocess.Popen(cmd + args_launch, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
        log_lines = open(log_path, errors="replace").readlines()
        sys.stderr.write("".join(l for l in log_lines if l.startswith("[perfbench]")))
        if code != 0:
            sys.stderr.write("".join(log_lines[-60:]))
        line = result.read_text().strip() if result.is_file() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        die(f"{name} did not finish within {JVM_TIMEOUT_S} s", 3)
    if code == 0 and line is None and not a.record_fingerprints:
        die(f"{name} wrote no result", 3)
    if line is not None:
        print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
