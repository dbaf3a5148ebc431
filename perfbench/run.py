#!/usr/bin/env python3
"""Runs one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <etl|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the library and the benchmark from source with sbt
(perfbench/build.sbt depends on the root build) and caches the classpath
under .bench_build/, keyed by a hash of every source and build file; later
runs start the JVM directly. The last line of stdout is the JSON result.
Exits non-zero, without a result, when the build or any run step fails.

    python3 perfbench/run.py --record

rewrites perfbench/expected_counts.tsv from the current library.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 850

# The module openings Spark needs on JDK 17 outside spark-submit; the same
# list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.is_file() and p.suffix in (".sbt", ".scala", ".properties")]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def classpath():
    """Builds on first use and returns the cached runtime classpath."""
    cp_file = BUILD / f"classpath-{source_hash()}.txt"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not cp_file.exists():
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            log = BUILD / "build.log"
            print("[perfbench] building library and benchmark (log: .bench_build/build.log)",
                  file=sys.stderr)
            with open(log, "w") as out:
                try:
                    tmp = BUILD / "sbt-tmp"
                    tmp.mkdir(exist_ok=True)
                    proc = subprocess.run(
                        ["sbt", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}", "--batch",
                         "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                        cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    fail("build timed out")
            lines = log.read_text().splitlines()
            if proc.returncode != 0:
                sys.stderr.write("\n".join(lines[-40:]) + "\n")
                fail(f"build failed with code {proc.returncode}")
            cps = [l for l in lines if l.startswith("/") and "perfbench" in l and os.pathsep in l]
            if not cps:
                fail("build printed no classpath")
            # the build output directories are shared, so only the newest
            # classpath file describes them
            for stale in BUILD.glob("classpath-*.txt"):
                stale.unlink()
            cp_file.write_text(cps[-1].strip())
    return cp_file.read_text()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources under {ROOT}: nothing to build", 2)

    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = classpath()
    tmp = BUILD / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={tmp / 'derby.log'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", str(ROOT)]
    if args.record:
        cmd += ["--record"]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RECORD_TIMEOUT_S if args.record else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("run timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"run failed with code {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if args.record:
        return
    if not lines:
        fail("run printed no result")
    result = json.loads(lines[-1])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        fail(f"result does not match BENCHMARK.json: {lines[-1]}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
