#!/usr/bin/env python3
"""CDC benchmark runner.

Usage, from the root of a checkout of the repository:

    python3 cdcbench/run.py --workload onboard --seed 1 --seconds 12 --trace 0

Builds the benchmark package (cdcbench/build.sbt, which compiles the
repository's src/main together with cdcbench/src) with sbt in offline mode
when its sources changed since the last build, then runs one workload in a
fresh JVM. The JVM prints one JSON result line; this script checks that it
carries exactly the metrics BENCHMARK.json declares for the mode, attaches
their units, and prints it as the last line of standard output. Build and
run files stay under cdcbench/target; each run's record (input shape,
set-up rounds, every operation, loadavg and MemAvailable at start and end,
and the spans of a traced run) is kept in cdcbench/target/runs.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
TARGET = BENCH / "target"
WORK = TARGET / "run" / f"work-{os.getpid()}"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# The JVM flags the root build uses to run the system (build.sbt javaOptions).
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + [
    "-Xms2g", "-Xmx2g", "-Xmn1g",
    # The JVM sees two processors: Spark runs local[2], and the collector
    # and the JIT size their thread pools to two. On the 4-vCPU host this
    # was measured on, a busy process beside the benchmark slowed onboard
    # 44 % with four and 32 % with two, and curation_dedup 28 % and 20 %;
    # onboard ran as fast with two as with four.
    "-XX:ActiveProcessorCount=2",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.shuffle.sort.bypassMergeThreshold=300",
    "-Dspark.hadoop.parquet.hadoop.vectored.io.enabled=false",
    "-Dspark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true",
]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads, to skip unchanged rebuilds."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    cp_file, stamp_file = TARGET / "bench-classpath.txt", TARGET / "bench-stamp.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode})")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_cmd(classpath, workload, seed, seconds, trace):
    """The JVM keeps its temporary files (native libraries it unpacks, for
    one) in WORK/tmp and the workload's inputs and outputs in WORK/data,
    which it empties at every set-up; both go when the run ends. The run's
    record is written to target/runs."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *JVM_OPTS, "-Xlog:disable", "-Xlog:all=error:stderr",
            f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", classpath,
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(WORK / "data"), "--runs", str(TARGET / "runs")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no system sources under {ROOT / 'src' / 'main' / 'scala'}: run from the repository root")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    classpath = build()
    cmd = java_cmd(classpath, args.workload, args.seed, args.seconds, args.trace)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.splitlines()
    results = [i for i, l in enumerate(lines) if l.startswith('{"correct"')]
    for line in lines[:results[-1] if results else len(lines)]:
        print(line)
    if proc.returncode != 0 or not results:
        fail(f"benchmark JVM failed (exit {proc.returncode})")
    result = json.loads(lines[results[-1]])
    got = result["metrics"]
    if set(got) != set(declared):
        fail(f"metrics {sorted(set(got) ^ set(declared))} differ from BENCHMARK.json")
    result["metrics"] = {k: {"value": got[k], "unit": declared[k]} for k in declared}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
