#!/usr/bin/env python3
"""osmbench: the repo's benchmark.

Usage (from the root of a checkout):

    python3 osmbench/run.py --workload ingest|query \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from the checkout's sources the first
time (sbt, offline) and writes the fixed surface tables, then runs one
workload in one JVM and prints, as the
last line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics of BENCHMARK.json; with `--trace 1` its per-layer ones.
The line before it lists every metric the run measured as name=value(unit).
Each run also writes a stamped record under osmbench/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "osmbench.classpath")
STAMP_FILE = os.path.join(TARGET, "osmbench.stamp")
SURFACE_DATA = os.path.join(TARGET, "surface-data")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SURFACE_DATA_TIMEOUT_S = 300

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

PROGRAM_SOURCES = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(ROOT, "src", "test", "scala", "graft", "osm", "PbfTestData.scala"),
    os.path.join(ROOT, "src", "test", "scala", "graft", "osm", "PbfFixtureEncoder.scala"),
]
BENCH_SOURCES = [
    os.path.join(BENCH, "build.sbt"),
    os.path.join(BENCH, "project", "build.properties"),
    os.path.join(BENCH, "src", "main"),
]


def fail(msg):
    print(f"[osmbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over every source file the build reads, in path order."""
    h = hashlib.sha256()
    for top in PROGRAM_SOURCES + BENCH_SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    return env


def ensure_build(digest):
    """Compile and write the surface tables once per source digest;
    returns the runtime classpath."""
    if all(os.path.exists(p) for p in (CLASSPATH_FILE, STAMP_FILE, SURFACE_DATA)):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            timeout=BUILD_TIMEOUT_S, text=True)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "osmbench" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    classpath = lines[-1].strip()
    shutil.rmtree(SURFACE_DATA, ignore_errors=True)
    java(classpath, os.path.join(TARGET, "tmp"), "graft.bench.SurfaceData", [SURFACE_DATA],
         SURFACE_DATA_TIMEOUT_S)
    shutil.rmtree(os.path.join(TARGET, "tmp"), ignore_errors=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath)
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    return classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(classpath, tmp, main_class, args, timeout):
    """Runs `main_class` in its own JVM and process group; returns its stdout."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main_class] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main_class} exceeded {timeout} s")
    if proc.returncode != 0:
        fail(f"{main_class} exited with {proc.returncode}")
    return out


def run_jvm(classpath, work, args):
    out = java(classpath, os.path.join(work, "tmp"), "graft.bench.Main",
               ["--work", work] + args, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout: BENCHMARK.json not found")
    for p in PROGRAM_SOURCES:
        if not os.path.exists(p):
            fail(f"program source missing: {os.path.relpath(p, ROOT)}")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    digest = source_digest()
    classpath = ensure_build(digest)
    work = os.path.join(BENCH, "work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        result = run_jvm(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expected",
            os.path.join(BENCH, "expected", "surface.json"), "--surface-data", SURFACE_DATA])
        spans = os.path.join(work, "spans.jsonl")
        record_dir = os.path.join(BENCH, "records")
        os.makedirs(record_dir, exist_ok=True)
        name = (f"{a.workload}_seed{a.seed}_trace{a.trace}_"
                f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}_{os.getpid()}")
        result["stamp"].update({"git_commit": git_commit(), "source_sha256": digest})
        with open(os.path.join(record_dir, name + ".json"), "w") as f:
            json.dump(result, f, indent=1)
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(record_dir, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = result["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if measured.get(m["name"], {}).get("value") is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    print("[osmbench] " + " ".join(
        f"{k}={v['value']:.6g}({v['unit']})" for k, v in measured.items()
        if v["value"] is not None) + f" record=osmbench/records/{name}.json")
    if "pbf.reader_1t_mb_per_s" in measured:
        print("[osmbench] 1-thread PBF reader: "
              f"{measured['pbf.reader_1t_mb_per_s']['value']:.2f} MB/s, "
              f"{measured['pbf.reader_1t_entities_per_s']['value'] / 1e6:.2f} M entities/s "
              "(round-8 reference, BASELINE.md: 2.9 MB/s, 0.32 M entities/s)")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: measured[m["name"]] for m in wanted}}))


if __name__ == "__main__":
    main()
