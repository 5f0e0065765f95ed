#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: llm_pipeline and stream_replay (see perfbench/DESIGN.md). The
first run in a checkout builds the engine and the harness with sbt; later
runs reuse the build while the sources are unchanged. Each run generates
its input tables, launches one JVM at local[nproc] with its own scratch
directory (java.io.tmpdir, spark.local.dir, checkpoints, Derby home), and
removes that directory when it ends.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The line before it holds the run's details: sample counts,
percentiles used, error rate and host stamps. A traced run also writes its
spans to .bench_out/trace_<workload>_seed<n>.json.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["llm_pipeline", "stream_replay"]
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    """Hash of everything the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compiles the engine and the harness once per source state and returns
    the harness's runtime classpath."""
    stamp, cp_file = build_dir / "sources.sha256", build_dir / "classpath.txt"
    digest = sources_hash()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    build_dir.mkdir(parents=True, exist_ok=True)
    log = build_dir / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "--no-server", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=850)
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    cp_file.write_text(classpath)
    stamp.write_text(digest)
    return classpath


def run_jvm(classpath, args, work, log):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", classpath, "perfbench.Main", *args]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT}: run from a full checkout")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build(build_dir if build_dir.is_absolute() else ROOT / build_dir)

    out_dir = ROOT / ".bench_out"
    work = out_dir / f"work-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        t0_ms = int(time.time() * 1000)
        subprocess.run([sys.executable, str(HERE / "gen_tables.py"), str(work / "data")], check=True)
        result = work / "result.json"
        code = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(work / "data"), "--work", str(work),
            "--expected", str(HERE / "expected_digests.tsv"), "--out", str(result),
            "--t0-ms", str(t0_ms)], work, work / "jvm.log")
        if code != 0 or not result.exists():
            log = (work / "jvm.log").read_text().splitlines()
            errors = [l for l in log if "Exception" in l or "Error" in l or "[perfbench]" in l]
            sys.stderr.write("\n".join(errors[:20] + log[-20:]) + "\n")
            fail(f"workload {a.workload} exited with code {code}")
        r = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = r["e2e"] if a.trace == 0 else r["layer"]
    wanted = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end" if a.trace == 0 else "per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    if a.trace == 0:
        missing = [k for k, v in metrics.items() if not v["value"]]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
    detail = dict(r["detail"], workload=a.workload, seed=a.seed, attempted=r["attempted"],
                  failed=r["failed"], wrong_results=r["wrong"],
                  error_rate=r["failed"] / max(r["attempted"], 1))
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
