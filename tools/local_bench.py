#!/usr/bin/env python3
"""3-JVM local bench protocol -> BENCH_LOCAL_r{N}.json.

Runs graft.Bench in three fresh JVMs at the given SF dir (each with its
own per-query lower-median-of-2, Bench's default), then takes the
cross-JVM per-query median and writes the artifact with the env stamps
of all three runs. Machine-load caveat: run this on an otherwise idle
host — the env stamps exist so a reader can reject a contaminated run.
Each Bench JVM waits for its own launch gate (Bench.LoadGate), so a JVM
started inside the previous one's load tail waits for it to decay.

Usage: python3 tools/local_bench.py <round> [sfDir] [jvms]
"""
import json, os, statistics, subprocess, sys

rnd = sys.argv[1]
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
jvms = int(sys.argv[3]) if len(sys.argv) > 3 else 3
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
artifact = os.path.join(repo, "bench.json")

runs = []
for i in range(jvms):
    if os.path.exists(artifact):
        os.remove(artifact)
    # REF=none: the 3-JVM protocol's contamination defense is its own
    # cross-JVM median; Bench's outlier-retry pass (which compares against
    # a PRIOR local artifact) must not add non-timing work to these runs
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_BENCH_REF="none")
    print(f"[local_bench] JVM {i + 1}/{jvms}", flush=True)
    p = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=repo,
                       env=env, capture_output=True, text=True)
    if p.returncode != 0 or not os.path.exists(artifact):
        sys.stderr.write(p.stdout[-3000:] + "\n" + p.stderr[-3000:] + "\n")
        raise SystemExit(f"[local_bench] bench run {i + 1} failed")
    with open(artifact) as f:
        runs.append(json.load(f))

queries = {q: round(statistics.median(r["queries"][q] for r in runs), 3)
           for q in runs[0]["queries"]}
out = {
    "metric": "total",
    "value": round(sum(queries.values()), 3),
    "unit": "sec",
    "runs": f"{jvms}x2 (three JVMs, per-query lower-median-of-2 each; "
            "cross-JVM median)",
    "env": [r.get("env") for r in runs],
    "sf": sf,
    "queries": queries,
}
dest = os.path.join(repo, f"BENCH_LOCAL_r{rnd}.json")
with open(dest, "w") as f:
    json.dump(out, f)
print(f"[local_bench] wrote {dest}: total {out['value']}s over "
      f"{len(queries)} queries")
