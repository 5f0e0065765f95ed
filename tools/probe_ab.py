#!/usr/bin/env python3
"""Load-gated repeated fresh-JVM probe for a query subset — the
optimization-round A/B vehicle. Runs graft.Bench (REF=none, ONLY=<list>)
in N fresh JVMs via tools/run.sh, each launch gated on loadavg decay by
Bench's own launch gate, and prints the per-query MIN across JVMs (the statistic least sensitive
to a contaminated window; every JVM's own reading is already its
lower-median-of-2).

Usage: python3 tools/probe_ab.py <q1,q2,...> [jvms=3] [out.json]
"""
import json, os, subprocess, sys

only = sys.argv[1]
jvms = int(sys.argv[2]) if len(sys.argv) > 2 else 3
outp = sys.argv[3] if len(sys.argv) > 3 else None
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


runs = []
for i in range(jvms):
    art = f"/tmp/probe_ab_{os.getpid()}_{i}.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        SPARK_GRAFT_CPUS="32", SPARK_GRAFT_BENCH_REF="none",
        SPARK_GRAFT_BENCH_ONLY=only, SPARK_GRAFT_BENCH_OUT=art)
    p = subprocess.run([os.path.join(repo, "tools", "run.sh"), "graft.Bench"],
                       cwd=repo, env=env, capture_output=True, text=True)
    if p.returncode != 0 or not os.path.exists(art):
        sys.stderr.write(p.stderr[-2000:] + "\n")
        raise SystemExit(f"probe JVM {i + 1} failed")
    with open(art) as f:
        r = json.load(f)
    os.remove(art)
    print(f"[probe] jvm {i + 1} launch_load={r['env']['gate']['pre_load']:.2f} " +
          json.dumps(r["queries"]), flush=True)
    runs.append(r["queries"])

mins = {q: round(min(r[q] for r in runs), 3) for q in runs[0]}
print("[probe] min-of-%d: %s  total=%.2f" %
      (jvms, json.dumps(mins, sort_keys=True), sum(mins.values())))
if outp:
    with open(outp, "w") as f:
        json.dump(mins, f, sort_keys=True)
