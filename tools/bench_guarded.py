#!/usr/bin/env python3
"""Contention-guarded bench runner: snapshots /proc/loadavg and the
concurrent-JVM count before and after `graft.Bench`, then merges them
into the bench JSON — so a contaminated run (a second sbt JVM competing
for the cores, the BENCH_r03 failure mode) is machine-adjudicable from
the artifact itself. (Dev tooling only — the shipped library has no
Python deps.)

Usage: python3 tools/bench_guarded.py <sfDir> <outJson> [cpus]
(cpus defaults to the host's core count.)
"""
import json, os, subprocess, sys

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_guarded.json"
cpus = sys.argv[3] if len(sys.argv) > 3 else str(len(os.sched_getaffinity(0)))


def loadavg():
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def jvms():
    # java processes other than the sbt/bench JVM this script spawns
    try:
        pids = subprocess.run(["pgrep", "-c", "java"], capture_output=True,
                              text=True).stdout.strip()
        return int(pids or 0)
    except Exception:
        return -1


repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
bench_json = "/tmp/bench_self.json"
if os.path.exists(bench_json):
    os.remove(bench_json)  # a stale record must never pass as this run's
pre_load, pre_jvms = loadavg(), jvms()
env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS=cpus,
           SPARK_GRAFT_BENCH_OUT=bench_json)
log = "/tmp/bench_guarded.log"
with open(log, "w") as lf:
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], env=env,
                       cwd=repo, stdout=lf, stderr=subprocess.STDOUT)
if r.returncode != 0 or not os.path.exists(bench_json):
    sys.exit(f"bench failed (exit {r.returncode}) — see {log}")
post_load, post_jvms = loadavg(), jvms()

rec = json.load(open(bench_json))
# both snapshots run while no bench JVM is alive: pre before sbt
# starts, post after it exits — any nonzero count is a FOREIGN jvm.
# They join Bench's own block (passes, fork_every, forks); the guard's
# 1/5/15-min loadavg triples replace Bench's 1-min loadavg_pre/_post.
rec.setdefault("contention", {}).update(
    {"loadavg_pre": pre_load, "loadavg_post": post_load,
     "jvms_pre": pre_jvms, "jvms_post": post_jvms})
json.dump(rec, open(out, "w"))
print(json.dumps({k: v for k, v in rec.items() if k not in ("queries", "profile")}))
