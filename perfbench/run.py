#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload, from outside the program.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the
program (`sbt compile`) and the harness (`javac`); later runs reuse the
build while the sources are unchanged. Each run then generates its
inputs from the seed, starts one JVM with `local[<nproc>]` task threads,
sets up (session, table resolution, warm-up), repeats whole
rounds of the workload's operations for `--seconds`, checks every result
apart from graft and prints one JSON line last. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s

WORKLOADS = {
    # light reference-surface gates at sf0.01: per-exec floor, construct, plan
    "serve-gates": dict(warmup=2, gates=[
        "q_o3_topk_ranking", "q_j6_anti_join", "q_a2_conditional_agg", "q_sp5_table_profile",
        "q_d3_origin_knn", "q_m5_scd2", "q_ev4_retention_cohorts", "q_j1_join_multiway"]),
    # GISAID import -> Spectrum refresh, one cycle per round; a run times two
    # or three warm cycles; ImportAndRefresh.chain is the warm-up
    "import-refresh": dict(warmup=0, feeds=4, cycles=1),
}

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_p50_ms", "ms")]
PER_LAYER = [
    ("construct.ms", "ms"), ("construct.jobs", "count"), ("plan.ms", "ms"),
    ("exec.ms", "ms"), ("exec.no_task_ms", "ms"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_cpu_ms", "ms"),
    ("exec.task_run_ms", "ms"), ("exec.task_gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("import.ms", "ms"), ("import.jobs", "count"), ("import.no_task_ms", "ms"),
    ("import.output_bytes", "bytes"),
    ("refresh.ms", "ms"), ("refresh.jobs", "count"), ("refresh.no_task_ms", "ms"),
    ("refresh.output_bytes", "bytes"),
    ("session.build_ms", "ms"), ("warmup.ms", "ms"),
    ("tables.resolve_cold_ms", "ms"), ("tables.resolve_hit_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.peak_rss_mb", "MB")]

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def host_resources():
    """Task threads = usable cores; heap = an eighth of RAM, 1..2 GiB."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(2048, mem_kb // 8 // 1024))
    return cores, heap_mb


# --- build -----------------------------------------------------------------

def source_stamp() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness when the sources changed; returns the
    harness dir and the source stamp."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"{SPARK_JARS} is missing")
    harness = os.path.join(BUILD, "harness")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isdir(CLASSES) and os.path.exists(os.path.join(harness, "Harness.class"))):
        return harness, stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"sbt compile failed, see {log}")
    shutil.rmtree(harness, ignore_errors=True)
    os.makedirs(harness)
    r = subprocess.run(["javac", "-nowarn", "-d", harness, "-cp",
                        f"{CLASSES}:{SPARK_JARS}/*", os.path.join(HERE, "harness", "Harness.java")],
                       capture_output=True, text=True, timeout=300)
    if r.returncode != 0:
        fail("javac failed:\n" + r.stderr)
    r = subprocess.run([sys.executable, os.path.join(HERE, "selftest.py")],
                       capture_output=True, text=True, timeout=300)
    if r.returncode != 0:
        fail("checker self-test failed:\n" + r.stdout + r.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return harness, stamp


# --- one run ---------------------------------------------------------------

def run_harness(harness, work, args, cores, heap_mb, extra, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{harness}:{CLASSES}:{SPARK_JARS}/*", "Harness",
            "--workload", args.workload, "--work", work, "--cores", str(cores),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.join(work, "harness.json")] + extra
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish in time, see {work}/jvm.log")
    if rc != 0:
        fail(f"harness exited {rc}, see {work}/jvm.log")
    return launched, json.load(open(os.path.join(work, "harness.json")))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tables", help="read the gate tables from this directory instead of "
                    "generating them, to compare with a reference set (README.md)")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]

    harness, stamp = build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    cores, heap_mb = host_resources()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    sys.path.insert(0, HERE)
    import gen
    import check

    # inputs: a pure function of the seed
    extra = ["--warmup", str(spec["warmup"])]
    if "gates" in spec:
        if args.tables:
            data = os.path.abspath(args.tables)
        else:
            data = os.path.join(work, "data")
            gen.gate_tables(args.seed, data)
        extra += ["--data", data]
        order = list(spec["gates"])
        random.Random(args.seed).shuffle(order)
        extra += ["--round", ",".join(order)]
    else:
        fixtures = os.path.join(work, "fixtures")
        gen.import_fixtures(args.seed, fixtures, spec["feeds"])
        extra += ["--round", ",".join(["cycle"] * spec["cycles"]),
                  "--base", f"{fixtures}/base.parquet", "--feeddir", f"{fixtures}/feeds",
                  "--feeds", str(spec["feeds"])]
    staged = time.time()

    launched, h = run_harness(harness, work, args, cores, heap_mb, extra, deadline)
    ended = time.time()
    setup_s = (staged - started) + (h["first_op_epoch_ms"] / 1000.0 - launched) - h["setup_check_s"]

    # correctness, apart from graft: a wrong result is a failed op and makes the run incorrect
    ops = h["ops"]
    ok_ops = [o for o in ops if "error" not in o]
    wrong = {}
    unchecked = set()  # cycles after a failed one: counted failed, not timed
    if "gates" in spec:
        verdicts = check.check_gates(work, data, os.path.join(BUILD, "expected"))
        for o in ok_ops:
            why = verdicts.get(f"{o['op']}/{o['hash']}", "result was not written out")
            if why:
                wrong[id(o)] = f"{o['op']}: {why}"
    else:
        base = check.read_rows(f"{fixtures}/base.parquet")
        prev = "warm"
        for o in ops:
            if "error" in o or prev is None:
                # the state after a failed cycle is unknown, so later cycles cannot be checked
                prev = None
                if "error" not in o:
                    unchecked.add(id(o))
                continue
            feed = check.load_feed(f"{fixtures}/feeds/feed-{o['feed']}.json")
            report = {k: o[k] for k in ("processed", "failed", "deleted")}
            why = check.check_cycle(f"{work}/snap", prev, o["snap"], f"{work}/ir/tables",
                                    base, feed, report)
            if why:
                wrong[id(o)] = f"cycle {o['snap']}: {why}"
            prev = o["snap"]
    for why in wrong.values():
        print(f"[perfbench] WRONG {why}", file=sys.stderr)
    if unchecked:
        print(f"[perfbench] {len(unchecked)} cycles after a failed one counted failed",
              file=sys.stderr)
    failed = h["failed"] + len(wrong) + len(unchecked)
    print(f"[perfbench] wall: inputs {staged - started:.1f} s, jvm {ended - staged:.1f} s "
          f"(window {h['window_s']:.1f} s), checks {time.time() - ended:.1f} s", file=sys.stderr)
    good = [o for o in ok_ops if id(o) not in wrong and id(o) not in unchecked]

    # Medians over the run: each operation's median latency, and the rate of
    # the median round, scaled by the share of operations that passed.
    by_op = {}
    for o in good:
        by_op.setdefault(o["op"], []).append(o["ms"])
    per_round = h["attempted"] / h["rounds"]
    ops_per_s = (len(good) / h["attempted"]) * per_round / (statistics.median(h["round_ms"]) / 1000)
    if args.trace == 0:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": ops_per_s,
            "latency_p50_ms": (statistics.fmean(statistics.median(v) for v in by_op.values())
                               if by_op else float("nan")),
        }
        units = dict(END_TO_END)
        if not args.tables:
            with open(os.path.join(BUILD, f"untraced-{args.workload}.jsonl"), "a") as f:
                f.write(json.dumps({"stamp": stamp, "seconds": args.seconds, "seed": args.seed,
                                    "ops_per_s": metrics["ops_per_s"]}) + "\n")
    else:
        metrics = layer_metrics(h, max(1, len(ok_ops)))
        units = dict(PER_LAYER)
        print_layer_table(args, stamp, metrics, ops_per_s)

    result = {
        "correct": not wrong,
        "attempted": h["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))


def layer_metrics(h, n_ops):
    s = h["sums"]
    per_op = lambda k, scale=1.0: s.get(k, 0) / scale / n_ops
    m = {
        "construct.ms": per_op("construct.ns", 1e6), "construct.jobs": per_op("construct.jobs"),
        "plan.ms": per_op("plan.ns", 1e6), "exec.ms": per_op("exec.ns", 1e6),
        "exec.task_cpu_ms": per_op("exec.task_cpu_ns", 1e6),
        "import.ms": per_op("import.ns", 1e6), "refresh.ms": per_op("refresh.ns", 1e6),
    }
    for k, _ in PER_LAYER:
        if k not in m and k.split(".")[0] in ("exec", "import", "refresh", "jvm", "construct"):
            m[k] = per_op(k)
    m["session.build_ms"] = h["session_build_ms"]
    m["warmup.ms"] = h["warmup_ms"]
    m["tables.resolve_cold_ms"] = h["tables_resolve_cold_ms"]
    m["tables.resolve_hit_ms"] = h["tables_resolve_hit_ms"]
    m["jvm.peak_rss_mb"] = h["peak_rss_kb"] / 1024.0
    return {k: m[k] for k, _ in PER_LAYER}


def print_layer_table(args, stamp, m, traced_ops_per_s):
    """The per-layer table, and the tracing overhead against untraced runs
    of the same build, workload and run length."""
    print(f"per-layer metrics, {args.workload} (per op unless set-up):")
    for k, unit in PER_LAYER:
        print(f"  {k:26s} {m[k]:16.3f} {unit}")
    hist = os.path.join(BUILD, f"untraced-{args.workload}.jsonl")
    base = []
    if os.path.exists(hist):
        for line in open(hist):
            r = json.loads(line)
            if r.get("stamp") == stamp and r.get("seconds") == args.seconds:
                base.append(r["ops_per_s"])
    if base:
        ref = statistics.median(base)
        print(f"  tracing overhead: ops_per_s {traced_ops_per_s:.4f} traced vs {ref:.4f} "
              f"untraced (median of {len(base)} runs): {100 * (1 - traced_ops_per_s / ref):+.1f}%")
    else:
        print(f"  tracing overhead: ops_per_s {traced_ops_per_s:.4f} traced; "
              "no untraced run of this workload yet to compare with")


if __name__ == "__main__":
    main()
