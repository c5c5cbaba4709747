#!/usr/bin/env python3
"""Run one benchmark workload of graft in one JVM and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds graft from `src/main/scala`
and the harness from `perfbench/harness` with the Scala compiler that ships
in Spark's jars (`$SPARK_HOME/jars`, else the jars dir build.sbt uses),
generates the base tables, and caches all three under `.bench_build/`.
Each run then gets its own directory under `.bench_build/runs/` (fixtures,
lake, checkpoints, Spark local dir, outputs), removed at the end unless
PERFBENCH_KEEP=1.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import fcntl  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

CPUS = 2          # task slots, below the 4 cpus of the reference host
HEAP = "2g"       # fixed JVM heap
# build.sbt's unmanagedBase is the default
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# olap_mix's registry queries: each has oracle SQL and passes the oracle on
# the generated tables (see README for how they were picked).
OLAP_MIX = ["q04_groupagg_tpch1", "q05_broadcast_join",  # Relational
            "q20_string_funcs",       # Functions
            "q34_pivot",              # Analytics
            "q49_retention",          # EventAnalytics
            "profile_snapshot_diff"]  # Profiling
STREAM = dict(clusters=2, ticks=45, warm_ticks=30, batch=15)
MAX_ROUNDS = 200  # plans hold this many rounds; a run stops after `seconds`
LAKE_ROUNDS = 30  # the lake plan writes a change batch per round

WORKLOADS = ("olap_mix", "lake_stream")

# The host-speed probe's (harness/Probe.scala) reference wall time and
# compute CPU time, in ms: about its medians on the 4-cpu host of the
# README's reference figures. A run's times are scaled by these over the
# probe's medians in that run, so they read as on a host where the probe
# takes this long; see README.
PROBE_REF_MS = 110.0
PROBE_REF_CPU_MS = 19.0


def hang_limit(seconds):
    """Seconds after which the JVM is taken for hung and killed: a run is
    set-up (up to about 45 s), `seconds` of rounds and a last round that
    may overrun them (up to about 13 s on a slow host). This allows about
    twice that, and keeps a whole run within 180 s at the usual 12 s."""
    return 2.5 * (45 + seconds)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(out, classpath, sources):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources
    if subprocess.run(cmd).returncode != 0:
        die(f"compile failed: {out}")
    os.rename(tmp, out)


def build(build_dir):
    """Compile graft and the harness and generate the base tables, each once
    per content hash. Returns (classpath, tables dir)."""
    src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not src:
        die("no graft sources under src/main/scala: run from the root of a checkout")
    if not glob.glob(os.path.join(JARS, "spark-sql_*.jar")):
        die(f"no Spark jars in {JARS}")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        spark_cp = os.path.join(JARS, "*")
        graft = os.path.join(build_dir, "graft-" + tree_hash(src))
        if not os.path.isdir(graft):
            scalac(graft, spark_cp, src)
        hx = os.path.join(build_dir, f"harness-{tree_hash(harness)}-{os.path.basename(graft)}")
        if not os.path.isdir(hx):
            scalac(hx, f"{spark_cp}:{graft}", harness)
        tables = os.path.join(build_dir, f"tables-v{gen.TABLES_VERSION}")
        if not os.path.isdir(tables):
            gen.make_tables(tables + ".tmp")
            os.rename(tables + ".tmp", tables)
    return f"{spark_cp}:{graft}:{hx}", tables


def make_plan(workload, seed, plan, tables):
    if workload == "olap_mix":
        gen.olap_plan(seed, plan, OLAP_MIX, MAX_ROUNDS)
    else:
        gen.lake_plan(seed, plan, os.path.join(tables, "orders.parquet"), LAKE_ROUNDS)
        gen.stream_plan(seed, plan, rounds=MAX_ROUNDS, **STREAM)


def wrong_output(op, bad):
    """A wrong output fails the ops that produced it: a query's ops, a
    stream round's batches, or the lake ops of the kind whose reads (or,
    for commits, whose final snapshot) did not match."""
    kind, name, rnd = op[0], op[1], op[2]
    if kind == "query":
        return name in bad
    if kind == "batch":
        return bool({f"actions_r{rnd}", f"rows_r{rnd}"} & bad)
    return kind in bad or (kind == "commit" and "final" in bad)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def latency_groups(ops):
    """The op groups whose median latencies `op_ms` takes the geomean of:
    each query, each lake op kind that runs every round twice or more, or
    the micro-batch."""
    groups = {}
    for kind, name, _, _, ms, failed in ops:
        if failed or kind in ("optimize", "vacuum"):
            continue
        groups.setdefault(name if kind == "query" else kind, []).append(ms)
    return groups


def host_slowdown(res):
    """How many times slower than the reference the host ran the probe
    during the timed phase of this run: in wall time, and in CPU time for
    the same compute. A host that runs other work on the same cores
    stretches both; one that takes cores away stretches only wall time."""
    return (median([wall for wall, _ in res["probe_ms"]]) / PROBE_REF_MS,
            median([cpu for _, cpu in res["probe_ms"]]) / PROBE_REF_CPU_MS)


def spans_self_ms(spans):
    """Self time per span name: its duration less the union of its
    children's intervals, clipped to it."""
    kids = {}
    for sid, parent, name, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, name, s, e in spans:
        covered, end = 0, s
        for cs, ce in sorted(kids.get(sid, [])):
            cs, ce = max(cs, end, s), min(ce, e)
            if ce > cs:
                covered += ce - cs
                end = ce
        out[name] = out.get(name, 0.0) + (e - s - covered) / 1000.0
    return out


def per_layer(res, ops, run):
    n = max(1, len(ops))
    c = res["counts"]
    x = res["extra"]
    smp = res["samples"]
    mb = 1048576.0

    def kind_ms(*kinds):
        return median([o[4] for o in ops if o[0] in kinds])

    spans = [json.loads(l) for l in open(os.path.join(run, "spans.jsonl"))]
    span_ms = {}
    for _, _, name, s, e in spans:
        span_ms[name] = span_ms.get(name, 0.0) + (e - s) / 1000.0
    self_ms = spans_self_ms(spans)
    commits = max(1.0, x.get("commits", 0.0))
    reads = max(1.0, x.get("reads", 0.0))
    batch = sorted(o[4] for o in ops if o[0] == "batch")
    m = {
        "build.ms_per_op": span_ms.get("build", 0.0) / n,
        "build.jobs_per_op": c.get("build_jobs", 0.0) / n,
        "catalyst.analysis_ms_per_op": c.get("analysis_ms", 0.0) / n,
        "catalyst.optimization_ms_per_op": c.get("optimization_ms", 0.0) / n,
        "catalyst.planning_ms_per_op": c.get("planning_ms", 0.0) / n,
        "catalyst.exchanges_per_op": c.get("exchanges", 0.0) / n,
        "scheduler.jobs_per_op": c.get("jobs", 0.0) / n,
        "scheduler.stages_per_op": c.get("stages", 0.0) / n,
        "scheduler.tasks_per_op": c.get("tasks", 0.0) / n,
        "scheduler.task_ms_per_op": c.get("task_ms", 0.0) / n,
        "scheduler.task_cpu_ms_per_op": c.get("task_cpu_ms", 0.0) / n,
        "scheduler.nontask_cpu_ms_per_op":
            (res["timed_cpu_ms"] - c.get("task_cpu_ms", 0.0)) / n,
        "shuffle.write_mb_per_op": c.get("shuffle_write_b", 0.0) / mb / n,
        "shuffle.read_mb_per_op": c.get("shuffle_read_b", 0.0) / mb / n,
        "shuffle.spill_mb_per_op": c.get("spill_b", 0.0) / mb / n,
        "shuffle.fetch_wait_ms_per_op": c.get("fetch_wait_ms", 0.0) / n,
        "scan.input_mb_per_op": c.get("input_b", 0.0) / mb / n,
        "scan.input_rows_per_op": c.get("input_rows", 0.0) / n,
        "core.release_ms_per_op": span_ms.get("release", 0.0) / n,
        "core.cached_mb_peak": x.get("cached_mb_peak", 0.0),
        "codegen.compiles_per_op": res["codegen_compiles"] / n,
        "jvm.gc_ms_per_op": res["gc_ms"] / n,
        "jvm.jit_ms_per_op": res["timed_jit_ms"] / n,
        "jvm.heap_used_mb_peak": res["heap_peak_mb"],
        "lake.files_rewritten_per_commit": x.get("files_rewritten", 0.0) / commits,
        "lake.output_mb_per_commit":
            c.get("output_b.action", 0.0) / mb / commits if "commits" in x else 0.0,
        "lake.files_per_snapshot": x.get("files_per_snapshot", 0.0) / reads,
        "lake.files_read_per_read": x.get("files_read", 0.0) / reads,
        "lake.write_ms": kind_ms("commit"),
        "lake.read_ms": kind_ms("read"),
        "lake.pruned_read_ms": kind_ms("pruned"),
        "lake.optimize_ms": kind_ms("optimize"),
        "lake.vacuum_ms": kind_ms("vacuum"),
        "streaming.batch_p90_ms": batch[int(0.9 * len(batch))] if batch else 0.0,
        "streaming.add_batch_ms": median(smp.get("phase.addBatch", [])),
        "streaming.query_planning_ms": median(smp.get("phase.queryPlanning", [])),
        "streaming.wal_commit_ms": median(smp.get("phase.walCommit", [])),
        "streaming.commit_offsets_ms": median(smp.get("phase.commitOffsets", [])),
        "streaming.get_batch_ms": median(smp.get("phase.getBatch", [])),
        "state.rows_total": c.get("state_rows", 0.0),
        "state.memory_mb": c.get("state_mem_b", 0.0) / mb,
        "state.commit_ms": median(smp.get("state_commit_ms", [])),
        "sink.ms_per_batch": x.get("sink_ms_median", 0.0),
    }
    for name in ("op", "build", "action", "release", "phase", "job"):
        m[f"self.{name}_ms_per_op"] = self_ms.get(name, 0.0) / n
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(".bench_build")
    classpath, tables = build(build_dir)
    t0 = time.time()  # set-up starts here: the build is cached per checkout
    run = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    plan = os.path.join(run, "plan")
    os.makedirs(os.path.join(run, "tmp"))
    try:
        make_plan(a.workload, a.seed, plan, tables)
        cmd = ["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
               "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run}/tmp", f"-Dgraft.fixtures.dir={run}/fixtures",
               "-cp", classpath, "perfbench.Harness",
               f"workload={a.workload}", f"run={run}", f"data={tables}", f"plan={plan}",
               f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={CPUS}"]
        with open(os.path.join(run, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=hang_limit(a.seconds)).returncode
            except subprocess.TimeoutExpired:  # subprocess.run has killed it
                die(f"harness still running after {hang_limit(a.seconds):.0f} s")
        if rc != 0 or not os.path.exists(os.path.join(run, "result.json")):
            sys.stderr.write(open(os.path.join(run, "jvm.log")).read()[-4000:])
            die(f"harness exited with {rc}")
        res = json.load(open(os.path.join(run, "result.json")))
        out = os.path.join(run, "out")
        if a.workload == "olap_mix":
            checks = check.queries(tables, out, OLAP_MIX)
        else:
            checks = check.lake(tables, plan, out) + check.stream(
                plan, out, ["warm"] + [f"r{i}" for i in range(res["rounds"])])
        ops = res["ops"]
        bad = {what for what, ok, _ in checks if not ok}
        for what, ok, msg in checks:
            if not ok:
                print(f"perfbench: check failed: {what}: {msg}", file=sys.stderr)
        failed = [o for o in ops if o[5] or wrong_output(o, bad)]
        good = [o for o in ops if o not in failed]
        # throughput and CPU are medians over rounds: the JIT compiles in
        # bursts, and a median is not moved by one round that caught one
        rounds = range(res["rounds"])
        slow, slow_cpu = host_slowdown(res)
        e2e = {
            "setup_s": ((res["first_op_us"] / 1e6 - t0 - res["setup_probe_ms"] / 1000.0)
                        / slow, "s"),
            "ops_per_s": (slow * median([sum(o[2] == r for o in good) * 1000.0 /
                                         res["round_wall_ms"][r] for r in rounds]), "op/s"),
            "op_ms": (geomean([median(v) for v in latency_groups(good).values()]) / slow,
                      "ms"),
            "cpu_ms_per_op": (median([res["round_cpu_ms"][r] /
                                      max(1, sum(o[2] == r for o in ops)) for r in rounds])
                              / slow_cpu, "ms"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        if a.trace:
            layer = per_layer(res, good, run)
            layer["trace.op_ms"] = e2e["op_ms"][0]
            layer["trace.ops_per_s"] = e2e["ops_per_s"][0]
            layer["host.probe_ms"] = slow * PROBE_REF_MS
            layer["host.probe_cpu_ms"] = slow_cpu * PROBE_REF_CPU_MS
            metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(failed),
                          "metrics": metrics}))
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(run, ignore_errors=True)


def unit(name):
    """A per-layer metric's unit, read off its name."""
    words = name.replace(".", "_").split("_")
    if "mb" in words:
        return "MB"
    if "ms" in words:
        return "ms"
    if name.endswith("ops_per_s"):
        return "op/s"
    return "count"


if __name__ == "__main__":
    main()
