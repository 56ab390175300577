#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (perfbench/build.sbt, which compiles the program's
sources next to the benchmark's own) on first use, makes the workload's
inputs from --seed (the ETL days, or the registry workload's query
order), runs the timed process as a plain JVM
(perfbench/src/PerfMain.scala), checks the program's outputs against
computations made apart from the program, and prints as its last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.built")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
# a fixed heap keeps GC sizing the same in every run; a fixed young
# generation keeps the resident heap (peak_rss_mb) following what the
# program keeps alive, where G1 would otherwise touch the whole heap
HEAP, YOUNG = "2g", "256m"
DEADLINE_S = 170

# analytics_mix: the paper's dashboard charts and the agg/join headliners
# (read-only, shuffle and aggregation bound) with the corpus queries (graph
# loops, near-duplicate and text kernels, construction bound), in an order
# drawn from --seed, over the repository's sf0.001 fixture tables (a copy
# of the tables FIXTURES.md §A describes, so a run reads only its checkout)
MIX_OPS = ["dash_dashboard_suite", "dash_share_by_purpose", "dash_avg_ppm2_by_region",
           "dash_rfm_migration", "dash_rolling_median", "agg_tpch_q1_shape",
           "join_tpch_q3_shape", "graph_kcore", "graph_walk_corpus",
           "dedup_minhash_pairs", "dedup_simhash", "dedup_winnow_pairs",
           "text_curation_chain"]
FIXTURES = os.path.join(BENCH, "fixtures", "sf0.001")
# the etl_daily input: rows per day (split over three files), warm-up days,
# days made for the window, rows already in the sink table, and rows the
# traced run adds before its probe day
DAY_ROWS, WARM_DAYS, DAYS = 3500, 3, 30
HISTORY_ROWS, PROBE_ROWS = 100_000, 300_000
FAMILIES = ["dash", "agg", "join", "graph", "dedup", "text"]
EXPRS = ["transliterate", "address_parts", "digits_only", "minhash_sig",
         "ngram_hashes", "winnow_sig", "simhash_bits"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the benchmark and the program when any source is newer than
    the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set; the build and the run use its jars")
    newest = max(os.path.getmtime(os.path.join(d, f))
                 for top in (PROGRAM_SRC, os.path.join(BENCH, "src"))
                 for d, _, fs in os.walk(top) for f in fs)
    newest = max(newest, os.path.getmtime(os.path.join(BENCH, "build.sbt")))
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest:
        return
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w"):
        pass


def run_jvm(plan, deadline):
    path = os.path.join(WORK, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={WORK}/tmp", f"-Dderby.system.home={WORK}/derby",
            "-cp", cp, "perfbench.PerfMain", path])
    env = dict(os.environ, GRAFT_MODEL_DIR=os.path.join(WORK, "models"))
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside WORK
    with open(os.path.join(WORK, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, env=env, stdout=log, stderr=log,
                               timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            fail("timed process did not finish in time; see perfbench/work/jvm.log")
    if r.returncode != 0:
        with open(os.path.join(WORK, "jvm.log")) as log:
            tail = log.read()[-3000:]
        fail(f"timed process exited with {r.returncode}:\n{tail}")
    with open(os.path.join(WORK, "result.json")) as f:
        return json.load(f)


def plan_registry(args, base):
    out = os.path.join(WORK, "out")
    os.makedirs(out)
    ops = random.Random(args.seed).sample(MIX_OPS, len(MIX_OPS))
    base["registry"] = {"data": FIXTURES, "ops": ops, "out": out,
                        "expr_input": os.path.join(FIXTURES, "documents.parquet")}
    return base


def plan_etl(args, base):
    main = os.path.join(WORK, "main")
    land = os.path.join(WORK, "land")
    days = gen.listings(land, DAYS, DAY_ROWS, args.seed)
    base["etl"] = {"main": {"raw": f"{main}/raw", "archive": f"{main}/archive",
                            "checkpoint": f"{main}/checkpoint",
                            "url": f"jdbc:derby:{WORK}/db;create=true"},
                   "history_rows": HISTORY_ROWS, "probe_rows": PROBE_ROWS,
                   "warm_days": WARM_DAYS,
                   "days": [{"day": d, "dir": os.path.join(land, str(d)),
                             "dump_date": gen.day_stamp(d)} for d in sorted(days)]}
    return base, days


def cpu_ticks():
    """(busy, steal) ticks of the machine-wide "cpu" line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return [v[0] + v[1] + v[2] + v[5] + v[6], v[7]]


def steal_share(a, b):
    """Share of the machine's runnable CPU time that the hypervisor gave to
    other guests between two cpu_ticks() readings."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, setup_s, setup_steal):
    """The five user-visible figures, and the wall figures before the steal
    correction. Wall times are taken net of the CPU time the hypervisor
    stole from this machine over the same interval."""
    done = [o for o in res["ops"] if "error" not in o]
    n = max(len(done), 1)
    steal = steal_share(res["ticks_start"], res["ticks_end"])
    raw = {"setup_wall_s": setup_s,
           "op_p50_wall_s": median([o["wall_s"] for o in done]),
           "ops_per_wall_s": len(done) / res["window_s"],
           "setup_steal_share": setup_steal, "window_steal_share": steal}
    return {"setup_s": (raw["setup_wall_s"] * (1 - setup_steal), "s"),
            "op_p50_s": (raw["op_p50_wall_s"] * (1 - steal), "s"),
            "ops_per_s": (raw["ops_per_wall_s"] / (1 - steal), "1/s"),
            "cpu_s_per_op": (res["cpu_s"] / n, "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}, raw


def per_layer(res, sink):
    """Per-op means of the traced run's counters, by layer."""
    groups = res.get("groups", {})
    done = [o for o in res["ops"] if "error" not in o]
    n = max(len(done), 1)
    m = {}

    def op_groups(o):
        return [groups.get(g, {}) for g in o["groups"].split(",")]

    def spark(o, k):
        return sum(g.get(k, 0) for g in op_groups(o))

    def sums(ops, key_fn):
        return sum(key_fn(o) for o in ops)

    walls = sums(done, lambda o: o["wall_s"])
    task_s = sums(done, lambda o: spark(o, "task_s"))
    for k, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_s", "s"), ("gc_s", "s"), ("shuffle_read_mb", "MB"),
                    ("shuffle_write_mb", "MB"), ("fetch_wait_s", "s"), ("spill_mb", "MB")]:
        m[f"spark.{k}"] = (sums(done, lambda o: spark(o, k)) / n, unit)
    m["spark.core_use"] = (task_s / (CORES * walls) if walls else 0.0, "ratio")
    m["spark.task_skew"] = (median([max(g.get("task_skew", 1.0) for g in op_groups(o))
                                    for o in done]), "ratio")

    reg = [o for o in done if "build_s" in o]
    rn = max(len(reg), 1)
    build_jobs = lambda o: groups.get(o["groups"].split(",")[0], {}).get("jobs", 0)
    m["queries.build_s"] = (sums(reg, lambda o: o["build_s"]) / rn, "s")
    m["queries.build_jobs"] = (sums(reg, build_jobs) / rn, "count")
    m["queries.plan_s"] = (sums(reg, lambda o: o["plan_s"]) / rn, "s")
    m["queries.exec_s"] = (sums(reg, lambda o: o["exec_s"]) / rn, "s")
    for fam in FAMILIES:
        fo = [o for o in reg if o["name"].split("_")[0] == fam]
        fn = max(len(fo), 1)
        fw = sums(fo, lambda o: o["wall_s"])
        ft = sums(fo, lambda o: spark(o, "task_s"))
        m[f"{fam}.build_s"] = (sums(fo, lambda o: o["build_s"]) / fn, "s")
        m[f"{fam}.build_jobs"] = (sums(fo, build_jobs) / fn, "count")
        m[f"{fam}.exec_s"] = (sums(fo, lambda o: o["exec_s"]) / fn, "s")
        m[f"{fam}.task_s"] = (ft / fn, "s")
        m[f"{fam}.core_use"] = (ft / (CORES * fw) if fw else 0.0, "ratio")

    m.update(checks.etl_layer(res, sink, n))
    rates = res.get("expr_rows_per_s", {})
    for e in EXPRS:
        m[f"expr.{e}_rows_per_s"] = (rates.get(e, 0.0), "1/s")
    m["jvm.gc_s"] = (res["gc_s"] / n, "s")
    m["jvm.jit_s"] = (res["jit_s"], "s")
    m["jvm.heap_peak_mb"] = (res["heap_peak_mb"], "MB")
    m["spark.codegen_compiles"] = (res["codegen_compiles"] / n, "count")
    m["host.steal_share"] = (steal_share(res["ticks_start"], res["ticks_end"]), "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    deadline = time.time() + DEADLINE_S
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))

    t_setup, ticks_setup = time.time(), cpu_ticks()
    base = {"workload": args.workload, "seconds": args.seconds,
            "trace": bool(args.trace), "cores": CORES, "work": WORK}
    days = None
    if args.workload == "etl_daily":
        plan, days = plan_etl(args, base)
    else:
        plan = plan_registry(args, base)
    res = run_jvm(plan, deadline)
    setup_s = res["first_op_epoch_ms"] / 1000 - t_setup

    if days is not None:
        problems, sink = checks.check_etl(res, days, WORK)
    else:
        problems, sink = checks.check_registry(
            plan["registry"]["data"], plan["registry"]["out"]), None
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    if args.trace:
        metrics = per_layer(res, sink)
    else:
        metrics, raw = end_to_end(res, setup_s, steal_share(ticks_setup, res["ticks_start"]))
        print(json.dumps({"uncorrected": raw}))
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
