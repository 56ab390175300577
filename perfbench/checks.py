"""Output checks, made apart from the program, and the ETL layer figures.

Every check returns a list of problems; an empty list means the outputs
are correct. They run after the timed process has exited and count in no
metric. test_checks.py shows that each one rejects a corrupted output.
"""
import collections
import contextlib
import io
import json
import os
import sys

import duckdb
import numpy as np

import gen

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
# Registry queries whose DuckDB oracle takes far longer than a run allows;
# each has an independent computation here instead.
SLOW_ORACLES = {"graph_kcore"}


# ---- etl_daily -------------------------------------------------------------

def read_sink(work):
    """The Derby table as the timed process exported it over plain JDBC:
    (link, region, price_czk, price_per_m2|None, dump_date, file_name,
    batch_id) rows."""
    rows = []
    with open(os.path.join(work, "sink.tsv"), encoding="utf-8") as f:
        for line in f:
            link, region, price, ppm2, dump, name, batch = line.rstrip("\n").split("\t")
            rows.append((link, region, int(price), int(ppm2) if ppm2 else None,
                         dump, name, int(batch)))
    return rows


def compare_day(day, files, sink_rows):
    """Compare one day's sink rows with the generator's model of that day."""
    want = [r for _, rows in files for r in gen.expected(rows)]
    got = [r[:4] for r in sink_rows]
    problems = []

    def differ(what, a, b):
        if a != b:
            problems.append(f"etl day {day}: {what} sink={a} model={b}")
    differ("row count", len(got), len(want))
    if {r[0] for r in got} != {r[0] for r in want}:
        problems.append(f"etl day {day}: the sink's links differ from the model's")
    differ("sum price_czk", sum(r[2] for r in got), sum(r[2] for r in want))
    differ("rows per region", dict(collections.Counter(r[1] for r in got)),
           dict(collections.Counter(r[1] for r in want)))
    differ("NULL price_per_m2", sum(r[3] is None for r in got),
           sum(r[3] is None for r in want))
    return problems


def check_sink_keys(sink):
    """Exactly one row per (link, batch)."""
    dup = [k for k, c in collections.Counter((r[0], r[6]) for r in sink).items() if c > 1]
    return [f"etl: {len(dup)} (link, batch_id) keys repeat, e.g. {dup[0]}"] if dup else []


def check_archive(consumed, archived, left):
    """Every consumed file is archived, except that the stream archives a
    batch's file when the next batch starts, so the last file read may
    still wait in the landing directory."""
    problems = []
    if len(left) > 1 or (left and left[0] != consumed[-1]):
        problems.append(f"etl: files left unarchived: {left}")
    missing = set(consumed) - set(archived) - set(left)
    if missing:
        problems.append(f"etl: consumed files missing from the archive: {sorted(missing)}")
    extra = set(archived) - set(consumed)
    if extra:
        problems.append(f"etl: archive holds files never landed: {sorted(extra)}")
    return problems


def _files_under(d):
    return sorted(f for _, _, fs in os.walk(d) for f in fs if f.endswith(".csv"))


def etl_ops(res):
    """The day ops that ran without error, with the traced run's probe day
    (run after the window) last."""
    ran = [o for o in res["ops"] if "error" not in o]
    return ran + ([res["probe"]] if "probe" in res else [])


def check_etl(res, days, work):
    sink = read_sink(work)
    by_dump = collections.defaultdict(list)
    for r in sink:
        by_dump[r[4]].append(r)
    problems = []
    ran = [int(d) for d in res["warm_days"]] + \
        [int(o["day"] if "day" in o else o["name"]) for o in etl_ops(res)]
    for d in ran:
        problems += compare_day(d, days[d], by_dump.pop(gen.day_stamp(d), []))
    if by_dump:
        problems.append(f"etl: sink rows from days not run: {sorted(by_dump)}")
    problems += check_sink_keys(sink)
    consumed = [name for d in ran for name, _ in days[d]]
    problems += check_archive(consumed, _files_under(os.path.join(work, "main", "archive")),
                              _files_under(os.path.join(work, "main", "raw")))
    return problems, sink


def etl_layer(res, sink, n_ops):
    """etl.* figures, per op, from the traced run's micro-batch progress and
    the sink read back after the window. The slope takes the probe day
    too, which runs on a table grown well past the window's sizes."""
    names = ["batches", "rows_in", "rows_out", "keep_ratio", "add_batch_s", "commit_s",
             "trigger_overhead_s", "read_tasks", "add_batch_slope", "sink_rows"]
    units = ["count", "count", "count", "ratio", "s", "s", "s", "count", "s/Mrows", "count"]
    if sink is None:
        return {f"etl.{k}": (0.0, u) for k, u in zip(names, units)}
    per_batch = collections.Counter(r[6] for r in sink)
    by_run = collections.defaultdict(list)
    for b in res["batches"]:
        by_run[b["run_id"]].append(b)
    window, points = [], []
    for o in etl_ops(res):
        acc = o["rows_before"]
        for b in sorted(by_run[o["groups"]], key=lambda b: b["batch_id"]):
            points.append((acc, b))
            acc += per_batch.get(b["batch_id"], 0)
            if o is not res.get("probe"):
                window.append(b)
    rows_in = sum(b["rows_in"] for b in window)
    rows_out = sum(per_batch.get(b["batch_id"], 0) for b in window)
    add = sum(b["add_batch_s"] for b in window)
    walls = sum(o["wall_s"] for o in res["ops"] if "error" not in o)
    # addBatch seconds against the table's size when the batch started,
    # with the batch's own input size as a second regressor (a day's files
    # differ in size)
    slope = 0.0
    if len(points) >= 4:
        x = np.array([[1.0, before / 1e6, b["rows_in"] / 1e6] for before, b in points])
        y = np.array([b["add_batch_s"] for _, b in points])
        slope = float(np.linalg.lstsq(x, y, rcond=None)[0][1])
    groups = res.get("groups", {})
    read_tasks = [t for o in res["ops"] for t in groups.get(o["groups"], {}).get("read_stage_tasks", [])]
    n = max(n_ops, 1)
    vals = [len(window) / n, rows_in / n, rows_out / n, rows_out / rows_in if rows_in else 0.0,
            add / n, sum(b["commit_s"] for b in window) / n, (walls - add) / n,
            float(np.median(read_tasks)) if read_tasks else 0.0, slope, res["sink_rows"]]
    return {f"etl.{k}": (v, u) for k, v, u in zip(names, vals, units)}


# ---- analytics_mix -----------------------------------------------------------

def connect(data):
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    return con


def kcore_peel(con, k=3, rounds=3):
    """graph_kcore computed apart from the program and its oracle: the
    co-purchase edges (part pairs sharing ≥ 2 orders, both parts in ≥ 25
    orders) from DuckDB, then a k-core peel of `rounds` rounds in Python."""
    edges = con.sql("""
        WITH items AS (SELECT DISTINCT l_orderkey AS ord, l_partkey AS item FROM lineitem),
        fi AS (SELECT * FROM items WHERE item IN
               (SELECT item FROM items GROUP BY item HAVING count(*) >= 25))
        SELECT a.item, b.item FROM fi a JOIN fi b ON a.ord = b.ord AND a.item < b.item
        GROUP BY 1, 2 HAVING count(*) >= 2""").fetchall()
    for _ in range(rounds):
        deg = collections.Counter(v for e in edges for v in e)
        keep = {v for v, d in deg.items() if d >= k}
        edges = [(a, b) for a, b in edges if a in keep and b in keep]
    deg = collections.Counter(v for e in edges for v in e)
    return sorted(deg.items())


def check_kcore(con, out):
    got = con.sql(f"SELECT id, deg FROM read_parquet('{out}/graph_kcore/*.parquet') "
                  "ORDER BY id").fetchall()
    want = kcore_peel(con)
    if got == want:
        return []
    diff = sorted(set(got) ^ set(want))[:3]
    return [f"graph_kcore: {len(got)} rows vs {len(want)} from the peel, e.g. {diff}"]


def check_registry(data, out):
    """Each query's output from the round after the window (parquet, same
    inputs and served artifacts as the timed ops) against its DuckDB
    oracle, with tools/check_correctness.py's rules; the queries in
    SLOW_ORACLES against their computation here."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    slow = {q for q in oracles if q in SLOW_ORACLES}
    if slow:
        os.rename(os.path.join(out, "oracle_sql.json"), os.path.join(out, "oracle_all.json"))
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({q: s for q, s in oracles.items() if q not in slow}, f)
    sys.path.insert(0, TOOLS)
    import check_correctness
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check_correctness.main(data, out)
    problems = [line for line in buf.getvalue().splitlines() if line.startswith("FAIL")]
    if rc != 0 and not problems:
        problems.append("oracle comparison failed")
    if "graph_kcore" in slow:
        problems += check_kcore(connect(data), out)
    return problems
