"""Output checks, each computed apart from graft.

* Registry queries: the query's own `oracleSql`, run in DuckDB over the same
  base tables and fixture files, compared row by row in the canonical form
  of tools/oracle_check.py (columns sorted by name, values rendered by its
  `canon`). Each query is checked on its output from before the timed
  rounds and on its output from after them.
* Lake (lake_stream): DuckDB applies the same seeded change log to
  orders.parquet; every snapshot read and the final snapshot must match it.
* Stream (lake_stream): an autoscaling fold written here, from the reference's
  rules (5-min windows sliding 30 s, avg <= 25 -> +5, avg > 75 -> -2, 300 s
  cooldown per rule, capacity clamped to [0, 20], start capacity 1), must
  give the same resize actions, and every input row must be read once.

Each check returns a list of (what, ok, message).
"""
import glob
import json
import math
import os
import sys
from collections import defaultdict
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
try:
    from oracle_check import TABLES, rows_of
except ImportError:
    sys.exit("perfbench: no tools/oracle_check.py: run from the root of a checkout")

# the suffixes of a query's two outputs: before and after the timed rounds
QUERY_OUTPUTS = ("", "_after")


def _tables(con, data):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")


def queries(data, out, names):
    con = duckdb.connect()
    _tables(con, data)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    res = []
    for name in names:
        try:
            cur = con.execute(oracle[name])
            theirs_names = [d[0] for d in cur.description]
            data_rows = cur.fetchall()
        except Exception as e:  # a broken oracle is a failed check
            res.append((name, False, f"duckdb error: {e}"))
            continue
        theirs = rows_of([[r[i] for r in data_rows] for i in range(len(theirs_names))],
                         theirs_names)
        for suffix in QUERY_OUTPUTS:
            res.append((name, *_same(os.path.join(out, name + suffix), theirs, theirs_names)))
    return res


def _same(out_dir, theirs, theirs_names):
    """(ok, message): does the parquet output in out_dir hold these rows?"""
    where = os.path.basename(out_dir)
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return False, f"{where}: no output"
    tbl = pq.read_table(files[0])
    mine = rows_of([c.to_pylist() for c in tbl.columns], tbl.column_names)
    if sorted(n.lower() for n in tbl.column_names) != sorted(n.lower() for n in theirs_names):
        return False, f"{where}: columns {tbl.column_names} vs {theirs_names}"
    if mine != theirs:
        bad = [i for i, (a, b) in enumerate(zip(mine, theirs)) if a != b]
        return False, (f"{where}: rows {len(mine)} vs {len(theirs)}, "
                       f"first difference at {bad[:1]}")
    return True, f"{where}: {len(mine)} rows"


def lake(data, plan, out):
    """Replay the change log in DuckDB and compare every snapshot read and
    the final snapshot."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                f"FROM read_parquet('{data}/orders.parquet')")
    committed = [l.strip() for l in open(os.path.join(out, "lake_commits.txt")) if l.strip()]
    reads = [l.rstrip("\n").split("\t") for l in open(os.path.join(out, "lake_reads.tsv"))
             if l.strip()]
    by_commit = defaultdict(list)
    for r in reads:
        by_commit[int(r[1])].append(r)
    res = []

    def check_reads(k):
        for step, _, n, keysum, price in by_commit.get(k, []):
            where = ""
            if step.startswith("pruned"):
                _, lo, hi = step.split()
                where = f"WHERE o_custkey BETWEEN {lo} AND {hi}"
            en, ek, ep = con.execute(
                "SELECT count(*), sum(o_orderkey), "
                f"sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM t {where}").fetchone()
            ok = (int(n), int(keysum), Decimal(price)) == (en, ek, ep)
            res.append((step.split()[0], ok,
                        f"after {k} commits: {n} {keysum} {price} vs {en} {ek} {ep}"))

    check_reads(0)
    for k, i in enumerate(committed):
        up = f"read_parquet('{plan}/up_{i}.parquet')"
        dl = f"read_parquet('{plan}/del_{i}.parquet')"
        con.execute(f"DELETE FROM t WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM {up} UNION SELECT o_orderkey FROM {dl})")
        con.execute(f"INSERT INTO t SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                    f"FROM {up}")
        check_reads(k + 1)
    final = pq.read_table(os.path.join(out, "lake_final")).to_pylist()
    mine = sorted((r["o_orderkey"], r["o_custkey"], r["o_orderstatus"], r["o_totalprice"])
                  for r in final)
    theirs = con.execute("SELECT * FROM t ORDER BY o_orderkey").fetchall()
    res.append(("final", mine == [tuple(r) for r in theirs],
                f"{len(mine)} rows vs {len(theirs)} after {len(committed)} commits"))
    return res


# the reference's instance-group rules, in the order they are tried
RULES = [("scale-out", lambda a: a <= 25.0, 5), ("scale-in", lambda a: a > 75.0, -2)]
COOLDOWN, CAP_MIN, CAP_MAX, CAP_START = 300, 0, 20, 1
WINDOW, SLIDE, WATERMARK = 300, 30, 600


def bc_div(a, b):
    """bc's scale=2 division: truncated to two decimals."""
    return math.trunc(a * 100 * 100 / b) / 100 if b else None


def expected_actions(trace_files):
    """The resize actions the pipeline must emit for these traces."""
    points = defaultdict(list)  # cluster -> [(ts, value)]
    for path in trace_files:
        cluster = os.path.basename(path)[:-len(".jsonl")]
        for line in open(path):
            rec = json.loads(line)
            m = json.loads(rec["payload"])["clusterMetrics"]
            v = bc_div(m["availableVirtualCores"], m["totalVirtualCores"])
            if v is not None:
                points[cluster].append((rec["ts"], v))
    # windows close once the watermark (latest event time seen, less the
    # allowed lateness) passes their end; the stream ends with the last one
    closed_before = max(ts for p in points.values() for ts, _ in p) - WATERMARK
    events = []
    for cluster, pts in points.items():
        wins = defaultdict(list)
        for ts, v in pts:
            last = ts - ts % SLIDE
            for start in range(last - WINDOW + SLIDE, last + 1, SLIDE):
                wins[start].append(v)
        for start, vs in wins.items():
            if start + WINDOW <= closed_before:
                events.append((start + WINDOW, cluster, sum(vs) / len(vs)))
    cap = defaultdict(lambda: CAP_START)
    fired = defaultdict(dict)
    actions = []
    for end, cluster, avg in sorted(events):
        for name, pred, delta in RULES:
            last = fired[cluster].get(name)
            if pred(avg) and not (last is not None and end - last < COOLDOWN):
                new = min(max(cap[cluster] + delta, CAP_MIN), CAP_MAX)
                actions.append((cluster, name, end, cap[cluster], new))
                cap[cluster] = new
                fired[cluster][name] = end
                break
    return sorted(actions)


def stream(plan, out, tags):
    res = []
    for tag in tags:
        traces = sorted(glob.glob(os.path.join(plan, "warm" if tag == "warm" else "trace",
                                               "*.jsonl")))
        if not os.path.exists(os.path.join(out, f"actions_{tag}.tsv")):
            res += [(f"rows_{tag}", False, "no output"), (f"actions_{tag}", False, "no output")]
            continue
        rows = sum(1 for p in traces for l in open(p) if l.strip())
        got_rows = int(open(os.path.join(out, f"rows_{tag}.txt")).read())
        res.append((f"rows_{tag}", got_rows == rows, f"{got_rows} read, {rows} in traces"))
        got = sorted((c, r, int(at), int(f), int(t)) for c, r, at, f, t in
                     (l.rstrip("\n").split("\t") for l in
                      open(os.path.join(out, f"actions_{tag}.tsv")) if l.strip()))
        want = expected_actions(traces)
        res.append((f"actions_{tag}", got == want, f"{len(got)} actions vs {len(want)}"))
    return res
