#!/usr/bin/env python3
"""Show that each output check rejects a corrupted result.

    PERFBENCH_KEEP=1 python3 perfbench/run.py --workload <w> --seed 1 --seconds 1
    python3 perfbench/corrupt.py .bench_build/runs/<w>-1-0-<pid> <tables dir>

It checks the kept run's outputs as they are (all must pass), then checks a
corrupted copy of each output (each must fail), and exits non-zero if a
check misses a corruption. The copies are made inside the run directory.
"""
import glob
import os
import shutil
import sys
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def bump_parquet(path):
    """Change one value in the first row of a parquet output: the first
    number or string column by name gets +1 or a trailing "x"."""
    f = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    t = pq.read_table(f)
    rows = t.to_pylist()
    for name in sorted(t.column_names):
        v = rows[0][name]
        if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
            rows[0][name] = v + 1
            break
        if isinstance(v, str):
            rows[0][name] = v + "x"
            break
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), f)


def edit_line(path, fn):
    lines = open(path).read().splitlines()
    open(path, "w").write("\n".join(fn(lines)) + "\n")


def run_check(kind, tables, run, out):
    plan = os.path.join(run, "plan")
    if kind == "olap_mix":
        names = open(os.path.join(plan, "queries.txt")).readline().split()
        return check.queries(tables, out, names)
    tags = [os.path.basename(p)[len("rows_"):-len(".txt")]
            for p in glob.glob(os.path.join(out, "rows_*.txt"))]
    return check.lake(tables, plan, out) + check.stream(plan, out, tags)


def main():
    run, tables = sys.argv[1], sys.argv[2]
    kind = os.path.basename(run).rsplit("-", 3)[0]
    out = os.path.join(run, "out")
    base = run_check(kind, tables, run, out)
    assert all(ok for _, ok, _ in base), [c for c in base if not c[1]]
    print(f"{kind}: {len(base)} checks pass on the real outputs")

    cases = []
    if kind == "olap_mix":
        for q in open(os.path.join(run, "plan", "queries.txt")).readline().split():
            for suffix in check.QUERY_OUTPUTS:
                cases.append((f"{q}{suffix}: one value changed",
                              lambda o, d=q + suffix: bump_parquet(os.path.join(o, d))))
    else:
        cases += [("final snapshot: one price changed", lambda o: bump_parquet(
                    os.path.join(o, "lake_final"))),
                 ("snapshot read: one row count changed", lambda o: edit_line(
                    os.path.join(o, "lake_reads.tsv"), lambda ls: [
                        "\t".join(f if i != 2 else str(int(f) + 1)
                                  for i, f in enumerate(ls[0].split("\t")))] + ls[1:]))]
        acts = sorted(glob.glob(os.path.join(out, "actions_r*.tsv")))[0]
        rows = acts.replace("actions_", "rows_").replace(".tsv", ".txt")
        cases += [("one resize action dropped", lambda o: edit_line(
                    os.path.join(o, os.path.basename(acts)), lambda ls: ls[1:])),
                 ("one action's target capacity changed", lambda o: edit_line(
                    os.path.join(o, os.path.basename(acts)), lambda ls: [
                        ls[0].rsplit("\t", 1)[0] + "\t" + str(int(ls[0].rsplit("\t", 1)[1]) + 1)]
                    + ls[1:])),
                 ("an input row counted twice", lambda o: edit_line(
                    os.path.join(o, os.path.basename(rows)), lambda ls: [str(int(ls[0]) + 1)]))]
    missed = 0
    for what, corrupt in cases:
        bad = os.path.join(run, "out-corrupt")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(out, bad)
        corrupt(bad)
        res = run_check(kind, tables, run, bad)
        caught = [w for w, ok, _ in res if not ok]
        print(f"  {what}: {'rejected by ' + ', '.join(caught) if caught else 'NOT CAUGHT'}")
        missed += not caught
        shutil.rmtree(bad)
    sys.exit(1 if missed else 0)


if __name__ == "__main__":
    main()
