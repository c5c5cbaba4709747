"""Input generation for the benchmark.

Two kinds of input:

* The base tables (`make_tables`): an sf0.1-sized synthetic star schema with
  the column names, types and value domains graft's registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings). They are generated from a fixed seed, so every run
  and every seed reads the same bytes; they are built once per checkout.
* The per-run inputs (`olap_plan`, `lake_plan`, `stream_plan`): the query
  order, the lake change log and the cluster metric traces, all derived from
  the run's `--seed`. graft receives only these generated files.
"""
import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES_VERSION = "1"  # bump when make_tables changes, to rebuild the cache

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_EMB, EMB_DIM = 5_000, 2_000, 64

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (µs) drawn uniformly between two dates."""
    d0 = (start - dt.date(1970, 1, 1)).days
    d1 = (end - dt.date(1970, 1, 1)).days
    return (rng.integers(d0, d1 + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def make_tables(out):
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": names[rng.integers(0, len(names), N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINEITEM)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, N_EVENTS)) + t0
    _write(out, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    # documents: random word strings; about 5% are a copy of an earlier
    # document with a " dup" suffix (the near-duplicates dedup looks for)
    texts = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "en", "en", "es", "fr", "zh", "de"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(size=(N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32())})


def olap_plan(seed, out, queries, rounds):
    """queries.txt: the query list, then one seeded order per round."""
    rng = np.random.default_rng(seed)
    lines = [" ".join(queries)]
    lines += [" ".join(queries[i] for i in rng.permutation(len(queries)))
              for _ in range(rounds)]
    _lines(out, "queries.txt", lines)


# lake_stream, lake part: one round is a commit, a full and a pruned snapshot read, an
# optimize and a vacuum. Each commit's changes fall in one o_custkey stripe,
# the update locality CowTable's layout is built for.
LAKE_UPDATES, LAKE_INSERTS, LAKE_DELETES = 200, 50, 50
# CowTable files split o_custkey into blocks of 1024 (the top bits of its
# z-order key), so a stripe or range inside one block always lands in the
# same number of files, whatever the seed
LAKE_BLOCK = 1024
LAKE_STRIPE = 512  # o_custkey width of one commit's changes


def lake_plan(seed, out, orders_path, rounds):
    """lake.txt (line 0 is the warm-up round) and the change batches
    up_<i>.parquet / del_<i>.parquet it names.

    Updates give existing orders a new o_totalprice and o_orderstatus and
    keep o_custkey and o_orderdate, so the row stays in its file
    (CowTable's clustering contract). Inserts use fresh keys. Each batch
    touches distinct keys, and a deleted key is never touched again."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    cur = pq.read_table(orders_path).to_pandas().set_index("o_orderkey", drop=False)
    next_key = int(cur.index.max()) + 1
    status = np.array(["F", "O", "P"])
    lines = []
    for batch in range(rounds + 1):
        lo = LAKE_BLOCK * int(rng.integers(0, N_CUSTOMER // LAKE_BLOCK)) + \
            int(rng.integers(0, LAKE_BLOCK - LAKE_STRIPE + 1))
        keys = cur.index[(cur.o_custkey >= lo) & (cur.o_custkey < lo + LAKE_STRIPE)]
        pick = rng.choice(len(keys), LAKE_UPDATES + LAKE_DELETES, replace=False)
        upd = keys[pick[:LAKE_UPDATES]].to_numpy()
        dele = keys[pick[LAKE_UPDATES:]].to_numpy()
        up = cur.loc[upd].copy()
        up["o_totalprice"] = _money(rng, 1000, 500_000, len(up))
        up["o_orderstatus"] = status[rng.integers(0, 3, len(up))]
        ins = pd.DataFrame({
            "o_orderkey": np.arange(next_key, next_key + LAKE_INSERTS),
            "o_custkey": rng.integers(lo, lo + LAKE_STRIPE, LAKE_INSERTS),
            "o_orderstatus": status[rng.integers(0, 3, LAKE_INSERTS)],
            "o_totalprice": _money(rng, 1000, 500_000, LAKE_INSERTS),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                                 LAKE_INSERTS),
            "o_orderpriority": "3-MEDIUM"}).set_index("o_orderkey", drop=False)
        next_key += LAKE_INSERTS
        up = pd.concat([up, ins])
        pq.write_table(pa.Table.from_pandas(up, preserve_index=False),
                       os.path.join(out, f"up_{batch}.parquet"))
        pq.write_table(pa.table({"o_orderkey": pa.array(dele, pa.int64())}),
                       os.path.join(out, f"del_{batch}.parquet"))
        cur = pd.concat([cur.drop(index=np.concatenate([upd, dele])), up])
        lo = LAKE_BLOCK * int(rng.integers(0, N_CUSTOMER // LAKE_BLOCK))
        lines.append(f"commit {batch};read;pruned {lo} {lo + LAKE_BLOCK - 1};"
                     "optimize;vacuum 3")
    _lines(out, "lake.txt", lines)


# lake_stream, stream part: ticks every 30 s per cluster, aligned to the window grid
STREAM_T0 = 1_700_000_010 - 1_700_000_010 % 30


def _trace(rng, ticks):
    """One cluster's RM-metrics payloads: a random walk of busy cores, with
    a few zero-core payloads (a skipped tick). Core totals of 8 or 16 keep
    every percentage a multiple of 6.25, which doubles hold exactly, so a
    window average is the same whatever order it is summed in."""
    total = int(rng.choice([8, 16]))
    busy = int(rng.integers(0, total + 1))
    lines = []
    for i in range(ticks):
        busy = int(np.clip(busy + rng.integers(-2, 3), 0, total))
        t = 0 if rng.random() < 0.02 else total
        payload = json.dumps({"clusterMetrics": {
            "availableVirtualCores": total - busy if t else 0, "totalVirtualCores": t}})
        lines.append(json.dumps({"ts": STREAM_T0 + 30 * i, "payload": payload}))
    return lines


def stream_plan(seed, out, clusters, ticks, warm_ticks, batch, rounds):
    """stream.txt plus per-cluster JSONL traces under trace/ (timed rounds)
    and warm/ (the untimed warm-up query)."""
    rng = np.random.default_rng(seed)
    ids = [f"j-BENCH{c:02d}" for c in range(clusters)]
    for c in ids:
        lines = _trace(rng, ticks)
        _lines(os.path.join(out, "trace"), f"{c}.jsonl", lines)
        _lines(os.path.join(out, "warm"), f"{c}.jsonl", lines[:warm_ticks])
    _lines(out, "stream.txt", [f"clusters {' '.join(ids)}", f"batch {batch}",
                               f"rounds {rounds}"])


def _lines(out, name, lines):
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, name), "w") as f:
        f.write("\n".join(lines) + "\n")
