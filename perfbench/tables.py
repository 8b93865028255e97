"""Seeded driver tables for the `pipeline` workload, and its answer check.

generate() writes the ten parquet tables the driver queries read (the
TPC-H-like star schema plus events, documents and embeddings), with the
column names and types of the driver's test data, into one directory.
check() runs each query's DuckDB oracle over the same files and compares
every result the harness wrote with the gate of tools/check.py.
"""
import datetime
import json
import os
import random
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    import check as gate  # tools/check.py: the repo's copy of the driver's gate
except ImportError:
    raise SystemExit("perfbench: no tools/check.py in this checkout")

WORDS = ("the a data spark table row column key value join filter group agg "
         "sort merge scan hash window batch stream query line order part "
         "customer small big fast slow dup index shard cache plan").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(seed, out):
    """Write the tables for `seed` under `out`, at the sf0.001 row counts."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    nr = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li = 1500, 6000
    n_ev, n_doc, n_emb = 1000, 500, 500

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": regions})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%02d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]})
    adj = ["cold", "small", "large", "blue", "red", "green", "hot", "shiny"]
    noun = ["widget", "bolt", "rod", "gear", "valve", "pipe", "nut", "spring"]
    types = ["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"]
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (rng.choice(adj), rng.choice(noun)) for _ in range(n_part)],
        "p_brand": ["Brand#%d" % rng.randrange(1, 26) for _ in range(n_part)],
        "p_type": [rng.choice(types) for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + i / 10, 2) for i in range(n_part)]})
    day0 = datetime.datetime(1995, 1, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array([day0 + datetime.timedelta(days=rng.randrange(2555))
                                 for _ in range(n_ord)], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(prios) for _ in range(n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array([rng.randrange(n_ord) for _ in range(n_li)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_li)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_li)], pa.int64()),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n_li)], pa.int32()),
        "l_quantity": [float(rng.randrange(1, 51)) for _ in range(n_li)],
        "l_extendedprice": [round(rng.uniform(900, 100000), 2) for _ in range(n_li)],
        "l_discount": [rng.randrange(11) / 100 for _ in range(n_li)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(n_li)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_li)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_li)],
        "l_shipdate": pa.array([day0 + datetime.timedelta(days=rng.randrange(2555))
                                for _ in range(n_li)], pa.timestamp("us"))})
    t0 = datetime.datetime(2024, 1, 1)
    secs = sorted(rng.randrange(30 * 86400 * 1000000) for _ in range(n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=s) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(15) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(["click", "view", "purchase", "signup", "error"])
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(n_ev)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]})
    # document lengths, and which documents are duplicates of which, are
    # the same for every seed (the text-shingle queries cost O(tokens^2)
    # per document, so a seeded length would move their time); the words
    # come from the seed
    texts = []
    for i in range(n_doc):
        if i > 10 and i % 20 == 0:      # exact duplicate
            texts.append(texts[i // 2])
        elif i > 10 and i % 20 == 10:   # near duplicate
            w = texts[i // 2].split()
            w[rng.randrange(len(w))] = rng.choice(WORDS)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(15 + (i * 37) % 45)))
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "de", "fr", "es"]) for _ in range(n_doc)],
        "source": ["src%d" % rng.randrange(10) for _ in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = nr.normal(0, 0.2, (10, 64))
    labels = nr.integers(0, 10, n_emb)
    vecs = (centers[labels] + nr.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---- the answer check: tools/check.py's gate, imported ----------------------

def _same(sdf, odf):
    sdf, odf = gate.canon(sdf), gate.canon(odf)
    return (list(sdf.columns) == list(odf.columns) and len(sdf) == len(odf)
            and gate.dtypes_match(sdf, odf) and gate.h(sdf) == gate.h(odf))


def check(run_dir, res):
    """Compare every result under <run_dir>/results/<query>/<n> with the
    query's DuckDB oracle; a mismatch is a failed operation."""
    tables = os.path.join(run_dir, "tables")
    res_dir = os.path.join(run_dir, "results")
    if not os.path.isdir(res_dir):
        return
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in gate.TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, tables, t))
    bad = 0
    for name in sorted(os.listdir(res_dir)):
        odf = con.execute(oracle[name]).df()
        for it in sorted(os.listdir(os.path.join(res_dir, name))):
            try:
                ok = _same(pd.read_parquet(os.path.join(res_dir, name, it)), odf)
            except Exception as e:  # an unreadable result is a wrong answer
                ok = False
                res["errors"].append("%s/%s: %s" % (name, it, e))
            if not ok:
                bad += 1
                if len(res["errors"]) < 20:
                    res["errors"].append("%s/%s: differs from the DuckDB oracle" % (name, it))
    con.close()
    res["failed"] += bad
