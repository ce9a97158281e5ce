"""Seeded input tables for the query_mix workload, and the DuckDB check of its
results.

`generate(dir, seed)` writes the ten parquet tables of the repository's test
data (TPC-H-like star schema, an events stream, documents with planted near
duplicates, unit-norm embeddings) at scale factor SF. Row counts, key ranges,
value distributions, the document vocabulary, length and duplicate rates all
follow the recipe measured on those tables; perfbench/METRICS.md lists the
measurements and compares the query_mix queries over both. The same seed
gives the same tables.

`check(tables, oracle_json, result_dirs)` runs each query's oracle SQL in
DuckDB and compares it with the parquet the benchmark JVM wrote, normalised
as tools/check_oracle.py does (columns sorted by name, rows sorted, floats
rounded to 6 places).
"""
import datetime
import json
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01

# Rows per unit of scale factor, as in the test tables at sf 0.001, 0.01 and
# 0.1. Documents and embeddings never go below 500 rows.
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
               "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
USERS_PER_SF = 15_000
MIN_ROWS = {"documents": 500, "embeddings": 500}

# Documents: words drawn uniformly from a 30-word vocabulary, 10..99 words a
# document; 5% are another document's text plus " dup"; from 5000 documents
# on, 8 are exact copies of another.
VOCAB = ("a the data query table row column key value hash join sort merge group agg "
         "filter scan order line part customer window stream batch vector spark fast "
         "slow big small").split()
WORDS = (10, 100)
NEAR_DUP_SHARE = 0.05
EXACT_DUPS = 8
EXACT_DUPS_FROM = 5000
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
EVENT_MEAN_VALUE = 50.0

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def rows(table, sf):
    return max(MIN_ROWS.get(table, 1), round(ROWS_PER_SF[table] * sf))


def _ts(days, base):
    return pa.array([base + datetime.timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, sf):
    n = rows("documents", sf)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(*WORDS, n)]
    for i in rng.choice(n, round(n * NEAR_DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    if n >= EXACT_DUPS_FROM:
        for i in rng.choice(n, EXACT_DUPS, replace=False):
            texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, sf):
    n = rows("embeddings", sf)
    v = rng.standard_normal((n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, n).astype(np.int32),
    })


def _star(rng, sf):
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, ns, npart, no, nl = (rows(t, sf) for t in ("customer", "supplier", "part", "orders", "lineitem"))
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist()})
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    part = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0})
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(rng.integers(0, 2404, no), datetime.datetime(1995, 1, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist()})
    # line items pick their order at random, so lines per order are ~Poisson(4)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(rng.integers(0, 2498, nl), datetime.datetime(1995, 1, 2))})
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}


def _events(rng, sf):
    n = rows("events", sf)
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    base = datetime.datetime(2024, 1, 1)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array([base + datetime.timedelta(microseconds=int(s * 1e6)) for s in secs],
                       pa.timestamp("us")),
        "user_id": rng.integers(0, round(USERS_PER_SF * sf), n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n).tolist(),
        "value": np.round(rng.exponential(EVENT_MEAN_VALUE, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def generate(out_dir, seed, sf=SF):
    """Writes the tables for `seed` at scale factor `sf` under out_dir as
    <name>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = _star(rng, sf)
    tables["events"] = _events(rng, sf)
    tables["documents"] = _documents(rng, sf)
    tables["embeddings"] = _embeddings(rng, sf)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return int(v)
    return str(v)


def _rows(con, sql):
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted(cols),
            sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=lambda t: tuple(map(str, t))))


def check(tables_dir, oracle_json, result_dirs):
    """Returns (checked, problems) over every query result under result_dirs."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_json))
    want = {q: _rows(con, sql) for q, sql in oracle.items()}
    checked, problems = 0, []
    for d in result_dirs:
        for q in sorted(oracle):
            checked += 1
            path = os.path.join(d, q)
            try:
                got = _rows(con, f"SELECT * FROM '{path}/*.parquet'")
            except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
                problems.append(f"{os.path.basename(d)}/{q}: unreadable ({e})")
                continue
            if got != want[q]:
                problems.append(f"{os.path.basename(d)}/{q}: result ({len(got[1])} rows) differs from "
                                f"the oracle's ({len(want[q][1])} rows)")
    return checked, problems
