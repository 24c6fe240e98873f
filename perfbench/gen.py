"""Seeded input generator for the benchmark.

Builds the ten tables the query gates read (the TPC-H-ish star schema,
`events`, `documents`, `embeddings`) with the same schemas, value
distributions and single-row-group parquet layout as the engine's test
data, from nothing but a seed: the same seed gives byte-identical
files. `write_sqlite` stores the same tables as one SQLite database the
way a migration source looks in the wild: declared `INTEGER PRIMARY
KEY`s where the data has a key, `DATE`/`DATETIME` columns as text, the
embedding as a packed-float32 `BLOB`, and NULLs and blank or malformed
datetimes at fixed rates in seed-chosen rows.
"""
import hashlib
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "zh", "es", "fr", "de"]
EMB_DIM = 64

# SQLite-only damage, each a share of the rows of the affected columns.
NULL_RATE = 0.01        # NULL in every non-key INTEGER / REAL column
BLANK_RATE = 0.01       # '' or spaces in DATE / DATETIME columns
MALFORMED_RATE = 0.01   # unparseable text in DATE / DATETIME columns
MALFORMED_DATES = ["1997/03/05", "31-12-1999", "N/A", "1999-02-30",
                   "19970305"]
MALFORMED_DATETIMES = ["2024-01-05T10:00:00", "2024-01-05 25:00:00",
                       "yesterday", "2024-01-05", "2024-02-30 10:00:00"]


def sizes(sf):
    """Row counts per table at scale factor `sf` (the test data's ratios)."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def _ts_days(start, days):
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """Generate every table as a pyarrow Table, deterministically."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(
            _ts_days("1995-01-01", rng.integers(0, 2404, no)),
            pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _ts_days("1995-01-02", rng.integers(0, 2499, nl)),
            pa.timestamp("us"))})
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # 5% near-duplicates: an earlier document plus a marker word
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, 30, k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in
                 rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (nv, EMB_DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return out


def write_parquet(tabs, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tabs[name], os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ SQLite

# Declared column types per table; a key listed in SQLITE_KEYS becomes
# `INTEGER PRIMARY KEY`. lineitem has no key in its data and documents'
# key is left for the migration to infer.
SQLITE_DECL = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "TEXT")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "TEXT"),
               ("n_regionkey", "INTEGER")],
    "customer": [("c_custkey", "INTEGER"), ("c_name", "TEXT"),
                 ("c_nationkey", "INTEGER"), ("c_acctbal", "REAL"),
                 ("c_mktsegment", "TEXT")],
    "supplier": [("s_suppkey", "INTEGER"), ("s_name", "TEXT"),
                 ("s_nationkey", "INTEGER"), ("s_acctbal", "REAL")],
    "part": [("p_partkey", "INTEGER"), ("p_name", "TEXT"),
             ("p_brand", "TEXT"), ("p_type", "TEXT"), ("p_size", "INTEGER"),
             ("p_retailprice", "REAL")],
    "orders": [("o_orderkey", "INTEGER"), ("o_custkey", "INTEGER"),
               ("o_orderstatus", "TEXT"), ("o_totalprice", "REAL"),
               ("o_orderdate", "DATE"), ("o_orderpriority", "TEXT")],
    "lineitem": [("l_orderkey", "INTEGER"), ("l_partkey", "INTEGER"),
                 ("l_suppkey", "INTEGER"), ("l_linenumber", "INTEGER"),
                 ("l_quantity", "REAL"), ("l_extendedprice", "REAL"),
                 ("l_discount", "REAL"), ("l_tax", "REAL"),
                 ("l_returnflag", "TEXT"), ("l_linestatus", "TEXT"),
                 ("l_shipdate", "DATE")],
    "events": [("event_id", "INTEGER"), ("ts", "DATETIME"),
               ("user_id", "INTEGER"), ("event_type", "TEXT"),
               ("value", "REAL"), ("props", "TEXT")],
    "documents": [("doc_id", "INTEGER"), ("text", "TEXT"), ("lang", "TEXT"),
                  ("source", "TEXT"), ("n_chars", "INTEGER")],
    "embeddings": [("vec_id", "INTEGER"), ("embedding", "BLOB"),
                   ("label", "INTEGER")],
}
SQLITE_KEYS = {"region": "r_regionkey", "nation": "n_nationkey",
               "customer": "c_custkey", "supplier": "s_suppkey",
               "part": "p_partkey", "orders": "o_orderkey",
               "events": "event_id", "embeddings": "vec_id"}


def _column_values(tab, name, decl):
    col = tab.column(name)
    if decl == "DATE":
        return [None if v is None else v.strftime("%Y-%m-%d")
                for v in col.to_pylist()]
    if decl == "DATETIME":
        return [None if v is None else v.strftime("%Y-%m-%d %H:%M:%S.%f")
                for v in col.to_pylist()]
    if decl == "BLOB":
        return [np.asarray(v, dtype="<f4").tobytes()
                for v in col.to_numpy(zero_copy_only=False)]
    return col.to_pylist()


def _damage(rng, table, name, decl, values):
    """Inject NULLs / blank / malformed text at the fixed rates."""
    n = len(values)
    if name == SQLITE_KEYS.get(table) or (table, name) == ("documents",
                                                           "doc_id"):
        return values
    if decl in ("INTEGER", "REAL"):
        for i in rng.choice(n, int(n * NULL_RATE), replace=False):
            values[i] = None
    elif decl in ("DATE", "DATETIME"):
        bad = MALFORMED_DATES if decl == "DATE" else MALFORMED_DATETIMES
        k_blank, k_bad = int(n * BLANK_RATE), int(n * MALFORMED_RATE)
        pos = rng.choice(n, k_blank + k_bad, replace=False)
        for j, i in enumerate(pos):
            values[i] = ("", "   ")[j % 2] if j < k_blank \
                else bad[j % len(bad)]
    return values


def write_sqlite(tabs, path, seed):
    """Write every table into one SQLite file (replaced if present)."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    for table in TABLES:
        decl = SQLITE_DECL[table]
        key = SQLITE_KEYS.get(table)
        cols = ", ".join(
            f"{c} INTEGER PRIMARY KEY" if c == key else f"{c} {d}"
            for c, d in decl)
        con.execute(f"CREATE TABLE {table} ({cols})")
        columns = [_damage(rng, table, c, d,
                           _column_values(tabs[table], c, d))
                   for c, d in decl]
        marks = ", ".join("?" * len(decl))
        con.executemany(f"INSERT INTO {table} VALUES ({marks})",
                        zip(*columns))
    con.commit()
    con.close()


def sqlite_checksum(path):
    """SHA-256 over every table's rows in rowid order (content, not
    file bytes)."""
    h = hashlib.sha256()
    con = sqlite3.connect(path)
    for table in TABLES:
        h.update(table.encode())
        for row in con.execute(f"SELECT * FROM {table} ORDER BY rowid"):
            h.update(repr(row).encode())
    con.close()
    return h.hexdigest()

