"""Output checks for the benchmark, run once per run after the timed loop.

* Gates: each gate's result against its DuckDB oracle from
  `SparkEntry.oracleSql`, canonicalised the way `tools/hashgate.py`
  does (columns sorted by name, CSV text, SHA-256).
* Migration: per-table row counts and every column's values (as a
  sorted multiset) recomputed from the SQLite file, plus the DDL's
  ORDER BY key.
* Fidelity: columns whose ClickHouse DDL type or staged values depart
  from the reference's semantics (declared-type map, null-as-default,
  lenient datetime parse with fractional seconds dropped and NULL on
  unparseable input; a BLOB must stay recoverable).
"""
import datetime as dt
import glob
import hashlib
import json
import os
import sqlite3

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Reference declared-type map (SchemaMapper.fromSqliteDecl mirrors it).
REF_TYPE = {"INTEGER": "Int64", "INT": "Int64", "REAL": "Float64",
            "FLOAT": "Float64", "VARCHAR": "String", "TEXT": "String",
            "DATETIME": "DateTime", "DATE": "Date"}


def canon(df):
    df = df[sorted(df.columns)]
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def check_gates(out_dir, oracles_json, data_dir):
    """Returns {gate: reason} for every gate whose output is wrong."""
    with open(oracles_json) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in gen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}
    for gate, sql in sorted(oracles.items()):
        if sql is None:
            bad[gate] = "no oracle"
            continue
        try:
            got = pd.read_parquet(os.path.join(out_dir, gate))
            want = con.execute(sql).df()
        except Exception as e:  # a failing read or oracle is a failed check
            bad[gate] = f"{type(e).__name__}: {e}"
            continue
        if canon(got) != canon(want):
            bad[gate] = (f"hash mismatch ({len(got)} rows vs oracle "
                         f"{len(want)})")
    con.close()
    return bad


# ------------------------------------------------------------ migration

def ref_date(v):
    """Reference date parse: blank -> None, trim, strict, None on failure."""
    if v is None or not str(v).strip():
        return None
    try:
        return dt.datetime.strptime(str(v).strip(), "%Y-%m-%d").date()
    except ValueError:
        return None


def ref_datetime(v):
    """Reference datetime parse: blank -> None, drop the fractional part,
    trim, strict, None on failure."""
    if v is None or not str(v).strip():
        return None
    try:
        return dt.datetime.strptime(str(v).split(".")[0].strip(),
                                    "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return None


def parse_ddl(ddl):
    """(column -> ClickHouse type, ORDER BY text) from a CREATE TABLE."""
    body = ddl[ddl.index("(") + 1:ddl.rindex(") ENGINE")]
    cols, depth, cur = [], 0, ""
    for ch in body:
        if ch == "," and depth == 0:
            cols.append(cur.strip())
            cur = ""
            continue
        depth += (ch == "(") - (ch == ")")
        cur += ch
    cols.append(cur.strip())
    types = dict(c.split(" ", 1) for c in cols if c)
    return types, ddl.rsplit("ORDER BY ", 1)[1].strip()


def _sorted(values):
    return sorted(values, key=lambda v: (v is None, 0 if v is None else v))


def _staged_column(table, name):
    """A staged column as Python values; strings come back as bytes so
    binary payloads survive."""
    col = table.column(name)
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return col.cast(pa.binary()).to_pylist(), "string"
    if pa.types.is_timestamp(col.type):
        return [None if v is None else pd.Timestamp(v).to_pydatetime()
                .replace(tzinfo=None) for v in col.to_pylist()], "timestamp"
    if pa.types.is_date(col.type):
        return col.to_pylist(), "date"
    return col.to_pylist(), str(col.type)


def _rank(table, name):
    n, t = name.lower(), table.lower()
    if n in ("id", "rowid", f"{t}_id", f"{t}id"):
        return 0
    if n.endswith("key"):
        return 1
    if n.endswith("_id") or n.endswith("id"):
        return 2
    if n.endswith("number") or n.endswith("_no") or n.endswith("seq"):
        return 3
    return 4


def expected_order_by(con, table):
    """The key the migration must emit: the declared INTEGER PRIMARY KEY,
    else the first unique prefix (at most two) of key-named columns,
    else `tuple()`."""
    if table in gen.SQLITE_KEYS:
        return gen.SQLITE_KEYS[table]
    decl = gen.SQLITE_DECL[table]
    orderable = [(c, i) for i, (c, d) in enumerate(decl)
                 if d in ("INTEGER", "TEXT", "DATE", "DATETIME")]
    cands = [c for c, i in sorted(orderable,
                                  key=lambda ci: (_rank(table, ci[0]), ci[1]))]
    if not cands or _rank(table, cands[0]) == 4:
        return "tuple()"
    n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    for k in (1, 2):
        cols = ", ".join(cands[:k])
        distinct = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {table})"
        ).fetchone()[0]
        if distinct == n:
            return cands[0] if k == 1 else f"({cols})"
    return "tuple()"


def check_migration(db_path, staged_dir, reports):
    """Returns (wrong: {item: reason}, fidelity: [column], columns
    checked)."""
    con = sqlite3.connect(db_path)
    ddl = {r["table"]: r["ddl"] for r in reports}
    wrong, fidelity, checked = {}, [], 0
    for table in gen.TABLES:
        if table not in ddl:
            wrong[table] = "not migrated"
            continue
        types, order_by = parse_ddl(ddl[table])
        want_key = expected_order_by(con, table)
        if order_by != want_key:
            wrong[f"{table}.ORDER BY"] = f"{order_by} != {want_key}"
        files = sorted(glob.glob(os.path.join(staged_dir, table,
                                              "*.parquet")))
        staged = pa.concat_tables([pq.read_table(f) for f in files]) \
            if files else None
        src = con.execute(f"SELECT * FROM {table}").fetchall()
        if staged is None or staged.num_rows != len(src):
            wrong[table] = (f"rows {0 if staged is None else staged.num_rows}"
                            f" != source {len(src)}")
            continue
        for i, (name, decl) in enumerate(gen.SQLITE_DECL[table]):
            item = f"{table}.{name}"
            raw = [row[i] for row in src]
            got, kind = _staged_column(staged, name)
            ok, faithful = column_verdict(decl, raw, got, kind)
            ref_type = REF_TYPE.get(decl, "String")
            if types.get(name) != ref_type:
                faithful = False
            if not ok:
                wrong[item] = f"values differ ({kind} staged from {decl})"
            if not faithful:
                fidelity.append(item)
            checked += 1
    con.close()
    return wrong, fidelity, checked


def column_verdict(decl, raw, got, kind):
    """(correct, faithful) for one staged column.

    Correct: the staged values are the source values under the reference
    semantics or, for DATE/DATETIME/BLOB, passed through unchanged (NULL
    as ''). Faithful: they follow the reference semantics exactly.
    """
    def same(a, b):
        return _sorted(a) == _sorted(b)

    if decl in ("INTEGER", "REAL"):
        zero = 0 if decl == "INTEGER" else 0.0
        ref = [zero if v is None else v for v in raw]
        ok = same(ref, got)
        return ok, ok
    if decl == "TEXT":
        ref = [b"" if v is None else str(v).encode() for v in raw]
        ok = same(ref, got)
        return ok, ok
    if decl in ("DATE", "DATETIME"):
        parse = ref_date if decl == "DATE" else ref_datetime
        ref = [parse(v) for v in raw]
        if kind == "date" or (kind == "timestamp" and decl == "DATETIME"):
            faithful = same(ref, got)
            return faithful, faithful
        if kind == "timestamp":  # a DATE staged as midnight timestamps
            ok = same(ref, [None if v is None else v.date() for v in got])
            return ok, False
        passthrough = [b"" if v is None else str(v).encode() for v in raw]
        return same(passthrough, got), False
    if decl == "BLOB":
        faithful = same([bytes(v) for v in raw],
                        [None if v is None else bytes(v) for v in got])
        lossy = [bytes(v).decode("utf-8", "replace").encode() for v in raw]
        return faithful or same(lossy, got), faithful
    return False, False


def corrupt_one_value(staged_dir, table, column):
    """Self-check helper: rewrite one staged value of `column` in place."""
    f = sorted(glob.glob(os.path.join(staged_dir, table, "*.parquet")))[0]
    t = pq.read_table(f)
    vals = t.column(column).to_pylist()
    vals[0] = (vals[0] or 0) + 1
    field = t.schema.field(column)
    t = t.set_column(t.schema.get_field_index(column), field,
                     pa.array(vals, field.type))
    pq.write_table(t, f)


def corrupt_one_row(out_dir, gate):
    """Self-check helper: drop the first row of a gate's checked output."""
    files = sorted(glob.glob(os.path.join(out_dir, gate, "*.parquet")))
    for f in files:
        t = pq.read_table(f)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            return
