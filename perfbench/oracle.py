"""Compare dumped query results with their DuckDB oracle twins.

Both sides reduce to an order-insensitive canonical digest: columns
sorted by name, each value rendered canonically, rows sorted, SHA-256 of
the result. The oracle side is cached on disk keyed by the SQL text and
the data files' content hashes.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def digest(columns, rows):
    """(row count, hex digest) of a result given as column names and
    row tuples, insensitive to row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(("\x1e".join(columns[i] for i in order) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def spark_digest(path):
    t = pq.read_table(path).to_pydict()
    cols = list(t)
    return digest(cols, list(zip(*[t[c] for c in cols])) if cols else [])


def data_key(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_digest(con, sql, key, cache_dir):
    path = os.path.join(cache_dir, hashlib.sha256((key + sql).encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    rel = con.sql(sql)
    res = digest(rel.columns, rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f)
    return res


def compare(check_dir, data_dir, cache_dir, kinds):
    """[(kind, ok, detail, spark row count)] for each dumped kind."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect(config={"threads": 2})
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    key = data_key(data_dir)
    out = []
    for k in kinds:
        try:
            got = spark_digest(os.path.join(check_dir, k))
        except Exception as e:  # the dump is missing: the query failed
            out.append((k, False, f"no spark result ({e})", -1))
            continue
        if k not in sqls:
            out.append((k, True, "no oracle twin", got[0]))
            continue
        try:
            want = oracle_digest(con, sqls[k], key, cache_dir)
        except Exception as e:
            out.append((k, False, f"oracle error: {e}", got[0]))
            continue
        ok = tuple(got) == tuple(want)
        out.append((k, ok, "match" if ok else f"spark {got} vs oracle {want}", got[0]))
    con.close()
    return out
