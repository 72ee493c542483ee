"""Content check of the engine's results against the DuckDB oracle.

For each query the engine declares an equivalent SQL text
(``SparkEntry.oracleSql``). DuckDB runs it over the same generated
parquet inputs; both sides are canonicalised the way
tools/verify_local.py does (columns by name, values normalised, rows
sorted) and compared by a SHA-256 of the canonical rows. Oracle
results are cached per (input directory, SQL text).
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # an integral double equals the same integer (1.0 == 1), as in
        # the value-by-value compare of verify_local
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def digest(cols, rows):
    """(sorted column names, row count, hash) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(norm(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"cols": [cols[i] for i in order], "rows": len(canon), "hash": h.hexdigest()}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads TO %d" % max(1, min(4, os.cpu_count() or 1)))
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')" % (t, p))
        elif os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    return con


def engine_digest(path):
    if not os.path.isdir(path):
        return None
    tab = pq.read_table(path)
    return digest(tab.column_names, [tuple(r.values()) for r in tab.to_pylist()])


def expected(cache_dir, data_dir, oracle_sql, rows_dir, queries):
    """{query: {"want": oracle digest or None, "got": engine digest or None}}.

    "want" is None for a query without oracle SQL, and carries an
    "error" instead of a digest when DuckDB rejects the SQL."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for q in dict.fromkeys(queries):
        want = None
        sql = oracle_sql.get(q)
        if sql is not None:
            key = hashlib.sha256((os.path.basename(data_dir) + "\0" + sql).encode()).hexdigest()
            cache = os.path.join(cache_dir, "%s-%s.json" % (q, key[:24]))
            if os.path.exists(cache):
                with open(cache) as f:
                    want = json.load(f)
            else:
                con = con or connect(data_dir)
                try:
                    rel = con.execute(sql)
                    want = digest([c[0] for c in rel.description], rel.fetchall())
                except duckdb.Error as e:
                    want = {"error": str(e)[:300]}
                with open(cache, "w") as f:
                    json.dump(want, f)
        out[q] = {"want": want, "got": engine_digest(os.path.join(rows_dir, q))}
    if con is not None:
        con.close()
    return out
