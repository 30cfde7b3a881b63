"""Checks curation query results against DuckDB running each query's oracle SQL.

Both sides are normalised the same way (columns sorted by name, floats to six
decimals, rows sorted) and reduced to a row count plus a SHA-256 content hash.
The DuckDB side is cached next to the generated tables, keyed by the SQL, so
each seed pays for the oracle once.
"""
import decimal
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(table):
    """(row count, sorted column names, content hash) of an Arrow table."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(c[i]) for c in cols) for i in range(table.num_rows))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return table.num_rows, names, h.hexdigest()


def expected(tables_dir, oracle_sql):
    import duckdb
    cache_file = os.path.join(tables_dir, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    todo = {q: sql for q, sql in oracle_sql.items()
            if cache.get(q, {}).get("sql") != sql}
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t + '.parquet')}'")
        for q, sql in todo.items():
            n, names, h = digest(con.execute(sql).fetch_arrow_table())
            cache[q] = {"sql": sql, "rows": n, "columns": names, "hash": h}
        con.close()
        with open(cache_file, "w") as f:
            json.dump(cache, f)
    return cache


def check(tables_dir, results_dir, oracle_sql, verified_rows):
    """{query: reason} for every verification result that differs from the oracle."""
    import pyarrow.dataset as ds
    want = expected(tables_dir, oracle_sql)
    bad = {}
    for q in verified_rows:
        if not oracle_sql.get(q):
            bad[q] = "no oracle SQL"
            continue
        n, names, h = digest(ds.dataset(os.path.join(results_dir, q)).to_table())
        w = want[q]
        if names != w["columns"]:
            bad[q] = f"columns {names} != {w['columns']}"
        elif n != w["rows"]:
            bad[q] = f"rows {n} != {w['rows']}"
        elif h != w["hash"]:
            bad[q] = "content hash differs"
    return bad
