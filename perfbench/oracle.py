"""DuckDB oracle check of registry outputs.

Each key's Spark output (one parquet directory per key, dumped by the
harness) is compared with the key's oracle SQL (SparkEntry.oracleSql)
run by DuckDB over the same generated tables: column names, row count,
and an order-independent digest of the rows (columns ordered by name,
floats rounded to 9 digits, rows sorted).
"""
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(round(v, 9))
            vals.append(str(v))
        lines.append("\x01".join(vals))
    lines.sort()
    return hashlib.sha256("\x02".join(lines).encode()).hexdigest()


def compare(dump_dir, data_dir, keys):
    """Returns [(key, reason)] for every key whose output disagrees."""
    sql = json.loads((dump_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for key in keys:
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{dump_dir}/{key}/*.parquet')")
            g_rows, g_names = got.fetchall(), [d[0] for d in got.description]
        except Exception as e:
            bad.append((key, f"spark output unreadable: {e}"))
            continue
        try:
            exp = con.execute(sql[key])
            e_rows, e_names = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            bad.append((key, f"oracle SQL failed: {e}"))
            continue
        if sorted(g_names) != sorted(e_names):
            bad.append((key, f"columns {sorted(g_names)} != {sorted(e_names)}"))
        elif len(g_rows) != len(e_rows):
            bad.append((key, f"rows {len(g_rows)} != {len(e_rows)}"))
        elif digest(g_rows, g_names) != digest(e_rows, e_names):
            bad.append((key, "row digest differs"))
    con.close()
    return bad
