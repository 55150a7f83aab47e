"""DuckDB reference checks, run after the harness JVM has exited.

The harness writes each checked Spark result as parquet and names the
reference SQL (the program's own DuckDB-dialect oracle text) and the input
tables it reads. Here each reference runs in DuckDB over the same input
files and must match the Spark result exactly: columns compared by name,
rows as sorted multisets, values normalised as strings (floats by repr).
"""
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _rows(rel):
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    order = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(con, name, sql, result_dir):
    """Failure message, or None when Spark and DuckDB agree."""
    try:
        scols, srows = _rows(con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"))
    except Exception as e:  # noqa: BLE001 - report, do not crash the run
        return f"{name}: spark result unreadable: {e}"
    try:
        dcols, drows = _rows(con.execute(sql))
    except Exception as e:  # noqa: BLE001
        return f"{name}: reference SQL failed: {e}"
    if scols != dcols:
        return f"{name}: columns {scols} != reference {dcols}"
    if srows != drows:
        diff = next((i for i, (a, b) in enumerate(zip(srows, drows)) if a != b),
                    min(len(srows), len(drows)))
        return (f"{name}: {len(srows)} rows vs reference {len(drows)}; first difference at "
                f"row {diff}")
    return None


def run(res):
    duck = res.get("duck") or {}
    if not duck:
        return []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table, path in duck["tables"].items():
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM {src}")
    out = []
    for q in duck["queries"]:
        msg = compare(con, q["name"], q["sql"], q["result"])
        if msg:
            out.append(msg)
    con.close()
    return out
