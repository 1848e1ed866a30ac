"""DuckDB oracle for the board_mix workload.

Runs each query's oracle SQL over the board tables in DuckDB and compares
the Spark output with the rules of tools/compare.py: columns matched by
sorted name, rows sorted, values type-strict (int 5 is not float 5.0).
Expected results are cached per (table fingerprint, SQL); every run still
compares its own live outputs.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        return ("f", "NaN") if math.isnan(v) else ("f", float(v))
    return ("o", str(v))


def rows_of(df):
    cols = sorted(df.columns)
    rows = [tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False)]
    rows.sort(key=repr)
    return cols, rows


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def fingerprint(data_dir):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(con, data_fp, name, sql, cache_dir):
    """(columns, sorted normalized rows) of the oracle, cached on disk."""
    key = hashlib.sha256(f"{data_fp}\n{name}\n{sql}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            c = json.load(f)
        return c["columns"], [tuple(tuple(v) for v in r) for r in c["rows"]]
    cols, rows = rows_of(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"columns": cols, "rows": rows}, f)
    os.replace(tmp, path)
    return cols, rows


def diff(got, exp):
    """None when equal, else a one-line reason."""
    (gc, g), (ec, e) = got, exp
    if gc != ec:
        return f"schema: spark={gc} oracle={ec}"
    if len(g) != len(e):
        return f"rows: spark={len(g)} oracle={len(e)}"
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return f"values differ ({len(bad)}/{len(g)} rows), first: spark={bad[0][0]} oracle={bad[0][1]}"
    return None


def spark_rows(con, out_dir):
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return None
    return rows_of(con.sql(f"SELECT * FROM '{files[0]}'").df())


def tampered(exp):
    """The expectation with one value changed: a wrong oracle row."""
    cols, rows = exp
    if not rows:
        return cols, [tuple(("o", "extra") for _ in cols)]
    first = list(rows[0])
    tag, v = first[0]
    first[0] = (tag, v + 1) if tag in ("i", "f") and v != "NaN" else ("o", f"{v}~")
    return cols, [tuple(first)] + rows[1:]


def check(data_dir, outputs, sql_map, cache_dir):
    """Compares every distinct output the JVM wrote with the oracle.

    `outputs` maps query -> [{"path", "executions"}]. Returns
    (failed executions, notes, check-logic failures).
    """
    con = connect(data_dir)
    fp = fingerprint(data_dir)
    failed, notes, logic = 0, [], []
    probed = False
    for name, outs in sorted(outputs.items()):
        if name not in sql_map:
            failed += sum(o["executions"] for o in outs)
            notes.append(f"{name}: no oracle SQL")
            continue
        exp = expected(con, fp, name, sql_map[name], cache_dir)
        for o in outs:
            got = spark_rows(con, o["path"])
            why = "no output written" if got is None else diff(got, exp)
            if why:
                failed += o["executions"]
                notes.append(f"{name}: {why}")
            elif not probed:
                # the compare must reject a wrong oracle row
                probed = True
                if diff(got, tampered(exp)) is None:
                    logic.append(f"oracle compare accepted a wrong row for {name}")
    con.close()
    if not probed:
        logic.append("oracle compare was never exercised on a passing output")
    return failed, notes, logic
