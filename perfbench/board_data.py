"""Seeded tables for the board_mix workload.

Writes the five tables the board subset reads (customer, orders, lineitem,
events, documents) as one parquet file each, with the column names, types
and value domains of the project's test tables at scale factor `SF`. The
same seed gives byte-identical files; a finished directory is reused.
"""
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

# scale factor of the tables; rows and key domains grow with it, as in the
# test tables (documents: 500 up to sf0.01, then 50,000 per unit)
SF = 0.01
_M = round(SF / 0.001)
SIZES = {"customer": 150 * _M, "orders": 1500 * _M, "lineitem": 6000 * _M,
         "events": 1000 * _M, "documents": max(500, round(50000 * SF))}
PARTS, SUPPLIERS, USERS = 200 * _M, 10 * _M, 15 * _M
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

# DuckDB types of each column, as in the test tables
SCHEMAS = {
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, c_acctbal DOUBLE, "
                "c_mktsegment VARCHAR",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, "
              "o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INTEGER, "
                "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                "l_returnflag VARCHAR, l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, "
              "props VARCHAR",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
}


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, ndays, n):
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, ndays, n), unit="D")


def tables(seed):
    rng = np.random.default_rng(seed)
    nc, no, nl, ne, nd = (SIZES[t] for t in ("customer", "orders", "lineitem", "events", "documents"))
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _cents(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, PARTS, nl),
        "l_suppkey": rng.integers(0, SUPPLIERS, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _cents(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
    })
    # distinct, increasing event times over 30 days, micros precision
    micros = np.sort(rng.choice(30 * 86400 * 10**6, ne, replace=False))
    events = pd.DataFrame({
        "event_id": np.arange(ne),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us"),
        "user_id": rng.integers(0, USERS, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(60.0, ne), 489.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 90))) for _ in range(nd)]
    documents = pd.DataFrame({
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": [len(t) for t in texts],
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents}


def generate(seed, parent):
    """Returns the directory holding the seed's tables, writing it if needed."""
    out = os.path.join(parent, f"board-sf{SF}-s{seed}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name, df in tables(seed).items():
        con.register("src", df)
        cols = ", ".join(f"CAST({c.split()[0]} AS {c.split()[1]}) AS {c.split()[0]}"
                         for c in SCHEMAS[name].split(", "))
        con.execute(f"COPY (SELECT {cols} FROM src) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
