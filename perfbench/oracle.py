#!/usr/bin/env python3
"""DuckDB oracles for the benchmark's correctness gates.

Computed independently of Spark, from the same generated files:

    oracle.py lww <srcDir> <batches> <out.parquet>
        last-writer-wins state of orders after applying sync batches
        1..batches to it (highest o_version per o_orderkey).
    oracle.py dupgroups <srcDir> <out.parquet>
        exact-duplicate documents as (id, grp): every doc whose text
        occurs more than once, grp = smallest doc_id with that text.

`compare_queries` checks query outputs against SparkEntry's DuckDB oracle
SQL (run.py calls it after a clone_sync run).
"""
import decimal
import json
import os
import sys

import duckdb

CORPUS = ["customer", "orders", "lineitem"]


def connect():
    con = duckdb.connect()
    # never reach for the network: use only what is built in
    con.execute("SET autoinstall_known_extensions = false")
    return con


def lww(src, batches, out):
    parts = [f"SELECT * FROM '{src}/orders.parquet/*.parquet'"] + [
        f"SELECT * FROM '{src}/sync_batch_{k}.parquet/*.parquet'"
        for k in range(1, batches + 1)]
    union = " UNION ALL ".join(parts)
    connect().execute(f"""
        COPY (SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY o_version DESC) AS rn
                FROM ({union})) WHERE rn = 1)
        TO '{out}' (FORMAT PARQUET)""")


def dupgroups(src, out):
    connect().execute(f"""
        COPY (SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY text) AS grp
              FROM '{src}/documents.parquet/*.parquet'
              QUALIFY count(*) OVER (PARTITION BY text) > 1)
        TO '{out}' (FORMAT PARQUET)""")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _canon(rel):
    """Rows with columns in name order, sorted: an order-free multiset."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def compare_queries(evidence):
    """{query: None if the Spark output equals the oracle, else why not}."""
    con = connect()
    corpus = open(os.path.join(evidence, "corpus")).read().strip()
    for t in CORPUS:
        if os.path.isdir(f"{corpus}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{corpus}/{t}.parquet/*.parquet'")
    oracle = json.load(open(os.path.join(evidence, "oracle_sql.json")))
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got = _canon(con.sql(
                f"SELECT * FROM '{evidence}/{name}/*.parquet'"))
            exp_cols, exp = _canon(con.sql(sql))
        except Exception as e:  # an unreadable output is a wrong output
            verdicts[name] = f"error: {e}"
            continue
        if got_cols != exp_cols:
            verdicts[name] = f"columns {got_cols} != {exp_cols}"
        elif len(got) != len(exp):
            verdicts[name] = f"rows {len(got)} != {len(exp)}"
        elif got != exp:
            bad = next(i for i, (a, b) in enumerate(zip(got, exp)) if a != b)
            verdicts[name] = f"row {bad}: {got[bad]} != {exp[bad]}"
        else:
            verdicts[name] = None
    return verdicts


def main(argv):
    if argv[:1] == ["lww"] and len(argv) == 4:
        lww(argv[1], int(argv[2]), argv[3])
    elif argv[:1] == ["dupgroups"] and len(argv) == 3:
        dupgroups(argv[1], argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
