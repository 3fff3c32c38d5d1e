#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB oracle compare.

Usage: python3 scripts/compare.py <sfDir> <verifyOutDir> [query ...]

Reads each Spark result parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same corpus tables, and
compares: row count, column names (sorted), dtypes, and exact values.

With query names (in full, or by id: q_l05 q_l40) only those are
compared, and the summary says how many oracle entries were skipped, so
a partial run never reads as a full pass. With none, every entry is
compared.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    """Rows as list of tuples with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows], [cols[i] for i in order]


def main():
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # a query is named in full (q_l05_ngram_jaccard) or by its id (q_l05)
    def picks(q):
        return {n for n in oracle if n == q or n.startswith(q + "_")}
    unknown = sorted(q for q in only if not picks(q))
    if unknown:
        sys.exit(f"no oracle entry for: {' '.join(unknown)}")
    names = sorted(set().union(*map(picks, only)) if only else oracle)
    n_pass = n_fail = n_warn = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        # relation API, not DBAPI: cursor.description collapses every
        # numeric to one NUMBER code, hiding exactly the HUGEINT-vs-BIGINT
        # drift this guard exists to catch; rel.types carries the real
        # DuckDB logical types
        got = con.sql(f"SELECT * FROM '{files[0]}'")
        got_cols = list(got.columns)
        got_types = {c: str(t) for c, t in zip(got.columns, got.types)}
        got_rows = got.fetchall()
        try:
            exp = con.sql(oracle[name])
            exp_cols = list(exp.columns)
            exp_types = {c: str(t) for c, t in zip(exp.columns, exp.types)}
            exp_rows = exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        # Type-drift guard (the r8 2^53 and r12 q_mm05 lessons): the
        # driver's hasher distinguishes physical dtypes even when every
        # value is equal, so an oracle that types a column HUGEINT where
        # Spark's parquet holds BIGINT hash-mismatches with values exact.
        # Surface it HERE, before the driver does.
        for c in sorted(set(got_cols) & set(exp_cols)):
            if got_types[c] != exp_types[c]:
                n_warn += 1
                hint = (" — CAST the oracle aggregate (e.g. AS BIGINT)"
                        if "HUGEINT" in exp_types[c] else "")
                print(f"WARN {name}: type drift on '{c}': spark "
                      f"{got_types[c]} vs oracle {exp_types[c]}; the "
                      f"driver hashes dtypes, this will read as a hash "
                      f"mismatch even if values match{hint}")
        g_rows, g_cols = canon(got_rows, got_cols)
        e_rows, e_cols = canon(exp_rows, exp_cols)
        if g_cols != e_cols:
            print(f"FAIL {name}: columns {g_cols} != {e_cols}")
            n_fail += 1
            continue
        if len(g_rows) != len(e_rows):
            print(f"FAIL {name}: rows {len(g_rows)} != {len(e_rows)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(g_rows, e_rows))
               if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)} rows differ; first at {i}:")
            print(f"   spark:  {a}")
            print(f"   duckdb: {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g_rows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {n_warn} type-drift warnings, "
          f"{len(oracle) - len(names)} of {len(oracle)} oracle entries skipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
