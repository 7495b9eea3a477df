#!/usr/bin/env python3
"""Check that a rewritten oracle SQL still means the same thing: for every
key whose SQL text differs between two `oracle_sql.json` dumps (say, the
parent commit's and a change's, both from `graft.Verify`), run both SQL
texts in DuckDB over the sf dir's tables and compare the column names,
the column types and the rows (exact repr, sorted).

  python3 tools/oracle_diff.py <sf_dir> <old oracle_sql.json> <new oracle_sql.json>

Exits 1 if the key sets differ or any changed key's result differs."""
import json, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run(sf_dir, sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.sql(sql)
    out = (rel.columns, [str(t) for t in rel.types],
           sorted(repr(r) for r in rel.fetchall()))
    con.close()
    return out

def main(sf_dir, old_path, new_path):
    old, new = json.load(open(old_path)), json.load(open(new_path))
    if old.keys() != new.keys():
        print(f"key sets differ: only old {sorted(old.keys() - new.keys())}, "
              f"only new {sorted(new.keys() - old.keys())}")
        return 1
    changed = sorted(k for k in old if old[k] != new[k])
    n_bad = 0
    for k in changed:
        a, b = run(sf_dir, old[k]), run(sf_dir, new[k])
        if a == b:
            print(f"SAME {k}: {len(a[2])} rows, {list(zip(a[0], a[1]))}")
        else:
            n_bad += 1
            print(f"DIFF {k}: {list(zip(a[0], a[1]))} {len(a[2])} rows vs "
                  f"{list(zip(b[0], b[1]))} {len(b[2])} rows")
    print(f"== {len(old)} keys, {len(changed)} changed: "
          f"{len(changed) - n_bad} same, {n_bad} differ ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
