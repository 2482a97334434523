#!/usr/bin/env python3
"""Writes perfbench/registry/counts.tsv: the row count the registry workload
expects from each query it runs.

Where a query has a DuckDB oracle, the count is the oracle's over the same
tables; otherwise it is the count of a reviewed Spark run. The input is the
JSON that `perfbench.Counts` writes (each query's Spark count and oracle
SQL). Run after the tables or the query list change:

    python3 perfbench/make_counts.py counts.json perfbench/registry
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    src, reg = sys.argv[1], sys.argv[2]
    with open(src) as f:
        runs = json.load(f)
    with open(f"{reg}/queries.txt") as f:
        wanted = [l.split("#")[0].strip() for l in f]
    wanted = [w for w in wanted if w]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{reg}/tables/{t}.parquet')")
    lines = ["# query\texpected_rows\tsource"]
    for name in wanted:
        r = runs[name]
        if r["oracle"]:
            n = con.execute(f"SELECT count(*) FROM ({r['oracle']}) q").fetchone()[0]
            if r["spark"] != n:
                print(f"warning: {name}: spark {r['spark']} != oracle {n}", file=sys.stderr)
            lines.append(f"{name}\t{n}\tduckdb")
        else:
            if r["spark"] is None:
                sys.exit(f"{name}: no oracle and the Spark run failed")
            lines.append(f"{name}\t{r['spark']}\tspark")
    with open(f"{reg}/counts.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(wanted)} queries", file=sys.stderr)


if __name__ == "__main__":
    main()
