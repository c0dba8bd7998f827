#!/usr/bin/env python3
"""Run a registry oracle query in DuckDB over a generated corpus.

Usage: python3 oracle.py <sql file> <documents.parquet dir> <out tsv>

Registers the corpus as the `documents` view the registry's oracle SQL
reads and writes the result rows, tab-separated, in the query's order.
"""
import sys

import duckdb


def main(sql_file, docs_dir, out):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
    with open(sql_file) as f:
        rows = con.execute(f.read()).fetchall()
    with open(out, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
