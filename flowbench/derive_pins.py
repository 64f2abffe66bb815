#!/usr/bin/env python3
"""Regenerates the pinned outputs under flowbench/pins/.

    python3 flowbench/derive_pins.py

Run from the repository root, after an intentional change to a pinned
entry's result or a TPC-DS query's lineage. It builds like run.py, then:
  - tpcds-dataset.tsv: per-Dataset lineage node/edge counts of each TPC-DS
    query, plain and contracted, from SQLFlow.datasetGraph;
  - inventory-sf0.1.tsv: each entry's output row count.
    The count comes from DuckDB over the entry's oracle SQL
    (SparkEntry.oracleSql) on the same parquet files, and must equal Spark's
    count; every chosen entry must have an oracle.
Needs the duckdb Python package.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

PINS = os.path.join(run.HERE, "pins")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# The lightest entries of four families (relational, text, dedup,
# similarity), all near the per-query job floor at sf0.1 and none needing a
# shared intermediate built before it; about 2.5 s per pass at local[2].
INVENTORY = [
    "q02_filter_project", "q06_revenue_forecast", "q07_window_topk", "q12_union_all",
    "q16_scalar_subquery", "t01_token_count", "d01_dedup_exact", "s01_knn_brute",
]


def java_pins(classpath, *args):
    work = os.path.join(run.BUILD, "work-pins")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = subprocess.run(run.java_cmd(classpath, tmp, "--mode", "pin", "--work", work, *args),
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return [line[4:].split("\t") for line in out.splitlines() if line.startswith("PIN ")]


def write(name, header, rows):
    with open(os.path.join(PINS, name), "w") as f:
        f.write("".join(f"# {h}\n" for h in header))
        f.write("".join("\t".join(r) + "\n" for r in rows))


def entry_pins(classpath, workload, data_dir, names):
    oracles_file = os.path.join(run.BUILD, f"oracles-{workload}.json")
    spark_rows = java_pins(classpath, "--workload", workload, "--dir", data_dir,
                           "--entries", ",".join(names), "--oracles", oracles_file)
    oracles = json.load(open(oracles_file))
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    rows = []
    for name, count in spark_rows:
        if name not in oracles:
            sys.exit(f"{workload} {name}: no oracle SQL to pin the row count from")
        sql = oracles[name].strip().rstrip(";")
        n = con.execute(f"SELECT count(*) FROM ({sql}) AS o").fetchone()[0]
        if n != int(count):
            sys.exit(f"{workload} {name}: Spark {count} rows, DuckDB oracle {n}")
        rows.append([name, count, "duckdb"])
    return rows


def main():
    classpath = run.build(run.source_stamp())
    write("tpcds-dataset.tsv",
          ["Per-Dataset lineage size of each TPC-DS query: plain nodes, plain edges,",
           "contracted nodes, contracted edges (SQLFlow.datasetGraph). From derive_pins.py."],
          java_pins(classpath, "--workload", "lineage-tpcds"))
    sf = os.path.join(run.ROOT, "flowbench", "data", "sf0.1")
    write("inventory-sf0.1.tsv",
          ["Entries of inventory-sf0.1 and their output row counts, with the count's source",
           "(duckdb = the entry's oracle SQL agrees with Spark). From derive_pins.py."],
          entry_pins(classpath, "inventory-sf0.1", sf, INVENTORY))


if __name__ == "__main__":
    main()
