#!/usr/bin/env python3
"""Derive goldens.tsv, the result hashes the analytics workloads check.

    python3 perfbench/derive_goldens.py

Where an entry has a DuckDB oracle (`SparkEntry.oracleSql`), the golden is
the hash of the oracle's result on the fixture, computed by the installed
DuckDB. Otherwise it is the hash of the program's own result at the commit
the goldens are derived on. Both hashes go through the same Scala code
(`perfbench.ResultHash`). Entries whose program hash differs from the
oracle hash are reported and keep the oracle hash.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def tsv(*args):
    out = subprocess.run(run.java("perfbench.Goldens", *args), cwd=run.ROOT,
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    rows = [l.split("\t") for l in out.splitlines() if l.count("\t") == 3]
    return {r[0]: r for r in rows}


def main():
    run.prepare()
    oracles_json = os.path.join(run.WORK, "oracles.json")
    duck_dir = os.path.join(run.WORK, "duck")
    subprocess.run(run.java("perfbench.Goldens", "oracles", run.HERE, oracles_json),
                   cwd=run.ROOT, check=True)
    with open(oracles_json) as fh:
        oracles = json.load(fh)
    shutil.rmtree(duck_dir, ignore_errors=True)
    con = duckdb.connect()
    fixture = os.path.join(run.HERE, "fixture")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    for name, sql in sorted(oracles.items()):
        os.makedirs(os.path.join(duck_dir, name))
        con.execute(f"COPY ({sql}) TO '{duck_dir}/{name}/part.parquet' (FORMAT PARQUET)")
    duck = tsv("parquet", run.HERE, duck_dir)
    program = tsv("entries", run.HERE)
    lines = ["# entry\trows\thash\tsource (duckdb: oracle result; program: "
             "seed-commit output, no oracle)"]
    mismatches = 0
    for name in sorted(program):
        row = duck.get(name, program[name])
        if name in duck and duck[name][1:3] != program[name][1:3]:
            mismatches += 1
            print(f"MISMATCH {name}: oracle {duck[name][1:3]} program {program[name][1:3]}",
                  file=sys.stderr)
        lines.append("\t".join(row))
    with open(os.path.join(run.HERE, "goldens.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"{len(program)} goldens, {len(duck)} from DuckDB, {mismatches} mismatches")


if __name__ == "__main__":
    main()
