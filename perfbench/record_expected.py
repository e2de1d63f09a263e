#!/usr/bin/env python3
"""Record the reference fingerprints of both catalog mixes.

    python3 perfbench/record_expected.py

Runs every query of the two catalog mixes once over the generated catalog
tables (perfbench.Record), cross-checks each result against its
``SparkEntry.oracleSql`` statement run by DuckDB on the same parquet files,
and writes ``expected_catalog.json``: per query the row count and the
fingerprint the benchmark compares against on every run. The comparison
follows tools/check_oracle.py: columns sorted by name, arrow types
normalized, values compared exactly, but rows are sorted first so that
row order does not matter. A query whose result differs from its oracle
is reported and left out of the file; the run then exits 1.
"""
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

import gen
import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon_rows(table):
    cols = sorted(table.column_names)
    rows = list(zip(*[table.column(c).to_pylist() for c in cols]))

    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float) and math.isnan(v):
            return (1, "nan")
        return (2, repr(v))
    return cols, sorted(rows, key=lambda r: tuple(key(v) for v in r))


def main():
    cp = run.build()
    cat = run.catalog_tables()
    out = os.path.join(run.WORK, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    heap = run.heap_size()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Record", cat, out, str(run.nproc())])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        subprocess.run(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT, check=True)

    with open(os.path.join(out, "fingerprints.json")) as f:
        fps = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cat}/{t}.parquet'")
    queries, bad = {}, 0
    for q, fp in fps.items():
        files = sorted(f for f in os.listdir(os.path.join(out, q)) if f.endswith(".parquet"))
        spark_t = pq.read_table(os.path.join(out, q, files[0]))
        status = "no oracle"
        if q in oracle:
            duck_t = con.execute(oracle[q]).arrow()
            s_cols, s_rows = canon_rows(spark_t)
            d_cols, d_rows = canon_rows(duck_t)
            if s_cols != d_cols:
                status = f"columns differ: {s_cols} vs {d_cols}"
            elif len(s_rows) != len(d_rows):
                status = f"rows differ: {len(s_rows)} vs {len(d_rows)}"
            elif s_rows != d_rows:
                i = next(i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b)
                status = f"values differ at sorted row {i}: {s_rows[i]} vs {d_rows[i]}"
            else:
                status = "match"
        print(f"{q:<34} {spark_t.num_rows:>7} rows  {status[:160]}")
        if status not in ("match", "no oracle"):
            bad += 1
            continue
        queries[q] = {"rows": spark_t.num_rows, "fingerprint": fp, "oracle": status}
    with open(os.path.join(run.HERE, "expected_catalog.json"), "w") as f:
        json.dump({"catalog": {"sf": gen.CATALOG_SF, "seed": gen.CATALOG_SEED},
                   "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(queries)} recorded, {bad} differ from their oracle")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
