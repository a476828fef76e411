#!/usr/bin/env python3
"""Regenerates perfbench/oracle/rowcounts.tsv, the batch_suite row-count oracle.

Usage (from the repository root): python3 perfbench/oracle/make_rowcounts.py

For every query of the batch_suite workload it takes the query's
`SparkEntry.oracleSql` text (dumped by perfbench.Main), runs it in DuckDB over
the workload's parquet tables, and writes one `name<TAB>rows` line. Run it
after the query list, the data or an oracle changes; the benchmark only reads
the file.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the benchmark's build step)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def main():
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        w = json.load(fh)["workloads"]["batch_suite"]
    run.build()
    with open(run.SPEC) as fh:
        classpath = fh.read().splitlines()[0]
    with tempfile.TemporaryDirectory(dir=run.OUT) as tmp:
        dump = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
                        "--dump-oracle", dump, "--queries", ",".join(w["queries"])],
                       cwd=ROOT, check=True)
        with open(dump) as fh:
            sql = json.load(fh)
    con = duckdb.connect()
    data = os.path.join(ROOT, w["data"])
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    lines = []
    for name in sorted(w["queries"]):
        q = sql[name].strip().rstrip(";")
        n = con.execute(f"SELECT count(*) FROM ({q}) AS oracle").fetchone()[0]
        lines.append(f"{name}\t{n}\n")
        print(f"{name}\t{n}")
    with open(os.path.join(ROOT, w["manifest"]), "w") as fh:
        fh.writelines(lines)


if __name__ == "__main__":
    main()
