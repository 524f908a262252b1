#!/usr/bin/env python3
"""Recompute the curation workload's expected answers into curation.json.

    python3 perfbench/expected.py

For each selected query (every `stride`-th of `benched`): when
SparkEntry.oracleSql has an oracle for it, the expected row count and
canonical hash come from running that SQL in DuckDB over data/<data>
(source "duckdb-oracle"); otherwise from the program's own answer at the
commit this is run on (source "seed-output"). Oracle-sourced queries are
also run through the program, and a disagreement is reported.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


class Args:
    workload = "curation"
    seed = 0
    seconds = 1


def main():
    spec = run.curation_set()
    names = spec["benched"][::spec["stride"]]
    cp = run.build()
    os.makedirs(run.BUILD, exist_ok=True)
    oracle_path = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "graft.perfbench.OracleDump", oracle_path] + names,
                   check=True, cwd=run.ROOT)
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    data = os.path.join(run.DATA, spec["data"])
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    # the program's answers, with every query expected to be checked
    spec["expected"] = {n: {"rows": -1, "sha256": "", "source": ""} for n in names}
    with open(run.CURATION_FILE, "w") as f:
        json.dump(spec, f, indent=1)
    wd = run.workdir_for(Args, "expected")
    h = run.Harness(cp, "curation", wd, {
        "cpus": run.nproc(), "trace": False, "seed": 0, "orders": [names],
        "warm_dir": os.path.join(run.DATA, spec["warm_data"]), "data_dir": data})
    h.ready()
    res = h.result()
    spark = {}
    for q in res["queries"]:
        if q["error"]:
            sys.exit("%s failed: %s" % (q["query"], q["error"]))
        spark[q["query"]] = run.answer_digest(
            con, "SELECT * FROM read_parquet('%s/*.parquet')" % os.path.join(wd, "answers", q["query"]))
    expected = {}
    for n in names:
        if n in oracle:
            rows, digest = run.answer_digest(con, oracle[n])
            source = "duckdb-oracle"
            if (rows, digest) != spark[n]:
                print("warning: %s: program answer differs from its oracle" % n, file=sys.stderr)
        else:
            (rows, digest), source = spark[n], "seed-output"
        expected[n] = {"rows": rows, "sha256": digest, "source": source}
        print(n, rows, source)
    spec["expected"] = expected
    with open(run.CURATION_FILE, "w") as f:
        json.dump(spec, f, indent=1)


if __name__ == "__main__":
    main()
