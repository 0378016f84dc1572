#!/usr/bin/env python3
"""Derive perfbench/golden.json, the digests every benchmark run checks.

Usage (from the root of a checkout):
  sbt "runMain graft.Verify perfbench/data/sf0.1 DUMP"   # or any Verify dump of these tables
  python3 perfbench/make_golden.py DUMP

For each query the workloads run, tools/check.py compares the Verify dump
with the DuckDB oracle. A query that passes gets the digest of its dump; a
query that fails keeps its oracle diff instead of a digest, so every run
counts it as failed rather than trusting Spark's output.

The ETL pipeline has no oracle SQL. Its row counts are checked against
DuckDB queries written from Job1/Job2's definition, and its digest is then
pinned from one pipeline run.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = run.TABLES

# Job1: recent orders (90 days before the data's last order date) of active
# customers for in-stock products, plus one summary row per category.
# Job2: one asset row per customer, per product and per day of that data.
ETL_ORACLE = """
WITH o AS (
  SELECT o_custkey AS customer_id, l_partkey AS product_id, o_orderdate AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
recent AS (
  SELECT o.* FROM o
  JOIN customer c ON c.c_custkey = o.customer_id AND c.c_acctbal >= 0
  JOIN part p ON p.p_partkey = o.product_id AND p.p_size % 10 <> 0
  WHERE CAST(o.d AS TIMESTAMP) >= CAST((SELECT max(CAST(d AS DATE)) FROM o) - INTERVAL 90 DAY AS TIMESTAMP)),
cats AS (SELECT DISTINCT p_type FROM recent JOIN part ON p_partkey = product_id)
SELECT (SELECT count(*) FROM recent) + (SELECT count(*) FROM cats) AS n1,
       (SELECT count(DISTINCT customer_id) FROM recent)
     + (SELECT count(DISTINCT product_id) FROM recent)
     + (SELECT count(DISTINCT CAST(d AS DATE)) FROM recent) AS n2
"""


def harness(classes, args, workdir):
    cmd = run.java_cmd(classes, workdir) + args
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=os.path.join(workdir, "index"),
               SPARK_LOCAL_DIRS=os.path.join(workdir, "local"))
    with open(os.path.join(workdir, "jvm.log"), "w") as log:
        subprocess.run(cmd, cwd=workdir, env=env, stdout=log, stderr=subprocess.STDOUT, check=True)


def main():
    dump = os.path.abspath(sys.argv[1])
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    queries = sorted({q for w in conf["workloads"].values() for q in w["ops"] if q != "etl"}
                     | set(conf["test_ops"]))
    check = subprocess.run([sys.executable, "tools/check.py", TABLES, dump] + queries,
                           capture_output=True, text=True)
    verdict = {}
    for line in check.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name = rest.split(":")[0].split(" ")[0]
            verdict[name] = (word, rest)
    missing = [q for q in queries if q not in verdict]
    if missing:
        raise SystemExit(f"tools/check.py gave no verdict for {missing}")
    classes = build.build(root)
    golden = {}
    with tempfile.TemporaryDirectory(dir=root, prefix=".golden-") as tmp:
        passed = [q for q in queries if verdict[q][0] == "PASS"]
        out = os.path.join(tmp, "digests.jsonl")
        harness(classes, ["digest", dump, out] + passed, tmp)
        with open(out) as f:
            for line in f:
                r = json.loads(line)
                golden[r["op"]] = {"rows": r["rows"], "digest": r["digest"]}
        for q in queries:
            if verdict[q][0] == "FAIL":
                golden[q] = {"digest": None, "oracle_diff": verdict[q][1]}

        plan = os.path.join(tmp, "plan.tsv")
        with open(plan, "w") as f:
            f.write(f"tables\t{TABLES}\ncores\t{len(os.sched_getaffinity(0))}\n"
                    f"warehouse\t{tmp}/warehouse\n"
                    f"op\t0\t1\t0\tetl\t{tmp}/etl\n")
        recs = os.path.join(tmp, "records.jsonl")
        harness(classes, ["run", plan, recs], tmp)
        with open(recs) as f:
            etl = next(r for r in map(json.loads, f) if r["kind"] == "op")
        if etl["err"]:
            raise SystemExit(f"ETL pipeline failed: {etl['err']}")
        con = duckdb.connect()
        for t in ("customer", "part", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{TABLES}/{t}.parquet')")
        n1, n2 = con.sql(ETL_ORACLE).fetchone()
        if etl["rows"] != n1 + n2:
            raise SystemExit(f"ETL rows {etl['rows']} != oracle {n1} + {n2}")
        golden["etl"] = {"rows": etl["rows"], "digest": etl["digest"],
                         "oracle_rows": {"processed_sales": n1, "sales_analytics_asset": n2}}
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(dict(sorted(golden.items())), f, indent=1)
        f.write("\n")
    bad = [q for q in queries if verdict[q][0] == "FAIL"]
    print(f"{len(queries) - len(bad)} queries pass the oracle; failing: {bad or 'none'}")


if __name__ == "__main__":
    main()
