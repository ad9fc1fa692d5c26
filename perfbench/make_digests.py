#!/usr/bin/env python3
"""Record the operator workloads' expected result digests, cross-checked
against the DuckDB oracle.

Run from the repository root: ``python3 perfbench/make_digests.py``.

It runs every key of the ``ops`` workloads once over the committed tables,
dumps each result to parquet, and compares it with the key's oracle SQL
(``SparkEntry.oracleSql``) executed by DuckDB over the same tables: columns
sorted by name, rows compared as sorted full-precision value tuples. Only
when every key with an oracle matches does it rewrite
``expected_digests.json`` with the engine's digests (row count and an
order-insensitive hash sum over all columns, see PerfBench.scala).
"""
import glob
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

import run

KEYS = sorted({k for w in run.WORKLOADS.values() if w["kind"] == "ops" for k, _ in w["keys"]})


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def main():
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = run.build(build_dir)
    work = os.path.abspath(os.path.join(build_dir, "work", "digests"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = run.DATA
    dump = os.path.join(work, "dump")
    cmd = ["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", run.classpath(classes),
                                     "perfbench.PerfBench", "kind=ops", f"data={data}",
                                     "keys=" + ",".join(f"{k}:-:*" for k in KEYS),
                                     f"cores={len(os.sched_getaffinity(0))}", "seconds=0", "trace=0",
                                     f"work={work}", f"result={work}/result.json", "setups=1",
                                     f"dump={dump}"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    if res["failed"]:
        sys.exit(f"engine run failed: {res['errors']}")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for k in KEYS:
        if k not in oracle:
            print(f"{k}: no oracle SQL, digest recorded unchecked")
            continue
        duck = con.execute(oracle[k]).fetch_arrow_table()
        spark = con.execute(f"SELECT * FROM read_parquet('{dump}/{k}/*.parquet')").fetch_arrow_table()
        cols = sorted(duck.column_names)
        if cols != sorted(spark.column_names):
            bad.append(f"{k}: columns {cols} != {sorted(spark.column_names)}")
            continue
        rows = [sorted(tuple(norm(r[c]) for c in cols) for r in t.to_pylist()) for t in (duck, spark)]
        if rows[0] != rows[1]:
            bad.append(f"{k}: {len(rows[0])} oracle rows, {len(rows[1])} engine rows, contents differ")
        else:
            print(f"{k}: {len(rows[0])} rows match the oracle")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit("oracle mismatch, digests not written:\n" + "\n".join(bad))
    with open(run.DIGESTS, "w") as f:
        json.dump(res["digests"], f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {run.DIGESTS}")


if __name__ == "__main__":
    main()
