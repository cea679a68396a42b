#!/usr/bin/env python3
"""One-time cross-check of the committed digests against DuckDB.

    python3 perfbench/crosscheck.py

For every query op of every workload that has oracle SQL in
`SparkEntry.oracleSql`, the JVM driver writes the op's rows as parquet;
DuckDB then runs the oracle SQL over the same generated inputs and the two
row sets are compared the way the engine's oracle gate compares them
(pandas frames, columns and rows sorted, cells stringified). The Spark row
count must also equal the row count in the committed digest, which ties
the digest to rows the oracle agrees with. The result is written to
`expected/crosscheck.json`; the exit code is 1 if any op disagrees.
"""

import json
import os
import shutil
import subprocess
import sys

import duckdb

import gen
import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def frame(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cells(df):
    return [tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)]


def table_glob(data, t):
    p = os.path.join(data, f"{t}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def check_workload(cp, name, spec, data_root):
    ops = [o for o in spec["ops"] if not o.startswith("catalog_")]
    if not ops:
        return {}
    data = os.path.join(data_root, spec["data"])
    dump = os.path.join(run.WORK, "dump", name)
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    cmd = (["java"] + [a for p in run.JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", name, "--seed", "0", "--passes", "1", "--trace", "0",
            "--data", data, "--ops", ",".join(ops), "--out", os.devnull, "--dump", dump])
    with open(os.path.join(run.WORK, "crosscheck_jvm.log"), "w") as err:
        subprocess.run(cmd, check=True, stdout=err, stderr=err, stdin=subprocess.DEVNULL,
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.nproc())))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(run.HERE, "expected", f"{name}.json")) as f:
        expected = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_glob(data, t)}'")
    result = {}
    for op in ops:
        if op not in oracle:
            result[op] = "no oracle SQL"
            continue
        try:
            s = cells(frame(con.sql(f"SELECT * FROM '{dump}/{op}/*.parquet'")))
            d = cells(frame(con.sql(oracle[op])))
        except Exception as e:  # a failing comparison is a result, not a crash
            result[op] = f"FAIL: {type(e).__name__}: {str(e)[:200]}"
            continue
        digest_rows = int(expected.get(op, "-1:").split(":")[0])
        if s != d:
            result[op] = f"FAIL: rows differ (spark {len(s)}, duckdb {len(d)})"
        elif digest_rows != len(s):
            result[op] = f"FAIL: digest counts {digest_rows} rows, spark wrote {len(s)}"
        else:
            result[op] = f"ok ({len(s)} rows)"
    return result


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        specs = json.load(f)
    cp = run.build()
    data_root = os.path.join(run.WORK, "data")
    shutil.rmtree(data_root, ignore_errors=True)
    for kind in sorted({spec["data"] for spec in specs.values()}):
        gen.write_corpus(data_root, kind)
    results = {}
    try:
        for name, spec in specs.items():
            r = check_workload(cp, name, spec, data_root)
            if r:
                results[name] = r
    finally:
        shutil.rmtree(data_root, ignore_errors=True)
        shutil.rmtree(os.path.join(run.WORK, "dump"), ignore_errors=True)
    with open(os.path.join(run.HERE, "expected", "crosscheck.json"), "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = [f"{w}/{op}: {v}" for w, r in results.items() for op, v in r.items() if v.startswith("FAIL")]
    for line in bad:
        print(line)
    print(f"{sum(len(r) for r in results.values()) - len(bad)} ops agree or have no oracle, "
          f"{len(bad)} disagree")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
