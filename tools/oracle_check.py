#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
           [--workers N] [--timeout SEC] [--skip FILE]

Loads each <verifyOutDir>/<query>/ parquet (Spark side), runs the matching
oracle SQL from oracle_sql.json in DuckDB (with one view per fixture table;
a table stored as a directory of part files, `<t>.parquet/*.parquet`, is
read as one table), and compares THE WAY THE DRIVER DOES (VERDICT r9
"What's wrong" #6): both sides go through pandas (`rel.df()`), columns
sorted by name, rows sorted by `DataFrame.sort_values` over all columns,
then cells stringified AFTER pandas dtype coercion. Consequences this
deliberately reproduces:
  - DuckDB HUGEINT (uncast window sums, `//` on HUGEINT) lands as float64
    in pandas, so `2.0` vs Spark's int64 `2` FAILS here, as at the driver;
  - Array/Map/Struct output columns make `sort_values` RAISE, so a complex
    driver-facing projection fails loudly here first (round-3 lesson).
Each query runs in its own forked worker on its own DuckDB connection;
`--workers` run at once, each DuckDB capped to its share of the cores.
`--timeout` reports a query still running after SEC seconds as TIMEOUT (a
feasibility statement about the oracle at that scale, not a verdict) and
fails the run. `--skip` names a file of whitespace-separated queries
already verified. Prints per-query OK/FAIL + a diff sample, each with its
seconds: the DuckDB oracle SQL (`oracle`) and the Spark output's parquet
read (`spark`) are timed separately, each including its pandas sort. Ends
with the 10 slowest queries.
"""
import argparse
import json
import multiprocessing as mp
import multiprocessing.connection
import os
import sys
import time

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def frame(rel):
    """Mirror the driver: pandas coercion first, then sort columns by name
    and rows by all columns (raises on unsortable/complex dtypes)."""
    df = rel.df()
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cells(df):
    """Stringify AFTER pandas coercion — dtype drift (int64 vs float64)
    must show, exactly as it does in the driver's hash."""
    return [tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)]


def timed_frame(timing, side, make_rel):
    """`frame(make_rel())`, recording its wall seconds in `timing[side]`."""
    t0 = time.perf_counter()
    try:
        return frame(make_rel())
    finally:
        timing[side] = time.perf_counter() - t0


def compare(name, s_df, d_df):
    """The query's OK/FAIL line."""
    s_cols, d_cols = list(s_df.columns), list(d_df.columns)
    s_rows, d_rows = cells(s_df), cells(d_df)
    if s_cols != d_cols:
        return f"FAIL {name}: columns spark={s_cols} duck={d_cols}"
    if s_rows != d_rows:
        diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
        return (f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}, "
                f"first diffs: {diffs[:2]}"
                + (f" spark_only_tail={s_rows[len(d_rows):][:1]}" if len(s_rows) > len(d_rows) else "")
                + (f" duck_only_tail={d_rows[len(s_rows):][:1]}" if len(d_rows) > len(s_rows) else ""))
    return f"OK   {name} ({len(s_rows)} rows)"


def check(sf_dir, out_dir, name, sql, workers):
    """The query's line and its timing, on a fresh DuckDB connection that
    gets its share of the cores."""
    con = duckdb.connect()
    con.sql(f"SET threads={max(1, (os.cpu_count() or 1) // workers)}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'" if os.path.isdir(p)
                else f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    timing = {"oracle": 0.0, "spark": 0.0}
    try:
        s_df = timed_frame(timing, "spark",
                           lambda: con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
        d_df = timed_frame(timing, "oracle", lambda: con.sql(sql))
    except Exception as e:
        return f"FAIL {name}: exception {e}", timing
    return compare(name, s_df, d_df), timing


def worker(send, *args):
    send.send(check(*args))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--workers", type=int, default=1)
    ap.add_argument("--timeout", type=float)
    ap.add_argument("--skip")
    args = ap.parse_args()
    with open(f"{args.out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    skip = set(open(args.skip).read().split()) if args.skip else set()
    pending = [n for n in sorted(oracles, reverse=True) if n not in skip]
    ctx = mp.get_context("fork")
    running, seconds, tally = {}, {}, {"OK": 0, "FAIL": 0, "TIMEOUT": 0}
    while pending or running:
        while pending and len(running) < args.workers:
            name = pending.pop()
            recv, send = ctx.Pipe(duplex=False)
            p = ctx.Process(target=worker,
                            args=(send, args.sf_dir, args.out_dir, name, oracles[name], args.workers))
            p.start()
            send.close()
            running[recv] = (name, p, time.monotonic())
        ready = mp.connection.wait(list(running), timeout=1.0)
        for recv, (name, p, t0) in list(running.items()):
            if recv in ready:
                try:
                    line, timing = recv.recv()
                except EOFError:
                    p.join()
                    line, timing = f"FAIL {name}: worker died (exit {p.exitcode})", None
            elif args.timeout and time.monotonic() - t0 > args.timeout:
                p.kill()
                line, timing = f"TIMEOUT {name} (> {args.timeout:.0f} s oracle replay)", None
            else:
                continue
            p.join()
            del running[recv]
            tally[line.split()[0]] += 1
            timing = timing or {"oracle": time.monotonic() - t0, "spark": 0.0}
            seconds[name] = timing["oracle"] + timing["spark"]
            print(f"{line} [{seconds[name]:.2f} s: oracle {timing['oracle']:.2f} s, "
                  f"spark {timing['spark']:.2f} s]", flush=True)
    slowest = sorted(seconds, key=seconds.get, reverse=True)[:10]
    print(f"\nslowest {len(slowest)} of {len(seconds)} queries ({sum(seconds.values()):.1f} s in all):")
    for name in slowest:
        print(f"  {seconds[name]:8.2f} s  {name}")
    print(f"\n{tally['OK']} OK, {tally['FAIL']} FAIL"
          + (f", {tally['TIMEOUT']} TIMEOUT" if tally["TIMEOUT"] else "")
          + (f" ({len(skip)} skipped)" if skip else ""))
    sys.exit(1 if tally["FAIL"] or tally["TIMEOUT"] else 0)


if __name__ == "__main__":
    main()
