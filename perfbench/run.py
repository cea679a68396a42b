#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM driver from source with sbt (`perfbench/build.sbt`); later
runs reuse the build while no source file changed. The inputs are
generated once per checkout (`gen.py`). Each run starts one JVM that runs
the workload as one
closed-loop client on `local[nproc]`, checks every op's output against the
digests in `expected/`, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones from Spark's listener events (see `layers.py`). The
whole run record, spans included, is kept in `perfbench/work/last_run.jsonl`.

`--record` rewrites `expected/<workload>.json` from the run's outputs
instead of checking them; use it only after confirming a change of output
is intended.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def wait_or_kill(p, timeout, what):
    """Waits for `p`; past `timeout` seconds kills its whole process group
    (sbt and the JVM start children) and raises."""
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{what} exceeded {timeout} s")


def source_stamp():
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles with sbt unless a build of the same sources exists; returns
    the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "classpath-" + source_stamp())
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and driver with sbt (first run in this checkout)")
    logf = os.path.join(WORK, "build", "sbt.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        wait_or_kill(p, BUILD_TIMEOUT_S, "sbt build")
    with open(logf) as f:
        lines = f.read().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        raise RuntimeError(f"sbt build failed (exit {p.returncode}), see {logf}")
    for old in os.listdir(os.path.dirname(stamp_file)):
        if old.startswith("classpath-"):
            os.remove(os.path.join(os.path.dirname(stamp_file), old))
    with open(stamp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def corpus(kind):
    """Path of the generated `kind` corpus (and its `_warm` twin beside it),
    generated on first use and kept while `gen.py` is unchanged."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    root = os.path.join(WORK, "data", stamp)
    if not os.path.isfile(os.path.join(root, kind + ".done")):
        log(f"generating the {kind} corpus")
        for old in os.listdir(os.path.dirname(root)) if os.path.isdir(os.path.dirname(root)) else []:
            if old != stamp:
                shutil.rmtree(os.path.join(WORK, "data", old))
        gen.write_corpus(root, kind)
        open(os.path.join(root, kind + ".done"), "w").close()
    return os.path.join(root, kind)


def passes(spec, args):
    """Timed passes in an untraced run: as many nominal passes as fit in
    `--seconds`, at least one. The count depends only on the arguments, so
    every run of a workload does the same work however fast the program is."""
    return max(1, round(args.seconds / spec["nominal_pass_s"]))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, spec, args, data_dir, out_file):
    """Runs the JVM driver; returns (seconds from launch until it was ready
    to measure, records)."""
    cpus = nproc()
    mem = max(2, min(8, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31))
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{mem}g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--passes", str(passes(spec, args)),
            "--trace", str(args.trace), "--data", data_dir, "--warm-data", data_dir + "_warm",
            "--ops", ",".join(spec["ops"]), "--out", out_file])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    t0 = time.monotonic()
    ready = []

    def watch(out):
        for line in out:
            if not ready and line.strip() == "PERFBENCH READY":
                ready.append(time.monotonic() - t0)

    with open(os.path.join(WORK, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        reader = threading.Thread(target=watch, args=(p.stdout,), daemon=True)
        reader.start()
        wait_or_kill(p, JVM_TIMEOUT_S, "JVM driver")
        reader.join()
    if p.returncode != 0 or not ready:
        raise RuntimeError(f"JVM driver failed (exit {p.returncode}), see {WORK}/jvm.log")
    with open(out_file) as f:
        return ready[0], [json.loads(line) for line in f if line.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)
    if args.workload not in specs:
        log(f"unknown workload {args.workload!r}; known: {', '.join(specs)}")
        return 2
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    spec = specs[args.workload]
    load_start = loadavg()
    try:
        cp = build()
    except RuntimeError as e:
        log(str(e))
        return 1

    data_dir = corpus(spec["data"])
    out_file = os.path.join(WORK, "last_run.jsonl")
    try:
        setup_s, records = run_jvm(cp, spec, args, data_dir, out_file)
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(os.path.join(WORK, f"tmp-{os.getpid()}"), ignore_errors=True)

    expected_file = os.path.join(HERE, "expected", f"{args.workload}.json")
    if args.record:
        layers.record_expected(records, expected_file)
    with open(expected_file) as f:
        expected = json.load(f)
    check = layers.check_outputs(records, spec["ops"], expected)
    for line in check["report"]:
        log(line)
    meta = next(r for r in records if r["kind"] == "meta")
    log(f"load: 1-min loadavg {load_start} at run start, {meta['loadavg_start']} -> "
        f"{meta['loadavg_end']} over the timed passes, {loadavg()} at run end; nproc {nproc()}")
    if args.trace:
        metrics, info = layers.per_layer(records)
    else:
        metrics, info = layers.end_to_end(records, setup_s=setup_s)
    log(json.dumps(info))
    print(json.dumps({"correct": check["failed"] == 0, "attempted": check["attempted"],
                      "failed": check["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
