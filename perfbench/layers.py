"""Turns the JVM driver's records into metrics and output checks.

Records are the JSON lines `graft.perfbench.Main` writes: `op` samples
with their outputs, `pass` summaries, `warmup` calls, one `meta` record and,
in a traced run, Spark listener events (`job`, `job_end`, `stage`, `task`,
`query`). Times are epoch milliseconds.

Wall time of an op is split three ways by interval union over its window:
`exec.task_s` is time with at least one of its tasks running,
`sched.wait_s` is time with one of its jobs running but no task, and
`driver.gap_s` is the rest, with no job of the op running. The three sum to
the op's wall time.
"""

import json
import math
import os
import statistics


# ---------------------------------------------------------------- helpers

def percentile(values, q, min_beyond=10):
    """The q-quantile (0 < q < 1) by the nearest-rank rule, or None unless
    at least `min_beyond` samples lie strictly above it."""
    if not values:
        return None
    xs = sorted(values)
    k = max(0, math.ceil(q * len(xs)) - 1)
    v = xs[k]
    beyond = sum(1 for x in xs if x > v)
    return v if beyond >= min_beyond else None


def union(intervals):
    """Merges (start, end) intervals; returns the disjoint sorted list."""
    out = []
    for s, e in sorted((i[0], i[1]) for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(merged):
    return sum(e - s for s, e in merged)


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def split_wall(window, jobs, tasks):
    """Splits an op window (start, end) into (driver gap, scheduling wait,
    task time), in the window's units. `jobs` and `tasks` are intervals of
    the op's jobs and tasks; both are clipped to the window."""
    lo, hi = window
    t = union(clip(tasks, lo, hi))
    j = union(clip(jobs, lo, hi) + t)
    task = length(t)
    busy = length(j)
    return (hi - lo) - busy, busy - task, task


# ---------------------------------------------------------------- outputs

def outputs(records):
    """op -> the output of its first successful timed call."""
    out = {}
    for r in records:
        if r["kind"] == "op" and r["ok"]:
            out.setdefault(r["op"], r["output"])
    return out


def record_expected(records, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(dict(sorted(outputs(records).items())), f, indent=1, ensure_ascii=False)
        f.write("\n")


def check_outputs(records, ops, expected):
    """Counts attempts and failures by op: warmup and timed exceptions, and
    timed calls whose output (row digest or rendered text) differs from the
    committed one. An op with no successful timed call fails, and the
    footer-mode catalog render must equal the estimated-mode render."""
    failures = {}

    def fail(op, why):
        failures.setdefault(op, []).append(why)

    attempted = len(ops)  # the warmup calls
    for r in records:
        if r["kind"] == "warmup" and not r["ok"]:
            fail(r["op"], "warmup: " + r["error"])
        elif r["kind"] == "op":
            attempted += 1
            if not r["ok"]:
                fail(r["op"], f"pass {r['pass']}: " + r["error"])
            elif r["op"] not in expected:
                fail(r["op"], f"pass {r['pass']}: no committed output")
            elif r["output"] != expected[r["op"]]:
                fail(r["op"], f"pass {r['pass']}: output differs from the committed one")
    got = outputs(records)
    for op in ops:
        if op not in got and op not in failures:
            fail(op, "no timed call")
    if "catalog_footer" in got and "catalog_estimated" in got and \
            got["catalog_footer"] != got["catalog_estimated"]:
        fail("catalog_footer", "footer-mode render differs from estimated-mode render")
    report = [f"FAIL {op}: {'; '.join(why)}" for op, why in sorted(failures.items())]
    failed = sum(len(w) for w in failures.values())
    report.append(f"output check: {len(ops) - len(failures)}/{len(ops)} ops ok, "
                  f"{failed} failures in {attempted} attempts")
    return {"attempted": attempted, "failed": failed, "failures": failures, "report": report}


# ---------------------------------------------------------------- metrics

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed_ops(records, traced=None):
    return [r for r in records if r["kind"] == "op" and r["ok"]
            and (traced is None or r["traced"] == traced)]


END_TO_END = [("pass_cpu_s", "s"), ("setup_s", "s")]


def end_to_end(records, setup_s):
    """Metrics a user sees, from an untraced run."""
    ops = _timed_ops(records)
    passes = [r for r in records if r["kind"] == "pass"]
    meta = next(r for r in records if r["kind"] == "meta")
    lat = [(r["end"] - r["start"]) / 1e3 for r in ops]
    p90 = percentile(lat, 0.9)
    values = {"pass_cpu_s": _median([p["cpu_s"] for p in passes]), "setup_s": setup_s}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    info = {"passes": len(passes), "pass_s": _median([(p["end"] - p["start"]) / 1e3 for p in passes]),
            "op_samples": len(lat), "op_p50_s": _median(lat),
            "op_p90_s": p90 if p90 is not None else f"not reported: {len(lat)} samples, "
                                                     "needs 10 beyond p90",
            "session_s": meta["session_s"], "warmup_s": meta["warmup_s"],
            "rss_peak_mb": meta["vm_hwm_kb"] / 1024.0,
            "loadavg_start": meta["loadavg_start"], "loadavg_end": meta["loadavg_end"],
            "nproc": meta["nproc"]}
    return metrics, info


PER_LAYER = [
    ("driver.gap_s", "s"), ("driver.optimization_s", "s"), ("driver.planning_s", "s"),
    ("driver.codegen_classes", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.wait_s", "s"), ("sched.task_delay_s", "s"), ("sched.task_failures", "count"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_share", "ratio"), ("exec.scan_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("memo.resident_mb", "MB"), ("memo.rebuilds", "count"), ("memo.release_s", "s"),
    ("catalog.list_s", "s"), ("catalog.footer_rows_s", "s"),
    ("profile.estimated_s", "s"), ("profile.exact_s", "s"), ("profile.footer_s", "s"),
    ("profile.jobs", "count"), ("render.s", "s"),
    ("split.driver_sched_share", "ratio"), ("jvm.rss_peak_mb", "MB"),
    ("trace.pass_s", "s"), ("trace.overhead", "ratio"),
]


def _pass_layers(p, ops, jobs, stages_of_job, tasks_by_stage, queries, cpus):
    """Per-layer values of one traced pass."""
    v = {name: 0.0 for name, _ in PER_LAYER}
    wall_total = 0.0
    for op in ops:
        lo, hi = op["start"], op["end"]
        my_jobs = [j for j in jobs if j["group"] == op["id"]]
        my_stages = {s for j in my_jobs for s in stages_of_job[j["job"]]}
        my_tasks = [t for s in my_stages for t in tasks_by_stage.get(s, [])]
        gap, wait, task = split_wall((lo, hi), [(j["start"], j["end"]) for j in my_jobs],
                                     [(t["launch"], t["finish"]) for t in my_tasks])
        wall_total += (hi - lo) / 1e3
        v["driver.gap_s"] += gap / 1e3
        v["sched.wait_s"] += wait / 1e3
        v["exec.task_s"] += task / 1e3
        v["sched.jobs"] += len(my_jobs)
        v["sched.stages"] += sum(1 for s in my_stages if tasks_by_stage.get(s))
        v["sched.tasks"] += len(my_tasks)
        v["sched.task_failures"] += sum(1 for t in my_tasks if not t["ok"])
        v["sched.task_delay_s"] += sum(t.get("delay_ms", 0) for t in my_tasks) / 1e3
        v["exec.cpu_s"] += sum(t.get("cpu_ns", 0) for t in my_tasks) / 1e9
        v["exec.run_s"] += sum(t.get("run_ms", 0) for t in my_tasks) / 1e3
        v["exec.gc_s"] += sum(t.get("gc_ms", 0) for t in my_tasks) / 1e3
        v["exec.scan_bytes"] += sum(t.get("scan_bytes", 0) for t in my_tasks)
        v["exec.shuffle_write_bytes"] += sum(t.get("shuffle_write", 0) for t in my_tasks)
        v["exec.shuffle_read_bytes"] += sum(t.get("shuffle_read", 0) for t in my_tasks)
        v["exec.spill_bytes"] += sum(t.get("spill", 0) for t in my_tasks)
        for q in queries:
            if lo <= q["opt_start"] <= hi:
                v["driver.optimization_s"] += (q["opt_end"] - q["opt_start"]) / 1e3
            if lo <= q["plan_start"] <= hi:
                v["driver.planning_s"] += (q["plan_end"] - q["plan_start"]) / 1e3
        build = op.get("span.operators.build")
        if build is not None:
            v["operators.build_s"] += build
            v["operators.build_jobs"] += sum(1 for j in my_jobs if j["start"] <= lo + build * 1e3)
        for span, metric in (("catalog.list", "catalog.list_s"),
                             ("catalog.footer_rows", "catalog.footer_rows_s"),
                             ("profile.estimated", "profile.estimated_s"),
                             ("profile.exact", "profile.exact_s"),
                             ("profile.footer", "profile.footer_s"), ("render", "render.s")):
            v[metric] += op.get("span." + span, 0.0)
        if op["op"].startswith("catalog_"):
            before = sum(op.get("span." + s, 0.0) for s in ("catalog.list", "catalog.footer_rows"))
            mode = op["op"].split("_", 1)[1]
            p_lo = lo + before * 1e3
            p_hi = p_lo + op.get("span.profile." + mode, 0.0) * 1e3
            v["profile.jobs"] += sum(1 for j in my_jobs if p_lo <= j["start"] <= p_hi)
    pass_s = (p["end"] - p["start"]) / 1e3
    v["driver.codegen_classes"] = p["codegen_classes"]
    v["memo.resident_mb"] = p["resident_bytes"] / 2**20
    v["memo.rebuilds"] = p["rebuilds"]
    v["memo.release_s"] = p["release_s"]
    v["exec.busy_share"] = v["exec.run_s"] / (pass_s * cpus) if pass_s > 0 else 0.0
    v["split.driver_sched_share"] = \
        (v["driver.gap_s"] + v["sched.wait_s"]) / wall_total if wall_total > 0 else 0.0
    v["trace.pass_s"] = pass_s
    return v


def per_layer(records):
    """Per-layer metrics from a traced run: the median over traced passes
    of each pass's value. `trace.overhead` is the traced pass time over the
    mean of the untraced passes around it."""
    meta = next(r for r in records if r["kind"] == "meta")
    ends = {r["job"]: r["end"] for r in records if r["kind"] == "job_end"}
    jobs = [dict(r, end=ends.get(r["job"], r["start"])) for r in records if r["kind"] == "job"]
    stages_of_job = {j["job"]: [int(s) for s in j["stages"].split(",") if s] for j in jobs}
    tasks_by_stage = {}
    for t in (r for r in records if r["kind"] == "task"):
        tasks_by_stage.setdefault(t["stage"], []).append(t)
    queries = [r for r in records if r["kind"] == "query"]
    passes = [r for r in records if r["kind"] == "pass"]
    untraced = [(p["end"] - p["start"]) / 1e3 for p in passes if not p["traced"]]
    per_pass = []
    for p in (p for p in passes if p["traced"]):
        ops = [o for o in _timed_ops(records, traced=True) if o["pass"] == p["pass"]]
        per_pass.append(_pass_layers(p, ops, jobs, stages_of_job, tasks_by_stage, queries,
                                     meta["cpus"]))
    values = {name: _median([v[name] for v in per_pass]) for name, _ in PER_LAYER}
    values["jvm.rss_peak_mb"] = meta["vm_hwm_kb"] / 1024.0
    values["trace.overhead"] = \
        values["trace.pass_s"] / statistics.mean(untraced) if untraced else 0.0
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    traced_ops = _timed_ops(records, traced=True)
    windows = {o["id"]: (o["start"], o["end"]) for o in traced_ops}
    in_ops = [j for j in jobs if j["group"] in windows]
    # job time of an op that falls outside its window: the slack of the
    # wall-time split, which clips to the window (clock resolution is 1 ms)
    outside = sum((j["end"] - j["start"]) - length(clip([(j["start"], j["end"])], *windows[j["group"]]))
                  for j in in_ops) / 1e3
    info = {"traced_passes": len(per_pass), "untraced_pass_s": untraced,
            "traced_jobs": len(in_ops), "jobs_without_op": len(jobs) - len(in_ops),
            "job_s_outside_op_window": outside}
    return metrics, info
