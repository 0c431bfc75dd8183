"""Reduces one run's raw measurements (the driver's result.json) to the
benchmark's metrics."""
import stats

MERGE_STEPS = {
    "graft.merge: source stats/cardinality agg": "stats_agg",
    "graft.merge: touched-file probe + cardinality": "file_probe",
    "graft.merge: touched-file probe": "file_probe",
    "graft.merge: rewrite + write": "rewrite",
    "graft.merge: insert-only anti-join + write": "anti_join",
}
STEPS = ("stats_agg", "file_probe", "rewrite", "anti_join", "unlabeled")
USAGE = ("wall_s", "process_cpu_s", "engine_cpu_s", "client_cpu_s", "executor_cpu_s",
         "other_java_cpu_s", "jit_s", "gc_s", "steal_share")


def steal_adjusted(times, steals, power):
    """Times measured while the host's hypervisor stole the share `s` of
    its CPU ticks, scaled by (1 - s) ** power. Over 25 runs per workload
    on the 4-vCPU reference host, with s from 0 to 0.19, wall time grew as
    1 / (1 - s) ** 2 (fitted exponents 1.9 to 2.1: shared CPUs are both
    taken away and slower while they run) and engine CPU time as
    1 / (1 - s) ** 0.5 (fitted 0.5 to 0.7). Scaled this way, runs made
    under different steal compare."""
    return [t * (1 - s) ** power for t, s in zip(times, steals)]


def end_to_end(r):
    """The gated metrics: the same names on every workload, each about the
    workload's set-up or its operation (a daily load of both tables, one
    pass over the query subset)."""
    s = r["samples"]
    return {
        "setup_s": (stats.median(steal_adjusted(
            s["setup.wall_s"], s["setup.steal_share"], 2)), "s"),
        "op_wall_adj_s": (stats.median(steal_adjusted(
            s["op.wall_s"], s["op.steal_share"], 2)), "s"),
        "op_engine_cpu_adj_s": (stats.median(steal_adjusted(
            s["op.engine_cpu_s"], s["op.steal_share"], 0.5)), "s"),
        "retained_heap_mb": (r["values"]["retained_heap_mb"], "MB"),
    }


def workload_detail(r):
    """The workload's own end-to-end figures, named as the workload's users
    name them, and the set-up's and operations' clocks; printed, not
    gated."""
    s, v = r["samples"], r["values"]
    ops = s["op.wall_s"]
    out = {"ops_per_s": (len(ops) / sum(ops), "1/s", len(ops))}
    for k in USAGE:
        unit = "ratio" if k == "steal_share" else "s"
        out[f"setup.{k}"] = (stats.median(s[f"setup.{k}"]), unit, None)
        out[f"op.{k}.p50"] = (stats.median(s[f"op.{k}"]), unit, len(ops))

    def timing(name, xs, unit="s"):
        out[f"{name}.p50"] = (stats.median(xs), unit, len(xs))
        tail = stats.tail_percentile(xs)
        if tail:
            out[f"{name}.p{tail[0]:g}"] = (tail[1], unit, len(xs))

    if r["workload"] == "scd2_daily":
        timing("header_batch_s", s["header_batch_s"])
        timing("items_batch_s", s["items_batch_s"])
        batch_wall = sum(s["header_batch_s"]) + sum(s["items_batch_s"])
        out["ingest_rows_per_s"] = (v["timed_rows"] / batch_wall, "rows/s", len(ops))
        out["write_amp"] = (v["write_amp"], "ratio", None)
        out["space_amp"] = (v["space_amp"], "ratio", None)
    else:
        timing("suite_s", ops)
    out["cpu_s"] = (sum(s["op.process_cpu_s"]), "s", None)
    out["peak_rss_mb"] = (r["peak_rss_mb"], "MB", None)
    return out


def job_step(desc):
    return MERGE_STEPS.get(desc, "unlabeled")


def secs(us):
    return us / 1e6


def intervals(jobs):
    return [(secs(j["start"]), secs(j["end"])) for j in jobs]


def within(jobs, span):
    """The jobs that started inside a span's interval."""
    return [j for j in jobs if span["start"] <= j["start"] <= span["end"]]


def task_skew(jobs):
    """Slowest over median task time within each stage of two or more
    tasks, averaged over those stages weighted by their task counts: a
    stage's own imbalance, not the mix of large and tiny stages."""
    num = den = 0
    for j in jobs:
        for ms in j["stage_task_ms"]:
            if len(ms) >= 2:
                num += len(ms) * max(ms) / max(stats.median(ms), 1)
                den += len(ms)
    return num / den if den else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def averaged(rows):
    """Per-key mean over a list of metric dicts."""
    out = {}
    for row in rows:
        for k, v in row.items():
            out.setdefault(k, []).append(v)
    return {k: mean(v) for k, v in out.items()}


def span_layers(span, jobs, prefix):
    """Spark and driver layers of one span: job counts, busy time, CPU and
    bytes of its jobs, and the driver's share of the span."""
    start, end = secs(span["start"]), secs(span["end"])
    task_cpu = sum(j["cpu_s"] for j in jobs)
    return {
        f"{prefix}jobs": len(jobs),
        f"{prefix}tasks": sum(j["tasks"] for j in jobs),
        f"{prefix}job_wall_s": stats.union_length(stats.clip(intervals(jobs), start, end)),
        f"{prefix}task_cpu_s": task_cpu,
        f"{prefix}shuffle_mb": sum(j["shuffle_write"] for j in jobs) / 1e6,
        f"{prefix}spill_mb": sum(j["spill"] for j in jobs) / 1e6,
        f"{prefix}input_mb": sum(j["input_bytes"] for j in jobs) / 1e6,
        f"{prefix}task_skew": task_skew(jobs),
        f"{prefix}driver_gap_s": stats.uncovered(start, end, intervals(jobs)),
        f"{prefix}driver_cpu_s": span["attrs"]["process_cpu_s"] - task_cpu,
        f"{prefix}gc_s": span["attrs"]["gc_s"],
    }


def merge_steps(jobs, prefix):
    """The table layer's merge steps, told apart by job description."""
    out = {}
    for step in STEPS:
        sj = [j for j in jobs if job_step(j["desc"]) == step]
        out[f"{prefix}{step}.wall_s"] = stats.union_length(intervals(sj))
        out[f"{prefix}{step}.cpu_s"] = sum(j["cpu_s"] for j in sj)
        out[f"{prefix}{step}.shuffle_mb"] = sum(j["shuffle_write"] for j in sj) / 1e6
        out[f"{prefix}{step}.spill_mb"] = sum(j["spill"] for j in sj) / 1e6
        out[f"{prefix}{step}.jobs"] = len(sj)
    out[f"{prefix}rewrite.task_skew"] = task_skew(
        [j for j in jobs if job_step(j["desc"]) == "rewrite"])
    return out


def self_times_by_name(spans, jobs):
    """Median self time per span name, with each job as a child span (named
    by its merge step) of the innermost driver span containing its start."""
    tree = [{"id": f"s{s['id']}", "parent": f"s{s['parent']}" if s["parent"] else 0,
             "start": secs(s["start"]), "end": secs(s["end"]), "name": s["name"]}
            for s in spans]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for j in jobs:
        inside = [s for s in by_op.get(j["op"], []) if s["start"] <= j["start"] <= s["end"]]
        if inside:
            parent = min(inside, key=lambda s: s["end"] - s["start"])
            tree.append({"id": f"j{j['id']}", "parent": f"s{parent['id']}",
                         "start": secs(j["start"]), "end": secs(j["end"]),
                         "name": "job." + job_step(j["desc"])})
    names = {t["id"]: t["name"] for t in tree}
    out = {}
    for sid, t in stats.self_times(tree).items():
        out.setdefault(names[sid], []).append(t)
    return {name: stats.median(xs) for name, xs in out.items()}


def trace_overhead(values, traced):
    """Mean of the traced operations' values minus the mean of the
    untraced ones, over whole blocks of four (untraced, traced, traced,
    untraced), in which a linear warm-up trend cancels."""
    n = len(values) // 4 * 4
    on = [v for v, t in zip(values[:n], traced[:n]) if t]
    off = [v for v, t in zip(values[:n], traced[:n]) if not t]
    return mean(on) - mean(off) if on and off else 0.0


# per-layer metric name -> span_layers key
OP_LAYERS = {
    "spark.jobs": "jobs", "spark.tasks": "tasks", "spark.job_wall_s": "job_wall_s",
    "spark.task_cpu_s": "task_cpu_s", "spark.shuffle_mb": "shuffle_mb",
    "spark.input_mb": "input_mb", "spark.task_skew": "task_skew",
    "driver.gap_s": "driver_gap_s", "driver.cpu_s": "driver_cpu_s", "driver.gc_s": "gc_s",
}


def per_layer(r):
    """Layer metrics of the traced operations. Returns (the BENCHMARK.json
    per-layer metrics, which every workload reports under the same names,
    and the workload's own layer detail, which is printed)."""
    spans, jobs = r["spans"], r["jobs"]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append(j)
    timed = [s for s in spans if s["parent"] == 0]
    merging = [o for o in timed
               if any(job_step(j["desc"]) != "unlabeled" for j in jobs_of.get(o["id"], []))]
    calls = {}
    for s in spans:
        if s["parent"] == s["op"]:
            calls.setdefault(s["op"], []).append(s)

    op_layers = averaged([span_layers(o, jobs_of.get(o["id"], []), "") for o in timed])
    merge = averaged([merge_steps(jobs_of.get(o["id"], []), "merge.") for o in merging])
    metrics = {name: op_layers[k] for name, k in OP_LAYERS.items()}
    merged = averaged([span_layers(o, [j for j in jobs_of[o["id"]]
                                       if job_step(j["desc"]) != "unlabeled"], "")
                       for o in merging])
    for k in ("jobs", "job_wall_s", "task_cpu_s"):
        metrics[f"merge.{k}"] = merged.get(k, 0.0)
    s = r["samples"]
    traced_i = [i for i, t in enumerate(s["op.traced"]) if t]
    for name, k in (("driver.client_cpu_s", "client_cpu_s"), ("driver.jit_s", "jit_s"),
                    ("driver.other_java_cpu_s", "other_java_cpu_s")):
        metrics[name] = mean([s[f"op.{k}"][i] for i in traced_i])
    metrics["trace.overhead_s"] = trace_overhead(s["op.wall_s"], s["op.traced"])

    detail = dict(merge)
    detail["traced_ops"] = len(timed)
    detail["merging_ops"] = len(merging)
    detail["trace.overhead_cpu_s"] = trace_overhead(s["op.process_cpu_s"], s["op.traced"])
    detail.update({f"self_s.{k}": v for k, v in self_times_by_name(spans, jobs).items()})
    if r["workload"] == "scd2_daily":
        rows = []
        for o in timed:
            row = {}
            for c in calls.get(o["id"], []):
                p = "header" if c["name"].startswith("Header") else "items"
                cj = within(jobs_of.get(o["id"], []), c)
                row.update(merge_steps(cj, f"{p}."))
                layers = span_layers(c, cj, f"{p}.")
                for k in ("tasks", "driver_gap_s", "driver_cpu_s", "gc_s"):
                    row[f"{p}.{k}"] = layers[f"{p}.{k}"]
            rows.append(row)
        detail.update(averaged(rows))
        for k, xs in s.items():
            if k.startswith(("header.", "items.")):
                detail[k] = stats.median(xs)
    else:
        families = r["families"]
        rows = []
        for o in timed:
            row = {}
            for f, queries in families.items():
                fj = [j for c in calls.get(o["id"], []) if c["name"] in queries
                      for j in within(jobs_of.get(o["id"], []), c)]
                row[f"suite.{f}.cpu_s"] = sum(j["cpu_s"] for j in fj)
                row[f"suite.{f}.shuffle_mb"] = sum(j["shuffle_write"] for j in fj) / 1e6
            row["suite.driver_gap_s"] = stats.uncovered(
                secs(o["start"]), secs(o["end"]), intervals(jobs_of.get(o["id"], [])))
            rows.append(row)
        detail.update(averaged(rows))
        for f in families:
            detail[f"suite.{f}.s"] = stats.median(s[f"suite.{f}.s"])
    return metrics, detail
