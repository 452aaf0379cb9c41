"""Per-layer attribution of one traced run.

Input is the raw result the benchmark JVM writes: op records, harness
spans, and Spark listener events (jobs, stages, query plans, streaming
progress). Jobs belong to an op through the op-id local property the
harness sets; plan and streaming events carry no op id and are
attributed by time to the op whose interval holds their start. Only
ops of traced passes count, and every total is divided by the number
of traced passes, so each figure reads "per pass".
"""
import os
import statistics

from . import catalog, stats

MB = 1024.0 * 1024.0

PER_LAYER = [
    ("plan.analysis_ms", "ms"), ("plan.optimizer_ms", "ms"), ("plan.physical_ms", "ms"),
    ("plan.actions", "count"), ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.driver_gap_ms", "ms"),
    ("spark.tasks", "count"), ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.core_util", "ratio"), ("spark.single_task_stages", "count"),
    ("spark.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"), ("jvm.peak_rss_mb", "MB"),
    ("shuffle.read_mb", "MB"), ("shuffle.write_mb", "MB"), ("shuffle.spill_mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("ops.iterative.ms", "ms"),
] + [("ops.%s.ms" % f, "ms") for f in catalog.FAMILIES + ("misc",)] + [
    ("connect.job_ms", "ms"), ("connect.rows_written", "count"), ("connect.write_mb", "MB"),
    ("exec.run_ms", "ms"), ("exec.driver_gap_ms", "ms"), ("exec.audit_jobs", "count"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("store.history_read_ms", "ms"), ("store.history_bytes", "bytes"),
    ("sched.tick_ms", "ms"),
    ("trace.overhead_s", "s"),
]


def source_layers(src_root):
    """Map each program source file name to its module directory
    (``Sources.scala`` -> ``connect``), for call-site attribution."""
    out = {}
    for dirpath, _, names in os.walk(src_root):
        for n in names:
            if n.endswith(".scala"):
                out[n] = os.path.basename(dirpath)
    return out


def callsite_file(callsite):
    """Source file of a Spark job's short call site, ``"<op> at File.scala:N"``."""
    return callsite.rsplit(" at ", 1)[-1].split(":", 1)[0]


def callsite_layer(callsite, file_layers):
    return file_layers.get(callsite_file(callsite), "")


def _in_op(t, ops):
    for o in ops:
        if o["start"] <= t <= o["start"] + o["ms"]:
            return o
    return None


def job_spans(result, first_id):
    """Spark jobs as spans, each parented to the innermost harness span
    of its op that holds the job's start."""
    by_op = {}
    for s in result.get("spans", []):
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for i, j in enumerate(result.get("jobs", [])):
        if not j["op"] or "end" not in j:
            continue
        holders = [s for s in by_op.get(j["op"], []) if s["start"] <= j["start"] <= s["end"]]
        parent = min(holders, key=lambda s: s["end"] - s["start"])["id"] if holders else 0
        out.append({"id": first_id + i, "parent": parent, "name": "spark.job",
                    "op": j["op"], "start": j["start"], "end": j["end"]})
    return out


def per_layer(result, nproc, file_layers):
    passes = [p for p in result["passes"] if p["traced"]]
    n = len(passes)
    if n == 0:
        raise ValueError("traced run without a traced pass")
    traced = {p["pass"] for p in passes}
    ops = [o for o in result["ops"] if o["pass"] in traced]
    op_ids = {o["id"] for o in ops}
    spans = [s for s in result.get("spans", []) if s["op"] in op_ids]
    jobs = [j for j in result.get("jobs", []) if j["op"] in op_ids and "end" in j]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in result.get("stages", []) if s["stage"] in stage_ids]
    plans = [p for p in result.get("plans", []) if _in_op(p["start"], ops)]
    progress = [p for p in result.get("progress", []) if _in_op(p["start"], ops)]
    wall_ms = sum(o["ms"] for o in ops)

    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append((j["start"], j["end"]))

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def gap(name):
        return sum((s["end"] - s["start"])
                   - stats.union_ms(jobs_of.get(s["op"], []), s["start"], s["end"])
                   for s in spans if s["name"] == name)

    def st(key):
        return sum(s.get(key, 0) for s in stages)

    fam = {}
    for o in ops:
        if result.get("kind") == "catalog":
            f = catalog.family(o["name"])
            fam[f] = fam.get(f, 0.0) + o["ms"]
    untraced = [p["end"] - p["start"] - p["check_ms"] for p in result["passes"] if not p["traced"]]
    traced_wall = [p["end"] - p["start"] - p["check_ms"] for p in passes]
    layer_of = [callsite_layer(j["callsite"], file_layers) for j in jobs]
    task_ms = st("task_ms")
    v = {
        "plan.analysis_ms": sum(p["analysis_ms"] for p in plans),
        "plan.optimizer_ms": sum(p["optimizer_ms"] for p in plans),
        "plan.physical_ms": sum(p["physical_ms"] for p in plans),
        "plan.actions": len(plans),
        "codegen.compile_ms": sum(o["codegen_ms"] for o in ops),
        "codegen.compiles": sum(o["compiles"] for o in ops),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.driver_gap_ms": gap("op"),
        "spark.tasks": st("tasks"),
        "spark.task_ms": task_ms,
        "spark.task_cpu_ms": st("task_cpu_ms"),
        "spark.single_task_stages": sum(1 for s in stages
                                        if s.get("input_bytes", 0) > 0 and s["tasks"] == 1),
        "spark.gc_ms": sum(o["gc_ms"] for o in ops),
        "shuffle.read_mb": st("shuffle_read_bytes") / MB,
        "shuffle.write_mb": st("shuffle_write_bytes") / MB,
        "shuffle.spill_mb": st("spill_bytes") / MB,
        "scan.input_mb": st("input_bytes") / MB,
        "scan.input_rows": st("input_rows"),
        "ops.iterative.ms": sum(o["ms"] for o in ops if o["name"] in catalog.ITERATIVE),
        "connect.job_ms": sum(j["end"] - j["start"] for j, l in zip(jobs, layer_of)
                              if l == "connect"),
        "connect.rows_written": st("output_rows"),
        "connect.write_mb": st("output_bytes") / MB,
        "exec.run_ms": span_sum("run"),
        "exec.driver_gap_ms": gap("run"),
        "exec.audit_jobs": sum(1 for j in jobs
                               if callsite_file(j["callsite"]) == "PipelineRunner.scala"),
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.trigger_ms": sum(p["trigger_ms"] for p in progress),
        "streaming.add_batch_ms": sum(p["add_batch_ms"] for p in progress),
        "streaming.planning_ms": sum(p["planning_ms"] for p in progress),
        "streaming.wal_commit_ms": sum(p["wal_commit_ms"] for p in progress),
        "store.history_read_ms": span_sum("history"),
        "sched.tick_ms": span_sum("tick"),
    }
    for f in catalog.FAMILIES + ("misc",):
        v["ops.%s.ms" % f] = fam.get(f, 0.0)
    v = {k: x / n for k, x in v.items()}
    v["spark.core_util"] = task_ms / (wall_ms * nproc) if wall_ms else 0.0
    v["store.history_bytes"] = result.get("history_bytes", 0)
    v["jvm.heap_peak_mb"] = result["heap_peak_mb"]
    v["jvm.peak_rss_mb"] = result["peak_rss_kb"] / 1024.0
    v["trace.overhead_s"] = ((statistics.median(traced_wall) - statistics.median(untraced)) / 1e3
                             if untraced else 0.0)
    return v
