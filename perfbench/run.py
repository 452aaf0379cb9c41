#!/usr/bin/env python3
"""Repository benchmark: catalog queries and scheduled ETL runs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --steady N [--sets K] [--seed N] [--seconds S]

Run from the root of a checkout. The first run builds the program and
the harness from source into .bench_build/ (see bench/build.py). Each
run writes its inputs and raw records under .bench_runs/.

A run starts one benchmark JVM (perfbench.Main) on local[nproc] with
spark.sql.shuffle.partitions = nproc. It sets up (SparkSession start,
input generation, untimed warm-up), then runs whole passes of ops,
closed loop from one thread, until --seconds have elapsed. Every op's
output is checked. The last stdout line is one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1);
the line before it is the run's record: op counts, failed_frac,
op_p90_ms with its sample count, the set-up parts, and provenance
(git HEAD, input fingerprint, nproc, host load1 and steal).

--steady N runs the workload N times with seeds seed .. seed+N-1 and
prints each metric's median and quartile spread; --sets K repeats that
on the next seeds and prints how far each later set's medians moved
from the first set's, against the bounds in BENCHMARK.json. A run whose
CPU steal share passes STEAL_LIMIT is marked not comparable.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import build, catalog, etl, layers, stats  # noqa: E402

RUNS_DIR = ".bench_runs"
DEADLINE_S = 170          # a run must end within 180 s of its start
SETUP_REPS = 3            # repeated set-up steps; setup_s takes their median
MAX_PASSES = 50           # passes scheduled; a run stops after --seconds
JVM_HEAP = "3g"           # the cap; the heap starts small and grows as the program needs
STEAL_LIMIT = 0.05        # above this CPU steal share a run is not comparable
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# A run has 6-28 timed ops, so the median is the highest percentile
# with ten samples beyond it; op_p90_ms goes to the record line only.
# So does peak_rss_mb: under the JVM's default heap sizing about one run
# in ten grows its heap early and reads a third to a half higher, more than any
# bound allows, so it is reported but not bounded (and per layer).
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_head():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def tree_fingerprint(path):
    """sha256 over (relative name, content) of every file under path."""
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(dirpath, n)
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def host_sample(h0, h1):
    dt = h1["total_ticks"] - h0["total_ticks"]
    return {"load1_before": h0["load1"], "load1_after": h1["load1"],
            "steal_frac": (h1["steal_ticks"] - h0["steal_ticks"]) / dt if dt > 0 else 0.0}


def timed_median(fn):
    """Run fn SETUP_REPS times; return (its last value, median seconds)."""
    secs, value = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        value = fn()
        secs.append(time.perf_counter() - t0)
    return value, statistics.median(secs)


def train(classpath, archive):
    """The build's training run: one pass over every catalog row on the
    small fixture, dumping the loaded classes into ``archive``."""
    rows = sorted({r for w in catalog.load_workloads().values() for r in w.get("rows", [])})
    plan = {"kind": "catalog", "data_dir": os.path.join(catalog.DATA, "sf0.01"),
            "warmup": [], "passes": [rows], "nproc": nproc(), "trace": False,
            "seconds": 0, "session_reps": 1}
    run_dir = os.path.join(ROOT, RUNS_DIR, "build-training")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _jvm(plan, run_dir, 600, classpath, ["-XX:ArchiveClassesAtExit=" + archive])
    shutil.rmtree(run_dir, ignore_errors=True)


def run_jvm(plan, run_dir, budget_s):
    """Run perfbench.Main on ``plan`` in ``run_dir``; return its result."""
    classpath, archive = build.ensure(ROOT, log, train)
    return _jvm(plan, run_dir, budget_s, classpath, ["-XX:SharedArchiveFile=" + archive])


def _jvm(plan, run_dir, budget_s, classpath, flags):
    """Run one benchmark JVM with the JVM's default collector and
    tiered JIT, as the program runs elsewhere; only the heap is capped.
    Temp files, Spark local dirs and the log stay in ``run_dir``; no
    JVM perf-data file is written to the system temp directory."""
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-XX:-UsePerfData", "-Xmx" + JVM_HEAP, "-Xss8m"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main", plan_path, result_path]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(budget_s, 20))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM exceeded its time budget; see " + jvm_log)
    if rc != 0 or not os.path.isfile(result_path):
        raise RuntimeError("benchmark JVM failed (exit %d); see %s" % (rc, jvm_log))
    with open(result_path) as f:
        return json.load(f)


def plan_catalog(spec, seed, run_dir):
    """Fixture check and schedule for a catalog workload; returns
    (plan fields, checker, fingerprint)."""
    data = os.path.join(catalog.DATA, spec["data"])
    fp = tree_fingerprint(data)
    if fp != spec["fixture_sha256"]:
        raise RuntimeError("fixture %s does not match its recorded fingerprint" % data)
    warmup, passes = catalog.schedule(seed, spec["rows"], spec["warmup_passes"], MAX_PASSES)
    ref = catalog.reference()[spec["data"]]

    def check(op):
        return op["ok"] and op.get("digest") == ref.get(op["name"])
    fields = {"kind": "catalog", "data_dir": data, "warmup": warmup, "passes": passes}
    return fields, check, fp


def plan_etl(spec, seed, run_dir):
    """Generate inputs, pipelines and expected sinks for the ETL
    workload; returns (plan fields, checker, input fingerprint)."""
    work = os.path.join(run_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    fields, expected = etl.build(seed, work)
    ids = [p["spec"]["id"] for p in fields["pipelines"]]
    warmup, passes = etl.schedule(seed, ids, spec["warmup_passes"], MAX_PASSES)

    def check(op):
        return (op["ok"] and op.get("status") == "success" and op.get("due") == 0
                and op.get("digests") == expected(op["name"], op["k"]))
    fields.update({"kind": "etl", "warmup": warmup, "passes": passes})
    return fields, check, tree_fingerprint(os.path.join(work, "gen"))


def run_once(args):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources at src/main/scala/graft; run from a full checkout")
        return 2
    workloads = catalog.load_workloads()
    if args.workload not in workloads:
        log("unknown workload %r; choose from %s" % (args.workload, sorted(workloads)))
        return 2
    spec = workloads[args.workload]
    build.ensure(ROOT, log, train)
    t_start = time.time()   # the first run's build has its own budget

    n = nproc()
    run_dir = os.path.join(ROOT, RUNS_DIR, "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    planner = plan_etl if spec["kind"] == "etl" else plan_catalog
    fps = []

    def plan_inputs():
        r = planner(spec, args.seed, run_dir)
        fps.append(r[2])
        return r
    (fields, check, fp), gen_s = timed_median(plan_inputs)
    if len(set(fps)) != 1:
        raise RuntimeError("inputs for seed %d differ between generations" % args.seed)
    plan = dict(fields, nproc=n, trace=bool(args.trace), seconds=args.seconds,
                session_reps=SETUP_REPS)
    try:
        result = run_jvm(plan, run_dir, DEADLINE_S - (time.time() - t_start))
    except RuntimeError as e:
        log(str(e))
        return 1
    result["kind"] = spec["kind"]
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    attempted, failed, warm_failed = stats.account(result["ops"], check)
    for o in [o for o in result["ops"] if not check(o)][:5]:
        log("op %s (%s) failed its check: %s" % (o["id"], o["name"], o.get("error", "wrong output")))
    ops = [o for o in result["ops"] if not o["id"].startswith("w")]
    host = host_sample(result["host_before"], result["host_after"])
    if host["steal_frac"] > STEAL_LIMIT:
        log("CPU steal was %.1f%% of the timed passes (limit %.0f%%): this run's times "
            "are not comparable" % (100 * host["steal_frac"], 100 * STEAL_LIMIT))
    untraced = [p for p in result["passes"] if not p["traced"]]
    untraced_ids = {p["pass"] for p in untraced}
    lat = [o["ms"] for o in ops if o["pass"] in untraced_ids]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": attempted, "failed": failed,
        "failed_frac": stats.failed_frac(attempted, failed),
        "warmup_failed": warm_failed,
        "passes": len(result["passes"]), "ops_per_pass": len(fields["passes"][0]),
        "latency_samples": len(lat), "tail_percentile": stats.highest_percentile(len(lat)),
        "op_p90_ms": {"value": stats.percentile(lat, 90), "unit": "ms",
                      "samples_beyond": stats.samples_beyond(len(lat), 90)},
        "git_head": git_head(), "inputs_sha256": fp, "nproc": n,
        "host": host, "comparable": host["steal_frac"] <= STEAL_LIMIT,
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
        "setup_parts_s": {"inputs": gen_s,
                          "session": statistics.median(result["session_ms"]) / 1e3,
                          "stage": result["stage_ms"] / 1e3,
                          "warmup": result["warmup_ms"] / 1e3},
    }
    if args.trace:
        file_layers = layers.source_layers(os.path.join(ROOT, "src", "main", "scala"))
        values = layers.per_layer(result, n, file_layers)
        spans = result.get("spans", [])
        spans = spans + layers.job_spans(result, 1 + max([s["id"] for s in spans] or [0]))
        self_ms = stats.self_times(spans)
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump([dict(s, self_ms=self_ms[s["id"]]) for s in spans], f)
        record["trace_file"] = os.path.relpath(os.path.join(run_dir, "trace.json"), ROOT)
        units = layers.PER_LAYER
    else:
        timed = [o for o in ops if o["pass"] in untraced_ids]
        values = {
            "setup_s": sum(record["setup_parts_s"].values()),
            "wall_s": stats.pass_wall_s(timed),
            "op_p50_ms": stats.op_p50_ms(timed),
        }
        units = END_TO_END
    print(json.dumps(record, sort_keys=True))
    out = {"correct": failed == 0 and warm_failed == 0, "attempted": attempted,
           "failed": failed,
           "metrics": {k: {"value": values[k], "unit": u} for k, u in units}}
    print(json.dumps(out), flush=True)
    return 0


def steady_set(args, seeds):
    """Run the workload once per seed; return (per-run rows, summary of
    each metric's median, quartiles and (q3 - q1) / median)."""
    runs, per_metric = [], {}
    for seed in seeds:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)],
                           stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            raise RuntimeError("seed %d failed (exit %d)" % (seed, r.returncode))
        record, last = json.loads(lines[-2]), json.loads(lines[-1])
        row = {"seed": seed, "correct": last["correct"], "attempted": last["attempted"],
               "failed": last["failed"], "steal_frac": record["host"]["steal_frac"],
               "comparable": record["comparable"], "peak_rss_mb": record["peak_rss_mb"]}
        row.update({k: v["value"] for k, v in last["metrics"].items()})
        runs.append(row)
        log("seed %d: correct=%s steal=%.3f %s" % (seed, last["correct"], row["steal_frac"], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in last["metrics"].items())))
        for k, v in last["metrics"].items():
            per_metric.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vals in per_metric.items():
        med, q1, q3, spread = stats.quartile_spread(vals)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
    return runs, summary


def steady(args):
    """Run --sets sets of --steady runs each, set k on seeds
    seed + k*N .. seed + k*N + N - 1, and print every set's runs and
    spreads. With two sets or more, also print how far each later set's
    median moved from the first set's, in the metric's worse direction,
    against the metric's bound in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = []
    for k in range(args.sets):
        seeds = range(args.seed + k * args.steady, args.seed + (k + 1) * args.steady)
        runs, summary = steady_set(args, seeds)
        sets.append({"seeds": [seeds[0], seeds[-1]], "runs": runs, "metrics": summary,
                     "not_comparable_seeds": [r["seed"] for r in runs if not r["comparable"]]})
    out = {"workload": args.workload, "trace": args.trace, "seconds": args.seconds, "sets": sets}
    if len(sets) > 1:
        first = sets[0]["metrics"]
        out["agreement"] = {
            k: [{"worse_by": stats.worse_by(first[k]["median"], s["metrics"][k]["median"],
                                            metrics[k]["better"]),
                 "bound": metrics[k].get("bound")} for s in sets[1:]]
            for k in first}
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args(argv)
    try:
        return steady(args) if args.steady else run_once(args)
    except (build.BuildError, RuntimeError, OSError, subprocess.SubprocessError) as e:
        log("error: %s" % e)
        return 1


if __name__ == "__main__":
    sys.exit(main())
