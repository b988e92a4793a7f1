"""The traced run: replay a workload's operations in one JVM through
graft's public functions (trace/Trace.scala), then turn the recorded
spans and counter snapshots into per-layer metrics.

End-to-end metrics never come from here; the untraced operations of the
same run give the base for the tracing overhead.
"""

import json
import os
import statistics

import build
import oracle

# Scala-side counter order (Trace.counterNames)
COUNTERS = ["jobs", "stages", "tasks", "task_ns", "task_cpu_ns", "input_bytes", "shuffle_bytes",
            "read_bytes"]

# per-layer metric → unit; every traced run reports all of them, with 0
# for a layer the workload does not reach
UNITS = {
    "jvm.start_s": "s", "jvm.classes_loaded": "count", "jvm.jit_s": "s", "jvm.gc_s": "s",
    "jvm.cpu_s": "s", "jvm.heap_peak_mb": "MB",
    "session.build_s": "s", "engine.init_s": "s",
    "cache.hash_s": "s", "cache.hash_mb": "MB", "cache.read_s": "s", "cache.write_s": "s",
    "ingest.read_s": "s", "ingest.flatten_s": "s", "ingest.jobs": "count",
    "dialect.s": "s", "plan.analyze_s": "s", "plan.physical_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.input_mb": "MB", "exec.shuffle_mb": "MB",
    "exec.job_wall_s": "s", "exec.driver_gap_s": "s",
    "render.s": "s", "render.self_s": "s", "render.rows": "count", "render.mb": "MB",
    "trace.total_s": "s", "trace.overhead_s": "s",
}


def write_spec(path, spec):
    lines = [f"render {spec['render']}", f"cache {spec['cache']}"]
    lines += [f"file {f}" for f in spec["files"]]
    lines += [f"warmup {q}" for q in spec["warmup"]]
    lines += [f"query {q}" for q in spec["queries"]]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def union_ns(intervals, lo, hi):
    """Length of the union of [s, e) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(data, outputs):
    """Per-layer figures from one traced replay. Per-operation layers are
    means over the measured (not warm-up) operations; cache.write_s is the
    total over the replay, since writes happen only while warming up.
    cache.hash_mb is what the JVM read while `cacheDir` hashed."""
    spans = data["spans"]
    jobs = [(s * 1_000_000, e * 1_000_000) for s, e in data["jobs_ms"]]
    measured = {o["op"] for o in data["ops"] if not o["warmup"]}
    n = len(measured)
    child_ns = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]

    def dur(s):
        return s["end_ns"] - s["start_ns"]

    def self_ns(s):
        return dur(s) - child_ns.get(s["id"], 0)

    def delta(s, counter):
        i = COUNTERS.index(counter)
        return s["c1"][i] - s["c0"][i]

    def per_op(name, f):
        return sum(f(s) for s in spans if s["name"] == name and s["op"] in measured) / n

    def single(name):
        found = [dur(s) for s in spans if s["name"] == name]
        return found[0] / 1e9 if found else 0.0

    jvm = data["jvm"]
    m = {
        "jvm.start_s": (jvm["main_ms"] - jvm["start_ms"]) / 1e3,
        "jvm.classes_loaded": jvm["classes_loaded"],
        "jvm.jit_s": jvm["jit_ms"] / 1e3,
        "jvm.gc_s": jvm["gc_ms"] / 1e3,
        "jvm.cpu_s": jvm["cpu_ns"] / 1e9,
        "jvm.heap_peak_mb": jvm["heap_peak_bytes"] / 1e6,
        "session.build_s": single("session.build"),
        "engine.init_s": single("engine.init"),
        "cache.hash_s": per_op("cache.hash", dur) / 1e9,
        "cache.hash_mb": per_op("cache.hash", lambda s: delta(s, "read_bytes")) / 1e6,
        "cache.read_s": per_op("cache.read", self_ns) / 1e9,
        "cache.write_s": sum(self_ns(s) for s in spans if s["name"] == "cache.write") / 1e9,
        "ingest.read_s": per_op("ingest.read", dur) / 1e9,
        "ingest.flatten_s": per_op("ingest.flatten", dur) / 1e9,
        "ingest.jobs": per_op("ingest.read", lambda s: delta(s, "jobs")),
        "dialect.s": per_op("dialect", dur) / 1e9,
        "plan.analyze_s": per_op("plan.analyze", dur) / 1e9,
        "plan.physical_s": per_op("plan.physical", dur) / 1e9,
        "exec.jobs": per_op("op", lambda s: delta(s, "jobs")),
        "exec.stages": per_op("op", lambda s: delta(s, "stages")),
        "exec.tasks": per_op("op", lambda s: delta(s, "tasks")),
        "exec.task_s": per_op("op", lambda s: delta(s, "task_ns")) / 1e9,
        "exec.task_cpu_s": per_op("op", lambda s: delta(s, "task_cpu_ns")) / 1e9,
        "exec.input_mb": per_op("op", lambda s: delta(s, "input_bytes")) / 1e6,
        "exec.shuffle_mb": per_op("op", lambda s: delta(s, "shuffle_bytes")) / 1e6,
        "exec.job_wall_s": per_op("op", lambda s: union_ns(jobs, s["start_ns"], s["end_ns"])) / 1e9,
        "exec.driver_gap_s": per_op(
            "op", lambda s: dur(s) - union_ns(jobs, s["start_ns"], s["end_ns"])) / 1e9,
        "render.s": per_op("render", dur) / 1e9,
        "render.self_s": per_op(
            "render", lambda s: dur(s) - union_ns(jobs, s["start_ns"], s["end_ns"])) / 1e9,
        "render.rows": sum(rows for op, rows, _ in outputs if op in measured) / n,
        "render.mb": sum(size for op, _, size in outputs if op in measured) / n / 1e6,
    }
    return m


def _rows_rendered(text, render):
    try:
        if render == "json":
            return len(oracle.parse_json_output(text))
        return oracle.parse_pretty(text)[2]
    except ValueError:
        return 0


def traced(run, args, res, log, launch_fn):
    """Replay res.spec in one traced JVM, started by `launch_fn` as the
    untraced launches are; → per-layer metrics."""
    d = run.dirs["trace"]
    spec_path, out_path = os.path.join(d, "spec.txt"), os.path.join(d, "trace.json")
    write_spec(spec_path, res.spec)
    jvm_opts = []
    if res.spec.get("fresh_tmp"):  # a later -D wins over the run's tmpdir
        os.makedirs(os.path.join(d, "tmp"))
        jvm_opts.append("-Djava.io.tmpdir=" + os.path.join(d, "tmp"))
    launch = launch_fn(run, jvm_opts + ["graftbench.Trace", spec_path, out_path, d],
                       cp=run.trace_cp)
    if launch.failure():
        raise RuntimeError(f"traced replay failed: {launch.failure()}\n{launch.stderr[-2000:]}")
    with open(out_path) as f:
        data = json.load(f)
    queries = res.spec["warmup"] + res.spec["queries"]
    outputs = []
    for o in data["ops"]:
        with open(o["out"], encoding="utf-8") as f:
            text = f.read()
        q = queries[o["op"]]
        reason = res.check(q, text)
        if not o["warmup"]:
            run.record("traced op", reason, reason is not None, q in res.faulty)
        elif reason and q not in res.faulty:
            raise RuntimeError(f"traced warm-up op {o['op']} is wrong: {reason}")
        outputs.append((o["op"], _rows_rendered(text, res.spec["render"]), len(text.encode())))

    m = layer_metrics(data, outputs)
    untraced = statistics.median(res.latencies)
    if res.spec["warmup"]:  # one session: compare query with query
        ops = [s for s in data["spans"] if s["name"] == "op" and
               not data["ops"][s["op"]]["warmup"]]
        m["trace.total_s"] = statistics.median((s["end_ns"] - s["start_ns"]) / 1e9 for s in ops)
    else:  # one launch each: compare process with process
        m["trace.total_s"] = launch.wall_s
    m["trace.overhead_s"] = m["trace.total_s"] - untraced

    trace_dir = os.path.join(build.OUT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    kept = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
    with open(kept, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": m,
                   "untraced_latency_s": untraced, **data}, f)
    log(f"spans and counts written to {os.path.relpath(kept, build.ROOT)}")
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}
