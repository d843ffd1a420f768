"""Arithmetic of the benchmark: order statistics, interval unions and the
attribution of Spark jobs to the program layer that issued them.

Pure functions over the JVM run record; `test_metrics.py` pins them."""
import math
import re
import statistics

# Layers as the metrics name them: a module path under `graft.`, matched
# as a prefix of the frame's module. Order does not matter; a frame maps
# to the longest matching entry.
LAYERS = [
    "Pipeline", "ops.Relational", "io.LakeZones", "io.ServingSink",
    "ops.CurateIncremental", "ops.Curate", "ops.Dedup", "ops.ExactJoinState",
    "ops.Similarity", "ops.Sampling", "ops.Sketches", "ops.Lineage",
    "ops.Graph", "queries",
]
BENCH_LAYER = "bench.exec"
OTHER = "other"
ALL_LAYERS = LAYERS + [BENCH_LAYER]
KERNEL_LAYERS = ["ops.Dedup", "ops.ExactJoinState", "ops.Similarity",
                 "ops.Sampling", "ops.Graph"]
WRITER_LAYERS = ["io.LakeZones", "io.ServingSink", "ops.CurateIncremental"]
BASE_FIELDS = ["jobs", "wall_s", "task_s", "planning_s", "shuffle_write_bytes"]
WORKLOAD_FIELDS = ["driver_gap_s", "jobs_total", "gc_s", "jvm.old_gen_after_gc_peak_mb",
                   "state.files_per_bucket", "state.bytes", "lake.files",
                   "trace.overhead_s"]

# Layers each workload must leave idle; checked on every traced run.
PREDICTIONS = {
    "lake_backfill": [f"{layer}.jobs" for layer in (
        "ops.Dedup", "ops.ExactJoinState", "ops.Similarity", "ops.Sampling",
        "ops.Sketches", "ops.Graph")],
    "curate_week": [f"{layer}.jobs" for layer in (
        "Pipeline", "io.LakeZones", "io.ServingSink")],
    "analyst_queries": [f"{layer}.output_bytes" for layer in WRITER_LAYERS],
}

_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(")


def per_layer_names():
    names = []
    for layer in ALL_LAYERS:
        names += [f"{layer}.{f}" for f in BASE_FIELDS]
        if layer in KERNEL_LAYERS:
            names += [f"{layer}.spill_bytes", f"{layer}.task_skew"]
        if layer in WRITER_LAYERS:
            names += [f"{layer}.output_bytes", f"{layer}.output_files"]
    return names + WORKLOAD_FIELDS


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it,
    as (percentile, value); None when fewer than `beyond + 1` samples.
    The value is the order statistic with exactly `beyond` samples
    above it, so the percentile is 100 * (n - beyond) / n."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return 100.0 * (n - beyond) / n, s[n - beyond - 1]


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return max(interval[0], lo), min(interval[1], hi)


def driver_gap(op_interval, job_intervals):
    """Operation wall minus the union of its job intervals: planning, file
    system calls and driver-side collects."""
    lo, hi = op_interval
    return (hi - lo) - union_length([clip(j, lo, hi) for j in job_intervals])


def aliases_of_dropped(aliases, state_ids, n_boot):
    """Planted alias near-dups ([alias id, source id] per delta run) whose
    source is a bootstrap doc (id < `n_boot`) missing from the final
    state: the cases in which the known incremental vs batch difference
    (METRICS.md) can show. A passing `incremental_equals_batch` check
    with a count above 0 exercised them."""
    state = set(state_ids)
    return sum(src < n_boot and src not in state
               for delta in aliases for _, src in delta)


# ------------------------------------------------------------ attribution

def module_of(frame):
    """`graft.io.LakeZones$.exportAll(LakeZones.scala:240)` -> 'io.LakeZones';
    None for frames outside `graft.`."""
    m = _FRAME.match(frame)
    if not m:
        return None
    cls = m.group(1).split("$")[0]
    if not cls.startswith("graft."):
        return None
    return cls[len("graft."):]


def layer_of_module(module):
    best = None
    for layer in LAYERS:
        if module == layer or module.startswith(layer + "."):
            if best is None or len(layer) > len(best):
                best = layer
    return best


def layer_of_site(site):
    """The layer of the first `graft.*` frame that names a layer. Lazy and
    helper modules (sources, staging, marts, functions, plans, Par, ...)
    are skipped so their cost lands on the layer that triggered the
    action. A site with no such frame but a frame of the benchmark itself
    is the benchmark's own action (`bench.exec`); anything else is
    `other`."""
    bench = False
    for line in site.splitlines():
        mod = module_of(line)
        if mod is not None:
            layer = layer_of_module(mod)
            if layer is not None:
                return layer
        elif re.match(r"^\s*(?:at\s+)?perfbench\.", line):
            bench = True
    return BENCH_LAYER if bench else OTHER


def job_layer(job, sites, exec_sites):
    """A job's own call site decides; a job submitted from a thread with no
    program frame (broadcast exchange, subquery pools) falls back to the
    call site of the SQL execution it belongs to."""
    layer = layer_of_site(sites[job["site"]])
    if layer == OTHER and job["exec"] in exec_sites:
        layer = layer_of_site(sites[exec_sites[job["exec"]]])
    return layer


def stage_skew(tasks):
    """Max over median task run time; 1.0 for a stage with one task or an
    all-zero stage."""
    if len(tasks) < 2:
        return 1.0
    med = statistics.median(tasks)
    return max(tasks) / med if med > 0 else 1.0


def layer_metrics(trace, ops):
    """Per-layer figures over the traced operations, as means per
    operation. `ops` are the traced operations (dicts with t0/t1 in epoch
    ms); `trace` is the tracer record."""
    sites = trace["sites"]
    exec_sites = {x["id"]: x["site"] for x in trace["execs"]}
    exec_t0 = {x["id"]: x["t0"] for x in trace["execs"]}
    stages = {s["id"]: s for s in trace["stages"]}
    n = max(len(ops), 1)

    def in_op(t):
        return next((o for o in ops if o["t0"] <= t <= o["t1"]), None)

    acc = {layer: {"jobs": 0, "intervals": {}, "task_ms": 0, "planning_ms": 0.0,
                   "shuffle": 0, "spill": 0, "skew_w": 0.0, "skew_ms": 0,
                   "out_bytes": 0, "out_files": 0}
           for layer in ALL_LAYERS + [OTHER]}
    all_jobs = {}
    seen_stages = set()
    for j in trace["jobs"]:
        op = in_op(j["t0"])
        if op is None:
            continue
        layer = job_layer(j, sites, exec_sites)
        a = acc[layer]
        a["jobs"] += 1
        t1 = j["t1"] if j["t1"] >= j["t0"] else op["t1"]
        a["intervals"].setdefault(id(op), []).append(clip((j["t0"], t1), op["t0"], op["t1"]))
        all_jobs.setdefault(id(op), []).append((j["t0"], t1))
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None or sid in seen_stages or not st["tasks"]:
                continue
            seen_stages.add(sid)
            a["task_ms"] += st["task_ms"]
            a["shuffle"] += st["shuffle_write"]
            a["spill"] += st["spill"]
            a["out_bytes"] += st["out_bytes"]
            a["skew_w"] += stage_skew(st["tasks"]) * st["task_ms"]
            a["skew_ms"] += st["task_ms"]
    for p in trace["planning"]:
        if p["id"] not in exec_sites or in_op(exec_t0[p["id"]]) is None:
            continue
        layer = layer_of_site(sites[exec_sites[p["id"]]])
        acc[layer]["planning_ms"] += p["ms"]
        acc[layer]["out_files"] += p["files"]

    out = {}
    for layer in ALL_LAYERS:
        a = acc[layer]
        wall_ms = sum(union_length(iv) for iv in a["intervals"].values())
        out[f"{layer}.jobs"] = a["jobs"] / n
        out[f"{layer}.wall_s"] = wall_ms / 1000 / n
        out[f"{layer}.task_s"] = a["task_ms"] / 1000 / n
        out[f"{layer}.planning_s"] = a["planning_ms"] / 1000 / n
        out[f"{layer}.shuffle_write_bytes"] = a["shuffle"] / n
        if layer in KERNEL_LAYERS:
            out[f"{layer}.spill_bytes"] = a["spill"] / n
            out[f"{layer}.task_skew"] = a["skew_w"] / a["skew_ms"] if a["skew_ms"] else 1.0
        if layer in WRITER_LAYERS:
            out[f"{layer}.output_bytes"] = a["out_bytes"] / n
            out[f"{layer}.output_files"] = a["out_files"] / n
    gaps = [driver_gap((o["t0"], o["t1"]), all_jobs.get(id(o), [])) for o in ops]
    out["driver_gap_s"] = sum(gaps) / 1000 / n
    out["jobs_total"] = sum(acc[layer]["jobs"] for layer in acc) / n
    other_jobs = acc[OTHER]["jobs"] / n
    return out, other_jobs
