#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark runner from source (`perfbench/build.sbt`); later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed (`gen.py`), the JVM runner (`src/main/scala/perfbench`)
runs the workload through the program's public entry points, and the
output checks run after the timed loop. The last stdout line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`, see METRICS.md). The line before it is the run record:
seed, planted shares, cores, versions, testdata digest, check results.

Cores: `SPARK_GRAFT_CPUS`, the setting the catalog bench reads (default
min(4, nproc)); a value that is not an integer in 1..nproc is refused.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("lake_backfill", "curate_week", "analyst_queries")
# analyst mix: relational, set-similarity, graph; none needs a fixture
# or state directory
QUERIES = ["q105_star_revenue", "q20_minhash_lsh", "q125_pagerank"]
QUERY_SF = 0.01
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


_children = []


def _terminate(signum, _frame):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def spawn(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group and waits for
    it on timeout or when this process is told to stop. None on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def cores():
    n = os.cpu_count() or 1
    raw = os.environ.get("SPARK_GRAFT_CPUS", str(min(4, n)))
    try:
        c = int(raw)
    except ValueError:
        fail(f"SPARK_GRAFT_CPUS={raw!r} is not an integer")
    if not 1 <= c <= n:
        fail(f"SPARK_GRAFT_CPUS={c} outside 1..{n} (nproc)")
    return c


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest, False
    log("building program + benchmark runner (sbt package)")
    t0 = time.time()
    # class archives of the previous build no longer match the jar
    target = os.path.dirname(JAR)
    for f in os.listdir(target) if os.path.isdir(target) else ():
        if ".jsa" in f:
            os.remove(os.path.join(target, f))
    # build.sbt compiles against $SPARK_HOME/jars: pass the distribution
    # found here, however it was found
    rc = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], BUILD_TIMEOUT_S,
               cwd=HERE, env={**os.environ, "SPARK_HOME": os.path.dirname(jars)})
    if rc != 0 or not os.path.exists(JAR):
        fail(f"build failed (rc={rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return digest, True


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def data_fingerprint(d):
    """md5 over each input file's name, length and first/last 4 KiB, the
    catalog bench's testdata digest, extended to nested raw zones."""
    md = hashlib.md5()
    files = sorted(os.path.relpath(os.path.join(r, f), d)
                   for r, _, fs in os.walk(d) for f in fs)
    for f in files:
        p = os.path.join(d, f)
        n = os.path.getsize(p)
        md.update(f.encode())
        md.update(str(n).encode())
        with open(p, "rb") as fh:
            md.update(fh.read(4096))
            if n > 4096:
                fh.seek(max(0, n - 4096))
                md.update(fh.read(4096))
    return md.hexdigest()


def du(path):
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


# ----------------------------------------------------------- generators

def generate(workload, inputs, seed, seconds):
    """Writes the workload's inputs under `inputs`; returns what it planted."""
    # sized by what the runner can consume: one warm-up day, then a day
    # or a daily takes several seconds even on an idle 4-core host
    if workload == "lake_backfill":
        days = 3 + int(seconds) // 2
        g = gen.lake_raw(os.path.join(inputs, "raw"), seed, days)
        with open(os.path.join(inputs, "dates.txt"), "w") as f:
            f.write("\n".join(g["dates"]) + "\n")
        return g
    if workload == "curate_week":
        n_deltas = 1 + int(seconds) // 5
        g = gen.curate_inputs(inputs, seed, n_boot=300, n_deltas=n_deltas, delta_fresh=60)
        with open(os.path.join(inputs, "delta_sizes.txt"), "w") as f:
            f.write("\n".join(str(x) for x in g["delta_docs"]) + "\n")
        return g
    g = gen.catalog_tables(inputs, seed, QUERY_SF)
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    with open(os.path.join(inputs, "queries.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
    g["order"] = order
    return g


# --------------------------------------------------------------- checks

def oracle_check(inputs, results, sql):
    """Spark result vs DuckDB over the same parquet tables, compared as
    the catalog's oracle gate does: columns sorted by name, cells in a
    canonical string form, rows in result order."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)

        def cell(v):
            if v is None or v != v:
                return "<null>"
            if isinstance(v, float):
                return repr(v)
            if isinstance(v, pd.Timestamp) and v.time() == pd.Timestamp(0).time():
                return v.date().isoformat()
            return str(v)
        return df.map(cell).reset_index(drop=True)

    con = duckdb.connect()
    for f in os.listdir(inputs):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{inputs}/{f}'")
    want = norm(con.execute(sql).fetchdf())
    files = sorted(os.path.join(results, f) for f in os.listdir(results) if f.endswith(".parquet"))
    got = norm(pd.concat([pd.read_parquet(f) for f in files]))
    if list(want.columns) != list(got.columns):
        return False, f"columns {list(want.columns)} vs {list(got.columns)}"
    if len(want) != len(got):
        return False, f"rows {len(want)} vs {len(got)}"
    if not want.equals(got):
        return False, "values differ"
    return True, f"{len(want)} rows"


def run_checks(workload, rec, planted, inputs):
    """(name, ok, detail) for every output check of the run."""
    out = []
    for c in rec["checks"]:
        if workload == "analyst_queries" and c["ok"]:
            q = c["name"].split(":", 1)[1]
            try:
                ok, detail = oracle_check(inputs, os.path.join(rec["work"], "results", q),
                                          c["detail"])
            except Exception as e:  # a failed oracle run is a failed check
                ok, detail = False, str(e)[:200]
            out.append((c["name"], ok, detail))
        elif workload == "lake_backfill" and c["name"] == "kpi_rows" and c["ok"]:
            # the warm-up days land in the same lake as the timed ones
            run = planted["dates"][:rec["extra"]["first_day"]] +                 [o["name"] for o in rec["ops"] if o["ok"]]
            want = [[d] + planted["expected_kpi"][d] for d in run]
            out.append(("kpi_rows", c["detail"] == want,
                        f"{len(c['detail'])} rows vs {len(want)} expected"))
            kpi = os.path.join(rec["extra"]["lake_dir"], "lake", "usage", "kpi_daily")
            parts = [p for p in os.listdir(kpi) if p.startswith("snapshot_date=")]
            out.append(("day_partitions", len(parts) == len(run),
                        f"{len(parts)} partitions for {len(run)} days"))
        else:
            out.append((c["name"], c["ok"], json.dumps(c["detail"])[:200]))
    return out


# -------------------------------------------------------------- metrics

def end_to_end(workload, rec, planted, setup_s):
    """End-to-end metrics plus, for the query mix, the geometric mean of
    per-query medians (credits a gain on short queries the pass sum hides)."""
    ops = [o for o in rec["ops"] if o["ok"]]
    extra = {}
    if workload == "analyst_queries":
        n_q = len(QUERIES)
        passes = [rec["ops"][i:i + n_q] for i in range(0, len(rec["ops"]), n_q)]
        op_walls = [sum(o["wall_s"] for o in p) for p in passes
                    if len(p) == n_q and all(o["ok"] for o in p)]
        by_q = {}
        for o in ops:
            by_q.setdefault(o["name"].split("/", 1)[1], []).append(o["wall_s"])
        extra["query_geomean_s"] = M.geomean([M.median(v) for v in by_q.values()])
        persisted, ingested = 0, sum(
            os.path.getsize(os.path.join(rec["inputs"], f))
            for f in os.listdir(rec["inputs"]) if f.endswith(".parquet"))
    else:
        op_walls = [o["wall_s"] for o in ops]
        if workload == "lake_backfill":
            days = rec["extra"]["first_day"] + rec["extra"]["days_run"]
            ingested = sum(planted["day_bytes"][:days])
            lake = rec["extra"]["lake_dir"]
            persisted = du(os.path.join(lake, "lake"))[0] + du(os.path.join(lake, "serving"))[0]
        else:
            k = rec["extra"]["deltas_run"]
            ingested = sum(planted["text_bytes"][:k + 1])
            persisted = du(rec["extra"]["state_dir"])[0]
    return {
        "setup_s": setup_s,
        "op_s.p50": M.median(op_walls),
        "items_per_s": sum(o["items"] for o in ops) / sum(o["wall_s"] for o in ops),
        "space_amp": (ingested + persisted) / ingested,
    }, extra


def per_layer(workload, rec):
    ops = rec["ops"]
    out, other = M.layer_metrics(rec["trace"], ops)
    n = max(len(ops), 1)
    out["gc_s"] = sum(o["gc_ms"] for o in ops) / 1000 / n
    out["jvm.old_gen_after_gc_peak_mb"] = max([o["old_gen_mb"] for o in ops] or [0.0])
    curate, lake = workload == "curate_week", workload == "lake_backfill"
    out["state.files_per_bucket"] = rec["extra"]["state_files_per_bucket"] if curate else 0.0
    out["state.bytes"] = du(rec["extra"]["state_dir"])[0] if curate else 0
    out["lake.files"] = sum(du(os.path.join(rec["extra"]["lake_dir"], d))[1]
                            for d in ("lake", "serving")) if lake else 0
    out["trace.overhead_s"] = sum(o["trace_s"] for o in ops) / n
    held = {m: out[m] == 0 for m in M.PREDICTIONS[workload]}
    return out, other, held


# ----------------------------------------------------------------- main

def run_jvm(workload, inputs, work, seconds, trace, ncores, seed, jars, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run after a build archives the classes
    # it loaded; every later run maps the archive instead of loading ~20k
    # classes from jars (about 9 s less set-up on a 4-core host). Writing
    # an archive costs ~30 s once, so all workloads share one; the
    # classes a workload loads beyond it come from the jars as before.
    archive = os.path.join(os.path.dirname(JAR), "classes.jsa")
    fresh = None
    if os.path.exists(archive):
        cds = [f"-XX:SharedArchiveFile={archive}"]
    else:
        fresh = f"{archive}.{os.getpid()}"
        cds = [f"-XX:ArchiveClassesAtExit={fresh}"]
    cmd = [java, "-Xmx3g", *cds, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-cp", f"{JAR}{os.pathsep}{jars}/*", "perfbench.Runner",
           workload, inputs, work, str(seconds), str(trace), str(ncores),
           str(seed)]
    t0 = time.time()
    rc = spawn(cmd, deadline - time.time(), cwd=work)
    log(f"workload JVM ran {time.time() - t0:.1f}s")
    if fresh and os.path.exists(fresh):
        if rc == 0:
            os.replace(fresh, archive)
        else:
            os.remove(fresh)
    if rc is None:
        fail("workload exceeded the run deadline")
    if rc != 0:
        fail(f"workload JVM exited with {rc}")
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    rec["class_archive"] = "written" if fresh else "used"
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    start = time.time()
    ncores = cores()
    jars = spark_jars()
    digest, built = build(jars)
    # a run that had to build may take up to 900 s in all
    deadline = start + (880 if built else DEADLINE_S)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        planted = generate(a.workload, inputs, a.seed, a.seconds)
        gen_s = time.perf_counter() - t0
        rec = run_jvm(a.workload, inputs, work, a.seconds, a.trace, ncores, a.seed, jars,
                      deadline)
        rec["work"], rec["inputs"] = work, inputs
        setup_s = gen_s + rec["session_s"] + rec["bootstrap_s"] + rec["warmup_s"]
        t0 = time.time()
        checks = run_checks(a.workload, rec, planted, inputs)
        log(f"checks {time.time() - t0:.1f}s, JVM-side checks "
            f"{sum(c['s'] for c in rec['checks']):.1f}s")
        failed = sum(not o["ok"] for o in rec["ops"]) + sum(not c[1] for c in checks)
        attempted = len(rec["ops"]) + len(checks)
        other_jobs = predictions = None
        extra = {}
        if a.trace:
            values, other_jobs, predictions = per_layer(a.workload, rec)
        else:
            values, extra = end_to_end(a.workload, rec, planted, setup_s)
            values["ok_ratio"] = 1 - failed / attempted
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": ncores, "default_parallelism": rec["default_parallelism"],
            "spark": rec["spark_version"], "jvm": rec["jvm_version"],
            "commit": git_commit(), "sources": digest[:16],
            "class_archive": rec["class_archive"],
            "data": data_fingerprint(inputs),
            "planted": {k: v for k, v in planted.items()
                        if k in ("shares", "sf", "documents", "lineitem", "bootstrap_docs",
                                 "order")},
            "op_walls_s": {o["name"]: round(o["wall_s"], 3) for o in rec["ops"]},
            "setup": {"gen_s": gen_s, "session_s": rec["session_s"],
                      "bootstrap_s": rec["bootstrap_s"], "warmup_s": rec["warmup_s"]},
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
            "errors": [o["err"] for o in rec["ops"] if not o["ok"]][:5],
            "other_jobs_per_op": other_jobs,
            "zero_work_predictions_held": predictions,
            **extra,
        }
        if a.workload == "curate_week":
            record["aliases_of_dropped_bootstrap_docs"] = M.aliases_of_dropped(
                planted["aliases"][:rec["extra"]["deltas_run"]], rec["extra"]["state_ids"],
                planted["bootstrap_docs"])
        if not a.trace:
            walls = [o["wall_s"] for o in rec["ops"] if o["ok"]]
            t = M.tail(walls)
            record["op_tail"] = {"n": len(walls), "percentile": t[0], "value_s": t[1]} \
                if t else {"n": len(walls), "percentile": None}
        print(json.dumps(record))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in wanted}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
