#!/usr/bin/env python3
"""Same-box benchmark of graft: csv_etl, sql_analytics and llm_pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark
with sbt (offline) and caches the classpath in .bench_build/. Every run
then starts one JVM (perfbench.Main) under local[N], N = the CPUs this
process may use, in a private scratch directory under .bench_build/runs/
that is deleted at exit. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it, `REPORT {...}`, holds every
metric of the workload by name and unit, plus the run's environment.
See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("csv_etl", "sql_analytics", "llm_pipeline")
DATA = {False: "sf0.01", True: "sf0.001"}  # smoke -> dataset
HEAP = "3g"
MIN_FREE_SCRATCH_GB = 2.0
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_LIMIT_S = 880    # ... or 900 s when it also builds

# Spark on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions), the same list the program's build passes to its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_geomean_ms", "ms")]
PER_LAYER = [
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.input_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.peak_exec_mb", "MB"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.core_util", "ratio"), ("driver.self_s", "s"),
    ("trace_overhead", "ratio"),
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark once per source state; return
    (classpath, seconds spent building)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(2, "program sources not found next to perfbench/ (need build.sbt "
               "and src/main/scala/graft at the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    digest = source_digest()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == digest:
                    with open(cp_file) as g:
                        return g.read().strip(), 0.0
        t0 = time.monotonic()
        env = dict(os.environ, COURSIER_MODE="offline")
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
               f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"]
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                                    stderr=subprocess.STDOUT,
                                    timeout=BUILD_LIMIT_S - 120).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        with open(log) as f:
            lines = [l.strip() for l in f]
        cps = [l for l in lines if ".jar" in l and not l.startswith("[")
               and "perfbench" in l]
        if rc != 0 or not cps:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            die(2, f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
        with open(cp_file, "w") as f:
            f.write(cps[-1] + "\n")
        with open(stamp_file, "w") as f:
            f.write(digest + "\n")
        return cps[-1], time.monotonic() - t0


def commit_id():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if os.path.exists(head) and out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + source_digest()[:16]


def run_jvm(args, cp, run_dir, deadline):
    """Start perfbench.Main, wait for it (killing it at the deadline) and
    return its report dict, or None."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    data = os.path.join(HERE, "data", DATA[args.smoke])
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
              "-Duser.language=en", "-Duser.country=US",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--scratch", run_dir, "--data", data,
              "--trace-out", os.path.join(
                  traces, f"{args.workload}-seed{args.seed}.json")])
    if args.workload != "csv_etl":
        if args.pin:
            cmd += ["--pin", os.path.abspath(args.pin)]
        else:
            cmd += ["--expected", os.path.join(HERE, "expected", DATA[args.smoke] + ".txt")]
    if args.smoke:
        cmd += ["--smoke"]
    log_path = os.path.join(BUILD, f"last-{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            out = None
            print("perfbench: run exceeded its time limit; stopping the JVM",
                  file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
    reports = [l[len("PERFBENCH_REPORT "):] for l in (out or "").splitlines()
               if l.startswith("PERFBENCH_REPORT ")]
    if proc.returncode != 0 or not reports:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    rep = json.loads(reports[-1])
    rep["cpus_used"] = cpus
    return rep


def quantile(xs, pct):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def tail(xs):
    """Highest whole percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return None
    pct = int(100 * (1 - 10 / n))
    return pct, quantile(xs, pct)


def metrics(rep):
    """Every metric of the run: (end_to_end, per_layer, report) dicts of
    name -> (value, unit)."""
    passes = rep["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    samples = [o["s"] for p in plain for o in p["ops"]]
    med = statistics.median
    m = {
        "setup_s": (med(rep["setup_s"]), "s"),
        "pass_s": (med(p["s"] for p in plain), "s"),
        "op_geomean_ms": (math.exp(statistics.fmean(math.log(x) for x in samples)) * 1e3, "ms"),
    }

    def op_median(name):
        return med(o["s"] for p in plain for o in p["ops"] if o["op"] == name)

    def layer_sums(ps):
        out = {}
        for p in ps:
            sums = {}
            for o in p["ops"]:
                sums[o["layer"]] = sums.get(o["layer"], 0.0) + o["s"]
            for k, v in sums.items():
                out.setdefault(k, []).append(v)
        return {k: med(v) for k, v in out.items()}

    w = rep["workload"]
    sz = rep["sizes"]
    r = {"setup_s": m["setup_s"], "setup_cold_s": (rep["setup_s"][0], "s"),
         "peak_rss_mb": (rep["peak_rss_kb"] / 1024.0, "MB"),
         "failed_ops_frac": (rep["failed"] / max(1, rep["attempted"]), "ratio")}
    t = tail(samples)
    r["op_latency"] = {"p50_s": med(samples), "p90_s": quantile(samples, 90),
                       "tail_pct": t and t[0], "tail_s": t and t[1],
                       "samples": len(samples)}
    if w == "csv_etl":
        r["csv_read_mbps"] = (sz["typed_bytes"] / 1e6 / op_median("read"), "MB/s")
        r["csv_quoted_mbps"] = (sz["quoted_bytes"] / 1e6 / op_median("read_quoted"), "MB/s")
        r["csv_write_mbps"] = (med(o["bytes"] / o["s"] for p in plain for o in p["ops"]
                                   if o["op"] == "write") / 1e6, "MB/s")
        r["csv_pass_s"] = m["pass_s"]
    elif w == "sql_analytics":
        r["sql_pass_s"] = m["pass_s"]
        r["sql_query_p50_s"] = (med(samples), "s")
        r["sql_query_p90_s"] = (quantile(samples, 90), "s")
    else:
        r["llm_pass_s"] = m["pass_s"]
        r["llm_query_p90_s"] = (quantile(samples, 90), "s")
        r["ingest_build_s"] = (rep["build_s"], "s")
        r["ingest_serve_s"] = (med(sum(o["s"] for o in p["ops"]
                                       if o["layer"].startswith("stores."))
                                   for p in plain), "s")
        r["store_mb"] = (rep["store_bytes"] / 1e6, "MB")
    layers = {k: (v, "s") for k, v in sorted(layer_sums(plain).items())}
    for o in rep["build"]:
        layers[o["layer"]] = (layers.get(o["layer"], (0.0,))[0] + o["s"], "s")
    r["layers"] = layers
    r["ops"] = {name: med(o["s"] for p in plain for o in p["ops"] if o["op"] == name)
                for name in dict.fromkeys(o["op"] for p in plain for o in p["ops"])}
    r["build_ops"] = {o["op"]: o["s"] for o in rep["build"]}

    layer = {}
    if traced:
        def per_pass(key, scale=1.0, agg=sum):
            return med(agg(o[key] for o in p["ops"]) * scale for p in traced)
        ops = [o for p in traced for o in p["ops"]]
        layer = {
            "spark.task_run_s": (per_pass("task_run_s"), "s"),
            "spark.task_cpu_s": (per_pass("task_cpu_s"), "s"),
            "spark.gc_s": (per_pass("gc_s"), "s"),
            "spark.input_mb": (per_pass("input_b", 1e-6), "MB"),
            "spark.shuffle_read_mb": (per_pass("shuffle_read_b", 1e-6), "MB"),
            "spark.shuffle_write_mb": (per_pass("shuffle_write_b", 1e-6), "MB"),
            "spark.peak_exec_mb": (per_pass("peak_exec_b", 1e-6, max), "MB"),
            "spark.jobs": (per_pass("jobs"), "count"),
            "spark.tasks": (per_pass("tasks"), "count"),
            "spark.core_util": (sum(o["task_run_s"] for o in ops)
                                / (sum(o["wall_s"] for o in ops) * rep["cpus"]), "ratio"),
            "driver.self_s": (per_pass("self_s"), "s"),
            "trace_overhead": (med(p["s"] for p in traced) / m["pass_s"][0], "ratio"),
        }
        r["spark.spill_mb"] = (per_pass("spill_b", 1e-6), "MB")
        r["trace_identity_max_err_s"] = max(
            abs(o["self_s"] + o["job_s"] - o["wall_s"]) for o in ops)
        r["ops_traced"] = {
            name: {"wall_s": med(o["wall_s"] for o in ops if o["op"] == name),
                   "job_s": med(o["job_s"] for o in ops if o["op"] == name),
                   "self_s": med(o["self_s"] for o in ops if o["op"] == name)}
            for name in dict.fromkeys(o["op"] for o in ops)}
    return m, layer, r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, small CSVs), one pass")
    ap.add_argument("--pin", metavar="FILE",
                    help="write the output fingerprints to FILE instead of "
                         "checking them (sql_analytics, llm_pipeline)")
    args = ap.parse_args()
    t_start = time.monotonic()

    cp, build_s = build()
    deadline = t_start + (BUILD_LIMIT_S if build_s > 0 else RUN_LIMIT_S)
    free_gb = shutil.disk_usage(ROOT).free / 2**30
    if free_gb < MIN_FREE_SCRATCH_GB:
        die(3, f"only {free_gb:.1f} GB free for scratch under {ROOT}; "
               f"need {MIN_FREE_SCRATCH_GB} GB")
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rep = run_jvm(args, cp, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rep is None:
        die(1, "the benchmark JVM failed; no result")

    e2e, layer, report = metrics(rep)
    report["env"] = {"nproc": rep["cpus_used"], "heap_mb": rep["heap_mb"],
                     "seed": args.seed, "commit": commit_id(),
                     "free_scratch_gb": round(free_gb, 1), "build_s": build_s,
                     "passes": len([p for p in rep["passes"] if not p["traced"]]),
                     "traced_passes": len([p for p in rep["passes"] if p["traced"]]),
                     "check_s": rep["check_s"]}
    report["failures"] = rep["failures"]
    for k, v in report.items():
        if isinstance(v, tuple):
            print(f"{rep['workload']:>14} {k:<28} {v[0]:.6g} {v[1]}")
    print("REPORT " + json.dumps(report, sort_keys=False))

    chosen, spec = (layer, PER_LAYER) if args.trace else (e2e, E2E)
    out = {n: {"value": chosen[n][0], "unit": u} for n, u in spec}
    print(json.dumps({"correct": rep["failed"] == 0, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
