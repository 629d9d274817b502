#!/usr/bin/env python3
"""Pipeline benchmark for graft: one command, two workloads.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft's main
sources plus the benchmark program in pipebench/src (pipebench/build.sh) into
.bench_build/pipebench, generates the seeded inputs (pipebench/gen.py,
cached per seed), runs the workload in one JVM (Spark local[4], four
shuffle partitions, one closed-loop client), checks its outputs against
DuckDB (pipebench/check.py) and prints one JSON result as the last line
of stdout. The line before it carries the workload-specific detail
(read and step medians with their sample counts, holdout RMSE, failure
ratio).

Workloads: weather_pipeline, corpus_curation (see BENCHMARK.json and
pipebench/RATIONALE.md for why each was chosen and what it measures).
With --trace 0 the result holds the end-to-end metrics; with --trace 1
the per-layer metrics, and the spans go to
.bench_build/pipebench/work/<workload>/spans.jsonl.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "pipebench")
# the sf0.1 test tables the inputs derive from (read only)
SF_DIR = os.environ.get("PIPEBENCH_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def spark_home():
    """SPARK_HOME, else the first Spark distribution (a bin/ on PATH with
    a sibling jars/) holding spark-submit."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("no Spark distribution: set SPARK_HOME")


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
DEADLINE_S = 170
WORKLOADS = ["weather_pipeline", "corpus_curation"]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"), ("ops_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]
SPANS = [
    "Analytics.jsonIngest", "Analytics.validateIngest", "Analytics.dedupByKey",
    "TimeSeries.featurePipeline", "TimeSeries.rangeJoin", "GraftApi.qualityReport",
    "Inference.train", "Inference.walkForwardCvMetrics", "ModelRegistry.register",
    "GraftApi.predict",
    "GraftApi.curatePlan", "CorpusCuration.frame", "curate.write",
    "Analytics.loadTimerange", "Analytics.metrics", "Analytics.latestPerKey",
    "Analytics.groupCompare", "Analytics.corrMatrix", "Analytics.pricingSummary",
    "Analytics.topkRevenue", "append",
]
SPAN_METRICS = [("self_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
                ("shuffle_bytes", "bytes")]
CURATE_STAGES = ["strip", "quality", "keep_best", "decontam", "near_dup", "spans",
                 "redact", "sample"]
PER_LAYER = (
    [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS]
    + [("spark.construct_s", "s"), ("spark.plan_s", "s"), ("spark.exec_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"), ("spark.sched_wait_s", "s"),
       ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_bytes", "bytes"),
       ("spark.core_util", "ratio"), ("jvm.gc_s", "s"), ("jvm.jit_s", "s")]
    + [(f"curate.{s}.keep_ratio", "ratio") for s in CURATE_STAGES]
    + [("read.files_scanned", "count"), ("append.quarantined_frac", "ratio"),
       ("ml.holdout_rmse", "rmse"), ("failed_frac", "ratio"),
       ("trace.wall_s", "s"), ("trace.top_self_s", "s"), ("trace.overhead_s", "s")]
)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, deadline, **kw):
    """Run a child to completion (stdout to our stderr), killing it if
    the run's deadline passes; returns its exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, **kw)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"killed at the deadline: {' '.join(cmd[:3])} ...")
        return -9


def build(deadline):
    """Compile unless the stamp matches the current build inputs."""
    inputs = [os.path.join(HERE, "build.sh")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    md = hashlib.sha256()
    for p in sorted(inputs):
        md.update(p.encode())
        with open(p, "rb") as f:
            md.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == md.hexdigest():
                return classes
    os.makedirs(BUILD, exist_ok=True)
    log("building graft + benchmark program")
    if run_child(["bash", os.path.join(HERE, "build.sh"), classes], deadline, cwd=ROOT,
                 env=dict(os.environ, SPARK_HOME=SPARK_HOME)) != 0:
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(md.hexdigest())
    return classes


def load_module(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def end_to_end(r):
    units = [u for u in r["units"] if not u["traced"]]
    busy = sum(u["wall_s"] for u in units)
    return {
        "setup_s": r["setup_s"],
        "wall_s": busy / len(units),
        "rows_per_s": sum(u["rows"] for u in units) / busy,
        "ops_per_s": len(r["ops"]) / busy,
        "peak_rss_mb": r["peak_rss_mb"],
    }


def detail(r):
    """Workload-specific figures, each median with its sample count."""
    out = {"attempted": r["attempted"], "failed": r["failed"],
           "failed_frac": r["failed"] / max(1, r["attempted"])}
    for kind in ("read", "step"):
        lat = [o["s"] for o in r["ops"] if o["kind"] == kind]
        if lat:
            out[f"{kind}_p50_s"] = statistics.median(lat)
            out[f"{kind}_samples"] = len(lat)
    if "ml.holdout_rmse" in r["per_layer"]:
        out["holdout_rmse"] = r["per_layer"]["ml.holdout_rmse"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    oracle_tool = os.path.join(ROOT, "tools", "check_oracle.py")
    if not (os.path.isfile(oracle_tool) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"{ROOT} is not the root of a graft checkout (no src/main/scala or "
                         "tools/check_oracle.py)")
    gen = load_module("pipebench_gen", os.path.join(HERE, "gen.py"))
    check = load_module("pipebench_check", os.path.join(HERE, "check.py"))
    canon = load_module("check_oracle", oracle_tool).canon

    classes = build(time.monotonic() + 720)  # the first run of a checkout builds
    deadline = time.monotonic() + DEADLINE_S
    data = gen.ensure(SF_DIR, os.path.join(BUILD, "data"), args.seed, args.workload)
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed, pre-touched heap: VmHWM then moves with native and
           # off-heap memory, not with how far the collector chose to
           # grow the heap in this run
           + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
              # all scratch inside the checkout: no hsperfdata under /tmp
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
              "-cp", f"{classes}:{SPARK_JARS}/*", "pipebench.Main",
              "--workload", args.workload, "--data", data, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    code = run_child(cmd, deadline)
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with {code}")
    r = check.read_json(os.path.join(work, "result.json"))
    fails = check.check(args.workload, data, work, canon, r["per_layer"].get("ml.holdout_rmse"))
    for f in fails:
        log(f"CHECK FAILED {f}")
    d = detail(r)
    if args.trace:
        got = dict(r["per_layer"], failed_frac=d["failed_frac"])
        metrics = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        e2e = end_to_end(r)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": d}))
    print(json.dumps({"correct": not fails and r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
