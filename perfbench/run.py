#!/usr/bin/env python3
"""Benchmark command: build the program from source, run one workload, check
its outputs and print its metrics.

    python3 perfbench/run.py --workload online_serve --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The program (src/main/scala) and the
harness (perfbench/scala) are compiled together with the Scala compiler
that ships in Spark's jars; the classes are kept under .bench_build and
reused while the sources are unchanged. The last line of standard output is
one JSON object: correct, attempted, failed and metrics. Every workload
reports the same metrics, each with a meaning per workload: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics; a traced run
also writes its spans and every layer number it has under
.bench_build/perfbench/traces. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("online_serve", "batch_train")
RUN_LIMIT_S = 170  # one run, build excluded; the contract allows 180
# the tail percentile of the main operation: on online_serve the highest
# with 10 reads beyond it at the 40 reads (OnlineServe.MinReads) a window
# ends with at least; fixed, not taken from a run's own read count, so that
# programs of different speed are compared at the same point
OP_TAIL_PCT = 75
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# every workload reports every metric; README.md gives each one's meaning
# on each workload
END_TO_END = [("setup_s", "s"), ("ok_ratio", "ratio"), ("op_p50_ms", "ms"),
              ("op_p75_ms", "ms"), ("aux_p50_ms", "ms"), ("rate_per_s", "1/s"),
              ("quality", "ratio")]
PER_LAYER = [("op.jobs", "count"), ("op.tasks", "count"), ("op.shuffle_kb", "KB"),
             ("op.busy_ratio", "ratio"), ("aux.jobs", "count"), ("aux.tasks", "count"),
             ("aux.shuffle_kb", "KB"), ("aux.busy_ratio", "ratio"), ("setup.first_s", "s"),
             ("quality.s", "s"), ("spark.jobs", "count"), ("spark.tasks", "count"),
             ("spark.failed_tasks", "count"), ("spark.gc_s", "s"),
             ("spark.shuffle_mb", "MB"), ("spark.busy_ratio", "ratio"),
             ("trace.overhead_pct", "%")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("Spark jars with the Scala compiler not found; set SPARK_HOME")
    return jars


def build(build_dir, jars):
    """Compile program + harness unless classes for these sources exist."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        die(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    sources = program + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = [glob.glob(os.path.join(jars, f"scala-{part}-2*.jar"))[0]
                for part in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    t0 = time.time()
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(done.stdout[-4000:], file=sys.stderr)
        die("build failed")
    os.rename(tmp, classes)
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(args, classes, jars, work, deadline):
    raw = os.path.join(work, "raw.json")
    # the parallel collector and a fixed heap: under G1 the warm training
    # job varied by ~18 % between runs
    cmd = (["java", *JVM_OPENS, "-XX:+UseParallelGC", "-Xms4g", "-Xmx4g",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            done = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die(f"{args.workload} did not finish within {RUN_LIMIT_S} s")
    if done.returncode != 0 or not os.path.exists(raw):
        with open(log_path) as f:
            tail = [l for l in f if " INFO " not in l][-40:]
        print("".join(tail), file=sys.stderr)
        die(f"{args.workload} failed (exit {done.returncode})")
    with open(raw) as f:
        return json.load(f)


def end_to_end(workload, v, tally):
    """The end-to-end metrics from the raw samples."""
    ops = v["op_ms"]
    m = {"setup_s": stats.median(v["setup_s"]), "ok_ratio": tally.ok_ratio,
         "op_p50_ms": stats.percentile(ops, 50), "op_p75_ms": stats.percentile(ops, OP_TAIL_PCT),
         "aux_p50_ms": stats.median(v["aux_ms"]), "rate_per_s": v["units"] / v["units_s"],
         "quality": v["quality"]}
    beyond = sum(1 for x in ops if x > m["op_p75_ms"])
    print(f"perfbench: {workload} {len(ops)} main operations ({beyond} beyond op_p75_ms), "
          f"{len(v['aux_ms'])} second operations, {v['units']} units")
    return {k: {"value": m[k], "unit": unit} for k, unit in END_TO_END}


def layer_unit(name):
    if name in dict(PER_LAYER):
        return dict(PER_LAYER)[name]
    if "_mb" in name:
        return "MB"
    if name.endswith("_ratio") or name.endswith("_per_rec"):
        return "ratio"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def layers(v):
    """Every dotted (layer.metric) value the traced run reported: the
    per-layer metrics and the workload's own layer detail."""
    return {k: {"value": x, "unit": layer_unit(k)} for k, x in v.items() if "." in k}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)

    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, classes, jars, work, deadline)
        v = raw["values"]
        tally = stats.Tally(raw["attempted"], raw["failed"])
        for e in raw["errors"]:
            print(f"perfbench: FAIL {e}", file=sys.stderr)
        if "quality" not in v:
            die(f"{args.workload} produced no result to measure")

        if args.trace:
            detail = layers(v)
            metrics = {k: {"value": v[k], "unit": unit} for k, unit in PER_LAYER}
            print("perfbench: layer detail " + json.dumps(
                {k: x["value"] for k, x in detail.items()}, sort_keys=True))
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
            shutil.copyfile(os.path.join(work, "raw.json.spans.jsonl"), stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as f:
                json.dump(detail, f, indent=1)
        else:
            metrics = end_to_end(args.workload, v, tally)
        print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace}")
        print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
