#!/usr/bin/env python3
"""The repository's benchmark: three closed-loop workloads over the graft
engine, run from the root of a checkout.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (sbt, first run only),
generates the workload's inputs from the seed, runs one benchmark JVM
with `local[nproc]`, checks every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer split
from the traced run. The full record (fingerprint, generated input
properties, co-tenant load, per-operation times, spans) is written to
perfbench/out/results/. Exits 1 when an output check fails, 2 when the
benchmark cannot run.

`--record 1` (query_mix only) re-records the per-key output digests in
perfbench/expected_digests.json after checking each key's output
against its DuckDB oracle.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
EXPECTED = os.path.join(HERE, "expected_digests.json")
HEAP = "4g"
GEN_REPEATS = 3

# Input sizes per workload, and the seed-independent query_mix tables.
CURATE_DOCS = 3000
CHECK_DOCS = 500
TRAIN_EXAMPLES = 30000
QUERY_MIX_SEED = 42

ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """sha256 over the engine and harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at src/main/scala/graft; run from a checkout root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark 4.1 install")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(OUT, "build.stamp")
    digest = sources_digest()
    if not (os.path.isdir(classes) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, "build.log"), "w") as build_log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.server.forcestart=false", "compile"],
                                cwd=HERE, stdout=build_log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=850).returncode
        if rc != 0:
            die(f"build failed (sbt exit {rc}); see perfbench/out/build.log")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return os.pathsep.join([classes, os.path.join(spark_home, "jars", "*")]), digest


def git_commit():
    """HEAD when the checkout is itself a git work tree, else None (the
    source digest still identifies the code)."""
    try:
        top, head = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                                   capture_output=True, text=True, timeout=10,
                                   check=True).stdout.split()
    except (OSError, ValueError, subprocess.SubprocessError):
        return None
    return head if os.path.realpath(top) == os.path.realpath(ROOT) else None


def tree_digest(d):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, run_dir):
    """Generates the inputs GEN_REPEATS times into fresh directories and
    checks the copies are byte-identical. Returns (median seconds,
    input directory, properties)."""
    def once(d):
        if workload == "curate":
            props = gen.corpus(d, seed, CURATE_DOCS)
            props["check"] = gen.corpus(os.path.join(d, "check"), seed, CHECK_DOCS)
        elif workload == "train_dp":
            props = gen.training(d, seed, TRAIN_EXAMPLES)
        else:
            props = gen.tables(d, QUERY_MIX_SEED)
        return props

    times, digests, props = [], set(), None
    for i in range(GEN_REPEATS):
        d = os.path.join(run_dir, f"input-{i}")
        t0 = time.perf_counter()
        props = once(d)
        times.append(time.perf_counter() - t0)
        digests.add(tree_digest(d))
        if i:
            shutil.rmtree(d)
    if len(digests) != 1:
        die(f"generator is not deterministic for seed {seed}", 1)
    props["input_digest"] = digests.pop()
    return statistics.median(times), os.path.join(run_dir, "input-0"), props


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["curate", "train_dp", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.record and a.workload != "query_mix":
        die("--record applies to query_mix only")

    classpath, src_digest = build()
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        gen_s, data, props = generate(a.workload, a.seed, run_dir)
        log(f"inputs generated ({gen_s:.2f} s median of {GEN_REPEATS})")
        result_file = os.path.join(run_dir, "jvm-result.json")
        spans_file = os.path.join(run_dir, "spans.jsonl")
        check_out = os.path.join(run_dir, "check-out")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, "-XX:+UseG1GC", "-Dspark.callstack.depth=64",
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               f"-Dspark.local.dir={os.path.join(run_dir, 'tmp')}",
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--nproc", str(nproc), "--data", data,
               "--check-data", os.path.join(data, "check"), "--check-out", check_out,
               "--result", result_file, "--spans", spans_file,
               "--expected", EXPECTED, "--record", str(a.record)]
        with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
            try:
                rc = subprocess.run(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=170).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            die(f"benchmark JVM failed ({rc})")
        with open(result_file) as fh:
            res = json.load(fh)
        log(f"benchmark JVM done ({res['attempted']} operations)")

        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload == "curate":
            attempted += 1
            t0 = time.perf_counter()
            err = oracle.compare(os.path.join(data, "check"), check_out,
                                 res["oracle_sql"]["q_llm_pipeline_v2"])
            res["checks"] = {"q_llm_pipeline_v2_oracle": err or "ok"}
            log(f"check corpus compared with its DuckDB oracle ({time.perf_counter() - t0:.1f} s)")
            if err:
                failed += 1
                failures.append(f"check corpus vs DuckDB oracle: {err}")
        if a.record:
            oracle_ok = oracle.record(data, check_out, res, EXPECTED)
            res["checks"] = oracle_ok
        metrics = res["metrics"]
        if not a.trace:
            metrics["setup_s"] += gen_s
        jvm = res["jvm"]
        res["fingerprint"] = {
            "nproc": nproc, "spark_master": jvm["spark_master"],
            "shuffle_partitions": jvm["shuffle_partitions"], "heap": HEAP,
            "max_heap_mb": jvm["max_heap_mb"], "jdk": jvm["jdk"],
            "spark_version": jvm["spark_version"], "git_commit": git_commit(),
            "source_digest": src_digest, "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace,
            "input_sizes": {k: v for k, v in props.items() if k != "check"},
        }
        res.update(attempted=attempted, failed=failed, failures=failures,
                   generated=props, generate_s=gen_s)
        declared = declared_metrics(a.trace)
        missing = sorted(set(declared) - set(metrics))
        if missing:
            die(f"benchmark produced no value for {', '.join(missing)}")
        line = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
        }
        res["metrics"] = line["metrics"]
        res_dir = os.path.join(OUT, "results")
        os.makedirs(res_dir, exist_ok=True)
        stem = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
        shutil.copy(os.path.join(run_dir, "jvm.log"), stem + ".log")
        if a.trace:
            write_spans(spans_file, stem + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def write_spans(src, dst):
    """Copies the JVM's spans, adding each span's self time: its duration
    minus the part of it that its child spans cover."""
    with open(src) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    with open(dst, "w") as fh:
        for sp in spans:
            covered, reach = 0.0, sp["start_ms"]
            for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ms"]):
                lo, hi = max(c["start_ms"], reach), min(c["end_ms"], sp["end_ms"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            sp["self_ms"] = sp["end_ms"] - sp["start_ms"] - covered
            fh.write(json.dumps(sp) + "\n")


def declared_metrics(trace):
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
