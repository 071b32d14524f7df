"""Seeded workload benchmark for the document pipeline.

Run from the root of a checkout::

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

It generates the inputs for ``--seed`` under ``.perfbench_work/``,
starts one Spark driver (``local[<nproc>]``) through the package's own
``get_spark``, checks every op of the workload once against its DuckDB
oracle or invariants (untimed) in a first, cold pass, then runs timed
passes of the workload for ``--seconds`` seconds and at least three
passes.  The last stdout line is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (Spark counters per
operator module, read per op through job groups) with ``--trace 1``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    RssSampler,
    SparkCounters,
    Tracer,
    layer_totals,
    median,
    op_failures,
    per_layer_metric_names,
    percentile,
    run_pass,
    tail_percentile,
)
from workloads import WORKLOADS, Checker  # noqa: E402

# What the benchmark needs from the program under test.
PROGRAM_FILES = (
    "nlp_data_pipeline_spark/__init__.py",
    "nlp_data_pipeline_spark/session.py",
    "__spark_entry__.py",
    "tools/check_oracle.py",
)

# Timed passes per run, however short --seconds is.
MIN_PASSES = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "ok_frac": "ratio",
    "match_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Seeded workload benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark and the program write under ``work`` and let
    Python workers import the package the way an installed one would be."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args: argparse.Namespace, work: str, data: str) -> dict:
    # ---- set-up: import the program, start and warm the session ----
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    import nlp_data_pipeline_spark  # noqa: F401  (the checkout's copy wins)
    from nlp_data_pipeline_spark.session import get_spark

    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import compare
    from nlp_data_pipeline_spark.sources.catalog import TABLE_NAMES

    fns = entry.queries()
    oracles = entry.oracle_sql()
    spark = get_spark("perfbench")
    try:
        checker = Checker(data, TABLE_NAMES, oracles, compare)
        return run_workload(args, spark, t_setup, work, data, fns, checker)
    finally:
        stop_spark(spark)


def run_workload(args, spark, t_setup, work, data, fns, checker) -> dict:
    spark.sparkContext.setLogLevel("ERROR")
    scan = spark.read.parquet(os.path.join(data, "documents.parquet"))
    scan.write.format("noop").mode("overwrite").save()
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores).mapInPandas(lambda it: it, "id long").count()
    setup_s = time.perf_counter() - t_setup
    log(f"set-up {setup_s:.2f}s on local[{cores}]")

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    ops = [(name, fns[name]) for name in WORKLOADS[args.workload].ops]
    mismatched = 0

    def check(name: str, df) -> None:
        """Untimed: compare the op's output with its oracle or invariants."""
        nonlocal mismatched
        try:
            issues = ["the op raised"] if df is None else checker.check(name, df)
        except Exception as ex:
            issues = [f"check raised {type(ex).__name__}: {str(ex).splitlines()[0][:200]}"]
        mismatched += bool(issues)
        print(f"check {'PASS' if not issues else 'FAIL'} {name}", flush=True)
        for issue in issues[:5]:
            print(f"    {issue}", flush=True)

    from nlp_data_pipeline_spark.operators import nlp_model

    tracer = Tracer() if args.trace else None
    counters = SparkCounters(spark) if args.trace else None
    pass_dirs = 0

    def one_pass(label: str, **kw):
        # Untimed: inputs under a new path and no fitted model or cached
        # frame left from an earlier pass.
        nonlocal pass_dirs
        pass_dirs += 1
        sf_dir = os.path.join(work, f"pass{pass_dirs}")
        shutil.copytree(data, sf_dir)
        nlp_model.reset_fit_cache()
        spark.catalog.clearCache()
        result = run_pass(ops, call=lambda fn: fn(spark, sf_dir), force=force,
                          label=f"{args.workload}.{label}", **kw)
        log(f"{label}: {result.wall_s:.2f}s")
        for op in result.ops:
            log(f"  {op.name} ({op.layer}): build {op.build_s:.3f}s force {op.force_s:.3f}s")
        return result

    # Pass 1 is cold: every op's output is checked right after the op,
    # outside its timings, and the pass warms code generation, the JIT
    # and the Python workers.  The timed passes follow, for --seconds
    # and at least MIN_PASSES of them; pass_s is their median.
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid) if args.trace else None
    with sampler or contextlib.nullcontext():
        cold = one_pass("pass1", after_op=check, tracer=tracer, counters=counters)
        passes = []
        t_meas = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_meas < args.seconds:
            passes.append(one_pass(f"pass{len(passes) + 2}", tracer=tracer, counters=counters))
    checker.close()

    attempted, failed = op_failures([cold, *passes])
    for op in (op for p in (cold, *passes) for op in p.ops if op.error):
        log(f"op {op.name} raised {op.error}")
    latencies = [op.latency_s for p in passes for op in p.ops]
    tail = tail_percentile(len(latencies))
    log(
        f"{len(passes)} timed passes, {len(latencies)} op latencies: "
        f"p50 {median(latencies):.3f}s, p{tail:.0f} {percentile(latencies, tail):.3f}s"
    )

    if args.trace:
        values = layer_totals(passes, cores)
        values["bench.peak_rss_mb"] = sampler.peak / 2**20
        units = per_layer_metric_names()
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.as_json(), "per_layer": values}, f)
        log(f"spans and counters written to {path}")
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": median([p.wall_s for p in passes]),
            "ok_frac": 1.0 - failed / attempted,
            "match_frac": 1.0 - mismatched / len(ops),
        }
        units = END_TO_END_UNITS
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    return {
        "correct": mismatched == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"the program is not in this checkout (missing {', '.join(missing)})")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(work)
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed), "--out", data],
            check=True, stdout=subprocess.DEVNULL,
        )
        isolate(work)
        result = measure(args, work, data)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
