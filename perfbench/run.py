"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_serve_mutate --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed``, drives ``vectorchord_spark`` in a closed
loop with one client for ``--seconds``, checks every op against the
benchmark's own oracle and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans and every per-op layer figure are written to
``.bench_work/traces/``. A ``report`` line before it carries the named
per-op figures, the input digest and the host context.

Scratch files go under ``.bench_work/`` in the checkout and are removed at
exit, apart from trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ann_serve_mutate", "curate_corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vectorchord_spark", "__init__.py")):
        print(f"vectorchord_spark not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    traces = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    # the benchmark may write only inside its checkout, so every scratch
    # file of the driver, the JVM and the Python workers goes there. This
    # is the one departure from get_spark()'s defaults: Spark's shuffle and
    # spill scratch lands on the checkout's disk, not on /dev/shm.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # the JVM that spark-submit starts to build the driver's command line;
    # no hsperfdata file, which HotSpot writes to /tmp whatever tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        return _run(args, work, traces)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, traces: str) -> int:
    import host
    import workloads

    make_inputs, body = workloads.WORKLOADS[args.workload]
    os.sync()  # write back what an earlier run left dirty before measuring
    ticks = host.cpu_ticks()
    canary_before = host.canary()
    inputs = make_inputs(args.seed)

    import vectorchord_spark
    from vectorchord_spark import get_spark

    pkg = os.path.dirname(os.path.abspath(vectorchord_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        print(f"imported vectorchord_spark from {pkg}, not {ROOT}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = workloads.Run(spark, work, args.seconds, bool(args.trace))
        run.layers["session.start_ms"] = (time.perf_counter() - t0) * 1e3
        stamp = host.stamp(spark)
        jvm = host.jvm_pid(spark)
        body(run, args.seed, inputs)
        peak = host.peak_rss_mb(jvm)
        e2e = workloads.end_to_end(run, host.retained_mb(spark))
        stamp["canary_sorts_per_s"] = [canary_before, host.canary()]
        stamp["cpu_steal_frac"] = host.steal_frac(ticks, host.cpu_ticks())

        report = {
            "workload": args.workload,
            "seed": args.seed,
            "input_digest": inputs["digest"],
            "host": stamp,
            "setup_reps_s": run.setup_reps,
            "params": run.extra,
            "ops": run.log.summary(),
            "warmup_ops": run.warm.summary(),
            "named": {**workloads.named_metrics(run), "peak_rss_mb": peak},
            "failures": (run.warm.failures + run.log.failures
                         + run.log_traced.failures)[:20],
            "layers": dict(run.layers),
        }
        metrics = e2e
        if args.trace:
            metrics = workloads.per_layer(run)
            report["trace_overhead"] = workloads.trace_overhead(run)
            report["layers"] = {**run.tracer.layer_medians(), **run.layers}
            path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            run.tracer.write(path, {"report": report})
            report["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        host.stop_spark(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    attempted, failed = run.counts()
    print("report " + json.dumps(report, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
