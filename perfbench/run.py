"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  Prints human-readable
lines (corpus stats, each metric with its unit and sample count, the
correctness verdict) and, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics.
Everything the run writes stays under ``.bench_work/`` (removed at exit)
and ``.bench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["serve", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for selftest.py only")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package from it."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # for every JVM, the spark-submit launcher included: no perf-data file
    # under /tmp, and temporary files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cores: int, traced: bool):
    from mini_search_engine_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # ingest's reader and writer threads each get a pool, so that a
            # query's jobs share the cores with a running commit or merge
            # instead of queueing behind it
            "spark.scheduler.mode": "FAIR",
            # the event log is read back by traced runs only
            "spark.eventLog.enabled": "true" if traced else "false",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mini_search_engine_spark", "__init__.py")):
        print("perfbench: run from a checkout that contains mini_search_engine_spark/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    from tracing import RssSampler, Tracer, read_event_log, self_times

    import layers
    import workloads

    if args.smoke:
        workloads.SERVE_DOCS, workloads.INGEST_DOCS = 300, 100

    rss = RssSampler(os.getpid()).start()
    t0 = time.perf_counter()
    spark = start_spark(work, nproc(), bool(args.trace))
    session_s = time.perf_counter() - t0
    status: dict = {}
    try:
        tracer = Tracer(spark, bool(args.trace))
        workloads.instrument(tracer)
        run = workloads.Run(spark, tracer, rss, work, args.seed, args.seconds, nproc())
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            for sp in tracer.spans:
                status[sp["group"]] = tracer.group_counts(sp["group"])
            status[layers.MEMO_FILL_GROUP] = tracer.group_counts(layers.MEMO_FILL_GROUP)
    finally:
        stop_spark(spark)
        rss.stop()

    if args.trace:
        events = read_event_log(os.path.join(work, "events"))
        values, counts = layers.per_layer(run, tracer.spans, status, events)
        spec = layers.PER_LAYER
        span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(span_file)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(span_file, ROOT)}")
        own = self_times(tracer.spans)
        for layer in sorted({sp["layer"] for sp in tracer.spans}):
            sps = [sp for sp in tracer.spans if sp["layer"] == layer]
            print(f"self_time {layer} = {sum(own[sp['id']] for sp in sps):.4f} s  (spans={len(sps)})")
    else:
        values, counts = layers.end_to_end(run)
        spec = layers.END_TO_END

    print(f"workload: {args.workload}  seed: {args.seed}  cores: {nproc()}  session_start_s: {session_s:.3f}")
    print("stats: " + "  ".join(f"{k}={fmt(v)}" for k, v in sorted(run.info.items())))
    for name, xs in sorted(run.samples.items()):
        print(f"samples {name}: n={len(xs)} " + " ".join(fmt(round(x, 4)) for x in xs[:12]))
    metrics = {}
    for name, unit in spec:
        metrics[name] = {"value": values[name], "unit": unit}
        print(f"metric {name} = {fmt(values[name])} {unit}  (n={counts.get(name, 0)})")
    for name in sorted(set(values) - set(metrics)):
        print(f"latency {name} = {fmt(values[name])} ms  (n={counts[name]})")
    rate = run.failed / run.attempted if run.attempted else 1.0
    print(f"error_rate = {rate:.6g} ratio  (failed {run.failed} of {run.attempted} ops and checks)")
    for e in run.errors:
        print(f"error: {e}")
    correct = run.failed == 0 and run.attempted > 0
    print("correct: " + ("yes" if correct else "NO"))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
