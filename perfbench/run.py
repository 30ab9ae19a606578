"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build-zipf --seed 1 --seconds 12 --trace 0

Prints a human-readable report, then, as the last line of standard output,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also writes a Spark event log and spans, and the metrics are the
per-layer ones. Scratch files go under ``.perfbench_work/`` in the
checkout and are removed at exit, except the result files in
``.perfbench_work/results/``. Exits non-zero when an operation failed or
an output did not match its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    spark: object = None
    tracer: object = None
    oracle: object = None
    layers: dict = field(default_factory=dict)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python worker
    daemon it owns) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import patapsco_spark  # noqa: F401  (the program under test)
        from perfbench import env, layers, report
        from perfbench.oracle import Oracle
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = env.nproc()
    load_start = env.loadavg()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    env.pin(ROOT, work, cores, trace_dir)
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace), cores)
    try:
        with env.RssSampler() as rss:
            from patapsco_spark.session import get_spark
            t = time.perf_counter()
            ctx.spark = get_spark(app=f"perfbench-{args.workload}",
                                  master=f"local[{cores}]",
                                  shuffle_partitions=cores)
            ctx.layers["session.start_s"] = time.perf_counter() - t
            ctx.tracer = Tracer(ctx.spark.sparkContext if ctx.trace else None)
            t = time.perf_counter()
            with ctx.tracer.span("session.worker_warm"):
                (ctx.spark.range(4 * cores, numPartitions=cores)
                 .mapInPandas(lambda it: it, "id long").collect())
            ctx.layers["session.worker_warm_s"] = time.perf_counter() - t
            ctx.oracle = Oracle(os.path.join(work, "tmp"))
            wl = WORKLOADS[args.workload](ctx)
            wl.setup()
            setup_s = time.perf_counter() - t_start
            ticks = env.cpu_ticks()
            with ctx.tracer.span("window"):
                wl.run(args.seconds)
            steal = env.steal_share(ticks, env.cpu_ticks())
            wl.check()
            if ctx.trace:
                layers.sweep(ctx, wl)
            spark, ctx.spark = ctx.spark, None
            stop_spark(spark)
        load_end = env.loadavg()
        out = report.build(ctx, wl, setup_s, rss.peak_mb, trace_dir,
                           (load_start, load_end, steal), results)
    finally:
        if ctx.spark is not None:   # a step raised: stop Spark before cleanup
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
