"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload historical_crawl --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics, measured with tracing off. ``--trace 1`` runs the same workload
with every other operation traced and prints the per-layer metrics; the
spans go to ``.perfbench_work/trace_<workload>_<seed>.json`` and a
per-layer self-time table goes to stderr.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Exit code 0 means the run completed (``correct`` says whether every
output check passed); any other code means no result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"  # local mode: the driver JVM is the whole cluster

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "admit_s_p50": "s",
    "round_s_p50": "s",
    "crawl_s": "s",
    "fetched_urls_per_s": "1/s",
    "state_mb": "MB",
}


def _environment(cores: int) -> None:
    """Everything the Spark processes need, set before the JVM starts:
    core count, a driver heap that fits the machine, the repository on
    the Python workers' path, and scratch space inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)


def _session(cores: int):
    from news_crawler_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _snapshot_dirs(root: str) -> int:
    return sum(
        name.startswith("round=")
        for table in os.listdir(root)
        if os.path.isdir(os.path.join(root, table))
        for name in os.listdir(os.path.join(root, table))
    )


def _trace_report(tracer, out, metrics: dict) -> str:
    """Self time per layer per traced op, the round accounting and the
    tracing overhead, for stderr."""
    from perfbench.trace import LAYERS

    own = tracer.self_seconds()
    n = len(out.traced_op_s)
    lines = [f"{'layer':<38} {'self s/op':>10} {'calls/op':>9}"]
    names = sorted({s for spans in LAYERS.values() for s in spans})
    for name in names + ["op.admit", "op.round"]:
        sps = [sp for sp in tracer.spans if sp["name"] == name and sp.get("traced", True)]
        if sps:
            s = sum(own[sp["id"]] for sp in sps) / n
            lines.append(f"{name:<38} {s:>10.3f} {len(sps) / n:>9.1f}")
    steps = [sp for sp in tracer.spans if sp["name"] == "engine.step"]
    if steps and out.untraced_round_s:
        traced_round = sum(sp["end"] - sp["start"] for sp in steps) / len(steps)
        plain_round = statistics.median(out.untraced_round_s)
        lines.append(
            f"round accounting: engine.step self + layer self times = "
            f"{traced_round:.3f} s/round traced; warm untraced round = "
            f"{plain_round:.3f} s; difference {traced_round - plain_round:.3f} s"
        )
    lines.append(
        f"tracing overhead: traced op - untraced op = "
        f"{metrics['trace.overhead_s']:.3f} s ({metrics['trace.overhead_ratio']:+.1%})"
    )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "news_crawler_spark")):
        print(f"perfbench: no news_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _environment(cores)

    from perfbench import workloads
    from perfbench.rss import PeakRss
    from perfbench.trace import Tracer, install, layer_metrics, unit_of

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}_{args.seed}_{os.getpid()}")
    os.makedirs(work)
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = _session(cores)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            install(tracer)
        ctx = workloads.Ctx(spark, work, cores, args.seed, args.seconds, tracer)
        try:
            out = workloads.WORKLOADS[args.workload](ctx)
            out.notes["snapshot_dirs"] = _snapshot_dirs(out.catalog_root)
        finally:
            t0 = time.perf_counter()
            workloads.cleanup(ctx)
            _stop(spark)
            stop_s = time.perf_counter() - t0
    out.metrics["setup_s"] += session_s
    out.metrics["peak_rss_mb"] = rss.peak_mb
    out.notes["session_s"] = session_s
    out.notes["stop_s"] = stop_s
    print(json.dumps({"notes": out.notes}, default=str), file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(tracer, len(out.traced_op_s), cores)
        metrics["engine.jobs_per_round"] = statistics.mean(ctx.round_jobs)
        metrics["catalog.snapshot_dirs"] = out.notes["snapshot_dirs"]
        traced = statistics.median(out.traced_op_s)
        untraced = statistics.median(out.untraced_op_s)
        metrics["trace.overhead_s"] = traced - untraced
        metrics["trace.overhead_ratio"] = traced / untraced - 1
        path = os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json")
        tracer.dump(path, {"metrics": metrics, "end_to_end": out.metrics, "notes": out.notes})
        print(_trace_report(tracer, out, metrics), file=sys.stderr)
        print(f"spans: {path}", file=sys.stderr)
    else:
        metrics = out.metrics
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)}
                    for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
