"""Batch-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. Starts the engine's Spark session on every
local core, generates the workload's inputs, makes the engine's set-up
calls, warms up untimed, times a fixed number of operations set by
``--seconds``, checks every answer, and prints two JSON lines:
a report with the workload's own metric names, sample counts, warm-up and
input properties, then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.gen import CURATION_QUERIES  # noqa: E402
from perfbench.common import (  # noqa: E402
    PACKAGE,
    Tracer,
    cpu_times,
    memory_mb,
    pin_environment,
    reset_peak_rss,
    steal_share,
)

WORKLOADS = ("batch_ingest", "curation")

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms", "live_memory_mb": "MB"}

#: per-layer metric -> unit. Timings are medians per call; counts are
#: totals over the traced operations unless the name says per_request.
PER_LAYER = {
    "session.get_spark_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_p50_ms": "ms",
    "csv_tasks.read_task_file.calls": "count",
    "csv_tasks.read_task_file.plan_ms": "ms",
    "csv_tasks.read_task_file.rows": "count",
    "analyze.validate_tasks.plan_ms": "ms",
    "analyze.valid_ratio": "ratio",
    "create_batch.exec_ms": "ms",
    "create_batch.spark_jobs": "count",
    "create_batch.spark_tasks": "count",
    "sinks.write_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "process.process_tasks.plan_ms": "ms",
    "process.process_tasks.exec_ms": "ms",
    "process.dup_ratio": "ratio",
    "lifecycle.igniter_pick.plan_ms": "ms",
    "lifecycle.igniter_pick.exec_ms": "ms",
    "lifecycle.mark_in_process.plan_ms": "ms",
    "lifecycle.mark_in_process.exec_ms": "ms",
    "lifecycle.finalize_batches.plan_ms": "ms",
    "lifecycle.finalize_batches.exec_ms": "ms",
    "lifecycle.batch_status.plan_ms": "ms",
    "lifecycle.batch_status.exec_ms": "ms",
    "lifecycle.list_batches.plan_ms": "ms",
    "lifecycle.list_batches.exec_ms": "ms",
    "lifecycle.batch_errors.plan_ms": "ms",
    "lifecycle.batch_errors.exec_ms": "ms",
    "lifecycle.delete_batches_rejected.plan_ms": "ms",
    "lifecycle.delete_batches_rejected.exec_ms": "ms",
    "sinks.read_anchor_store.ms": "ms",
    "catalog.load_table.calls": "count",
    "catalog.load_table.ms": "ms",
    "status.spark_jobs_per_request": "count",
    "status.spark_tasks_per_request": "count",
    "batch_stream.input_rows": "rows",
    "batch_stream.state_rows": "rows",
    "batch_stream.state_memory_bytes": "bytes",
    "batch_stream.add_batch_ms": "ms",
    "batch_stream.query_planning_ms": "ms",
    "batch_stream.wal_commit_ms": "ms",
    "dfcache.builds": "count",
    "dfcache.build_ms.shingles": "ms",
    "dfcache.build_ms.band": "ms",
    "dfcache.build_ms.ivf": "ms",
    "dedup.candidate_precision": "ratio",
}

PER_LAYER.update({f"queries.{name}.exec_ms": "ms" for name in CURATION_QUERIES})

#: per-layer figures no workload measures (see README.md)
UNMEASURED = ["dfcache.build_ms.pq_residual"]


class Context:
    """What a workload needs: the session, its arguments, the tracer, the
    attempted / failed operation counts, and the set-up and warm-up
    bookkeeping."""

    def __init__(self, spark, seed: int, seconds: int, tracer: Tracer):
        self.spark, self.seed, self.seconds, self.tracer = spark, seed, seconds, tracer
        self.attempted = 0
        self.failed = 0
        self.engine_setup_s = 0.0
        self.warmup: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 5:
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    def error(self, what: str, exc: BaseException) -> None:
        print(f"perfbench: {what} raised:", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)

    def engine_setup(self, fn):
        """Make the engine's set-up calls ``fn()``, timed; returns what it
        returns. Input generation and reference answers stay outside, so
        setup_s times the engine only."""
        t0 = time.perf_counter()
        out = fn()
        self.engine_setup_s = time.perf_counter() - t0
        return out

    def start_measuring(self, ops: int, seconds: float, last_ms: list[float]) -> None:
        """Called between the untimed warm-up and the timed run: records the
        warm-up and restarts the peak-memory counters."""
        self.warmup = {"ops": ops, "s": seconds, "last_ms": [round(x, 1) for x in last_ms]}
        reset_peak_rss(self.spark)


def _workload(name: str, ctx: Context):
    if name == "batch_ingest":
        from perfbench.w_ingest import BatchIngest

        return BatchIngest(ctx)
    from perfbench.w_curation import Curation

    return Curation(ctx)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tr: Tracer, get_spark_s: float) -> dict:
    c = tr.counts
    m = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        for suffix, span in (("plan_ms", "plan"), ("exec_ms", "exec")):
            if name.endswith(suffix):
                m[name] = tr.median_ms(name[: -len(suffix)] + span)
        if name.startswith("dfcache.build_ms."):
            m[name] = tr.median_ms(name)
        if name.startswith("batch_stream."):  # means per micro-batch
            m[name] = _ratio(c.get(name, 0.0), c.get("batch_stream.steps", 0.0))
    m.update(
        {
            "session.get_spark_s": get_spark_s,
            "spark.failed_tasks": c.get("spark.failed_tasks", 0.0),
            "trace.overhead_p50_ms": tr.overhead_p50_ms(),
            "csv_tasks.read_task_file.calls": tr.calls("csv_tasks.read_task_file.plan"),
            "csv_tasks.read_task_file.rows": c.get("analyze.tasks", 0.0),
            "analyze.valid_ratio": _ratio(
                c.get("analyze.tasks", 0.0) - c.get("analyze.invalid", 0.0), c.get("analyze.tasks", 0.0)
            ),
            "create_batch.exec_ms": tr.median_ms("create_batch.exec"),
            "create_batch.spark_jobs": tr.per_op("create_batch", "spark_jobs"),
            "create_batch.spark_tasks": tr.per_op("create_batch", "spark_tasks"),
            "sinks.write_ms": tr.median_ms("sinks.write"),
            "sinks.files_written": c.get("sinks.files_written", 0.0),
            "sinks.bytes_written": c.get("sinks.bytes_written", 0.0),
            "process.dup_ratio": _ratio(c.get("process.dup_tasks", 0.0), c.get("process.valid_tasks", 0.0)),
            "sinks.read_anchor_store.ms": tr.median_ms("sinks.read_anchor_store"),
            "catalog.load_table.calls": tr.calls("catalog.load_table"),
            "catalog.load_table.ms": tr.median_ms("catalog.load_table"),
            "status.spark_jobs_per_request": tr.per_op("status", "spark_jobs"),
            "status.spark_tasks_per_request": tr.per_op("status", "spark_tasks"),
            "dfcache.builds": c.get("dfcache.builds", 0.0),
            "dedup.candidate_precision": _ratio(c.get("dedup.confirmed", 0.0), c.get("dedup.candidates", 0.0)),
        }
    )
    return m


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> int:
    from perfbench.common import start_session

    t_start = time.perf_counter()
    spark, get_spark_s = start_session()
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, args.seed, args.seconds, tracer)
        workload = _workload(args.workload, ctx)
        workload.prepare(work)
        t_setup, cpu0 = time.perf_counter(), cpu_times()
        result = workload.run()
        t_run, cpu1 = time.perf_counter(), cpu_times()
        mem = memory_mb(spark)
    finally:
        stop_session(spark)
    wall = {"setup": t_setup - t_start, "run": t_run - t_setup, "stop": time.perf_counter() - t_run}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "failed_ratio": ctx.failed / max(1, ctx.attempted),
        "named": result["named"],
        "inputs": result["inputs"],
        "setup": {"get_spark_s": get_spark_s, "engine_setup_s": ctx.engine_setup_s},
        "warmup": ctx.warmup,
        "measured_ms": [round(x, 1) for x in result["ops_ms"]],
        "wall_s": wall,
        "host_steal_share": steal_share(cpu0, cpu1),
        "memory_mb": mem,
    }
    if args.trace:
        metrics = layer_metrics(tracer, get_spark_s)
        units = PER_LAYER
        report["unmeasured"] = UNMEASURED
        spans = os.path.join(os.path.dirname(work), f"spans-{args.workload}-seed{args.seed}.tsv")
        tracer.write(spans)
        report["spans"] = {"count": len(tracer.spans), "file": os.path.relpath(spans, ROOT)}
    else:
        metrics = {
            "setup_s": get_spark_s + ctx.engine_setup_s,
            "throughput_per_s": result["throughput_per_s"],
            "latency_p50_ms": result["latency_p50_ms"],
            "live_memory_mb": mem["driver"] + mem["heap_retained"] + mem["non_heap"],
        }
        units = END_TO_END
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(ROOT, work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
