"""The streaming finalizer stage of batch_ingest.

``streaming.batch_stream.batch_lifecycle_stream`` over a file source: each
tick writes one file of the tick's task-outcome events and waits on
``processAllAvailable()``. The lifecycle rows the query emits are checked,
step by step, against the Python model of which batches start and
complete, with what counts.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from datetime import datetime, timezone

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.streaming import (  # noqa: E501
    batch_stream,
)

from .model import stream_transitions

QUERY_NAME = "perfbench_lifecycle"


def _iso(us: int) -> str:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class StreamFinalizer:
    def __init__(self, ctx, work: str):
        self.ctx = ctx
        self.src = f"{work}/events"
        self.checkpoint = f"{work}/checkpoint"
        os.makedirs(self.src)
        self.query = None
        self.steps: list[list[tuple]] = []
        self.seen: Counter = Counter()
        self.lifecycle = None

    def plan(self):
        """The engine's streaming plan, built once in set-up."""
        self.lifecycle = batch_stream.batch_lifecycle_stream(
            batch_stream.read_task_event_stream(self.ctx.spark, self.src, max_files_per_trigger=1)
        )

    def start(self) -> None:
        with self.ctx.tracer.span("batch_stream.start"):
            self.query = (
                self.lifecycle.writeStream.format("memory")
                .queryName(QUERY_NAME)
                .outputMode("append")
                .option("checkpointLocation", self.checkpoint)
                .start()
            )

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def _write_step(self, i: int, events: list[tuple]) -> None:
        """Write one step's events atomically: the file source skips names
        starting with '.', so the rename publishes the whole file at once."""
        tmp = f"{self.src}/.step-{i:05d}.json"
        with open(tmp, "w") as fh:
            for bid, task, ok, size, ts in events:
                fh.write(
                    json.dumps(
                        {"batch_id": bid, "task_number": task, "ok": ok, "batch_size": size, "event_time": _iso(ts)}
                    )
                )
                fh.write("\n")
        os.rename(tmp, f"{self.src}/step-{i:05d}.json")

    def step(self, events: list[tuple]) -> tuple[float, Counter]:
        """Publish one file of (batch_id, task_number, ok, batch_size,
        event_time_us) events and process it; returns the milliseconds
        taken and the lifecycle rows the step emitted."""
        i = len(self.steps)
        self.steps.append(events)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("batch_stream.step"):
            self._write_step(i, events)
            self.query.processAllAvailable()
        ms = (time.perf_counter() - t0) * 1000.0
        self._progress()
        rows = self.ctx.spark.sql(f"SELECT * FROM {QUERY_NAME}").collect()
        now = Counter(tuple(r) for r in rows)
        new = now - self.seen
        self.seen = now
        return ms, new

    def expected(self) -> Counter:
        """The rows the model says the latest step must emit."""
        return Counter(stream_transitions(self.steps)[-1])

    def _progress(self) -> None:
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        with tr.bookkeeping():
            p = self.query.lastProgress
            if not p:
                return
            dur = p.get("durationMs", {})
            state = (p.get("stateOperators") or [{}])[0]
            tr.add("batch_stream.steps", 1)
            for key, value in (
                ("input_rows", p.get("numInputRows", 0)),
                ("state_rows", state.get("numRowsTotal", 0)),
                ("state_memory_bytes", state.get("memoryUsedBytes", 0)),
                ("add_batch_ms", dur.get("addBatch", 0)),
                ("query_planning_ms", dur.get("queryPlanning", 0)),
                ("wal_commit_ms", dur.get("walCommit", 0)),
            ):
                tr.add(f"batch_stream.{key}", float(value))
