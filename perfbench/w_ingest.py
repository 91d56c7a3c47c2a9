"""batch_ingest: the reference's write path, end to end.

Each tick is CreateBatch on the next uploads, one igniter pass (pick,
mark IN_PROCESS, process tasks against the asset registry, append results),
one finalizer pass (finalize, notifications, batch errors) and one
streaming-finalizer step. After each tick its users poll the status of
their uploads (GetBatch, GetBatches, a rejected delete), timed apart from
the tick. The store starts pre-populated with finalized history and an
asset registry; every answer is checked against the pure-Python model in
``model.py``.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import domain
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (  # noqa: E501
    analyze,
    lifecycle,
    process,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources import catalog, csv_tasks, sinks  # noqa: E501

from . import gen
from .common import latency_summary, median, timed_ops
from .model import IngestModel
from .w_stream import StreamFinalizer

N_HISTORY = 150_000  # finalized batches already in the store (~600k tasks)
N_ASSETS = 200_000  # assets already registered
POOL = 5  # igniter pool size K; every tick uploads fewer, so no backlog builds
PAGE_SIZE = 10  # GetBatches page size
#: untimed ticks before the timed ones (README.md, "Warm-up")
WARM_TICKS = 1
#: timed ticks per second of --seconds; a tick takes about 10-15 s
TICKS_PER_S = 0.05
TASK_COLS = [
    "batch_id", "task_number", "raw_line", "model_name", "serial_number", "asset_name", "valid", "reason",
]  # fmt: skip


def task_results(lineitem):
    """lineitem -> task outcome rows (l_returnflag 'R' is a task error)."""
    return lineitem.select(
        F.col("l_orderkey").alias("batch_id"),
        F.col("l_linenumber").cast("long").alias("task_number"),
        (F.col("l_returnflag") != "R").alias("ok"),
        F.when(
            F.col("l_returnflag") == "R",
            F.concat(F.lit("Task "), F.col("l_linenumber").cast("string"), F.lit(" returned R")),
        ).alias("reason"),
    )


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def _latencies() -> dict:
    return {"create": [], "turnaround": [], "stream": [], "stream_events": 0, "status": [], "get_batch": []}


class BatchIngest:
    def __init__(self, ctx):
        self.ctx = ctx

    # -- set-up ---------------------------------------------------------------
    def prepare(self, work: str):
        spark, ctx = self.ctx.spark, self.ctx
        rng = np.random.default_rng(ctx.seed)
        store = f"{work}/store"
        sizes = gen.write_store(store, rng, N_HISTORY)
        os.makedirs(f"{store}/assets")
        registry, registry_sample = gen.write_registry(f"{store}/assets/part-00000-seed.parquet", rng, N_ASSETS)
        n_ticks = WARM_TICKS + timed_ops(ctx.seconds, TICKS_PER_S)
        ticks, props = gen.uploads(rng, n_ticks, N_HISTORY + 1, registry_sample)
        os.makedirs(f"{work}/uploads")
        for up in (u for tick in ticks for u in tick):
            up["path"] = f"{work}/uploads/batch-{up['batch_id']}.csv"
            with open(up["path"], "w") as fh:
                fh.write("\n".join(up["lines"]) + "\n")
        self.stream = StreamFinalizer(ctx, work)

        def engine_setup():
            self.stream.plan()
            return task_results(catalog.load_table(spark, store, "lineitem"))

        self.history_results = ctx.engine_setup(engine_setup)
        self.model = IngestModel(registry)
        self.store, self.ticks = store, ticks
        self.open_version = 0
        os.makedirs(self._open_dir())
        self.has_results = False
        self.open_ids: set[int] = set()
        self.final_state: dict[int, str] = {}  # finalized uploads -> state
        self.inputs = {**sizes, "registry_assets": N_ASSETS, "uploads_per_tick": len(gen.TICK_SIZES), **props}

    def _tasks_dir(self, batch_id: int) -> str:
        return f"{self.store}/tasks/batch-{batch_id}"

    def _open_dir(self) -> str:
        return f"{self.store}/anchors_open_v{self.open_version}"

    # -- CreateBatch ----------------------------------------------------------
    def create_batch(self, up: dict):
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.jobs("create_batch"):
            tasks = tr.plan(
                "csv_tasks.read_task_file", csv_tasks.read_task_file, spark, up["path"], up["batch_id"]
            )
            validated = tr.plan("analyze.validate_tasks", analyze.validate_tasks, tasks)
            path = self._tasks_dir(up["batch_id"])
            with tr.span("create_batch.exec"):
                self._write(lambda: validated.select(*TASK_COLS).write.parquet(path), path)
                summary = tr.plan("analyze.analyze_batch", analyze.analyze_batch, spark.read.parquet(path))
                row = summary.collect()[0]
                anchor = spark.createDataFrame(
                    [
                        (
                            up["batch_id"],
                            f"upload-{up['batch_id']}",
                            domain.STATE_NOT_STARTED,
                            datetime.now(timezone.utc),
                            None,
                            int(row["task_count"]),
                            up["notify_email"],
                        )
                    ],
                    domain.BATCH_ANCHOR_SCHEMA,
                )
                self._write(
                    lambda: sinks.write_anchor_store(anchor, self._open_dir(), mode="append"), self._open_dir()
                )
        return row

    def _write(self, fn, path: str) -> None:
        tr = self.ctx.tracer
        if not tr.enabled:
            fn()
            return
        with tr.bookkeeping():
            before = _dir_usage(path)
        with tr.span("sinks.write"):
            fn()
        with tr.bookkeeping():
            after = _dir_usage(path)
        tr.add("sinks.files_written", after[0] - before[0])
        tr.add("sinks.bytes_written", after[1] - before[1])

    # -- igniter + process ----------------------------------------------------
    def ignite_and_process(self) -> list[int]:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.jobs("igniter"):
            with tr.span("sinks.read_anchor_store"):
                anchors = sinks.read_anchor_store(spark, self._open_dir())
            picked = tr.plan("lifecycle.igniter_pick", lifecycle.igniter_pick, anchors, POOL)
            ids = [r[0] for r in tr.execute("lifecycle.igniter_pick", picked.select("batch_id").collect)]
            if not ids:
                return ids
            ids_df = spark.createDataFrame([(i,) for i in ids], "batch_id long")
            marked = tr.plan("lifecycle.mark_in_process", lifecycle.mark_in_process, anchors, ids_df)
            self.open_version += 1
            with tr.span("lifecycle.mark_in_process.exec"):
                self._write(lambda: sinks.write_anchor_store(marked, self._open_dir()), self._open_dir())
            shutil.rmtree(f"{self.store}/anchors_open_v{self.open_version - 1}")
        with tr.jobs("process"):
            tasks = spark.read.parquet(*[self._tasks_dir(i) for i in ids])
            valid = tasks.filter(F.col("valid")).select("batch_id", "task_number", "model_name", "serial_number")
            registry = spark.read.parquet(f"{self.store}/assets")
            outcome = tr.plan("process.process_tasks", process.process_tasks, valid, registry)
            invalid = tasks.filter(~F.col("valid")).select(
                "batch_id", "task_number", F.lit(False).alias("ok"), "reason"
            )
            with tr.span("process.process_tasks.exec"):
                self._write(
                    lambda: outcome.unionByName(invalid).write.mode("append").parquet(f"{self.store}/results"),
                    f"{self.store}/results",
                )
            self.has_results = True
            created = (
                spark.read.parquet(f"{self.store}/results")
                .filter(F.col("batch_id").isin(ids) & F.col("ok"))
                .join(valid, ["batch_id", "task_number"])
                .select("model_name", "serial_number")
            )
            self._write(lambda: created.write.mode("append").parquet(f"{self.store}/assets"), f"{self.store}/assets")
        return ids

    # -- finalizer ------------------------------------------------------------
    def finalize(self):
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.jobs("finalizer"):
            with tr.span("sinks.read_anchor_store"):
                anchors = sinks.read_anchor_store(spark, self._open_dir())
            results = self.history_results
            if self.has_results:
                results = results.unionByName(spark.read.parquet(f"{self.store}/results"))
            fin = tr.plan("lifecycle.finalize_batches", lifecycle.finalize_batches, anchors, results)
            terminal = [domain.STATE_SUCCESS, domain.STATE_COMPLETE_WITH_ERROR]
            done_df = fin.filter((F.col("state") == domain.STATE_IN_PROCESS) & F.col("final_state").isin(terminal))
            done = tr.execute("lifecycle.finalize_batches", done_df.collect)
            if not done:
                return done, [], []
            now = datetime.now(timezone.utc)
            finished = spark.createDataFrame(
                [
                    (r["batch_id"], r["name"], r["final_state"], r["inception_time"], now, r["size"], r["notify_email"])
                    for r in done
                ],
                domain.BATCH_ANCHOR_SCHEMA,
            )
            counts = spark.createDataFrame(
                [(r["batch_id"], r["success_count"], r["error_count"]) for r in done],
                "batch_id long, success_count long, error_count long",
            )
            notes = tr.plan(
                "sinks.finalization_notifications", sinks.finalization_notifications, finished.join(counts, "batch_id")
            )
            notes = tr.execute("sinks.finalization_notifications", notes.collect)
            ids = [r["batch_id"] for r in done]
            errs = tr.plan("lifecycle.batch_errors", lifecycle.batch_errors, results.filter(F.col("batch_id").isin(ids)))
            errs = tr.execute("lifecycle.batch_errors", errs.collect)
            self._write(
                lambda: sinks.write_anchor_store(finished, f"{self.store}/anchors_hist", mode="append"),
                f"{self.store}/anchors_hist",
            )
            self.open_ids.difference_update(ids)
            self.open_version += 1
            if self.open_ids:
                ids_df = spark.createDataFrame([(i,) for i in ids], "batch_id long")
                remaining = anchors.join(ids_df, "batch_id", "left_anti")
                self._write(lambda: sinks.write_anchor_store(remaining, self._open_dir()), self._open_dir())
            else:
                os.makedirs(self._open_dir())
            shutil.rmtree(f"{self.store}/anchors_open_v{self.open_version - 1}")
        return done, notes, errs

    # -- checks ---------------------------------------------------------------
    def check_create(self, up: dict, row) -> bool:
        exp = self.model.add(up)
        return int(row["task_count"]) == exp["size"] and int(row["invalid_count"]) == exp["invalid"]

    def check_final(self, r, notes: dict, errs: dict) -> bool:
        bid = r["batch_id"]
        exp = self.model.expected.get(bid)
        if exp is None:
            return False
        ok = (
            r["final_state"] == exp["state"]
            and r["success_count"] == exp["success"]
            and r["error_count"] == exp["error"]
            and r["size"] == exp["size"]
            and errs.get(bid, {}) == exp["errors"]
        )
        if exp["notify_email"] is None:
            return ok and bid not in notes
        subject = f'Batch "upload-{bid}" finished: {exp["state"]}'
        body = f"succeeded={exp['success']} failed={exp['error']}"
        return ok and notes.get(bid) == (exp["notify_email"], subject, body)

    # -- streaming finalizer ----------------------------------------------------
    def stream_step(self, done: list, lat: dict) -> None:
        """Feed the task outcomes of the batches finalized this tick to the
        streaming finalizer as one micro-batch, and check what it emits."""
        ctx = self.ctx
        events = []
        for r in sorted(done, key=lambda r: r["batch_id"]):
            bid = r["batch_id"]
            exp = self.model.expected.get(bid)
            if exp is None:
                continue
            for n in range(1, exp["size"] + 1):
                events.append((bid, n, n not in exp["errors"], exp["size"], gen.EPOCH_US + bid * 10_000 + n))
        if not events:
            return
        ms, emitted = self.stream.step(events)
        lat["stream"].append(ms)
        lat["stream_events"] += len(events)
        ctx.attempted += 1
        if emitted != self.stream.expected():
            ctx.fail(f"streaming finalizer step {len(self.stream.steps)}: {sorted(emitted)[:4]}")

    # -- status polls -----------------------------------------------------------
    def _status(self, kind: str, args: tuple):
        """One status request against the finalized-anchor store and every
        task outcome (history and this run's results)."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        lc = lifecycle
        with tr.span("sinks.read_anchor_store"):
            batches = sinks.read_anchor_store(spark, f"{self.store}/anchors_hist")
        if kind == "get_batch":
            with tr.span("catalog.load_table"):
                lineitem = catalog.load_table(spark, self.store, "lineitem")
            results = task_results(lineitem).unionByName(spark.read.parquet(f"{self.store}/results"))
            df = tr.plan("lifecycle.batch_status", lc.batch_status, batches, results)
            df = df.filter(F.col("batch_id") == args[0]).select(
                "batch_id", "state", "size", "completed_count", "success_count", "error_count"
            )
            return tr.execute("lifecycle.batch_status", df.collect)
        if kind == "list_batches":
            df = tr.plan(
                "lifecycle.list_batches", lc.list_batches, batches, args[0], 1, PAGE_SIZE, include_total=True
            )
            return tr.execute("lifecycle.list_batches", df.collect)
        criteria = spark.createDataFrame([(i,) for i in args], "batch_id long")
        df = tr.plan("lifecycle.delete_batches_rejected", lc.delete_batches_rejected, batches, criteria)
        return tr.execute("lifecycle.delete_batches_rejected", df.select("batch_id", "error_code").collect)

    def _status_ok(self, kind: str, args: tuple, rows) -> bool:
        if kind == "get_batch":
            exp = self.model.expected[args[0]]
            want = (args[0], exp["state"], exp["size"], exp["size"], exp["success"], exp["error"])
            return [tuple(r) for r in rows] == [want]
        if kind == "list_batches":
            ids = sorted(b for b, st in self.final_state.items() if st == args[0])
            got = [(r["batch_id"], r["state"], r["total_results"], r["page_number"], r["page_size"]) for r in rows]
            return got == [(i, args[0], len(ids), 1, PAGE_SIZE) for i in ids[:PAGE_SIZE]]
        want = [(i, "1020" if i in self.final_state else "1002") for i in args]
        return sorted(tuple(r) for r in rows) == sorted(want)

    def poll(self, ups: list[dict], lat: dict) -> None:
        """The tick's users poll their finalized uploads: GetBatch on the
        first, one GetBatches page of its state, and a delete of the
        uploads plus a missing id, which must all be rejected."""
        ctx = self.ctx
        ids = sorted(up["batch_id"] for up in ups)
        requests = [
            ("get_batch", (ids[0],)),
            ("list_batches", (self.final_state.get(ids[0], domain.STATE_SUCCESS),)),
            ("delete_rejected", (*ids, -ids[0])),
        ]
        for kind, args in requests:
            t0 = time.perf_counter()
            try:
                with ctx.tracer.jobs("status"):
                    rows = self._status(kind, args)
            except Exception as exc:  # keep polling; the failure is counted
                ctx.error(f"{kind}{args}", exc)
                rows = None
            ms = (time.perf_counter() - t0) * 1000.0
            lat["status"].append(ms)
            if kind == "get_batch":
                lat["get_batch"].append(ms)
            ctx.attempted += 1
            if rows is None or not self._status_ok(kind, args, rows):
                ctx.fail(f"{kind}{args}: {rows}")

    # -- one tick -------------------------------------------------------------
    def tick(self, ups: list[dict], lat: dict) -> int:
        """CreateBatch on ``ups``, one igniter pass, one finalizer pass and
        one streaming-finalizer step; checks every answer and returns the
        number of tasks finalized."""
        ctx, tr = self.ctx, self.ctx.tracer
        started, invalid = {}, {}
        for up in ups:
            t0 = time.perf_counter()
            row = self.create_batch(up)
            lat["create"].append((time.perf_counter() - t0) * 1000.0)
            started[up["batch_id"]] = t0
            invalid[up["batch_id"]] = int(row["invalid_count"])
            self.open_ids.add(up["batch_id"])
            tr.add("analyze.tasks", int(row["task_count"]))
            tr.add("analyze.invalid", int(row["invalid_count"]))
            ctx.attempted += 1
            if not self.check_create(up, row):
                ctx.fail(f"CreateBatch {up['batch_id']}: {row}")
        self.ignite_and_process()
        done, notes, errs = self.finalize()
        t_end = time.perf_counter()
        note_map = {n["batch_id"]: (n["notify_email"], n["subject"], n["body"]) for n in notes}
        err_map: dict[int, dict] = {}
        for e in errs:
            err_map.setdefault(e["batch_id"], {})[e["task_number"]] = e["reasons"]
        tasks = 0
        for r in done:
            bid = r["batch_id"]
            ctx.attempted += 1
            if not self.check_final(r, note_map, err_map):
                ctx.fail(f"finalized batch {bid}: {r}")
            self.final_state[bid] = r["final_state"]
            if bid in started:
                lat["turnaround"].append(t_end - started.pop(bid))
                tr.add("process.valid_tasks", int(r["size"]) - invalid[bid])
                tr.add("process.dup_tasks", int(r["error_count"]) - invalid[bid])
            tasks += int(r["size"])
        for bid in started:  # created this tick but not finalized by it
            ctx.attempted += 1
            ctx.fail(f"batch {bid} not finalized in its tick")
        self.stream_step(done, lat)
        return tasks

    def run(self):
        ctx, tr = self.ctx, self.ctx.tracer
        traced_flag = tr.enabled
        # untimed warm-up ticks: CreateBatch falls from ~8 s on the first
        # upload to ~1.4 s a dozen uploads later, while the JIT compiles
        tr.enabled = False
        warm = _latencies()
        t0 = time.perf_counter()
        self.stream.start()
        try:
            for ups in self.ticks[:WARM_TICKS]:
                self.tick(ups, warm)
                self.poll(ups, warm)
            ctx.start_measuring(WARM_TICKS, time.perf_counter() - t0, warm["create"] + warm["stream"])
            tr.enabled = traced_flag
            lat = _latencies()
            busy, tasks, timed = 0.0, 0, 0
            for n, ups in enumerate(self.ticks[WARM_TICKS:]):
                tr.request = n
                t0 = time.perf_counter()
                try:
                    tasks += self.tick(ups, lat)
                except Exception as exc:  # the store may be inconsistent now: stop
                    ctx.error(f"tick {n}", exc)
                    ctx.attempted += 1
                    ctx.fail(f"tick {n}")
                    break
                busy += time.perf_counter() - t0
                timed += 1
                self.poll(ups, lat)
        finally:
            self.stream.stop()
        named = {
            "ingest_tasks_per_s": tasks / busy if busy else 0.0,
            **latency_summary("create_batch", lat["create"]),
            "batch_turnaround_p50_s": median(lat["turnaround"]) if lat["turnaround"] else None,
            "batch_turnaround_samples": len(lat["turnaround"]),
            "stream_events_per_s": lat["stream_events"] / (sum(lat["stream"]) / 1000.0) if lat["stream"] else None,
            **latency_summary("stream_step", lat["stream"]),
            **latency_summary("status", lat["status"]),
            **latency_summary("get_batch", lat["get_batch"]),
            "ticks": timed,
        }
        return {
            "throughput_per_s": named["ingest_tasks_per_s"],
            "latency_p50_ms": named["create_batch_p50_ms"],
            "named": named,
            "inputs": self.inputs,
            "ops_ms": lat["create"],
        }
