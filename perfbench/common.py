"""Shared pieces of the batch-engine benchmark: environment pinning, the
session, timing, tracing, percentiles and memory readings.

Nothing here runs on import; ``run.py`` calls ``pin_environment`` before
pyspark is imported so that every Spark and Python-worker process starts
with the pinned settings.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

PACKAGE = "connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark"


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> None:
    """Pin what the engine would otherwise take from the host: core count,
    module path for Python workers, and every scratch location (Spark local
    dirs, warehouse, JVM and Python temp files) inside ``work``. The
    engine's own memory settings are left as shipped."""
    cpus = str(cpu_count())
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # options of the driver JVM only (not of Spark's launcher JVM)
            "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false "
                "--conf spark.sql.streaming.checkpointLocation.deleteOnStop=true "
                "pyspark-shell"
            ),
        }
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session():
    """Start the engine's tuned session on every local core; returns
    (spark, seconds taken)."""
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.session import (  # noqa: E501
        get_spark,
    )

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=str(cpu_count()))
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def timed_ops(seconds: int, per_s: float) -> int:
    """How many operations a run times: ``per_s`` for each second of
    ``--seconds``, at least one. A count rather than a time limit gives every
    run, on any commit and host, the same operations (README.md, "A run")."""
    return max(1, round(seconds * per_s))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return float(xs[k])


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> int:
    """Highest of 95/90/75/50 that leaves at least ten samples beyond it."""
    for q in (95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


def latency_summary(prefix: str, samples_ms) -> dict:
    """Median, the highest tail percentile with ten samples beyond it (if
    any), and p95, with the sample count."""
    n = len(samples_ms)
    out = {f"{prefix}_p50_ms": median(samples_ms) if n else None, f"{prefix}_samples": n}
    if n:
        q = tail_percentile(n)
        if q > 50:
            out[f"{prefix}_p{q}_ms"] = percentile(samples_ms, q)
        out[f"{prefix}_p95_ms"] = percentile(samples_ms, 95)
    return out


def cpu_times() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``, first line)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (steal): a diagnostic of host
    contention, which slows every timed figure of a run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pids(spark) -> tuple[int, int]:
    return os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def reset_peak_rss(spark) -> None:
    """Restart the peak resident set of this driver process and of the
    Spark JVM from their current size (``clear_refs`` 5) and the JVM heap
    pools' peaks, so that peaks read later cover only what ran in between,
    not set-up or warm-up. No collection here: a full collection just
    before the timed operations would make the first of them regrow the
    heap and run slower than the rest."""
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def memory_mb(spark) -> dict:
    """Memory (MB) after the timed operations: the peak resident set of
    this driver process and of the Spark JVM and the JVM heap pools' peak
    use since the last ``reset_peak_rss``; then, after a collection, the
    heap the JVM still holds and its non-heap use (classes, compiled
    code)."""
    mb = 1024.0 * 1024.0
    driver, jvm = (_vm_hwm_kb(pid) / 1024.0 for pid in _pids(spark))
    heap_peak = sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / mb
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "driver": driver,
        "jvm": jvm,
        "heap_peak": heap_peak,
        "heap_retained": _retained_heap(spark, mem) / mb,
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / mb,
    }


def _retained_heap(spark, mem, rounds: int = 6) -> int:
    """Heap bytes in use after full collections. Spark's ContextCleaner
    frees cached blocks and shuffle data only after a collection has found
    them unreachable, and on a thread of its own, so one collection leaves
    a varying amount behind: collect, give the cleaner time, and repeat
    until two readings agree within 1%."""
    last = None
    for _ in range(rounds):
        spark._jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed()
        if last is not None and abs(used - last) <= 0.01 * last:
            return used
        last = used
        time.sleep(0.5)
    return last


class Tracer:
    """Spans and counters recorded around calls into the engine's layers.

    A span is (name, start, end, parent index, request id); spans are kept
    in memory and summarized at the end. Time spent in the tracer's own
    bookkeeping is charged to the current request (``overhead_s``). When
    ``enabled`` is False every method is a pass-through, so the same
    workload code runs traced and untraced.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.request = None
        self.overhead_s: dict = {}
        self._group = 0

    @contextmanager
    def bookkeeping(self):
        """Charge the time spent inside to the current request's overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.overhead_s[self.request] = self.overhead_s.get(self.request, 0.0) + dt

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.request]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def plan(self, layer: str, fn, *args, **kwargs):
        """Call a layer function that builds a lazy plan; ``<layer>.plan``."""
        with self.span(f"{layer}.plan"):
            return fn(*args, **kwargs)

    def execute(self, layer: str, fn, *args, **kwargs):
        """Run the action that forces a layer's output; ``<layer>.exec``."""
        with self.span(f"{layer}.exec"):
            return fn(*args, **kwargs)

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    # -- Spark job accounting ---------------------------------------------
    @contextmanager
    def jobs(self, label: str):
        """Tag the Spark jobs run inside with a job group and count the
        jobs, tasks and failed tasks under ``<label>.*`` afterwards."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}"
        with self.bookkeeping():
            sc.setJobGroup(group, label)
        try:
            yield
        finally:
            with self.bookkeeping():
                self._count_jobs(sc, group, label)

    def _count_jobs(self, sc, group: str, label: str) -> None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        n_jobs = n_tasks = n_failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            n_jobs += 1
            for stage_id in list(info.stageIds):
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    n_tasks += stage.numTasks
                    n_failed += stage.numFailedTasks
        self.add(f"{label}.spark_jobs", n_jobs)
        self.add(f"{label}.spark_tasks", n_tasks)
        self.add(f"{label}.ops", 1)
        self.add("spark.failed_tasks", n_failed)

    # -- summaries ----------------------------------------------------------
    def durations_ms(self, name: str) -> list[float]:
        return [(s[2] - s[1]) * 1000.0 for s in self.spans if s[0] == name and s[2] is not None]

    def median_ms(self, name: str) -> float:
        xs = self.durations_ms(name)
        return median(xs) if xs else 0.0

    def calls(self, name: str) -> int:
        return len(self.durations_ms(name))

    def overhead_p50_ms(self) -> float:
        """Median per traced request of the time spent in bookkeeping."""
        xs = [v * 1000.0 for k, v in self.overhead_s.items() if k is not None]
        return median(xs) if xs else 0.0

    def per_op(self, label: str, what: str) -> float:
        ops = self.counts.get(f"{label}.ops", 0.0)
        return self.counts.get(f"{label}.{what}", 0.0) / ops if ops else 0.0

    def write(self, path: str) -> None:
        """Write every span as one tab-separated line."""
        with open(path, "w") as fh:
            fh.write("name\tstart_s\tend_s\tparent\trequest\n")
            for name, start, end, parent, req in self.spans:
                fh.write(f"{name}\t{start:.6f}\t{end:.6f}\t{parent}\t{req}\n")

