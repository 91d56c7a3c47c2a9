"""curation: one curation job per pass over a freshly generated corpus.

A pass runs the registered corpus queries of ``gen.CURATION_QUERIES`` in
order and collects each. Every pass gets a new corpus, so the shared-index
builds of ``functions.dfcache`` (shingles, MinHash bands, IVF) fall inside
the timed pass. Every answer is checked against the query's DuckDB twin
(``queries.ORACLE`` / ``queries.DATA_DEP_ORACLES``) over the same files.
"""

from __future__ import annotations

import math
import time

import duckdb
import numpy as np

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import queries
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.functions import dfcache
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources import catalog

from . import gen
from .common import latency_summary, median, timed_ops

N_DOCS = 60
#: untimed passes before the timed ones, each on its own corpus
WARM_PASSES = 1
#: timed passes per second of --seconds; a pass takes about 6-8 s
PASSES_PER_S = 0.2
#: a candidate pair is confirmed at this Jaccard, the verification threshold
#: of the engine's dedup funnel
CONFIRM_JACCARD = 0.5


def _oracle_sql(name: str, sf_dir: str) -> str:
    build = queries.DATA_DEP_ORACLES.get(name)
    return build(sf_dir) if build else queries.ORACLE[name]


def _canon(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples over the sorted column names, sorted, floats rounded
    for ordering; None sorts first."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: [(x is not None, x) for x in t])


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


class Curation:
    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self, work: str):
        ctx = self.ctx
        rng = np.random.default_rng(ctx.seed)
        n_passes = WARM_PASSES + timed_ops(ctx.seconds, PASSES_PER_S)
        self.corpora, props = [], []
        for i in range(n_passes):
            sf_dir = f"{work}/corpus{i}"
            props.append(gen.write_corpus(sf_dir, rng, N_DOCS))
            self.corpora.append(sf_dir)
        first = self.corpora[0]
        ctx.engine_setup(
            lambda: [catalog.load_table(ctx.spark, first, t) for t in ("documents", "embeddings")]
        )
        self.inputs = {
            "docs_per_pass": N_DOCS,
            "queries": list(gen.CURATION_QUERIES),
            **{k: median([p[k] for p in props]) for k in ("exact_dup_share", "near_dup_share", "vector_dup_share")},
        }

    def one_pass(self, sf_dir: str) -> tuple[dict, list[float]]:
        """Run every query on ``sf_dir``; returns {name: (columns, rows)} and
        the per-query milliseconds."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        registered = queries.QUERIES
        answers, ms = {}, []
        for name in gen.CURATION_QUERIES:
            t0 = time.perf_counter()
            df = tr.plan(f"queries.{name}", registered[name], spark, sf_dir)
            rows = tr.execute(f"queries.{name}", df.collect)
            ms.append((time.perf_counter() - t0) * 1000.0)
            answers[name] = (df.columns, rows)
            if name == "dedup_minhash_lsh":
                tr.add("dedup.candidates", len(rows))
                tr.add("dedup.confirmed", sum(1 for r in rows if r["jaccard"] >= CONFIRM_JACCARD))
        return answers, ms

    def check(self, sf_dir: str, answers: dict) -> None:
        ctx = self.ctx
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for name, (columns, rows) in answers.items():
                cur = con.execute(_oracle_sql(name, sf_dir))
                want = _rows([d[0] for d in cur.description], cur.fetchall())
                got = _rows(columns, [tuple(r) for r in rows])
                ctx.attempted += 1
                if len(got) != len(want) or not all(_same(a, b) for a, b in zip(got, want)):
                    ctx.fail(f"{name} on {sf_dir}: {len(got)} rows, expected {len(want)}")
        finally:
            con.close()

    def _traced_memo(self, memo):
        """``dfcache.memo`` with each build timed as ``dfcache.build_ms.<family>``."""
        tr = self.ctx.tracer

        def traced(spark, key, build):
            def timed_build():
                tr.add("dfcache.builds")
                with tr.span(f"dfcache.build_ms.{key[0]}"):
                    return build()

            return memo(spark, key, timed_build)

        return traced

    def run(self):
        ctx, tr = self.ctx, self.ctx.tracer
        traced_flag = tr.enabled
        memo = dfcache.memo
        if traced_flag:
            dfcache.memo = self._traced_memo(memo)
        try:
            tr.enabled = False
            done = []
            t0 = time.perf_counter()
            warm: list[float] = []
            for sf_dir in self.corpora[:WARM_PASSES]:
                answers, ms = self.one_pass(sf_dir)
                done.append((sf_dir, answers))
                warm.extend(ms)
            ctx.start_measuring(WARM_PASSES, time.perf_counter() - t0, warm)
            tr.enabled = traced_flag
            query_ms, pass_ms = [], []
            busy = 0.0
            for n, sf_dir in enumerate(self.corpora[WARM_PASSES:]):
                tr.request = n
                t0 = time.perf_counter()
                answers, ms = self.one_pass(sf_dir)
                dt = time.perf_counter() - t0
                busy += dt
                done.append((sf_dir, answers))
                query_ms.extend(ms)
                pass_ms.append(dt * 1000.0)
        finally:
            dfcache.memo = memo
        for sf_dir, answers in done:
            self.check(sf_dir, answers)
        docs_per_s = N_DOCS * len(pass_ms) / busy
        named = {
            "curation_docs_per_s": docs_per_s,
            **latency_summary("curation_pass", pass_ms),
            **latency_summary("curation_query", query_ms),
        }
        return {
            "throughput_per_s": docs_per_s,
            "latency_p50_ms": named["curation_pass_p50_ms"],
            "named": named,
            "inputs": self.inputs,
            "ops_ms": pass_ms,
        }
