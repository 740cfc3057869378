"""batch_llm: a closed loop running one LLM-pipeline query at a time.

The queries are near-dup dedup queries, open performance targets of the
batch engine: a graph loop run eagerly while the plan is built, joins, and
shuffles. Each query is timed from the registry call that builds its
plan until its rows are collected, so that eager work is counted. The pass
runs in a fresh JVM, as a batch job does; a warm-up pass would cost as much
again (class loading and JIT compilation take about 10 s at 40 documents as
at 500) and does not fit in the run. Results are checked against the query's DuckDB
oracle twin over the same generated corpus, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

from gen import write_documents
from spans import SparkCounters, Tracer, median, percentile

# dedup_canonical_map: n-gram Jaccard pairs, then connected components by
# label propagation, a loop run eagerly while the plan is built; its joins
# are shuffled hash joins at this size. minhash_band_sweep: signatures, then
# four band self-joins (sort-merge) and their verification. On 4 CPUs a pass
# in a fresh JVM takes about 15 s, which bounds how many queries fit in one run.
QUERIES = ("dedup_canonical_map", "minhash_band_sweep")
PLAN_METRICS = ("build_s", "exec_s", "jobs", "stages", "shuffle_bytes", "shuffled_hash_joins")
N_DOCS = 500  # the size of the sf0.01 test corpus
TINY_DOCS = 40


class BatchWorkload:
    def __init__(self, seed: int, seconds: float, tiny: bool, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.seconds = seconds
        self.n_docs = TINY_DOCS if tiny else N_DOCS
        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        self.tracer = tracer
        self.runs: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def generate(self) -> None:
        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        write_documents(self.sf_dir, self.seed, self.n_docs)

    def measure(self, spark) -> None:
        """Passes over QUERIES while the next one is expected to end within
        ``seconds``; at least one."""
        t_end = time.perf_counter() + self.seconds
        n_pass = 0
        with self.tracer.span("phase.measure"):
            while True:
                t0 = time.perf_counter()
                with self.tracer.span("pass", key=n_pass):
                    self._pass(spark, n_pass)
                n_pass += 1
                now = time.perf_counter()
                if now + (now - t0) > t_end:
                    break

    def _pass(self, spark, n_pass: int) -> None:
        from spark_streaming_project_spark.plans import REGISTRY

        sc = spark.sparkContext
        for q in QUERIES:
            group = f"perfbench:{q}:{n_pass}"
            sc.setJobGroup(group, group)
            with self.tracer.span("query", key=q):
                t0 = time.perf_counter()
                with self.tracer.span("plans.build", key=q):
                    df = REGISTRY[q].builder(spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.tracer.span("plans.execute", key=q):
                    rows = df.collect()
                t2 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            plan = df._jdf.queryExecution().executedPlan().toString()  # the final adaptive plan
            # persisted intermediates are released between queries,
            # untimed, as bench.py does
            spark.catalog.clearCache()
            self.runs.append(
                {"query": q, "group": group, "build_s": t1 - t0, "exec_s": t2 - t1, "columns": df.columns, "rows": rows,
                 "shj": plan.count("ShuffledHashJoin ")}
            )

    def check(self) -> None:
        """Every collected result must equal the DuckDB oracle's rows, in
        the verify skill's canonical form (name-sorted columns, order-
        insensitive rows, exact float repr)."""
        import duckdb

        from spark_streaming_project_spark.plans import REGISTRY

        with self.tracer.span("phase.check"):
            con = duckdb.connect()
            try:
                con.execute("SET threads=4")
                path = os.path.join(self.sf_dir, "documents.parquet")
                con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
                oracle: dict[str, tuple] = {}
                for run in self.runs:
                    q = run["query"]
                    if q not in oracle:
                        res = con.execute(REGISTRY[q].oracle)
                        oracle[q] = _canon_rows([d[0] for d in res.description], res.fetchall())
                    self.attempted += 1
                    if _canon_rows(run["columns"], run["rows"]) != oracle[q]:
                        self.failed += 1
                        self.failures.append(f"{q}: result differs from the DuckDB oracle")
            finally:
                con.close()

    def end_to_end(self) -> dict[str, float]:
        latencies = [(r["build_s"] + r["exec_s"]) * 1e3 for r in self.runs]
        total_s = sum(latencies) / 1e3
        return {
            "throughput_per_s": self.n_docs * len(self.runs) / total_s,
            "latency_p50_ms": median(latencies),
            "latency_p75_ms": percentile(latencies, 75),
        }

    def per_layer(self, spark) -> dict[str, float]:
        counters = SparkCounters(spark)
        out: dict[str, float] = {}
        for metric in PLAN_METRICS:
            out[f"plans.{metric}"] = 0.0
        for q in QUERIES:
            runs = [r for r in self.runs if r["query"] == q]
            jobs = [counters.jobs(r["group"]) for r in runs]
            stages = [counters.stages(j) for j in jobs]
            per_q = {
                "build_s": median([r["build_s"] for r in runs]),
                "exec_s": median([r["exec_s"] for r in runs]),
                "jobs": median([float(len(j)) for j in jobs]),
                "stages": median([float(len(s)) for s in stages]),
                "shuffle_bytes": median([float(counters.shuffle_write_bytes(s)) for s in stages]),
                "shuffled_hash_joins": median([float(r["shj"]) for r in runs]),
            }
            for metric, value in per_q.items():
                out[f"plans.{q}.{metric}"] = value
                out[f"plans.{metric}"] += value
        return out


def _canon_rows(columns: list[str], rows: list) -> tuple:
    """The verify skill's canonical form, with its ``canon`` helper."""
    from check_query import canon

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)
    return (tuple(sorted(columns)), tuple(body))
