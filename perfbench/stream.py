"""Stream workload: envelope pages -> ``parse_envelopes`` -> six aggregations,
through both of the program's pipeline modes in turn, in one JVM:
``run_multiplex`` (one query, parquet state merges) and then
``run_per_query`` (six queries on Spark's keyed state store), over the same
seeded pages. Each mode's pipeline run reads its own directory of page
files in up to two phases:

- drain: a pre-written backlog consumed at a fixed number of pages per
  trigger (``maxFilesPerTrigger``). The first triggers pay class loading
  and JIT compilation and are not timed. ``throughput_per_s`` is the
  products of the timed triggers per second of their wall time, from the
  first one's start to the last commit of any query; the per-trigger layer
  numbers are medians over the same triggers.
- live (multiplex only): once the backlog is committed, an open loop. One
  generator thread in this process writes pages on a fixed schedule; each
  page is timed from when it was due until the query that consumed it
  committed that trigger (``latency_*``).

The workload's ``throughput_per_s`` pools both modes' timed drain triggers;
per-mode figures are per-layer metrics.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import types as T

from gen import PAGE_SIZE, ProductGenerator, write_page
from spans import SparkCounters, Tracer, median, percentile

FILE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])
LANG_PREFIX = re.compile(r"^[a-z]{2,3}:")
TOPK = 10


@dataclass(frozen=True)
class StreamShape:
    pages_per_trigger: int  # maxFilesPerTrigger; also caps a live trigger
    warm_triggers: int  # first drain triggers, not timed
    timed_triggers: int
    live_rate: float  # pages per second in the live phase; 0: no live phase
    min_live_pages: int  # so p75 has >= 10 samples beyond it

    @property
    def backlog_pages(self) -> int:
        return self.pages_per_trigger * (self.warm_triggers + self.timed_triggers)


# The live rate is a stress rate. The paper's producer sleeps 4 s per page,
# at most 0.25 pages/s (BASELINE.md), so 40 pages would take 160 s; 3
# pages/s is 12 times that. A trigger's cost is mostly fixed (multiplex:
# 2.3-4 s for 1 to 60 pages on 4 CPUs), so at any rate below capacity a
# page waits one to two trigger times, and freshness moves with the fixed
# per-trigger cost. A live trigger takes about 10 pages; multiplex drains
# 6-10 pages/s at the ``maxFilesPerTrigger`` cap, so the rate stays below
# capacity when the shared box runs slow (at 5 pages/s it did not).
# Recorded in BENCHMARK.json and LAYERS.md.
# per_query has no live phase: the run budget has room for one, and its cold
# start (six queries compiling at once) costs as much as the live phase.
SHAPES = {
    "multiplex": StreamShape(40, warm_triggers=1, timed_triggers=2, live_rate=3.0, min_live_pages=40),
    "per_query": StreamShape(40, warm_triggers=1, timed_triggers=2, live_rate=0.0, min_live_pages=0),
}
TINY = {
    "multiplex": StreamShape(4, warm_triggers=1, timed_triggers=2, live_rate=4.0, min_live_pages=6),
    "per_query": StreamShape(4, warm_triggers=1, timed_triggers=2, live_rate=0.0, min_live_pages=0),
}
MODES = tuple(SHAPES)  # run in this order

QUERY_TOPK = {"multiplex": "openfood_multiplex", "per_query": "top_additive_products"}
# per-layer metrics each mode reports under its own name (``<metric>.<mode>``)
PER_MODE = (
    "runner.get_batch_ms",
    "runner.query_planning_ms",
    "runner.wal_commit_ms",
    "runner.commit_offsets_ms",
    "runner.add_batch_ms",
    "runner.trigger_p50_ms",
    "runner.trigger_p95_ms",
    "runner.jobs_per_trigger",
    "stream.throughput_per_s",
    "sinks.topk_write_ms",
    "jvm.warmup_s",
)


class StreamWorkload:
    """Both modes over the same pages; pools what they report."""

    def __init__(self, seed: int, seconds: float, tiny: bool, work: str, tracer: Tracer) -> None:
        shapes = TINY if tiny else SHAPES
        self.seed = seed
        self.modes = [StreamMode(m, shapes[m], seconds, os.path.join(work, m), tracer) for m in MODES]

    def generate(self) -> None:
        """Make and write the backlog of every mode; the multiplex live pages
        come from the same seeded generator, each made when it is due."""
        gen = ProductGenerator(self.seed)
        backlog = [gen.page() for _ in range(max(m.shape.backlog_pages for m in self.modes))]
        for m in self.modes:
            m.generate(backlog[: m.shape.backlog_pages], gen)

    def run(self, spark) -> None:
        for m in self.modes:
            m.run(spark)

    def check(self, spark) -> None:
        for m in self.modes:
            m.check(spark)

    @property
    def attempted(self) -> int:
        return sum(m.attempted for m in self.modes)

    @property
    def failed(self) -> int:
        return sum(m.failed for m in self.modes)

    @property
    def failures(self) -> list[str]:
        return [f"{m.mode}: {why}" for m in self.modes for why in m.failures]

    def end_to_end(self) -> dict[str, float]:
        fresh = [ms for m in self.modes for ms in m.freshness_ms()[0]]
        return {
            "throughput_per_s": sum(m.timed_products() for m in self.modes) / sum(m.timed_wall_s() for m in self.modes),
            "latency_p50_ms": median(fresh),
            "latency_p75_ms": percentile(fresh, 75),
        }

    def per_layer(self, spark) -> dict[str, float]:
        out: dict[str, float] = {}
        for m in self.modes:
            for name, value in m.per_layer(spark).items():
                out[f"{name}.{m.mode}" if name in PER_MODE else name] = value
        parsed = sum(m.products_parsed for m in self.modes)
        out["parse.rows_ratio"] = parsed / sum(m.products_generated() for m in self.modes)
        return out


class StreamMode:
    """One pipeline mode: its drain, its live phase if any, its checks."""

    def __init__(self, mode: str, shape: StreamShape, seconds: float, work: str, tracer: Tracer) -> None:
        self.mode = mode
        self.shape = shape
        self.live_pages = max(shape.min_live_pages, round(shape.live_rate * seconds))
        self.work = work
        self.src, self.out, self.ckpt = (os.path.join(work, d) for d in ("src", "out", "ckpt"))
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.products_parsed = 0
        self.warmup_s = 0.0

    # -- set-up ---------------------------------------------------------
    def generate(self, backlog: list[tuple[list[dict], str]], gen: ProductGenerator) -> None:
        """Write the backlog; live pages come from ``gen``, each made when
        it is due, as a producer would."""
        self.gen = gen
        self.pages = list(backlog)
        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        os.makedirs(self.src)
        self.files = [write_page(self.src, i, line) for i, (_, line) in enumerate(self.pages)]
        self.due: list[float] = []  # per live page
        self.written: list[float] = []

    # -- measurement ----------------------------------------------------
    def run(self, spark) -> None:
        """Drain the backlog, then feed any live pages; stop once all are
        committed."""
        from spark_streaming_project_spark import pipeline
        from spark_streaming_project_spark.operators.parse import parse_envelopes
        from spark_streaming_project_spark.streaming.runner import stream_json_dir

        run = pipeline.run_multiplex if self.mode == "multiplex" else pipeline.run_per_query
        t0 = time.time()
        products = parse_envelopes(stream_json_dir(spark, self.src, FILE_SCHEMA, self.shape.pages_per_trigger))
        runner = run(spark, products, self.out, self.ckpt, available_now=False)
        try:
            last_backlog = self.shape.warm_triggers + self.shape.timed_triggers - 1
            self._await_commit(runner.queries, last_backlog, timeout=120)
            t1 = time.time()
            if self.live_pages:
                writer = threading.Thread(target=self._write_live, args=(t1 + 0.1,), daemon=True)
                writer.start()
                writer.join(timeout=self.live_pages / self.shape.live_rate + 60)
                if writer.is_alive():
                    raise TimeoutError("live page generator did not finish")
                for q in runner.queries.values():
                    q.processAllAvailable()
            t2 = time.time()
        finally:
            runner.stop_all()
        self.drain_span = self.tracer.record("phase.drain", t0, t1, key=self.mode)
        self.live_span = self.tracer.record("phase.live", t1, t2, key=self.mode)
        self._collect_progress(runner)
        warm = [p for ps in self.progress.values() for p in ps[: self.shape.warm_triggers]]
        self.warmup_s = max(_end(p) for p in warm) - min(_start(p) for p in warm)

    def _await_commit(self, queries: dict, batch_id: int, timeout: float) -> None:
        """Wait until every query has committed ``batch_id``."""
        deadline = time.time() + timeout
        pending = [os.path.join(self.ckpt, q, "commits", str(batch_id)) for q in queries]
        while pending:
            pending = [f for f in pending if not os.path.exists(f)]
            for q in queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"query {q.name} failed: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"backlog not committed within {timeout} s")
            time.sleep(0.01)

    def _write_live(self, start: float) -> None:
        interval = 1.0 / self.shape.live_rate
        for i in range(self.live_pages):
            due = start + i * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            page = self.gen.page()
            self.pages.append(page)
            self.files.append(write_page(self.src, len(self.files), page[1]))
            self.due.append(due)
            self.written.append(time.time())

    def _collect_progress(self, runner) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.run_ids: dict[str, str] = {}
        for qname, q in runner.queries.items():
            self.run_ids[qname] = str(q.runId)
            seen: dict[int, dict] = {}
            for p in q.recentProgress:
                prog = json.loads(p.json)
                if prog.get("numInputRows", 0) > 0:
                    seen[prog["batchId"]] = prog
            self.progress[qname] = [seen[b] for b in sorted(seen)]

    def _timed_triggers(self) -> list[dict]:
        """The backlog triggers after the warm ones, over every query."""
        w = self.shape.warm_triggers
        return [p for ps in self.progress.values() for p in ps[w : w + self.shape.timed_triggers]]

    # -- file-source log and commit log ----------------------------------
    def _batch_of_file(self, qname: str) -> dict[str, int]:
        """basename -> batch id, from the query's file-source metadata log
        (plain batch files and compacted ``N.compact`` files)."""
        log_dir = os.path.join(self.ckpt, qname, "sources", "0")
        out: dict[str, int] = {}
        for entry in sorted(os.listdir(log_dir)):
            if entry.startswith("."):
                continue
            with open(os.path.join(log_dir, entry)) as f:
                for line in f.read().splitlines()[1:]:
                    if line.strip():
                        rec = json.loads(line)
                        out[os.path.basename(rec["path"])] = rec["batchId"]
        return out

    def _commit_times(self, qname: str) -> dict[int, float]:
        commits = os.path.join(self.ckpt, qname, "commits")
        return {
            int(e): os.stat(os.path.join(commits, e)).st_mtime_ns / 1e9
            for e in os.listdir(commits)
            if e.isdigit()
        }

    def freshness_ms(self) -> tuple[list[float], list[float]]:
        """Per committed live page: (due -> last query's commit) and the
        done times. Pages some query never committed are left out; the
        check counts them as failed."""
        live = self.files[self.shape.backlog_pages :]
        done: list[float | None] = [0.0] * len(live)
        for qname in self.progress:
            batch_of = self._batch_of_file(qname)
            commit = self._commit_times(qname)
            for i, path in enumerate(live):
                t = commit.get(batch_of.get(os.path.basename(path), -1))
                done[i] = None if t is None or done[i] is None else max(done[i], t)
        pairs = [(d, due) for d, due in zip(done, self.due) if d is not None]
        return [(d - due) * 1e3 for d, due in pairs], [d for d, _ in pairs]

    # -- correctness ----------------------------------------------------
    def check(self, spark) -> None:
        """Compare the five complete-mode tables to the batch twin over every
        page, and each batch's top-k to a recomputation from the files its
        checkpoint log lists. Untimed."""
        from spark_streaming_project_spark.operators.parse import parse_envelopes
        from spark_streaming_project_spark.pipeline import BRANCHES, read_snapshot

        with self.tracer.span("phase.check", key=self.mode):
            expected = self.shape.backlog_pages + self.live_pages
            self.attempted += expected
            missing = expected - len(self.files)
            self._fail(missing, f"{missing} pages never written")
            lost = len(self.files) - self.shape.backlog_pages - len(self.freshness_ms()[0])
            self._fail(lost, f"{lost} live pages never committed")
            products = parse_envelopes(spark.read.schema(FILE_SCHEMA).json(self.files)).persist()

            def matches(table: str) -> bool:
                got = read_snapshot(spark, self.out, table) if self.mode == "multiplex" else spark.table(table)
                return _rows(got) == _rows(BRANCHES[table](products))

            try:
                self.products_parsed = products.count()
                with ThreadPoolExecutor(len(BRANCHES)) as pool:
                    results = dict(zip(BRANCHES, pool.map(matches, BRANCHES)))
            finally:
                products.unpersist()
            for table, ok in results.items():
                self.attempted += 1
                if not ok:
                    self._fail(1, f"{table} differs from its batch twin")
            self._check_topk(spark)

    def _check_topk(self, spark) -> None:
        products_of = {os.path.basename(f): prods for f, (prods, _) in zip(self.files, self.pages)}
        files_in: dict[int, list[str]] = {}
        for fname, b in self._batch_of_file(QUERY_TOPK[self.mode]).items():
            files_in.setdefault(b, []).append(fname)
        got: dict[int, list[tuple]] = {b: [] for b in files_in}
        topk_dir = os.path.join(self.out, "top_additive_products")
        if os.path.exists(topk_dir):
            for r in spark.read.parquet(topk_dir).collect():
                got.setdefault(r["batch_id"], []).append(
                    (r["product_name"], r["additive_count"], r["most_common_additive"])
                )
        for b, fnames in files_in.items():
            self.attempted += 1
            want = _py_topk([p for f in fnames for p in products_of[f]])
            if sorted(got[b], key=lambda t: (-t[1], t[0])) != want:
                self._fail(1, f"top-k of batch {b} differs from its files")
        extra = set(got) - set(files_in)
        self._fail(len(extra), f"top-k rows for unknown batches {sorted(extra)}")

    def _fail(self, n: int, why: str) -> None:
        if n > 0:
            self.failed += n
            self.failures.append(why)

    # -- metrics --------------------------------------------------------
    def _timed_window(self) -> tuple[float, float]:
        timed = self._timed_triggers()
        return min(_start(p) for p in timed), max(_end(p) for p in timed)

    def timed_products(self) -> int:
        return self.shape.timed_triggers * self.shape.pages_per_trigger * PAGE_SIZE

    def timed_wall_s(self) -> float:
        t0, t1 = self._timed_window()
        return t1 - t0

    def products_generated(self) -> int:
        return sum(len(prods) for prods, _ in self.pages)

    def per_layer(self, spark) -> dict[str, float]:
        from spark_streaming_project_spark.pipeline import BRANCHES

        progs = self._timed_triggers()
        window = self._timed_window()
        timed_ids = {p["batchId"] for p in progs}

        def dur(key: str) -> list[float]:
            return [float(p["durationMs"].get(key, 0)) for p in progs]

        counters = SparkCounters(spark)
        jobs_by_batch: dict[int, int] = {}
        for run_id in self.run_ids.values():
            for b, n in counters.batch_jobs(run_id).items():
                if b in timed_ids:
                    jobs_by_batch[b] = jobs_by_batch.get(b, 0) + n
        stateful = [p for p in progs if p.get("stateOperators")]
        out = {
            "runner.get_batch_ms": median(dur("getBatch")),
            "runner.query_planning_ms": median(dur("queryPlanning")),
            "runner.wal_commit_ms": median(dur("walCommit")),
            "runner.commit_offsets_ms": median(dur("commitOffsets")),
            "runner.add_batch_ms": median(dur("addBatch")),
            "runner.trigger_p50_ms": median(dur("triggerExecution")),
            "runner.trigger_p95_ms": percentile(dur("triggerExecution"), 95),
            "runner.jobs_per_trigger": median(list(jobs_by_batch.values())),
            "sinks.topk_write_ms": median(self.tracer.durations_ms("sinks.topk_write", within=window)),
            "stream.throughput_per_s": self.timed_products() / self.timed_wall_s(),
            "jvm.warmup_s": self.warmup_s,
        }
        if self.live_pages:
            _, done = self.freshness_ms()
            out["sources.backlog_pages_max"] = float(_backlog_max(self.written, done))
            late = [(w - d) * 1e3 for w, d in zip(self.written, self.due)]
            out["sources.gen_late_p75_ms"] = percentile(late, 75)
        if stateful:  # per_query only
            last = max(p["batchId"] for p in stateful)
            out["state.rows_total"] = float(
                sum(op["numRowsTotal"] for p in stateful if p["batchId"] == last for op in p["stateOperators"])
            )
            out["state.memory_bytes"] = float(
                sum(op["memoryUsedBytes"] for p in stateful if p["batchId"] == last for op in p["stateOperators"])
            )
            out["state.commit_ms"] = median(
                [sum(op.get("commitTimeMs", 0) for op in p["stateOperators"]) for p in stateful]
            )
        if self.mode == "multiplex":
            state_bytes = 0
            for table in BRANCHES:
                out[f"pipeline.merge_ms.{table}"] = median(self.tracer.durations_ms("pipeline.merge", table, window))
                state_dir = os.path.join(self.out, table, "state")
                if os.path.isdir(state_dir):
                    state_bytes += sum(e.stat().st_size for e in os.scandir(state_dir) if e.is_file())
            out["pipeline.state_bytes"] = float(state_bytes)
        self._trace_triggers()
        return out

    def _trace_triggers(self) -> None:
        """One span per trigger (keyed by query and batch id, under its
        phase) with its durationMs components laid out in execution order
        underneath."""
        order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
        backlog_batches = self.shape.warm_triggers + self.shape.timed_triggers
        for qname, progs in self.progress.items():
            for p in progs:
                drain = p["batchId"] < backlog_batches
                parent = self.tracer.record(
                    "trigger.drain" if drain else "trigger.live",
                    _start(p),
                    _end(p),
                    key=(qname, p["batchId"]),
                    parent=self.drain_span if drain else self.live_span,
                )
                t = _start(p)
                for comp in order:
                    d = p["durationMs"].get(comp, 0) / 1e3
                    self.tracer.record(f"runner.{comp}", t, t + d, key=p["batchId"], parent=parent)
                    t += d


def _start(progress: dict) -> float:
    """Trigger start, in epoch seconds, from a StreamingQueryProgress."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _end(progress: dict) -> float:
    return _start(progress) + progress["durationMs"].get("triggerExecution", 0) / 1e3


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted((tuple(r[c] for c in cols) for r in df.select(*cols).collect()), key=repr)


def _py_topk(products: list[dict]) -> list[tuple]:
    """Pure-Python twin of additive_counts + top-k: count non-empty additives
    per ``main`` product name, keep the smallest cleaned additive, order by
    count desc then name asc."""
    counts: dict[str, int] = {}
    least: dict[str, str] = {}
    for p in products:
        name = next((e["text"] for e in p["product_name"] if e["lang"] == "main"), None)
        if name is None:
            continue
        for raw in p["additives_tags"] or []:
            if not raw:
                continue
            tag = LANG_PREFIX.sub("", raw).strip(" ")
            counts[name] = counts.get(name, 0) + 1
            least[name] = min(least.get(name, tag), tag)
    ranked = sorted(counts, key=lambda n: (-counts[n], n))[:TOPK]
    return [(n, counts[n], least[n]) for n in ranked]


def _backlog_max(written: list[float], done: list[float]) -> int:
    """Most pages written but not yet committed by every query, at once."""
    events = sorted([(w, 1) for w in written] + [(d, -1) for d in done])
    level = peak = 0
    for _, step in events:
        level += step
        peak = max(peak, level)
    return peak
