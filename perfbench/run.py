#!/usr/bin/env python3
"""Benchmark of the OpenFoodFacts stream and a heavy LLM-operator batch slice.

Run from the repository root:

    python3 perfbench/run.py --workload stream --seed 1 --seconds 14 --trace 0

Workloads (reasons, rates and the layer-to-metric map are in LAYERS.md):

- stream: generated envelope pages through ``run_multiplex``, then the same
  pages through ``run_per_query``
- batch_llm: two LLM-pipeline registry queries, one at a time

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``--size tiny``
runs every correctness check on inputs small enough for a smoke test.
All files go under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

SPARK_CPUS = 4  # local[N]; N <= nproc on the 4-CPU reference box
SETUP_REPEATS = 5  # set-up: generate the inputs and restart the SparkContext
WORKLOADS = ("stream", "batch_llm")
UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
}


def per_layer_names() -> tuple[str, ...]:
    """Every --trace 1 run prints all of these; a layer the workload does not
    run reads 0. BENCHMARK.json lists the same names (the smoke test checks)."""
    from batch import PLAN_METRICS, QUERIES
    from stream import MODES, PER_MODE

    from spark_streaming_project_spark.pipeline import BRANCHES

    return (
        *(f"{m}.{mode}" for m in PER_MODE for mode in MODES),
        *(f"pipeline.merge_ms.{t}" for t in BRANCHES),
        "pipeline.state_bytes",
        "state.rows_total",
        "state.memory_bytes",
        "state.commit_ms",
        "sources.backlog_pages_max",
        "sources.gen_late_p75_ms",
        "parse.rows_ratio",
        *(f"plans.{q}.{m}" for q in QUERIES for m in PLAN_METRICS),
        *(f"plans.{m}" for m in PLAN_METRICS),
        "jvm.start_s",
        "jvm.peak_rss_mb",
        "trace.overhead_ms",
        "trace.spans",
        *(f"trace.{m}" for m in UNITS),
    )


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


class Session:
    """One JVM per run. Set-up restarts the SparkContext on it, so each
    repeat pays context creation without relaunching the JVM."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None

    def start(self):
        from spark_streaming_project_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{SPARK_CPUS}]", shuffle_partitions=SPARK_CPUS, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args: argparse.Namespace, root: str) -> dict:
    from spans import Tracer, median, rss_peak_mb

    tiny = args.size == "tiny"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    tracer = Tracer(enabled=bool(args.trace))
    if args.workload == "batch_llm":
        from batch import BatchWorkload

        wl = BatchWorkload(args.seed, args.seconds, tiny, os.path.join(work, "data"), tracer)
    else:
        from stream import StreamWorkload

        wl = StreamWorkload(args.seed, args.seconds, tiny, os.path.join(work, "data"), tracer)

    session = Session(work)
    try:
        with tracer.span("jvm.start"):
            t0 = time.perf_counter()
            spark = session.start()
            jvm_start_s = time.perf_counter() - t0
        setups = []
        # The generators make about 10^5 small objects per set-up; Python's
        # cyclic collector passes over them made set-up times jumpy, so it is
        # off during set-up and runs once, untimed, before measuring.
        gc.disable()
        try:
            for i in range(SETUP_REPEATS):
                with tracer.span("setup", key=i):
                    t0 = time.perf_counter()
                    wl.generate()
                    spark = session.restart()
                    setups.append(time.perf_counter() - t0)
        finally:
            gc.enable()
        gc.collect()

        with _wrapped_layers(tracer):
            if args.workload == "batch_llm":
                wl.measure(spark)
                wl.check()
            else:
                wl.run(spark)
                wl.check(spark)

        e2e = {"setup_s": median(setups), **wl.end_to_end()}
        if args.trace:
            metrics = wl.per_layer(spark)
            metrics["jvm.start_s"] = jvm_start_s
            metrics["jvm.peak_rss_mb"] = rss_peak_mb(session.jvm_pid())
            metrics["trace.overhead_ms"] = tracer.overhead_s * 1e3
            metrics["trace.spans"] = float(len(tracer.spans))
            for name, value in e2e.items():
                metrics[f"trace.{name}"] = value
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
            metrics = {**dict.fromkeys(per_layer_names(), 0.0), **metrics}
            out_metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in metrics.items()}
        else:
            out_metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    for why in wl.failures:
        print(f"check failed: {why}", file=sys.stderr)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": out_metrics,
    }


class _wrapped_layers:
    """In the traced run, put spans around the multiplex state merge and the
    top-k sink write, the program's own calls; restore them afterwards."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        from pyspark.sql.readwriter import DataFrameWriter

        from spark_streaming_project_spark import pipeline

        self.pipeline, self.writer = pipeline, DataFrameWriter
        self.merge, self.parquet = pipeline._merge_counts, DataFrameWriter.parquet
        merge, parquet, tracer = self.merge, self.parquet, self.tracer

        def timed_merge(spark, batch_agg, table_dir, count_col):
            with tracer.span("pipeline.merge", key=os.path.basename(table_dir)):
                merge(spark, batch_agg, table_dir, count_col)

        def timed_parquet(writer, path, *a, **kw):
            if os.path.basename(str(path).rstrip("/")) != "top_additive_products":
                return parquet(writer, path, *a, **kw)
            with tracer.span("sinks.topk_write"):
                parquet(writer, path, *a, **kw)

        pipeline._merge_counts = timed_merge
        DataFrameWriter.parquet = timed_parquet
        return self

    def __exit__(self, *exc) -> None:
        if self.tracer.enabled:
            self.pipeline._merge_counts = self.merge
            self.writer.parquet = self.parquet


def _layer_unit(name: str) -> str:
    if "_per_s" in name:
        return "1/s"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MiB"), ("_bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix) or f"{suffix}." in name:
            return unit
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "scripts")]
    try:
        import spark_streaming_project_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    result = run(args, root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
