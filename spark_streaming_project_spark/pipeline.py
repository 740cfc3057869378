"""The OpenFoodFacts application pipeline — engine twin of the reference's
``ConsumerKafka.main`` (Consumer.scala:37-185).

Two execution modes over one parsed product stream:

- ``per_query`` (reference parity): six independent streaming queries — five
  complete-mode aggregations + the per-batch top-k append pipeline — each
  with its own checkpoint and sink. This re-reads the source per query,
  exactly like the reference's six branches (SURVEY.md §4 notes the 6x
  re-consumption).
- ``multiplex`` (efficiency mode): ONE streaming query whose foreachBatch
  persists the parsed micro-batch and computes every aggregate from it —
  one source read per batch.

Multiplex state layout: the five complete-mode tables share ONE parquet
snapshot under ``<out_root>/complete_counts``. Each row carries a ``table``
column naming its branch, that branch's key columns (the other branches'
keys are null) and one ``count`` column. Counts are additive, so a trigger
unions the five per-batch aggregates into one frame and merges it with the
previous snapshot in one distributed groupBy-sum: one state read, one
aggregate, one write and one publish per trigger, whatever the number of
tables. ``read_snapshot`` is the only reader and restores each table's own
columns, so this layout is known to this module alone.

Replay rule: foreachBatch is at-least-once — a batch whose offsets were
logged but whose commit was not is re-run on restart. A snapshot is
published as ``state-<batch_id>`` by one atomic rename, so its name records
the last batch it includes; a batch id not above the newest published one
is not merged again. The newest ``state-*`` directory is the current
snapshot, and older ones are removed only after a newer one is published,
so a crash at any point leaves the last complete snapshot readable. The
per-batch top-k sink overwrites its own ``batch_id`` partition, so a
replay rewrites it instead of appending a second copy.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import (
    brand_counts,
    category_counts,
    nova_group_classification,
    nutriscore_counts,
    packaging_distribution,
)
from .operators.topk import additive_counts
from .schemas import PRODUCT
from .streaming.runner import StreamRunner
from .streaming.sinks import foreach_batch_per_batch_topk

#: The five complete-mode branches (name -> transform), Consumer.scala:63-68.
BRANCHES: dict[str, Callable[[DataFrame], DataFrame]] = {
    "nutriscore_counts": nutriscore_counts,
    "category_counts": category_counts,
    "brand_counts": brand_counts,
    "packaging_distribution": packaging_distribution,
    "nova_group_classification": nova_group_classification,
}

#: count column per branch output (the additive state key for multiplexing).
_COUNT_COL = {
    "nutriscore_counts": "product_count",
    "category_counts": "category_count",
    "brand_counts": "product_count",
    "packaging_distribution": "packaging_count",
    "nova_group_classification": "product_count",
}

#: multiplex snapshot layout: directory under out_root, the count column
#: shared by all five tables, and the snapshot name prefix.
_STATE_DIR = "complete_counts"
_COUNT = "count"
_SNAPSHOT = "state-"


def run_per_query(
    spark: SparkSession,
    products: DataFrame,
    out_root: str,
    checkpoint_root: str,
    available_now: bool = True,
    state_store_provider: str | None = None,
) -> StreamRunner:
    """Reference-parity mode: six concurrent queries, per-query checkpoints,
    memory sinks named after their output tables + the parquet per-batch
    top-k.

    ``state_store_provider="rocksdb"`` runs every branch's keyed state on
    the out-of-heap provider (the 100 TB path; see StreamRunner)."""
    runner = StreamRunner(
        spark, checkpoint_root, state_store_provider=state_store_provider
    )
    for name, branch in BRANCHES.items():
        runner.add(name, branch(products), output_mode="complete")
    runner.add(
        "top_additive_products",
        products,
        output_mode="append",
        foreach_batch=_topk_sink(out_root),
    )
    runner.start_all(available_now=available_now)
    return runner


def _topk_sink(out_root: str) -> Callable[[DataFrame, int], None]:
    """The per-batch additive top-k (X5), shared by both modes so they
    agree on the tiebreak at the k boundary."""
    return foreach_batch_per_batch_topk(
        additive_counts,
        os.path.join(out_root, "top_additive_products"),
        "additive_count",
        k=10,
        tiebreak_asc=("product_name",),
    )


def _snapshots(table_dir: str) -> list[tuple[int, str]]:
    """Published ``state-<batch_id>`` snapshots under ``table_dir``,
    oldest first."""
    if not os.path.isdir(table_dir):
        return []
    found = []
    for entry in os.scandir(table_dir):
        suffix = entry.name[len(_SNAPSHOT) :]
        if entry.name.startswith(_SNAPSHOT) and suffix.isdigit():
            found.append((int(suffix), entry.path))
    return sorted(found)


def _latest_snapshot(table_dir: str) -> tuple[int, str] | None:
    """(batch_id, path) of the newest published snapshot, if any."""
    snaps = _snapshots(table_dir)
    return snaps[-1] if snaps else None


def _merge_counts(
    spark: SparkSession, batch_agg: DataFrame, table_dir: str, count_col: str
) -> None:
    """Additive complete-mode state merge: newest published snapshot (+)
    ``batch_agg``, grouped on every column but ``count_col``, written to
    ``table_dir/_staging``. ``_publish`` makes it the current snapshot.

    Multiplex calls this once per trigger with all five tables' batch
    counts in one frame; a leftover ``_staging`` from a crashed trigger is
    overwritten."""
    key_cols = [c for c in batch_agg.columns if c != count_col]
    merged = batch_agg
    latest = _latest_snapshot(table_dir)
    if latest is not None:
        merged = (
            spark.read.parquet(latest[1])
            .unionByName(batch_agg)
            .groupBy(*key_cols)
            .agg(F.sum(count_col).alias(count_col))
        )
    merged.write.mode("overwrite").parquet(os.path.join(table_dir, "_staging"))


def _publish(table_dir: str, batch_id: int) -> None:
    """Publish ``_staging`` as ``state-<batch_id>`` with one atomic rename,
    then remove the snapshots it supersedes."""
    os.rename(
        os.path.join(table_dir, "_staging"),
        os.path.join(table_dir, f"{_SNAPSHOT}{batch_id}"),
    )
    for old_id, path in _snapshots(table_dir):
        if old_id < batch_id:
            shutil.rmtree(path, ignore_errors=True)


def _batch_counts(batch_df: DataFrame) -> DataFrame:
    """All five branches' counts over one micro-batch as one frame in the
    snapshot layout (``table``, every branch's keys, ``count``)."""
    parts = [
        branch(batch_df)
        .withColumnRenamed(_COUNT_COL[name], _COUNT)
        .withColumn("table", F.lit(name))
        for name, branch in BRANCHES.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def run_multiplex(
    spark: SparkSession,
    products: DataFrame,
    out_root: str,
    checkpoint_root: str,
    available_now: bool = True,
) -> StreamRunner:
    """Efficiency mode: one query, one source read per micro-batch; the
    foreachBatch closure persists the batch, merges every complete-mode
    table's counts into the shared snapshot (skipped for a replayed batch
    the snapshot already includes) and writes the batch's top-k.

    The query itself is a stateless foreachBatch, so it has no state-store
    provider to choose."""
    state_dir = os.path.join(out_root, _STATE_DIR)
    topk_sink = _topk_sink(out_root)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            latest = _latest_snapshot(state_dir)
            if latest is None or latest[0] < batch_id:
                _merge_counts(spark, _batch_counts(batch_df), state_dir, _COUNT)
                _publish(state_dir, batch_id)
            topk_sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    runner = StreamRunner(spark, checkpoint_root)
    runner.add("openfood_multiplex", products, output_mode="append", foreach_batch=process)
    runner.start_all(available_now=available_now)
    return runner


def read_snapshot(spark: SparkSession, out_root: str, table: str) -> DataFrame:
    """Read a complete-mode table's current snapshot (multiplex mode), with
    the branch's own columns in the branch's order."""
    state_dir = os.path.join(out_root, _STATE_DIR)
    latest = _latest_snapshot(state_dir)
    if latest is None:
        raise FileNotFoundError(f"no published snapshot under {state_dir}")
    columns = BRANCHES[table](spark.createDataFrame([], PRODUCT)).columns
    return (
        spark.read.parquet(latest[1])
        .filter(F.col("table") == table)
        .withColumnRenamed(_COUNT, _COUNT_COL[table])
        .select(*columns)
    )
