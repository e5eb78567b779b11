"""Streaming incremental refresh: snapshot files arriving in a directory
are upsert-merged into a maintained parquet table via foreachBatch.

This is the continuous form of the reference's refresh loop — download
when Last-Modified changes, then truncate-and-reload the whole table
(pimdb/common.py:155-180, pimdb/database.py:524-566).  At 100 TB the
reload is replaced by operators/delta.snapshot_merge: each arriving
micro-batch of updated rows costs one anti-join against the current
table, not a full rewrite of unchanged data ... of the LOGICAL table;
this minimal implementation rewrites the parquet files (no transactional
table format in this environment).  The merge plan itself is the part
that scales: with a table format that supports row-level ops (Delta/
Iceberg MERGE INTO) the same (updates, key) contract drops in unchanged.

Batches are keyed dedup'd first (last writer in the batch wins by a
deterministic tie-break column) so replayed/overlapping snapshot files
stay idempotent — exactly-once table state from at-least-once file
delivery.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pimdb_spark.operators.delta import snapshot_merge


def latest_per_key(
    updates: DataFrame, key_cols: Sequence[str], version_col: str
) -> DataFrame:
    """One row per key: highest version_col wins (row_number, not max-join,
    so the full row survives in one window pass)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_batch(
    spark: SparkSession,
    updates: DataFrame,
    table_path: str,
    key_cols: Sequence[str],
    version_col: str,
) -> None:
    """foreachBatch body: dedup the batch per key, merge into the parquet
    table at table_path, then swap the merged result in.

    The merged frame is fully written to a TEMP directory while the
    current table is still intact on disk, then swapped in
    (store.write_swapped).  Never read-then-overwrite-in-place: that
    relies on a cache staying resident for correctness — evicted blocks
    or a lost executor mid-write would recompute the merge from input
    files the overwrite already deleted, corrupting the table.  (With
    Delta/Iceberg this becomes MERGE INTO and the rewrite is confined to
    touched files.)"""
    from pimdb_spark.plans.store import recover_swap, write_swapped

    if not updates.take(1):
        return
    recover_swap(table_path)  # repair any crash mid-swap from a prior batch
    best = latest_per_key(updates, key_cols, version_col)
    base = spark.read.parquet(table_path)
    merged = snapshot_merge(base, best.select(*base.columns), key_cols)
    write_swapped(merged, table_path)


def incremental_refresh(
    spark: SparkSession,
    snapshot_dir: str,
    table_path: str,
    schema,
    key_cols: Sequence[str],
    version_col: str,
    checkpoint_dir: str,
):
    """Maintain table_path from snapshot files arriving under snapshot_dir.
    Returns the started StreamingQuery (caller stops it)."""
    updates = spark.readStream.schema(schema).parquet(snapshot_dir)
    return (
        updates.writeStream.foreachBatch(
            lambda batch, _id: merge_batch(
                spark, batch, table_path, key_cols, version_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
