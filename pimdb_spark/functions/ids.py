"""Surrogate-id assignment (SURVEY §2.5 O1 and §7 'hard parts').

pimdb's entity ids are RDBMS autoincrement in insert order; key-table ids
are the 1-based rank of the name in sorted order (database.py:631-635).
Here every id is the 1-based rank of the row under a deterministic ordering
— reproducible across runs, which the reference cannot guarantee across
backends.

``row_number().over(Window.orderBy(...))`` would force the whole table into
ONE partition — fine for key tables (tiny by definition), fatal at 100 TB.
``with_surrogate_id`` instead uses the classic two-phase distributed rank:

  1. range-partition by the order columns (sampled range boundaries keep
     partitions balanced even under skew),
  2. per-partition row_number (no cross-partition traffic),
  3. add per-partition offsets computed from partition counts — a
     metadata-sized driver collect (one long per partition), the same
     order of driver traffic AQE already uses for stats.

Total cost: one range shuffle + one tiny count job; no single-partition
stage at any scale.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Frames persisted by with_surrogate_id, per calling thread: the cache must
# stay live until the CALLER materializes the returned frame (the offset
# join re-reads it), so unpersisting can't happen inside this function.
# Callers that loop over many tables (NormalizedBuild's 15-table run) call
# release_id_caches() after each table is written, or executor storage
# accumulates one cached range-partitioned copy of every large table in the
# build.  Keyed by thread because the build writes independent tables
# concurrently: one step's release must not unpersist a frame another step
# has not written yet (the recompute may sample different range
# boundaries, and then the per-partition offsets no longer match).
_live_persists: dict[int, list[DataFrame]] = {}


def release_id_caches() -> None:
    """Unpersist every frame with_surrogate_id has cached so far in the
    calling thread.  Call after the frame returned by with_surrogate_id has
    been materialized (written / counted); safe to call repeatedly."""
    for df in _live_persists.pop(threading.get_ident(), []):
        df.unpersist()


def with_key_table_id(df: DataFrame, name_col: str = "name") -> DataFrame:
    """Key-table ids: rank of name in lexicographic order (O1). Key tables
    are small (genre ~30, profession ~50, character ~2M max) so a plain
    global window is acceptable; use with_surrogate_id for big tables."""
    w = Window.orderBy(name_col)
    return df.select(F.row_number().over(w).alias("id"), "*")


def with_surrogate_id(df: DataFrame, order_cols: list[str], id_col: str = "id") -> DataFrame:
    """Dense 1-based ids under a deterministic total order, without a
    single-partition global sort.

    After repartitionByRange + sortWithinPartitions, rows are globally
    ordered across partitions; monotonically_increasing_id() encodes
    (partition_id << 33) | row_index_within_partition, giving us both
    pieces of the two-phase rank with NO window and NO extra shuffle.
    """
    part = df.repartitionByRange(*[F.col(c) for c in order_cols]).sortWithinPartitions(
        *order_cols
    )
    with_local = part.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "_pid", F.shiftright("_mid", 33).cast("int")
    ).withColumn("_local_rn", (F.col("_mid") % F.lit(1 << 33)) + 1)
    with_local = with_local.persist()
    _live_persists.setdefault(threading.get_ident(), []).append(with_local)
    counts = dict(
        with_local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )  # metadata-sized: one row per partition
    offsets = []
    running = 0
    for pid in sorted(counts):
        offsets.append((pid, running))
        running += counts[pid]
    spark = df.sparkSession
    offset_df = spark.createDataFrame(offsets, "_pid int, _offset bigint")
    out = (
        with_local.join(F.broadcast(offset_df), "_pid")
        .withColumn(id_col, (F.col("_local_rn") + F.col("_offset")).cast("bigint"))
        .drop("_mid", "_pid", "_local_rn", "_offset")
    )
    return out.select(id_col, *[c for c in df.columns])
