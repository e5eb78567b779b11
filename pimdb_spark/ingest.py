"""`transfer`: TSV datasets → typed, deduplicated dataset tables
(SURVEY §3.1).  The reference's row-at-a-time loop (read → type-coerce →
dedup → 1024-row INSERT batches, database.py:524-566) becomes one Spark
write per dataset: csv scan → conjunctive filter → typed projection →
keep-first window dedup → parquet write.  The datasets are independent,
so ``transfer`` writes them concurrently, one driver thread each."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from pimdb_spark.plans.store import ParquetDatabase
from pimdb_spark.schemas import IMDB_DATASET_NAMES, camelized_dot_name
from pimdb_spark.sources.tsv import read_dataset


def dataset_file(source_dir: str, dataset: str) -> str:
    """Prefer .tsv.gz (the distributed form), fall back to .tsv."""
    gz = os.path.join(source_dir, f"{dataset}.tsv.gz")
    return gz if os.path.exists(gz) else os.path.join(source_dir, f"{dataset}.tsv")


def transfer(
    spark: SparkSession,
    source_dir: str,
    db: ParquetDatabase,
    datasets: list[str] | None = None,
    filtered_name_to_values_map: dict[str, list[str]] | None = None,
    split_large_gz: bool = False,
    split_over_bytes: int = 1 << 30,
) -> None:
    """``split_large_gz`` routes any single .tsv.gz over
    ``split_over_bytes`` through sources.tsv.split_gz_tsv (ordered
    plain-text shards under <db_dir>/_split/) so one big non-splittable
    gzip no longer serializes its whole parse/type/dedup/encode pipeline
    into one task — only the inherent single-stream gunzip stays serial.

    Each dataset is read and written in its own thread, started through
    inheritable_thread_target so the caller's job group, job description
    and tags reach every job.  The first failure is re-raised once every
    dataset has finished."""

    def write(dataset: str) -> None:
        df = read_dataset(
            spark,
            dataset_file(source_dir, dataset),
            dataset,
            filtered_name_to_values_map,
            split_work_dir=(
                os.path.join(db.db_dir, "_split") if split_large_gz else None
            ),
            split_over_bytes=split_over_bytes,
        )
        db.write(df, camelized_dot_name(dataset))

    names = list(dict.fromkeys(datasets or IMDB_DATASET_NAMES))  # one writer per table
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(write), d) for d in names]
    for future in futures:
        future.result()


def incremental_transfer(
    spark: SparkSession,
    source_dir: str,
    db: ParquetDatabase,
    datasets: list[str] | None = None,
) -> dict[str, dict[str, int]]:
    """Refresh dataset tables from a NEW snapshot by digest-diffing
    against the stored table instead of truncate-and-reload.

    The reference refreshes by re-downloading and re-transferring whole
    snapshots (pimdb/common.py:155-180 download-if-newer +
    database.py:524-566 truncate-and-reload); at 100 TB the winning move
    is to diff first: the comparison shuffles only (key, md5-digest)
    pairs (operators/delta.snapshot_diff), an UNCHANGED dataset is
    detected with zero rewrite (its files are not touched — the common
    case for daily dumps where most datasets are stable), and a changed
    one is rewritten from the already-parsed snapshot frame.

    Returns per-dataset counts: {"added": n, "removed": n, "changed": n}
    (all zero -> table untouched).  Cold start (table absent) behaves
    like transfer and reports everything as added.
    """
    from pyspark.sql import functions as F

    from pimdb_spark.operators.delta import snapshot_diff
    from pimdb_spark.schemas import DATASET_KEY_COLUMNS

    stats: dict[str, dict[str, int]] = {}
    for dataset in datasets or IMDB_DATASET_NAMES:
        table = camelized_dot_name(dataset)
        new = read_dataset(spark, dataset_file(source_dir, dataset), dataset)
        if not db.exists(table):
            db.write(new, table)
            stats[table] = {"added": db.read(table).count(), "removed": 0, "changed": 0}
            continue
        keys = list(DATASET_KEY_COLUMNS[dataset])
        compare = [c for c in new.columns if c not in keys]
        counts = {
            r["status"]: r["n"]
            for r in snapshot_diff(db.read(table), new, keys, compare)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        stats[table] = {
            "added": counts.get("added", 0),
            "removed": counts.get("removed", 0),
            "changed": counts.get("changed", 0),
        }
        if any(stats[table].values()):
            db.write(new, table)  # rewrite only datasets that moved
    return stats
