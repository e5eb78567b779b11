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
) -> None:
    """Each dataset is read and written in its own thread, started through
    inheritable_thread_target so the caller's job group, job description
    and tags reach every job.  The first failure is re-raised once every
    dataset has finished."""

    def write(dataset: str) -> None:
        df = read_dataset(
            spark,
            dataset_file(source_dir, dataset),
            dataset,
            filtered_name_to_values_map,
        )
        db.write(df, camelized_dot_name(dataset))

    names = list(dict.fromkeys(datasets or IMDB_DATASET_NAMES))  # one writer per table
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(write), d) for d in names]
    for future in futures:
        future.result()

