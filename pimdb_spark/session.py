"""SparkSession factory tuned for this engine.

Defaults target the test harness (local[N]) but every setting is chosen to
also be the right default on a large cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions survive a 1000x scale-up where static tuning
  would not.
- ``spark.sql.shuffle.partitions`` defaults to 32 locally; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant as long as it
  is high enough, so we only pin it down for local determinism.
- Session timezone UTC so timestamp semantics are reproducible and match the
  DuckDB oracle.
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Codegen cache of 1000 classes: one ``transfer`` + build generates ~205
  Janino classes, and Spark's default cache of 100 evicts them in LRU
  order before the next ETL asks for them again, so every warm ETL
  recompiled all of them (and HotSpot re-JITted them).  With 1000 a
  second ETL in the same session compiles none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pimdb_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf: ~205 generated classes per ETL thrash the default 100
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
