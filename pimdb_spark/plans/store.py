"""Parquet 'database' directory (SURVEY §2.1 S8/S9 and §7 architecture).

A database is a directory with one parquet dataset per table.  Writing with
mode=overwrite is the Spark form of pimdb's truncate-before-load
(database.py:369-371); dropping obsolete tables (database.py:582-586) is
deleting datasets not in the current table list.  Every table is registered
as a temp view so ``spark.sql`` serves the pass-through query surface.

A view is registered once per table version per session: ``register_all``
re-reads a table only when its path or its files on disk (name, size,
mtime of each) differ from what the session last registered under that
name, so repeated queries skip the
per-table schema jobs.  View names that equal table names are owned by
ParquetDatabase: ``register_all`` replaces them, and drops each view it
registered whose table this database does not hold (dropped, deleted on
disk, or another database's), so a query naming it raises Spark's
TABLE_OR_VIEW_NOT_FOUND instead of reading stale or foreign files.

Likewise ``read`` starts no schema-inference job for a table version the
session already knows: ``write`` remembers the schema of what it wrote and
``read`` the schema it inferred, both under the table's file signature,
and a later read of the same files passes that schema to Spark.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SWAP_OLD_SUFFIX = ".swap.old"

# SparkSession.sessionUUID -> {view name: (table path, file signature)}.
# Session-wide, not per database: temp views are session-scoped, and
# several databases in one session register the same view names over
# different directories.
_REGISTERED: dict[str, dict[str, tuple[str, tuple]]] = {}

# SparkSession.sessionUUID -> {table path: (file signature, schema)}: the
# schema Spark reads from each table version the session wrote or read.
# Without it every spark.read.parquet(path) starts one footer-reading job.
_SCHEMAS: dict[str, dict[str, tuple[tuple, StructType]]] = {}


def _file_signature(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relpath, size, mtime_ns) of every file under ``path``.  Spark
    part-file names carry a per-job UUID, so every rewrite changes it."""
    sig = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def swap_directory(path: str, tmp: str) -> None:
    """Replace the directory at ``path`` with the fully-written ``tmp``.

    Two renames, NOT one atomic operation: a reader in the gap between
    them sees ``path`` missing (it should retry), and a crash in the gap
    leaves ``<path>.swap.old`` behind — recover_swap() rolls that forward
    or back.  What this DOES guarantee is that no reader ever sees a
    half-written mix of old and new files, and the old data is never
    deleted before the new data is complete on disk — which is the
    failure mode of read-then-overwrite-in-place (cache eviction or
    executor loss mid-write recomputes from already-deleted input).
    On a real deployment this is the rename dance HDFS/object-store
    committers do; with Delta/Iceberg it becomes a metadata-only commit.
    """
    old = path + _SWAP_OLD_SUFFIX
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_swap(path: str) -> bool:
    """Repair an interrupted swap_directory: if a crash left
    ``<path>.swap.old``, roll back (restore it as ``path`` when ``path``
    is missing) or roll forward (delete it when ``path`` exists).
    Returns True if anything was repaired."""
    old = path + _SWAP_OLD_SUFFIX
    if not os.path.exists(old):
        return False
    if os.path.exists(path):
        shutil.rmtree(old)
    else:
        os.rename(old, path)
    return True


class ParquetDatabase:
    def __init__(self, spark: SparkSession, db_dir: str):
        self.spark = spark
        self.db_dir = db_dir
        os.makedirs(db_dir, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.db_dir, f"{table}.parquet")

    def write(
        self, df: DataFrame, table: str, partition_by: str | list[str] | None = None
    ) -> None:
        """Overwrite-write a table; ``partition_by`` hive-partitions the
        dataset so equality/range filters on those columns prune whole
        directories at scan time (PartitionFilters — the Spark form of
        coarse indexing; use low-cardinality columns only, high-cardinality
        partitioning makes small files)."""
        w = df.write.mode("overwrite")
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            w = w.partitionBy(*cols)
        w.parquet(self.path(table))
        if not partition_by:  # a read moves partition columns to the end
            # parquet relations read every column as nullable
            schema = StructType.fromJson(json.loads(df._jdf.schema().asNullable().json()))
            self._schemas()[self.path(table)] = (_file_signature(self.path(table)), schema)

    def to_jdbc(
        self,
        table: str,
        url: str,
        jdbc_table: str | None = None,
        mode: str = "overwrite",
        num_partitions: int | None = None,
        **properties: str,
    ) -> None:
        """Escape hatch to a real RDBMS: push a stored table out over JDBC
        — the literal form of the reference's batched-INSERT / COPY bulk
        load (pimdb/bulk.py:22-113), which this engine otherwise renders
        moot by writing parquet.

        Each partition opens one connection and streams batched INSERTs,
        so ``num_partitions`` bounds the connection count (coalesce, no
        shuffle) — at scale, size it to what the target database accepts,
        not to the cluster.  Requires the target's JDBC driver jar on the
        Spark classpath; extra ``properties`` (user, password, driver,
        batchsize, ...) pass through to the writer."""
        df = self.read(table)
        if num_partitions is not None:
            df = df.coalesce(num_partitions)
        df.write.mode(mode).jdbc(url, jdbc_table or table, properties=dict(properties))

    def _schemas(self) -> dict[str, tuple[tuple, StructType]]:
        return _SCHEMAS.setdefault(self.spark._jsparkSession.sessionUUID(), {})

    def read(self, table: str) -> DataFrame:
        """The table as a DataFrame.  A parquet table whose files this
        session wrote or read before is read with the schema remembered
        for them; otherwise Spark infers it and it is remembered."""
        path = self.path(table)
        signature = _file_signature(path)
        schemas = self._schemas()
        known = schemas.get(path)
        if known is not None and known[0] == signature:
            return self.spark.read.schema(known[1]).parquet(path)
        df = self.spark.read.parquet(path)
        schemas[path] = (signature, df.schema)
        return df

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def drop(self, table: str) -> None:
        if self.exists(table):
            shutil.rmtree(self.path(table))

    def table_names(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")] for f in os.listdir(self.db_dir) if f.endswith(".parquet")
        )

    def drop_obsolete(self, keep: list[str]) -> None:
        for t in self.table_names():
            if t not in keep:
                self.drop(t)

    def register_all(self) -> None:
        """Make the session's temp views match this database's tables (see
        the module docstring).  A table whose path and file signature
        are unchanged since this session registered it keeps its view and
        costs one directory walk; any write — through this instance,
        another instance or another process — changes the signature."""
        views = _REGISTERED.setdefault(self.spark._jsparkSession.sessionUUID(), {})
        tables = self.table_names()
        for stale in views.keys() - set(tables):
            self.spark.catalog.dropTempView(stale)
            del views[stale]
        for t in tables:
            path = self.path(t)
            # signature before read: a write racing the read re-registers
            # on the next call instead of being missed
            entry = (path, _file_signature(path))
            if views.get(t) == entry:
                continue
            self.read(t).createOrReplaceTempView(t)
            views[t] = entry

    def sql(self, query: str) -> DataFrame:
        self.register_all()
        return self.spark.sql(query)

    def compact(self, table: str, target_file_mb: int = 512) -> int:
        """Rewrite a table into ~target_file_mb-sized files and return the
        new file count.

        Incremental writers (streaming refresh, per-batch appends) leave
        many small files; at 100 TB small files dominate scan cost (task
        scheduling + footer reads, lost column-chunk locality).  The file
        count comes from the table's CURRENT on-disk size — measured, not
        guessed — and the rewrite is one narrow coalesce stage (no
        shuffle) followed by a directory swap (swap_directory), so a
        reader sees the old or the new table, never a half-written mix;
        a crash mid-swap is repaired by recover_swap()."""
        path = self.path(table)
        size_b = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-size_b // (target_file_mb * 1024 * 1024)))
        tmp = path + ".compact.tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        self.spark.read.parquet(path).coalesce(int(n_files)).write.parquet(tmp)
        swap_directory(path, tmp)
        return int(n_files)


def write_sorted(
    db: "ParquetDatabase", df: DataFrame, table: str, sort_cols: str | list[str],
    num_files: int | None = None,
) -> None:
    """Range-partition + sort-within-partitions write: rows are globally
    clustered on ``sort_cols``, so every parquet file (and row group)
    covers a narrow min/max range of those columns and a range/equality
    filter skips whole files via footer statistics — the Spark-native
    form of coarse range indexing (complementary to hive partitioning,
    which needs low cardinality).  One range-exchange (sampled
    boundaries); ``num_files`` bounds the output file count."""
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    out = (
        df.repartitionByRange(*([num_files] if num_files else []), *cols)
        .sortWithinPartitions(*cols)
    )
    out.write.mode("overwrite").parquet(db.path(table))


def write_zordered(
    db: "ParquetDatabase",
    df: DataFrame,
    table: str,
    dim_a,
    dim_b,
    num_files: int | None = None,
) -> None:
    """Z-order clustered write: interleave two dimensions into a Morton
    key (functions/zorder.zorder_key_2d — pure JVM bit expressions) and
    range-cluster on it via write_sorted.  Every output file then covers
    a small bounding box in BOTH dimensions, so min/max footer stats
    prune range filters on either — the multi-dimensional generalization
    of the single-column sorted layout.  ``dim_a``/``dim_b`` are column
    expressions already normalized to non-negative 16-bit ranges
    (``F.col(k) % 65536``, or a precomputed rank for continuous values).

    Scale: one projection + one range exchange — identical cost to
    write_sorted, strictly better pruning for two-dimensional access
    patterns."""
    from pimdb_spark.functions.zorder import zorder_key_2d

    keyed = df.withColumn("_zkey", zorder_key_2d(dim_a, dim_b))
    out = (
        keyed.repartitionByRange(*([num_files] if num_files else []), "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")  # projection preserves the per-file clustering
    )
    out.write.mode("overwrite").parquet(db.path(table))

