"""Parquet 'database' directory (SURVEY §2.1 S8/S9 and §7 architecture).

A database is a directory with one parquet dataset per table.  Writing a
table in full to a temp directory and swapping it in is the Spark form of
pimdb's truncate-before-load (database.py:369-371), so a failed write
leaves the old table readable; dropping obsolete tables
(database.py:582-586) is deleting datasets not in the current table list.
Tables are registered as temp views so ``spark.sql`` serves the
pass-through query surface: ``sql`` registers the tables its statement
names, ``register_all`` every table.

A view is registered once per table version per session: ``register_all``
re-reads a table only when its path or its files on disk (name, size,
mtime of each) differ from what the session last registered under that
name, so repeated queries skip re-reading and re-analysing unchanged
tables.  View names that equal table names are owned by
ParquetDatabase: ``register_all`` replaces them (``sql`` the ones its
statement names), and both drop each view registered whose table this
database does not hold (dropped, deleted on disk, or another
database's), so a query naming it raises Spark's
TABLE_OR_VIEW_NOT_FOUND instead of reading stale or foreign files.

``read`` starts no schema-inference job for a table Spark wrote: Spark
stores each file's schema as JSON under the footer key
``org.apache.spark.sql.parquet.row.metadata``, and ``read`` parses that
key from the table's first data file on the driver, makes it nullable
(as every parquet relation reads) and passes it to Spark.  Spark's own
inference reads the same key, so the two schemas are equal.  A table
without such a file or key (written by another engine, or a hive-layout
directory) is read with Spark's inference.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SWAP_OLD_SUFFIX = ".swap.old"

# SparkSession.sessionUUID -> {view name: (table path, file signature)}.
# Session-wide, not per database: temp views are session-scoped, and
# several databases in one session register the same view names over
# different directories.
_REGISTERED: dict[str, dict[str, tuple[str, tuple]]] = {}

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The nullable schema Spark wrote into the footer of the first data
    file of table directory ``path``, or None if there is none."""
    try:
        names = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    except OSError:  # missing, or a single file
        return None
    if not names:
        return None
    meta = pq.read_metadata(os.path.join(path, names[0])).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    dtype = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
        meta[_SPARK_SCHEMA_KEY].decode()
    )
    return StructType.fromJson(json.loads(dtype.asNullable().json()))


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


def write_swapped(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet to a temp directory next to ``path``, then
    swap it in (swap_directory).  A failed write leaves ``path`` as it
    was.  The temp name does not end in ``.parquet``, so
    ParquetDatabase.table_names never lists it."""
    tmp = path.rstrip("/") + ".write.tmp"
    try:
        df.write.mode("overwrite").parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    swap_directory(path, tmp)


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

    def write(self, df: DataFrame, table: str) -> None:
        """Overwrite a table; a failed write keeps its old rows (see
        write_swapped)."""
        write_swapped(df, self.path(table))

    def read(self, table: str) -> DataFrame:
        """The table as a DataFrame, with the schema from its footer (see
        the module docstring)."""
        path = self.path(table)
        schema = _footer_schema(self.spark, path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

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
        self._register()

    def _register(self, query: str | None = None) -> None:
        """register_all, restricted to the tables whose names occur in
        ``query`` as case-insensitive whole words when one is given: a
        superset of the tables the query reads, quoted or not.  Views of
        tables this database does not hold are dropped either way."""
        views = _REGISTERED.setdefault(self.spark._jsparkSession.sessionUUID(), {})
        tables = self.table_names()
        for stale in views.keys() - set(tables):
            self.spark.catalog.dropTempView(stale)
            del views[stale]
        if query is not None:
            tables = [
                t for t in tables if re.search(rf"(?<!\w){re.escape(t)}(?!\w)", query, re.I)
            ]
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
        """``spark.sql(query)`` over views of the tables it names, so a
        one-table query does not pay for reading the other tables."""
        self._register(query)
        return self.spark.sql(query)
