"""Gzipped-TSV source and TSV sink (SURVEY §2.1 S2/S3/S4/S5).

Reference behavior being re-expressed Spark-first:
- GzippedTsvReader (pimdb/common.py:183-265): tab-delimited, header row,
  quoting DISABLED (fields may contain stray '"'), nullValue '\\N',
  keep-FIRST dedup on key columns, optional conjunctive isin filter.
- typed_column_to_value_map (pimdb/database.py:320-355): \\N -> NULL, or a
  type default (bool False / int 0 / float 0.0 / str '') with a warning if
  the column is non-nullable; booleans parse strictly from '1'/'0'.
- TsvDictWriter (pimdb/common.py:268-295): tab-joined rows with header.

Scale notes: gzip is not splittable, so one .tsv.gz is one scan task
(the filter and typed projection run in it too).  The keep-first dedup
shuffles once on the key columns; the work after it runs in parallel.
"""

from __future__ import annotations

from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, IntegerType
from pyspark.util import _create_local_socket

from pimdb_spark.schemas import DATASET_COLUMNS, DATASET_KEY_COLUMNS, dataset_schema, type_default


def read_tsv(spark: SparkSession, path: str, dataset: str) -> DataFrame:
    """Raw scan: all columns string, '\\N' -> NULL, no quoting."""
    return spark.read.csv(
        path,
        sep="\t",
        header=True,
        schema=dataset_schema(dataset),
        nullValue="\\N",
        quote="",  # QUOTE_NONE (pimdb/common.py:226)
        escape="",
        mode="PERMISSIVE",
    )


def typed(df: DataFrame, dataset: str) -> DataFrame:
    """P1 typed coercion: cast each declared column, defaulting \\N in
    non-nullable columns (database.py:328-344); strict '1'/'0' booleans
    (database.py:345-351) — anything else becomes NULL, then the
    non-nullable default if applicable."""
    cols = []
    for name, stype, nullable in DATASET_COLUMNS[dataset]:
        c = F.col(name)
        if isinstance(stype, BooleanType):
            c = F.when(c == "1", F.lit(True)).when(c == "0", F.lit(False)).otherwise(
                F.lit(None).cast("boolean")
            )
        elif isinstance(stype, IntegerType):
            c = c.cast("int")
        elif isinstance(stype, DoubleType):
            c = c.cast("double")
        if not nullable:
            c = F.coalesce(c, F.lit(type_default(stype)))
        cols.append(c.alias(name))
    return df.select(*cols)


def dedup_keep_first(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """S3: keep the FIRST occurrence per key in file order.

    pimdb tracks seen keys in a driver-side set (common.py:238-255); the
    distributed equivalent tags each row with monotonically_increasing_id()
    — ascending in file order within and across splits of one input file —
    and keeps row_number()==1 per key ordered by that tag.
    """
    w = Window.partitionBy(*keys).orderBy("_seq")
    return (
        df.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_seq", "_rn")
    )


def conjunctive_filter(df: DataFrame, name_to_values: dict[str, list[str]] | None) -> DataFrame:
    """S4: keep row iff row[col] IN values for EVERY (col, values) entry
    (filtered_name_to_values_map, common.py:241-252)."""
    if not name_to_values:
        return df
    for colname, values in name_to_values.items():
        df = df.filter(F.col(colname).isin(list(values)))
    return df


def read_dataset(
    spark: SparkSession,
    path: str,
    dataset: str,
    filtered_name_to_values_map: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Full S2+S4+P1+S3 pipeline for one dataset file."""
    df = read_tsv(spark, path, dataset)
    df = conjunctive_filter(df, filtered_name_to_values_map)
    df = typed(df, dataset)
    return dedup_keep_first(df, DATASET_KEY_COLUMNS[dataset])


def print_tsv(df: DataFrame) -> None:
    """S5 stdout variant (pimdb/command.py:237): header, then one
    tab-joined line per row, ``\\N`` for NULL.

    Never holds the full result on the driver: the rows come from
    ``RDD.toLocalIterator`` over the frame's pickled rows, which runs one
    job per result partition when the next partition is needed.
    ``PythonRDD.serveIterator`` writes them to a local socket through a
    buffered stream, and a full socket stops its thread until this loop
    reads on.  PySpark's ``DataFrame.toLocalIterator`` serves the same
    iterator through an unbuffered stream, whose small writes stall on
    TCP's delayed ACK (~40 ms per partition and once more at the end);
    ``collect`` avoids the stall but materialises every row.

    The serving thread is created here, so it inherits this thread's job
    group and the jobs count in the caller's group.  A job that fails
    ends the stream early without an error on the socket;
    ``getResult()`` re-raises it after the rows already served.
    """
    print("\t".join(df.columns))
    rows = df._jdf.javaToPython().rdd().toLocalIterator()
    port, secret, server = df.sparkSession._jvm.PythonRDD.serveIterator(rows, "print-tsv")
    # closing the socket on an early exit ends the serving thread
    with _create_local_socket((port, secret)) as stream:
        for row in BatchedSerializer(CPickleSerializer()).load_stream(stream):
            print("\t".join("\\N" if v is None else str(v) for v in row))
    server.getResult()
