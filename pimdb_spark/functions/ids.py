"""Surrogate-id assignment (SURVEY §2.5 O1 and §7 'hard parts').

pimdb's entity ids are RDBMS autoincrement in insert order; key-table ids
are the 1-based rank of the name in sorted order (database.py:631-635).
Here every id is the 1-based rank of the row under a deterministic ordering
— reproducible across runs, which the reference cannot guarantee across
backends.

``row_number().over(Window.orderBy(...))`` would force the whole table into
ONE partition — fine for key tables (tiny by definition), fatal at 100 TB.
``with_surrogate_id`` instead stays one lazy plan:

  1. range-partition by the order columns (sampled range boundaries keep
     partitions balanced even under skew) and sort within partitions, so
     partition order is global order;
  2. number the rows with ``distributed_sequence_id`` — Spark's
     ``AttachDistributedSequence`` node (pandas-on-Spark's default index),
     a ``zipWithIndex`` over the sorted child that counts its partitions
     and then offsets each one.

Total cost: one range shuffle plus, inside the caller's action, one count
job over the sorted child (none when AQE coalesced it to one partition);
no single-partition stage at any scale.  The node caches that child for
the count and unpersists it in ``cleanupResources``, which AQE calls when
the node's query stage completes — just after the action's result is
handed back.  With AQE off nothing calls it, and the cache lives until
Spark's ContextCleaner collects the plan; ``get_spark`` keeps AQE on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction


def with_key_table_id(df: DataFrame, name_col: str = "name") -> DataFrame:
    """Key-table ids: rank of name in lexicographic order (O1). Key tables
    are small (genre ~30, profession ~50, character ~2M max) so a plain
    global window is acceptable; use with_surrogate_id for big tables."""
    w = Window.orderBy(name_col)
    return df.select(F.row_number().over(w).alias("id"), "*")


def with_surrogate_id(df: DataFrame, order_cols: list[str], id_col: str = "id") -> DataFrame:
    """Dense 1-based bigint ids under a deterministic total order, without
    a single-partition global sort and without running a job until the
    caller's action."""
    ordered = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    seq = (InternalFunction.distributed_sequence_id() + 1).cast("bigint")
    return ordered.select(seq.alias(id_col), *df.columns)
