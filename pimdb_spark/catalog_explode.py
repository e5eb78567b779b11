"""Explode/flatten operator family (SURVEY §2.6) exercised on the synthetic
tables: comma/space-list explode with ordering (E1), explode with
skip-and-renumber (E2), and declaration-order token decomposition (E4).
The exact IMDb-semantics versions live in plans/build.py; these entries
prove the same shapes against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pimdb_spark.catalog import load, register

# fixed declaration-order token list for the E4-shaped decomposition
PTYPE_TOKENS = ["PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"]


@register(
    "q_posexplode_ordering",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS ordering
    FROM documents
    WHERE doc_id < 50
    """,
)
def q_posexplode_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: list -> rows with 1-based ordering (posexplode), the signature
    operation behind title_to_genre (database.py:996-1001).
    Scale: explode is pipelined inside the scan stage — no shuffle."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select("doc_id", "tok", (F.col("pos") + 1).alias("ordering"))


@register(
    "q_explode_resolve_renumber",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS tok FROM part
    ), toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ordering,
           tok
    FROM toks WHERE tok IN (SELECT tok FROM vocab)
    """,
)
def q_explode_resolve_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 skip-and-renumber: explode a list, keep only elements resolving
    against a dimension (inner join), renumber ordering densely in original
    list order — the knownForTitles shape (database.py:858-874).
    Scale: vocab is small -> broadcast semi join; window shuffles on doc_id.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    vocab = (
        load(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("tok"))
        .distinct()
    )
    exploded = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    resolved = exploded.join(F.broadcast(vocab), "tok")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return resolved.select(
        "doc_id", F.row_number().over(w).alias("ordering"), "tok"
    )


@register(
    "q_token_decompose",
    oracle=f"""
    WITH matched AS (
      SELECT p_partkey,
             list_filter({PTYPE_TOKENS!r}, t -> strpos(p_type, t) > 0) AS toks
      FROM part
    )
    SELECT p_partkey,
           unnest(toks) AS token,
           unnest(range(1, len(toks) + 1)) AS ordering
    FROM matched WHERE len(toks) > 0
    """.replace("'", "'"),
)
def q_token_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4-shaped declaration-order token decomposition: match a fixed token
    list against a concatenated string, emitting matches numbered in
    DECLARATION order (the alias-types shape, database.py:1003-1029; the
    exact greedy-removal variant is plans/build.greedy_title_alias_types).
    Scale: pure projection + explode, no shuffle, no UDF."""
    p = load(spark, sf_dir, "part")
    toks = F.filter(
        F.array(*[F.lit(t) for t in PTYPE_TOKENS]),
        lambda t: F.instr(F.col("p_type"), t) > 0,
    )
    return (
        p.select("p_partkey", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select("p_partkey", F.posexplode("toks").alias("pos", "token"))
        .select("p_partkey", "token", (F.col("pos") + 1).alias("ordering"))
    )
