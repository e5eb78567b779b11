"""Training-data curation catalog: deterministic splits, quota sampling,
sequence packing, and near-dup cluster assignment (operators/curation.py)
over the documents/embeddings tables.

All randomness is md5-derived integer arithmetic — identical in DuckDB
(``('0x' || substring(md5(x),1,8))::BIGINT`` ≡ Spark ``conv(substring(
md5(x),1,8),16,10)``) so every "random" choice is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pimdb_spark.catalog import load, register
from pimdb_spark.catalog_similarity import _BUCKET, _COS_RAW
from pimdb_spark.operators import curation as C
from pimdb_spark.operators import similarity as S

# DuckDB spelling of hash_bucket()/pack order keys
_H8 = "('0x' || substring(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT"
_H8B = "('0x' || substring(md5(CAST({c} AS VARCHAR)), 9, 8))::BIGINT"


@register(
    "q_hash_split",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CASE WHEN {_H8.format(c='doc_id')} % 100 < 80 THEN 'train'
                  WHEN {_H8.format(c='doc_id')} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens
    FROM s GROUP BY split, source
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by id hash
    (operators/curation.hash_split), summarized per (split, source).

    Scale: the split is a projection — zero shuffle, no RNG state, and any
    engine/run/partitioning assigns every id identically (seeded rand() is
    partition-layout-dependent and would not survive a re-run)."""
    docs = C.hash_split(load(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
    )


@register(
    "q_domain_quota",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_H8.format(c='doc_id')} % 2147483648, doc_id) AS rk
      FROM documents
    ) WHERE rk <= 15
    """,
)
def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (operators/curation.domain_quota): keep at
    most 15 docs per source, chosen by deterministic hash order — the
    source-mix rebalancing step of corpus assembly.

    Scale: one shuffle on source; WindowGroupLimit stops each group's sort
    at rank 15.  Hash order = reproducible uniform sample."""
    docs = load(spark, sf_dir, "documents")
    return C.domain_quota(docs, "source", "doc_id", 15).select("doc_id", "source", "rk")


@register(
    "q_seq_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS toks,
             {_H8.format(c='doc_id')} % 8 AS shard,
             {_H8B.format(c='doc_id')} AS ord
      FROM documents
    ), c AS (
      SELECT shard, doc_id, toks,
             CAST(sum(toks) OVER (PARTITION BY shard ORDER BY ord, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM d
    )
    SELECT shard, (cum - toks) // 2000 AS seq_id,
           count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS seq_tokens
    FROM c GROUP BY shard, (cum - toks) // 2000
    """,
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/curation.pack_sequences):
    documents are streamed in deterministic hash order within 8 independent
    shards and cut into 2000-token training sequences
    (concatenate-then-chunk; a doc belongs to the sequence it starts in).

    Scale: shards are independent writer streams — the running sum is a
    per-shard window, so parallelism = shards (set shards ≈ cluster write
    parallelism); no global sort ever happens."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("toks")
    )
    packed = C.pack_sequences(docs, "doc_id", "toks", budget=2000, shards=8)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("toks").alias("seq_tokens")
    )


@register(
    "q_quality_funnel",
    oracle="""
    SELECT source,
           count(*) AS n_total,
           CAST(count_if(n_chars >= 150) AS BIGINT) AS n_len,
           CAST(count_if(n_chars >= 150 AND lang IN ('en', 'de')) AS BIGINT) AS n_lang,
           CAST(count_if(n_chars >= 150 AND lang IN ('en', 'de')
                    AND len(string_split(text, ' ')) >= 30) AS BIGINT) AS n_tok
    FROM documents GROUP BY source
    """,
)
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel: per source, survivors of each successive filter
    (length → language → token count) in one pass — the acceptance-rate
    dashboard of a cleaning pipeline.

    Scale: conditional aggregation (sum-of-when), one partial-agg shuffle
    carrying a row per source; never N passes over the corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    g_len = F.col("n_chars") >= 150
    g_lang = g_len & F.col("lang").isin("en", "de")
    g_tok = g_lang & (toks >= 30)
    cnt_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        cnt_if(g_len).alias("n_len"),
        cnt_if(g_lang).alias("n_lang"),
        cnt_if(g_tok).alias("n_tok"),
    )


@register(
    "q_dup_clusters",
    oracle=f"""
    WITH RECURSIVE off AS (
      SELECT 1 + max(vec_id) AS o FROM embeddings
    ), base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + off.o AS vec_id, embedding FROM embeddings, off
      WHERE vec_id % 7 = 0
    ), side AS (
      SELECT vec_id, embedding, {_BUCKET.format(v='base')} AS bucket FROM base
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM side a JOIN side b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_COS_RAW.format(a='a', b='b')} >= 0.95
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ), reach(id, r) AS (
      SELECT vec_id, vec_id FROM base
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
    )
    SELECT id, min(r) AS component FROM reach GROUP BY id
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster assignment: embedding-cosine dup pairs (same
    edge set as q_embedding_dup_pairs) → connected components by hash-min
    label propagation (operators/curation.connected_components); every
    node gets component = min reachable id, so "keep one per component"
    is a deterministic dedup policy.  The oracle computes the same
    transitive closure with a recursive CTE.

    Changed in builder r17: connected_components now raises loudly when
    hash-min fails to certify convergence within max_iter (previously a
    silent partial labeling — the r13 ADVICE item), and the planted-copy
    id offset is DERIVED as 1 + max(vec_id) (one-row broadcast,
    collision-free on any id range) instead of a literal +100,000.

    Scale: O(diameter) rounds of join+min-agg, one node-id shuffle each;
    near-dup components are quasi-cliques (diameter 2-3).  Lineage is cut
    per round with localCheckpoint."""
    # every 7th vector duplicated via ONE scan + explode — NOT filter+union:
    # a Union whose child carries a filter constraint can crash Catalyst's
    # UnionBase.rewriteConstraints (NoSuchElementException "key not found:
    # embedding#N", basicLogicalOperators.scala:527) depending on attribute
    # ids, i.e. on what else ran in the session first; the explode form has
    # no Union to rewrite and reads the table once instead of twice
    emb = load(spark, sf_dir, "embeddings")
    off = emb.agg((F.lit(1) + F.max("vec_id")).alias("_o"))
    base = emb.crossJoin(F.broadcast(off)).select(
        F.explode(
            F.when(
                F.col("vec_id") % 7 == 0,
                F.array(F.col("vec_id"), F.col("vec_id") + F.col("_o")),
            ).otherwise(F.array(F.col("vec_id")))
        ).alias("vec_id"),
        "embedding",
    )
    pairs = S.embedding_dup_pairs(base, "vec_id", "embedding", n_bits=8, threshold=0.95)
    return C.connected_components(
        pairs, "id_a", "id_b", nodes=base.select("vec_id")
    )


@register(
    "q_stratified_sample",
    oracle=f"""
    WITH kept AS (
      SELECT lang, doc_id, n_chars FROM documents
      WHERE {_H8.format(c='doc_id')} % 1000 <
            CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 ELSE 100 END
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM kept GROUP BY lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling
    (operators/curation.stratified_sample): keep 50% of English, 25% of
    German, 10% of everything else, selected by id hash — the corpus
    rebalancing step of a training-data pipeline, reproducible across
    engines, runs, and partitionings where sampleBy is not.

    Scale: a pure projection + filter — zero shuffle, and the id-hash
    membership test pushes no data anywhere; the summary groupBy is the
    only exchange."""
    docs = C.stratified_sample(
        load(spark, sf_dir, "documents"),
        "lang",
        "doc_id",
        {"en": 500, "de": 250},
        default_permille=100,
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "q_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, 1 + doc_id % 10 AS weight FROM documents
    ), draws AS (
      SELECT doc_id, weight,
             unnest(range(1, weight + 1)) AS j
      FROM w
    ), hashed AS (
      SELECT doc_id, weight,
             ('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 8
             ))::BIGINT AS draw
      FROM draws
    ), keyed AS (
      SELECT doc_id, weight, max(draw) AS sample_key
      FROM hashed GROUP BY doc_id, weight
    )
    SELECT doc_id, weight, sample_key
    FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k=50, weight = 1+doc_id%10
    (operators/curation.weighted_sample): Efraimidis-Spirakis via the
    exact max-of-w-integer-draws reformulation — pow/ln are not
    bit-identical across engines (measured ~6% last-ulp disagreement),
    max-of-md5-draws is, so the sample is engine-exact and re-runnable.

    Scale: explode fans out sum(weight) (id, draw) pairs — no payload;
    one groupBy shuffle; TakeOrderedAndProject top-k."""
    from pimdb_spark.operators.curation import weighted_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (1 + F.col("doc_id") % 10).alias("weight")
    )
    return weighted_sample(docs, k=50, weight_col="weight", id_col="doc_id")


@register(
    "q_table_profile",
    oracle="""
    SELECT 'doc_id' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', count(*),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT lang), min(lang), max(lang)
    FROM documents
    UNION ALL
    SELECT 'source', count(*),
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT source), min(source), max(source)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*),
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the documents table
    (operators/profile.table_profile): row count, null count, exact
    distinct count, min/max — the ingest-gate snapshot check.

    Scale: ONE full-scan aggregate (partial aggregation; only per-
    partition states shuffle), then a stack pivot over the single wide
    row; exact distincts can be swapped for HLL per column."""
    from pimdb_spark.operators.profile import table_profile

    docs = load(spark, sf_dir, "documents")
    return table_profile(docs, ["doc_id", "lang", "source", "n_chars"])
