"""Similarity-search operators over the embeddings table: exact cosine
top-k (brute force), sign-LSH bucketed ANN, and embedding near-dup pairs.

Numeric parity: the dot product is a sequential left-to-right fold in
double precision on both engines (Spark aggregate / DuckDB list_reduce),
and cosines are rounded to 4 digits — rank ties at that precision are
broken by candidate id on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pimdb_spark.catalog import load, register, register_bench_only
from pimdb_spark.operators import similarity as S

_COS_RAW = """
    (list_reduce(list_transform(range(1, 65),
                  i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE),
                  (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(range(1, 65),
               i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(range(1, 65),
               i -> {b}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE), (x, y) -> x + y))))
"""

_COS = "round(" + _COS_RAW + ", 4)"

_BUCKET = """
    list_reduce(list_transform(range(1, 9),
                i -> CASE WHEN {v}.embedding[i] > 0 THEN 1 ELSE 0 END),
                (acc, b) -> acc * 2 + b)
"""


def _cand_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate/corpus-side embeddings scan, repartitioned to
    defaultParallelism (r18 optimization round, guide §2.3).  The SF
    dir's embeddings table is ONE parquet split, so CPU-heavy per-row
    work downstream (ADC sub-distance tables, PQ code assignment, the
    dim^2 gram fan-out, int8+JL folds) otherwise runs as a 1-task stage
    on a single core — the same single-split trap the text family fixed
    with the committed repartition pins (see catalog_text.py).

    Applied ONLY where the r18 before/after pair measured a win (the
    ADC/code-serving family, the gram fan-out, knn-label-errors:
    2.30->1.89, 4.27->2.66, 2.67->2.18, 2.62->2.11, 3.03->2.87,
    2.46->0.85, 1.41->1.23 s at sf0.1): entries whose per-row work is a
    cheap bucket hash (LSH family) or that re-consume the scan once per
    Lloyd's iteration (trained-codebook and k-means entries) measured
    SLOWER with the extra exchange, and q_random_projection_int8 keeps
    its documented shuffle-free contract (its ~0.1 s win was inside
    box-drift noise) — the per-entry pairs are in OPTIMIZATION_r18.md.

    Value-safe for every consumer: per-row expressions are
    partition-independent, cross-row float aggregations use sorted folds
    (train_pq_codebooks) or exact integers (gram/JL), centroid/cell
    inits are total-order orderBy().limit() heads, and every top-k
    window breaks rank ties by candidate id.  defaultParallelism — never
    a literal constant: it follows the cluster's total core count, so
    the driver's lower-core bench run keeps its scaling measurement.
    Query sides (8-32 rows) stay on the plain scan."""
    return load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


@register_bench_only(
    "q_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             {_COS.format(a='q', b='c')} AS cos
      FROM embeddings c, q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, cos FROM (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 8 query vectors
    (operators/similarity.cosine_topk).  Scale: queries broadcast; one
    pass over candidates; per-query top-k via WindowGroupLimit.

    Bench-only since builder r17 (second demotion pair, freeing the
    flagship-pipeline promotion slots): the exhaustive baseline of the
    ANN ladder — q_ann_recall_lsh recomputes this exact top-k inside its
    driver-attested recall harness; hash-gated here via
    _EXTRA_BENCH_ORACLE."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return S.cosine_topk(queries, emb, "vec_id", "vec_id", "embedding", k=5)


@register_bench_only(
    "q_lsh_ann_topk",
    oracle=f"""
    WITH side AS (
      SELECT vec_id, embedding, {_BUCKET.format(v='embeddings')} AS bucket
      FROM embeddings
    ), q AS (SELECT * FROM side WHERE vec_id < 16),
    scored AS (
      SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS c_id,
             {_COS.format(a='q', b='c')} AS cos
      FROM side c JOIN q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id
    )
    SELECT q_id, bucket, rank, c_id, cos FROM (
      SELECT q_id, bucket, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via sign-LSH bucketing on the first 8 dimensions
    (operators/similarity.lsh_ann_topk): candidates shrink ~2^8, the
    classic recall/cost trade.  Scale: equi-join on bucket id replaces the
    cross join.

    Bench-only since builder r17 (r13 demotion precedent): the single-table
    special case of q_lsh_multitable_topk, which holds the driver-window
    slot and carries an L=1 parity test against this form; this entry
    stays hash-gated by the pytest oracle sweep via _EXTRA_BENCH_ORACLE."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.lsh_ann_topk(queries, emb, "vec_id", "vec_id", "embedding", k=3, n_bits=8)


_SQD = """
    list_reduce(list_transform(range(1, 65),
      i -> ({v}[i]::DOUBLE - c[i]::DOUBLE) * ({v}[i]::DOUBLE - c[i]::DOUBLE)),
      (x, y) -> x + y)
"""

_COS_VEC = """
    round((list_reduce(list_transform(range(1, 65),
                  i -> {qa}[i]::DOUBLE * {qb}[i]::DOUBLE), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(range(1, 65),
               i -> {qa}[i]::DOUBLE * {qa}[i]::DOUBLE), (x, y) -> x + y))
         * sqrt(list_reduce(list_transform(range(1, 65),
               i -> {qb}[i]::DOUBLE * {qb}[i]::DOUBLE), (x, y) -> x + y)))), 4)
"""


@register_bench_only(
    "q_ivf_ann_topk",
    oracle=f"""
    WITH cent AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM cent),
               c -> {_SQD.format(v='e.embedding')}) AS dists
      FROM embeddings e
    ), assigned AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             list_position(dists, list_min(dists))::BIGINT AS cell
      FROM dc
    ), probes AS (
      SELECT q_id, q_vec, cell FROM (
        SELECT vec_id AS q_id, embedding AS q_vec,
               unnest(range(1, len(dists) + 1)) AS cell,
               unnest(dists) AS dist
        FROM dc WHERE vec_id < 16
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) <= 2
    ), scored AS (
      SELECT p.q_id, a.c_id,
             {_COS_VEC.format(qa='p.q_vec', qb='a.c_vec')} AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE p.q_id <> a.c_id
    )
    SELECT q_id, rank, c_id, cos FROM (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 (operators/similarity.ivf_topk): 8 coarse
    cells (training-free deterministic centroids = the 8 lowest-id
    vectors), nprobe=2.  Scale: assignment is a projection over the
    candidate scan with a one-row broadcast centroid set; the probe join
    is an equi-join on cell id — the IVF counterpart of q_lsh_ann_topk's
    sign-bucketing.

    Bench-only since builder r17 (second demotion pair, freeing the
    flagship-pipeline promotion slots): the training-free IVF base form —
    the driver-attested IVF path runs through q_ivf_int8_topk /
    q_ivf_pq_topk, which compose this same cell-prune plan; hash-gated
    here via _EXTRA_BENCH_ORACLE."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_centroids=8, nprobe=2, k=3,
    )


@register(
    "q_embedding_dup_pairs",
    oracle=f"""
    WITH off AS (
      SELECT 1 + max(vec_id) AS o FROM embeddings
    ), base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + off.o AS vec_id, embedding FROM embeddings, off
      WHERE vec_id % 7 = 0
    ), side AS (
      SELECT vec_id, embedding, {_BUCKET.format(v='base')} AS bucket FROM base
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS.format(a='a', b='b')} AS cos
    FROM side a JOIN side b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_COS_RAW.format(a='a', b='b')} >= 0.95
    """,
)
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets
    (operators/similarity.embedding_dup_pairs); every 7th vector is
    duplicated so the expected pairs are known, with the copy-id offset
    DERIVED as 1 + max(vec_id) (one-row broadcast, collision-free on any
    id range — the literal +100,000 retired in builder r17).
    Scale: bucket join bounds pairs; threshold filters before output."""
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
    return S.embedding_dup_pairs(base, "vec_id", "embedding", n_bits=8, threshold=0.95)


_SQDIST = """
    list_reduce(list_transform(range(1, 65),
      i -> (e.embedding[i]::DOUBLE - c.cvec[i]) * (e.embedding[i]::DOUBLE - c.cvec[i])),
      (x, y) -> x + y)
"""

# Two-iteration Lloyd's unrolled as CTEs, parameterized over the source
# relation name ({src}) and the cluster count ({k}) so the same chain
# serves q_kmeans_assignments (src=embeddings, k=4) and q_semdedup
# (src=the dup-injected base CTE, k=16 — SemDeDup's k grows with the
# corpus to bound sum(cluster_size^2); every CTE except the init LIMIT is
# k-independent).
_KM_CTES = f"""
    init AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             list_transform(range(1, 65), i -> embedding[i]::DOUBLE) AS cvec
      FROM (SELECT vec_id, embedding FROM {{src}} ORDER BY vec_id LIMIT {{k}})
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST}, c.cid) AS rn
        FROM {{src}} e CROSS JOIN init c)
      WHERE rn = 1
    ), s1 AS (
      SELECT a1.cid, count(*) AS n,
             list_reduce(
               list(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE)
                    ORDER BY e.vec_id),
               (a, b) -> list_transform(range(1, 65), i -> a[i] + b[i])) AS summed
      FROM a1 JOIN {{src}} e USING (vec_id) GROUP BY a1.cid
    ), cent1 AS (
      SELECT i.cid,
             CASE WHEN s1.cid IS NULL THEN i.cvec
                  ELSE list_transform(s1.summed, x -> x / s1.n) END AS cvec
      FROM init i LEFT JOIN s1 ON i.cid = s1.cid
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST}, c.cid) AS rn
        FROM {{src}} e CROSS JOIN cent1 c)
      WHERE rn = 1
    )
"""

_KMEANS_ORACLE = (
    "WITH " + _KM_CTES.format(src="embeddings", k=4)
    + " SELECT vec_id, cid AS cluster FROM a2"
)


@register("q_kmeans_assignments", oracle=_KMEANS_ORACLE, bench=True)
def q_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass Lloyd's k-means (k=4) over the embeddings table
    (operators/clustering.kmeans_assignments, exact ordered-fold centroid
    update): init = 4 smallest-id vectors, assign, recompute centroids as
    the per-cluster ordered double fold, re-assign.  The DuckDB oracle
    unrolls the identical two iterations, so the hash check covers an
    ITERATIVE float algorithm end to end — possible only because the
    centroid update folds members in id order (bit-deterministic), not in
    partial-aggregation order.

    Scale: assignment broadcasts k centroid rows (no candidate shuffle)
    with a partial-combining min(struct(dist, cid)) argmin (2x faster
    than a sort-window argmin, measured); the update shuffles once on
    cluster id; the
    exact fold is O(cluster x dim) per group — swap exact=False
    (posexplode+avg, fully partial-aggregated) past tens of millions of
    members per cluster."""
    from pimdb_spark.operators.clustering import kmeans_assignments

    vecs = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assignments(vecs, k=4, n_iter=2, dim=64)


# PROMOTED to the driver registry in builder r19 (one of the r17
# window's 2 free slots per the r16 verdict's stated line order);
# bench-only with the oracle pytest-gated at both SFs through r18.
@register(
    "q_cluster_quota",
    bench=True,
    oracle=(
        "WITH " + _KM_CTES.format(src="embeddings", k=4)
        + """
    SELECT vec_id, cluster, rk FROM (
      SELECT vec_id, cid AS cluster,
             row_number() OVER (
               PARTITION BY cid
               ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                          % 2147483648, vec_id) AS rk
      FROM a2
    ) WHERE rk <= 40
    """
    ),
)
def q_cluster_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-BALANCED sampling: keep at most 40 vectors per LEARNED
    cluster (two-pass Lloyd's k=4, the q_kmeans_assignments chain) chosen
    in deterministic hash order — the cluster-quota step of dataset
    diversification: where domain_quota rebalances by a LABELED column
    (source), this rebalances by embedding-space structure, so one
    over-represented content mode cannot dominate the selected subset no
    matter how many sources it spans.  Composition under one hash gate:
    kmeans_assignments -> curation.domain_quota on the cluster id.

    Scale: assignment broadcasts k centroid rows (no candidate shuffle);
    the quota is ONE shuffle on cluster id with WindowGroupLimit pruning
    beyond rank 40 before the per-cluster sort completes.  Quota sampling
    runs on the post-dedup corpus a selection pass feeds on; at
    production scale the k-means (k ~ sqrt(n), SemDeDup's contract)
    trains on a sample and assignment stays a projection."""
    from pimdb_spark.operators.clustering import kmeans_assignments
    from pimdb_spark.operators.curation import domain_quota

    vecs = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = kmeans_assignments(vecs, k=4, n_iter=2, dim=64)
    return domain_quota(assigned, "cluster", "vec_id", 40).select(
        "vec_id", "cluster", "rk"
    )


_SEMDEDUP_ORACLE = (
    """
    WITH off AS (
      SELECT 1 + max(vec_id) AS o FROM embeddings
    ), base AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + off.o AS vec_id, embedding FROM embeddings, off
      WHERE vec_id % 7 = 0
    ), """
    + _KM_CTES.format(src="base", k=16)
    + """, side AS (
      SELECT a2.vec_id, a2.cid AS cluster, e.embedding
      FROM a2 JOIN base e USING (vec_id)
    ), dropped AS (
      SELECT DISTINCT b.vec_id AS vid
      FROM side a JOIN side b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE """
    + _COS_RAW.format(a="a", b="b")
    + """ >= 0.95
    )
    SELECT s.vec_id, s.cluster, d.vid IS NULL AS keep
    FROM side s LEFT JOIN dropped d ON s.vec_id = d.vid
    """
)


@register("q_semdedup", oracle=_SEMDEDUP_ORACLE, bench=True)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (operators/clustering.semdedup — SemDeDup,
    Abbas et al. 2023): k-means (k=16, 2 Lloyd passes) blocks the space,
    then within each cluster every vector with a lower-id cosine>=0.95
    neighbor is marked keep=false.  Every 7th vector is duplicated (same
    injection as q_embedding_dup_pairs, id offset DERIVED as
    1 + max(vec_id) — the literal +100,000 retired in builder r17) so
    the expected drop set is known; the DuckDB oracle unrolls the
    identical two k-means iterations and the in-cluster pair scan.

    Scale: pair cost is sum(cluster_size^2) — k grows with the corpus
    (paper uses k ~ sqrt(n)) to keep clusters bounded; assignment
    broadcasts k centroid rows; the pair stage is one equi-join shuffle
    on cluster id."""
    emb = load(spark, sf_dir, "embeddings")
    # explode-injection, not filter+union (Catalyst rewriteConstraints
    # crash — see q_embedding_dup_pairs)
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
    from pimdb_spark.operators.clustering import semdedup

    return semdedup(base, k=16, n_iter=2, threshold=0.95, dim=64)


@register(
    "q_negative_sample",
    oracle="""
    WITH cand AS (
      SELECT vec_id AS cand_id, label AS cand_label,
             ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS b
      FROM embeddings
    ), anch AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':neg'), 1, 8))::BIGINT % 8 AS b
      FROM embeddings WHERE vec_id < 30
    ), ranked AS (
      SELECT anchor_id, anchor_label, cand_id, cand_label,
             row_number() OVER (
               PARTITION BY anchor_id
               ORDER BY ('0x' || substring(md5(CAST(anchor_id AS VARCHAR) || ':'
                          || CAST(cand_id AS VARCHAR)), 1, 8))::BIGINT, cand_id
             ) AS neg_rank
      FROM anch JOIN cand USING (b)
      WHERE cand_label <> anchor_label AND cand_id <> anchor_id
    )
    SELECT anchor_id, anchor_label, CAST(neg_rank AS INTEGER) AS neg_rank,
           cand_id, cand_label
    FROM ranked WHERE neg_rank <= 5
    """,
)
def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling (operators/curation.negative_sample):
    per anchor, 5 deterministic different-label negatives drawn from one
    md5-assigned hash bucket of the pool — a bucket equi-join plus a
    pair-hash window, never anchors x N.  All hashes are the repo's
    engine-portable md5-prefix integers, so DuckDB reproduces the draw
    exactly.

    Scale: candidate volume per anchor is N/buckets (tune buckets with
    corpus size); one bucket-key shuffle + one per-anchor window."""
    from pimdb_spark.operators.curation import negative_sample

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 30)
    return negative_sample(
        emb, anchors, id_col="vec_id", label_col="label", k=5, buckets=8
    )


_INT8_QZ = """
      SELECT vec_id,
             mx / 127.0 AS scale, nrm,
             list_transform(range(1, 65), i ->
               CASE WHEN mx = 0 THEN 0
                    ELSE CAST(least(127.0, greatest(-127.0,
                         floor(embedding[i]::DOUBLE * 127.0 / mx + 0.5)))
                         AS BIGINT) END) AS codes
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(range(1, 65),
                        i -> abs(embedding[i]::DOUBLE))) AS mx,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
                    (x, y) -> x + y)) AS nrm
        FROM embeddings
      )
"""


@register(
    "q_int8_ann_topk",
    oracle=f"""
    WITH qz AS ({_INT8_QZ}),
    q AS (SELECT * FROM qz WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                   ELSE (CAST(list_reduce(list_transform(range(1, 65),
                              i -> q.codes[i] * c.codes[i]), (x, y) -> x + y)
                         AS DOUBLE) * q.scale * c.scale)
                        / (q.nrm * c.nrm) END, 4) AS qcos
      FROM qz c, q WHERE q.vec_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, qcos FROM (
      SELECT q_id, c_id, qcos,
             row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_int8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric-int8 quantized cosine top-5 for 8 query vectors
    (operators/similarity.int8_quantize + int8_ann_topk): codes are
    round-half-up x*127/absmax clamped to [-127,127], the dot product is
    EXACT integer arithmetic (engine-independent with no fold-order
    concern at all), and the rescale (idot * scale_q * scale_c over the
    true norms) is one fixed-shape double expression both engines
    compute identically; the abs-max rides as fold state into the
    quantizer's finish lambda so CollapseProject cannot re-inline it.

    Scale: the point of int8 at 100 TB is BYTES — an 8x cut in the
    candidate-scan/shuffle width before any join strategy applies;
    compose with the LSH/IVF candidate generators exactly like the
    float scorers (quantization changes bytes per candidate, not the
    plan).  Queries broadcast; one candidate pass; WindowGroupLimit
    top-k."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return S.int8_ann_topk(queries, emb, "vec_id", "vec_id", "embedding", k=5)


@register(
    "q_ivf_int8_topk",
    oracle=f"""
    WITH cent AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM cent),
               c -> {_SQD.format(v='e.embedding')}) AS dists
      FROM embeddings e
    ), qz AS ({_INT8_QZ}),
    assigned AS (
      SELECT dc.vec_id AS c_id,
             list_position(dists, list_min(dists))::BIGINT AS cell
      FROM dc
    ), probes AS (
      SELECT q_id, cell FROM (
        SELECT vec_id AS q_id,
               unnest(range(1, len(dists) + 1)) AS cell,
               unnest(dists) AS dist
        FROM dc WHERE vec_id < 16
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) <= 2
    ), scored AS (
      SELECT p.q_id, a.c_id,
             round(CASE WHEN zq.nrm * zc.nrm = 0 THEN 0.0
                   ELSE (CAST(list_reduce(list_transform(range(1, 65),
                              i -> zq.codes[i] * zc.codes[i]), (x, y) -> x + y)
                         AS DOUBLE) * zq.scale * zc.scale)
                        / (zq.nrm * zc.nrm) END, 4) AS cos
      FROM assigned a
      JOIN probes p ON a.cell = p.cell
      JOIN qz zq ON zq.vec_id = p.q_id
      JOIN qz zc ON zc.vec_id = a.c_id
      WHERE p.q_id <> a.c_id
    )
    SELECT q_id, rank, c_id, cos FROM (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF x int8 COMPOSITION (operators/similarity.ivf_topk with
    scorer="int8") — the claim behind both building blocks demonstrated
    under the hash gate: candidate pruning comes from the IVF cell
    equi-join (q_ivf_ann_topk's plan shape, scored pairs shrink
    ~n_centroids/nprobe), and the probe pairs ship int8 CODES instead of
    float vectors (q_int8_ann_topk's 8x-narrower payload) and score with
    the exact integer dot + rescale.  This is the 100 TB ANN recipe in
    one plan: prune with a bucketed equi-join, pay quantized bytes for
    what survives.

    Scale: one broadcast centroid row, assignment as a projection, cell
    equi-join, WindowGroupLimit top-k — no stage is all-pairs and no
    pair ships a float vector."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_centroids=8, nprobe=2, k=3, scorer="int8",
    )


def _sub_sqd_sql(s: int, sub: int) -> str:
    """Per-subspace squared distance of e.embedding's s-th slice vs a
    codebook vector cv — the shared building block of every PQ oracle."""
    lo, hi = (s - 1) * sub + 1, s * sub + 1
    return (
        f"list_reduce(list_transform(range({lo}, {hi}), "
        "i -> (e.embedding[i]::DOUBLE - cv[i]::DOUBLE) * "
        "(e.embedding[i]::DOUBLE - cv[i]::DOUBLE)), (x, y) -> x + y)"
    )


def _rerank_tail_sql(shortlist: int, k: int) -> str:
    """short/rescored CTE suffix + final SELECT shared by both rerank
    oracles: ADC-rank shortlist, exact-cosine re-rank.  Appends to a CTE
    chain ending in scored(q_id, c_id, adc)."""
    return f""", short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rk
        FROM scored
      ) WHERE rk <= {shortlist}
    ), rescored AS (
      SELECT s.q_id, s.c_id, {_COS.format(a='q', b='c')} AS cos
      FROM short s
      JOIN embeddings q ON q.vec_id = s.q_id
      JOIN embeddings c ON c.vec_id = s.c_id
    )
    SELECT q_id, rank, c_id, cos FROM (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      FROM rescored
    ) WHERE rank <= {k}
    """


def _pq_scored_cte(m: int = 8, sub: int = 8, n_centroids: int = 16) -> str:
    """Flat-PQ stage 1 as a WITH chain ending in scored(q_id, c_id, adc)
    — shared by _pq_oracle and _pq_rerank_oracle so the attested ADC
    semantics cannot drift between the single-stage and rerank gates."""
    dls = ", ".join(
        f"list_transform((SELECT cvecs FROM cent), cv -> {_sub_sqd_sql(s, sub)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH cent AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids})
    ), dt AS (
      SELECT e.vec_id, [{dls}] AS dtab FROM embeddings e
    ), coded AS (
      SELECT vec_id, dtab,
             list_transform(dtab, d -> list_position(d, list_min(d))) AS codes
      FROM dt
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round({adc}, 4) AS adc
      FROM coded c, (SELECT * FROM coded WHERE vec_id < 8) q
      WHERE q.vec_id <> c.vec_id
    )"""


def _pq_oracle(m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3) -> str:
    return f"""{_pq_scored_cte(m, sub, n_centroids)}
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# DEMOTED to bench-only in builder r19 (the r16 verdict's headroom
# pairing, q_ivf_pq_topk precedent): this is stage 1 of
# q_pq_adc_rerank_topk (same scored CTE, rerank tail added), whose
# superset plan is hash-gated at both SFs and next in the promotion
# line; this form stays timed and hash-gated via _EXTRA_BENCH_ORACLE.
@register_bench_only("q_pq_adc_topk", oracle=_pq_oracle())
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-3 (operators/similarity.pq_topk):
    dim 64 split into 8 subspaces x 16-entry codebooks (training-free
    deterministic codebooks — the 16 lowest-id vectors' sub-vectors,
    the ivf_topk convention), candidates carry 8 CODES (~8 B vs 512 B
    of float64 — the 64x payload cut PQ exists for), queries precompute
    the 8x16 exact sub-distance table once, and every pair scores as 8
    table lookups summed left-to-right — no per-pair fold over dim, no
    float vector in the scoring join.  Completes the ANN family:
    sign-LSH (bucket prune), IVF (cell prune), int8 (narrow exact dot),
    PQ (table-lookup scoring); compose PQ with IVF cells for IVF-PQ
    exactly as q_ivf_int8_topk composes int8.

    Determinism: sub-distances are the house sequential double fold,
    code assignment is first-minimum list_position on both engines, and
    the ADC sum unrolls as left-associated adds — hash-exact."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return S.pq_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        m=8, dim=64, n_centroids=16, k=3,
    )


def _pq_rerank_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16,
    shortlist: int = 12, k: int = 3,
) -> str:
    return _pq_scored_cte(m, sub, n_centroids) + _rerank_tail_sql(shortlist, k)


# PROMOTED to the driver registry in builder r19 (one of the r17
# window's 2 free slots per the r16 verdict's stated line order) — the
# quantize-on-write SERVING path under the training-free oracle: books
# trained at n_iter=1 ARE the first-16 convention (the attested
# books-plumbing reduction), so encode -> score-from-codes must
# reproduce _pq_oracle exactly; bench-only with the oracle pytest-gated
# at both SFs through r18.
@register("q_pq_from_codes_topk", oracle=_pq_oracle(), bench=True)
def q_pq_from_codes_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-3 served from PRE-ENCODED codes — the quantize-on-WRITE
    layout end to end under the hash gate
    (operators/similarity.pq_encode + pq_topk_from_codes): codebooks are
    built once (train_pq_codebooks at n_iter=1 = the first-16 init, so
    the training-free DuckDB oracle applies verbatim), every candidate is
    encoded to 8 small ints as a WRITE-time step, and the serving query
    scans (id, codes) only — the float embedding column never appears in
    the scoring plan.  Completes the quantization story int8 already
    tells (int8_topk_from_codes): train once, encode on write, serve
    from codes forever; the parquet round-trip equality test in
    tests/test_similarity.py pins codes-on-disk = codes-inline.

    Scale: the serving plan is ONE query-side one-row books broadcast +
    the brute broadcast pass over ~8 B/vector (64x narrower than float64
    at dim 64); the encode cost lives at ingest, amortized over every
    query that ever runs."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    books = S.train_pq_codebooks(
        emb, "vec_id", "embedding", m=8, dim=64, n_centroids=16, n_iter=1
    ).localCheckpoint(eager=False)
    coded = S.pq_encode(emb, books, "vec_id", "embedding", m=8, dim=64)
    return S.pq_topk_from_codes(
        queries, coded, books, "vec_id", "c_id", "embedding",
        m=8, dim=64, k=3,
    )


# PROMOTED to the driver registry in builder r20 (one of the r18
# window's 2 free slots per the r17 verdict's stated line order) — the
# two-stage composition of the already-attested pq_topk + exact cosine;
# its stage 1, q_pq_adc_topk, was demoted in builder r19 on the
# strength of this superset's standing hash gates (both SFs since r16).
@register("q_pq_adc_rerank_topk", oracle=_pq_rerank_oracle(), bench=True)
def q_pq_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist-12 -> EXACT cosine re-rank top-3
    (operators/similarity.pq_adc_rerank_topk) — the two-stage production
    retrieval pattern: the corpus pass scores 8-byte codes (pq_topk's
    audited plan), raw float vectors are fetched ONLY for the 8x12
    shortlist survivors via a broadcast hash join, and the final order is
    the exact sequential-fold cosine.  Re-ranking repairs ADC's
    within-shortlist rank scrambling for shortlist exact dots per query
    (recall measured by the pq_rerank_s{6,12,24}_l2 variants in
    scripts/pq_recall.py's default sweep), completing the
    ANN ladder's missing production stage: prune cheap, verify exact.

    Scale: no second corpus scoring pass — stage 2's only corpus-sized
    op is one broadcast join keyed on candidate id; exact cosine runs on
    |Q| x shortlist rows, never |Q| x |corpus|."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return S.pq_adc_rerank_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        m=8, dim=64, n_centroids=16, shortlist=12, k=3,
    )


def _ivf_pq_scored_cte(m: int = 8, sub: int = 8, n_centroids: int = 16) -> str:
    """IVF-PQ stage 1 as a WITH chain ending in scored(q_id, c_id, adc)
    — shared by _ivf_pq_oracle and _ivf_pq_rerank_oracle so the attested
    probe/ADC semantics cannot drift between the two gates."""
    dls = ", ".join(
        f"list_transform((SELECT cvecs FROM fine), cv -> {_sub_sqd_sql(s, sub)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH coarse AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ), fine AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids})
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM coarse),
               c -> {_SQD.format(v='e.embedding')}) AS cdists,
             [{dls}] AS dtab
      FROM embeddings e
    ), coded AS (
      SELECT vec_id,
             list_position(cdists, list_min(cdists))::BIGINT AS cell,
             dtab,
             list_transform(dtab, d -> list_position(d, list_min(d))) AS codes
      FROM dc
    ), probes AS (
      SELECT q_id, cell, dtab FROM (
        SELECT dc.vec_id AS q_id, dc.dtab,
               unnest(range(1, len(cdists) + 1)) AS cell,
               unnest(cdists) AS dist
        FROM dc WHERE dc.vec_id < 16
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) <= 2
    ), scored AS (
      SELECT q.q_id, c.vec_id AS c_id, round({adc}, 4) AS adc
      FROM coded c JOIN probes q ON c.cell = q.cell
      WHERE q.q_id <> c.vec_id
    )"""


def _ivf_pq_oracle(m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3) -> str:
    return f"""{_ivf_pq_scored_cte(m, sub, n_centroids)}
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# DEMOTED to bench-only in builder r19 (the r16 verdict's headroom
# pairing): this is stage 1 of the driver-attested q_ivf_pq_rerank_topk
# (r16 hash-green; same scored CTE, rerank tail added), so the driver
# slot moved to the superset; this form stays timed and hash-gated via
# _EXTRA_BENCH_ORACLE.
@register_bench_only("q_ivf_pq_topk", oracle=_ivf_pq_oracle())
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/similarity.ivf_pq_topk) — the production
    large-scale ANN layout with BOTH compositions under one hash gate:
    8 coarse cells prune candidates to each query's 2 nearest cells (the
    q_ivf_ann_topk equi-join), and surviving pairs score by PQ
    asymmetric distance over 8-subspace x 16-entry codebooks (the
    q_pq_adc_topk table lookups) — the scoring join ships 8 codes per
    candidate, never a float vector, AFTER the cell join already shrank
    the pair count ~4x.  Codebooks quantize raw vectors (residual PQ
    swaps the codebook attach, same plan shape; documented on the
    operator).

    Scale: two one-row broadcasts (coarse centroids, PQ codebooks), both
    assignments as projections over the candidate scan, one hash
    equi-join on cell id, m lookups per surviving pair."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_pq_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3,
    )


def _ivf_pq_rerank_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16,
    shortlist: int = 12, k: int = 3,
) -> str:
    return _ivf_pq_scored_cte(m, sub, n_centroids) + _rerank_tail_sql(shortlist, k)


# PROMOTED to the driver registry in r18 (one of the 4 free slots per
# the r15 verdict's stated line order — the full ANN production stack is
# the most user-visible unattested family); bench-only with the oracle
# pytest-gated at both SFs through r17.
@register("q_ivf_pq_rerank_topk", oracle=_ivf_pq_rerank_oracle(), bench=True)
def q_ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack under one hash gate
    (operators/similarity.ivf_pq_rerank_topk): IVF cell pruning (the
    q_ivf_ann_topk equi-join) -> PQ-ADC scoring over 8-byte codes (the
    q_pq_adc_topk table lookups) -> shortlist-12 -> EXACT cosine re-rank
    of the survivors (the q_pq_adc_rerank_topk broadcast-fetch stage).
    Each stage shrinks what the next one pays for: cells prune pairs,
    codes narrow the payload, re-rank pays full-precision dots only for
    |Q| x 12 rows.  SCALE.md's re-rank ladder measures why this ordering
    of cheap-to-exact stages is the production layout.

    Scale: ivf_pq_topk's audited shape (two one-row broadcasts, cell
    hash equi-join, never a float vector in the ADC join) plus ONE
    broadcast hash join for the raw-vector fetch — no second corpus
    scoring pass, no corpus shuffle."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_pq_rerank_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16,
        shortlist=12, k=3,
    )


@register(
    "q_embedding_gram_int8",
    bench=True,
    oracle=f"""
    WITH qz AS ({_INT8_QZ}),
    idx AS (SELECT unnest(range(1, 65)) AS i)
    SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
           CAST(sum(q.codes[a.i] * q.codes[b.i]) AS BIGINT) AS gram
    FROM qz q, idx a, idx b
    WHERE b.i >= a.i
    GROUP BY 1, 2
    """,
)
def q_embedding_gram_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scatter/Gram matrix over the int8-quantized embedding table
    (operators/linalg.gram_matrix_int8): the dim x dim aggregate PCA /
    whitening / linear probes need, computed as upper-triangle (i, j,
    gram) cells where every product is INTEGER (order-free exact BIGINT
    sums — no fold, no rounding contract; the quantizer's absmax rides
    as fold state per the q_int8_ann_topk discipline).  Code space =
    per-vector absmax-normalized vectors, the right space for
    cosine-similarity embeddings; documented on the operator.

    Scale: each row fans out to 2,080 cells JVM-side, then ONE groupBy
    whose map-side combine caps every task's shuffle output at 2,080
    rows regardless of table size — the exchange is #tasks x dim^2/2,
    never O(n); the result fits on the driver for the eigen step
    (operators/linalg.pca_project) like a kmeans centroid collect."""
    from pimdb_spark.operators.linalg import gram_matrix_int8

    emb = _cand_emb(spark, sf_dir)
    return gram_matrix_int8(emb, "vec_id", "embedding", dim=64)


@register(
    "q_random_projection_int8",
    bench=True,
    oracle=f"""
    WITH qz AS ({_INT8_QZ}),
    signs AS (
      SELECT c.c AS c,
             list_transform(range(1, 65), i ->
               CASE WHEN ('0x' || substring(md5(c.c || ':' || i), 1, 8))::BIGINT
                         % 2 = 1
                    THEN 1 ELSE -1 END) AS svec
      FROM (SELECT unnest(range(1, 17)) AS c) c
    )
    SELECT q.vec_id, CAST(s.c AS INTEGER) AS comp,
           CAST(list_reduce(list_transform(range(1, 65),
                i -> q.codes[i] * s.svec[i]), (x, y) -> x + y) AS BIGINT)
             AS value
    FROM qz q, signs s
    """,
)
def q_random_projection_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss +/-1 random projection over int8 codes
    (operators/linalg.random_project_int8 — Achlioptas 2003): 64 dims
    fold to 16 exact BIGINT components against a DETERMINISTIC
    md5-derived sign matrix, the data-independent companion to
    pca_project (no training pass, no driver round-trip).  The matrix is
    a plan literal on the Spark side and the identical md5 SQL on the
    DuckDB side — both engines see the same signs, and every value is
    integer-exact (no fold contract, no rounding).

    Scale: a pure projection — zero joins, zero shuffles, no Python in
    the row path; this is the width cut you apply BEFORE any downstream
    join/sketch when even quantized vectors are too wide to ship."""
    from pimdb_spark.operators.linalg import random_project_int8

    emb = load(spark, sf_dir, "embeddings")
    return random_project_int8(emb, n_components=16, dim=64)


# Promoted to the driver registry in round 12 (one of the 3 freed
# rotation slots); bench-only with a pytest-gated oracle through round 11.
@register(
    "q_ann_recall_lsh",
    bench=True,
    oracle=f"""
    WITH side AS (
      SELECT vec_id, embedding, {_BUCKET.format(v='embeddings')} AS bucket
      FROM embeddings
    ), q AS (SELECT * FROM side WHERE vec_id < 16),
    approx AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS.format(a='q', b='c')} DESC,
                                           c.vec_id) AS rank
        FROM side c JOIN q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id
      ) WHERE rank <= 3
    ), exact AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS.format(a='q', b='c')} DESC,
                                           c.vec_id) AS rank
        FROM embeddings c, q
        WHERE q.vec_id <> c.vec_id
      ) WHERE rank <= 3
    ), hits AS (
      SELECT a.q_id, count(*) AS n_hits
      FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
      GROUP BY a.q_id
    )
    SELECT q.q_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE)
             / CAST(q.n_exact AS DOUBLE) AS recall
    FROM (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY q_id) q
    LEFT JOIN hits h USING (q_id)
    """,
)
def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@3 of sign-LSH ANN against the exact brute-force
    top-3 (operators/similarity.ann_recall over lsh_ann_topk +
    cosine_topk, identical round-4 scoring and id tie-breaks on both
    sides and in the DuckDB oracle) — the ANN ladder's quality gate as a
    QUERY, not a test assertion: per-query hit counts and recall land
    under the hash gate, so a silent recall regression (bucket skew, a
    changed hash, an empty-bucket dropout) flips the verdict
    mechanically.

    Scale: both inputs are k rows per query; the evaluation is one
    (query, candidate) semi-join + per-query count — O(queries x k)."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scans per side: the self-join HOF rebind caution
    q1 = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    q2 = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    approx = S.lsh_ann_topk(q1, emb, "vec_id", "vec_id", "embedding", k=3, n_bits=8)
    exact = S.cosine_topk(
        q2, load(spark, sf_dir, "embeddings"), "vec_id", "vec_id", "embedding", k=3
    )
    return S.ann_recall(approx, exact, "q_id", "c_id", k=3)


# Promoted to the driver registry in round 11 (one of the 3 freed
# rotation slots); bench-only with a pytest-gated oracle through round 10.
@register(
    "q_lsh_multitable_topk",
    bench=True,
    oracle=f"""
    WITH tabbed AS (
      SELECT vec_id, embedding, t.t AS tab,
             list_reduce(list_transform(range(1 + t.t * 4, 5 + t.t * 4),
               i -> CASE WHEN embedding[i] > 0 THEN 1 ELSE 0 END),
               (a, b) -> a * 2 + b) AS bucket
      FROM embeddings, (SELECT unnest(range(0, 4)) AS t) t
    ), pairs AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      FROM tabbed q JOIN tabbed c USING (tab, bucket)
      WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
    ), scored AS (
      SELECT p.q_id, p.c_id, {_COS.format(a='a', b='b')} AS cos
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.q_id
      JOIN embeddings b ON b.vec_id = p.c_id
    )
    SELECT q_id, rank, c_id, cos FROM (
      SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def q_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-3 (operators/similarity.
    lsh_multitable_topk): 4 tables x 4 bits over disjoint dim slices —
    the recall repair the measured ladder demanded (q_ann_recall_lsh
    shows single-table b=8 at recall 0.02; this configuration measures
    0.46, see the operator docstring for the full (b, L) table).

    Scale: candidates fan out L-fold into a (table, bucket) equi-join,
    pair-distinct bounds re-scoring — never all-pairs; (b, L) are the
    published recall/cost dials."""
    emb = load(spark, sf_dir, "embeddings")
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.lsh_multitable_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        k=3, n_bits=4, n_tables=4,
    )


def _km_sqd_assign(s: int, sub: int) -> str:
    lo = (s - 1) * sub + 1
    return (
        f"list_reduce(list_transform(range(1, {sub + 1}), "
        f"i -> (e.embedding[{lo} - 1 + i]::DOUBLE - c.cvec[i]) * "
        f"(e.embedding[{lo} - 1 + i]::DOUBLE - c.cvec[i])), (x, y) -> x + y)"
    )


def _km_cte(s: int, sub: int, n_centroids: int) -> str:
    """One per-subspace one-update Lloyd's chain (init -> assign -> exact
    ordered-fold sum -> codebook) as CTEs suffixed with the subspace
    index — the _KM_CTES pattern sliced to subspace s."""
    lo = (s - 1) * sub + 1
    return f"""init{s} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             list_transform(range({lo}, {lo + sub}), i -> embedding[i]::DOUBLE) AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids})
    ), a{s} AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_km_sqd_assign(s, sub)}, c.cid) AS rn
        FROM embeddings e CROSS JOIN init{s} c)
      WHERE rn = 1
    ), s{s} AS (
      SELECT a.cid, count(*) AS n,
             list_reduce(
               list(list_transform(range({lo}, {lo + sub}),
                                   i -> e.embedding[i]::DOUBLE)
                    ORDER BY e.vec_id),
               (x, y) -> list_transform(range(1, {sub + 1}), i -> x[i] + y[i]))
               AS summed
      FROM a{s} a JOIN embeddings e USING (vec_id) GROUP BY a.cid
    ), cb{s} AS (
      SELECT list(cvec ORDER BY cid) AS cvecs FROM (
        SELECT i.cid,
               CASE WHEN t.cid IS NULL THEN i.cvec
                    ELSE list_transform(t.summed, x -> x / t.n) END AS cvec
        FROM init{s} i LEFT JOIN s{s} t ON i.cid = t.cid)
    )"""


def _km_subsqd(s: int, sub: int) -> str:
    lo = (s - 1) * sub + 1
    return (
        f"list_reduce(list_transform(range(1, {sub + 1}), "
        f"i -> (e.embedding[{lo} - 1 + i]::DOUBLE - cv[i]) * "
        f"(e.embedding[{lo} - 1 + i]::DOUBLE - cv[i])), (x, y) -> x + y)"
    )


def _pq_trained_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3, n_q: int = 8
) -> str:
    """Oracle for the TRAINED-codebook PQ: m per-subspace one-update
    Lloyd's chains (the _KM_CTES pattern, q_kmeans_assignments'
    bit-determinism argument applied per subspace) feed the _pq_oracle
    ADC tail — the codebook VALUES are the only difference from the
    training-free oracle."""

    def km(s: int) -> str:
        return _km_cte(s, sub, n_centroids)

    def subsqd(s: int) -> str:
        return _km_subsqd(s, sub)

    kms = ", ".join(km(s) for s in range(1, m + 1))
    dls = ", ".join(
        f"list_transform((SELECT cvecs FROM cb{s}), cv -> {subsqd(s)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH {kms}, dt AS (
      SELECT e.vec_id, [{dls}] AS dtab FROM embeddings e
    ), coded AS (
      SELECT vec_id, dtab,
             list_transform(dtab, d -> list_position(d, list_min(d))) AS codes
      FROM dt
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round({adc}, 4) AS adc
      FROM coded c, (SELECT * FROM coded WHERE vec_id < {n_q}) q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# Promoted to the driver registry in round 14 (one of the 3 freed
# rotation slots, per the r13 verdict's promotion line); bench-only with
# a pytest-gated oracle through rounds 12-13.  Trained codebooks through
# pq_topk's plan shape, with the training-free q_pq_adc_topk kept as the
# oracle-simple base form.
@register("q_pq_trained_topk", bench=True, oracle=_pq_trained_oracle())
def q_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-3 with TRAINED per-subspace k-means
    codebooks (operators/similarity.pq_topk_trained = train_pq_codebooks
    + pq_topk_books): dim 64 splits into 8 subspaces; each subspace's
    16-entry codebook is a 2-iteration Lloyd's run over that subspace's
    sub-vectors (init = the 16 lowest-id sub-vectors, one exact
    ordered-fold centroid update) instead of q_pq_adc_topk's
    training-free first-16 convention — the stated production upgrade,
    measured recall@3 vs exact L2 on this config: 0.125 training-free ->
    0.25 trained at 16 queries, 0.089 -> 0.203 at 64 (scripts/
    pq_recall.py; see the operator docstring and SCALE.md's ANN ladder).

    The ENTIRE trained pipeline sits under the hash gate: the DuckDB
    oracle unrolls all 8 per-subspace k-means chains (the
    q_kmeans_assignments bit-determinism argument — ordered-fold centroid
    updates — applied per subspace) and replays the identical ADC
    scoring, so a codebook regression flips the verdict mechanically.

    Scale: training is m kmeans passes paid once per index build
    (quantize-on-write); the codebooks collapse to ONE broadcast row
    (localCheckpoint-ed — one materialization serves both sides, the
    scoring plan stays as shallow as q_pq_adc_topk's); scoring ships 8
    codes per candidate, never a float vector."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return S.pq_topk_trained(
        queries, emb, "vec_id", "vec_id", "embedding",
        m=8, dim=64, n_centroids=16, k=3, n_iter=2,
    )


def _ivf_pq_trained_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3,
    n_cells: int = 8, nprobe: int = 2, n_q: int = 16,
) -> str:
    """Oracle for trained-fine-codebook IVF-PQ: _ivf_pq_oracle's
    coarse/probe/ADC chain with the training-free ``fine`` CTE replaced
    by the m per-subspace Lloyd's chains (_km_cte) — coarse stays the
    lowest-id convention, so the trained fine codebook is the only
    difference from q_ivf_pq_topk's oracle."""
    kms = ", ".join(_km_cte(s, sub, n_centroids) for s in range(1, m + 1))
    dls = ", ".join(
        f"list_transform((SELECT cvecs FROM cb{s}), cv -> {_km_subsqd(s, sub)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH {kms}, coarse AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_cells})
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM coarse),
               c -> {_SQD.format(v='e.embedding')}) AS cdists,
             [{dls}] AS dtab
      FROM embeddings e
    ), coded AS (
      SELECT vec_id,
             list_position(cdists, list_min(cdists))::BIGINT AS cell,
             dtab,
             list_transform(dtab, d -> list_position(d, list_min(d))) AS codes
      FROM dc
    ), probes AS (
      SELECT q_id, cell, dtab FROM (
        SELECT dc.vec_id AS q_id, dc.dtab,
               unnest(range(1, len(cdists) + 1)) AS cell,
               unnest(cdists) AS dist
        FROM dc WHERE dc.vec_id < {n_q}
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) <= {nprobe}
    ), scored AS (
      SELECT q.q_id, c.vec_id AS c_id, round({adc}, 4) AS adc
      FROM coded c JOIN probes q ON c.cell = q.cell
      WHERE q.q_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# Bench-only (pytest-gated oracle) per the window-budget policy — the
# trained-codebook composition through the full production ANN layout.
@register_bench_only("q_ivf_pq_trained_topk", oracle=_ivf_pq_trained_oracle())
def q_ivf_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with TRAINED per-subspace k-means fine codebooks
    (operators/similarity.ivf_pq_topk_trained) — q_ivf_pq_topk's exact
    production layout (8 coarse cells prune to nprobe=2, survivors score
    by 8-lookup ADC) with the fine-codebook attach swapped to the
    2-iteration Lloyd's output, the composition q_pq_trained_topk's
    docstring promises.  Coarse stays training-free, so the trained fine
    codebook is the ONLY delta, and the whole pipeline — all 8 k-means
    chains + coarse assignment + probe ranking + ADC — sits under one
    hash gate.  Measured recall@3 vs exact L2 (scripts/pq_recall.py,
    sf0.01, 64 queries): training-free IVF-PQ 0.109 -> trained 0.167 —
    a 1.5x lift; the cell pruning attenuates but does not erase the
    codebook gain (flat trained PQ: 0.203).

    Scale: identical to q_ivf_pq_topk (two one-row broadcasts, cell
    equi-join, m lookups per surviving pair); training is m bounded
    k-means passes paid once per index build."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_pq_topk_trained(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3, n_iter=2,
    )


def _ivf_pq_residual_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3,
    n_cells: int = 8, nprobe: int = 2, n_q: int = 16,
) -> str:
    """Oracle for residual IVF-PQ: the _ivf_pq_oracle chain with every
    PQ stage moved into RESIDUAL space — residuals computed vs each
    row's (or probe's) cell centroid, the codebook built from the
    residuals of ids ranked n_cells+1..n_cells+n_centroids, sub-
    distances over residual slices."""

    def subsqd(side: str, s: int) -> str:
        lo = (s - 1) * sub + 1
        return (
            f"list_reduce(list_transform(range(1, {sub + 1}), "
            f"i -> ({side}.res[{lo} - 1 + i] - rv[{lo} - 1 + i]) * "
            f"({side}.res[{lo} - 1 + i] - rv[{lo} - 1 + i])), (x, y) -> x + y)"
        )

    dls_c = ", ".join(
        f"list_transform((SELECT rvecs FROM books), rv -> {subsqd('d', s)})"
        for s in range(1, m + 1)
    )
    dls_q = ", ".join(
        f"list_transform((SELECT rvecs FROM books), rv -> {subsqd('p', s)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH coarse AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_cells})
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM coarse),
               c -> {_SQD.format(v='e.embedding')}) AS cdists
      FROM embeddings e
    ), cellq AS (
      SELECT d.vec_id, d.embedding, co.cvecs, d.cdists,
             list_position(d.cdists, list_min(d.cdists))::BIGINT AS cell
      FROM dc d, coarse co
    ), dcr AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65),
               i -> embedding[i]::DOUBLE - cvecs[cell][i]::DOUBLE) AS res
      FROM cellq
    ), books AS (
      SELECT list(res ORDER BY vec_id) AS rvecs FROM (
        SELECT vec_id, res,
               row_number() OVER (ORDER BY vec_id) AS rn
        FROM dcr
        WHERE vec_id IN (SELECT vec_id FROM embeddings
                         ORDER BY vec_id LIMIT {n_cells + n_centroids})
      ) WHERE rn > {n_cells}
    ), coded AS (
      SELECT d.vec_id, d.cell,
             list_transform([{dls_c}],
               t -> list_position(t, list_min(t))) AS codes
      FROM dcr d
    ), probes AS (
      SELECT q_id, cell, embedding, cvecs FROM (
        SELECT c.vec_id AS q_id, c.embedding, c.cvecs,
               unnest(range(1, len(c.cdists) + 1)) AS cell,
               unnest(c.cdists) AS dist
        FROM cellq c WHERE c.vec_id < {n_q}
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell)
             <= {nprobe}
    ), probe_res AS (
      SELECT q_id, cell,
             list_transform(range(1, 65),
               i -> embedding[i]::DOUBLE - cvecs[cell][i]::DOUBLE) AS res
      FROM probes
    ), pdt AS (
      SELECT p.q_id, p.cell, [{dls_q}] AS dtab FROM probe_res p
    ), scored AS (
      SELECT q.q_id, c.vec_id AS c_id, round({adc}, 4) AS adc
      FROM coded c JOIN pdt q ON c.cell = q.cell
      WHERE q.q_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# Bench-only (pytest-gated oracle) per the window-budget policy — the
# residual-space IVF-PQ the raw-vector form's docstring documents as the
# literature layout.
@register_bench_only("q_ivf_pq_residual_topk", oracle=_ivf_pq_residual_oracle())
def q_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ (operators/similarity.ivf_pq_residual_topk —
    Jegou et al. 2011's actual layout): PQ codes the residual
    vec - coarse_centroid[cell] instead of the raw vector, spending the
    same 8 x 16 codebook budget on what the coarse quantizer did NOT
    explain; within a probed cell the metric is unchanged
    (q_res - c_res = q - c).  The query side pays nprobe sub-distance
    tables instead of one — the classic residual trade, still
    corpus-size-independent.  Codebook = the residuals of ids 9..24
    (the 8 coarse-centroid ids are skipped: their residuals are
    identically zero), each vs its own nearest cell — deterministic, so
    the full chain (coarse assign -> residualize -> code -> per-probe
    tables -> ADC) is hash-gated end to end.

    Measured recall@3 vs exact L2 (scripts/pq_recall.py, sf0.01, 64
    queries): 0.104 — EQUAL to raw-vector training-free IVF-PQ (0.109),
    an honest negative: residual gains in the literature assume TRAINED
    codebooks fitted to the low-variance residual distribution; at a
    16-arbitrary-entries budget the quantizer is noise-limited either
    way (see SCALE.md's ladder — codebook quality binds, which is why
    the trained plug-in was the priority item).

    Scale: identical join shapes to q_ivf_pq_topk — two one-row
    broadcasts, cell hash equi-join, m lookups per surviving pair."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_pq_residual_topk(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3,
    )


def _km_cte_res(s: int, sub: int, n_centroids: int) -> str:
    """One per-subspace one-update Lloyd's chain over the RESIDUAL
    training table ``train`` (vec_id, res) — _km_cte re-targeted from
    raw embeddings to residual slices (res elements are already DOUBLE,
    so no cast)."""
    lo = (s - 1) * sub + 1
    assign_sqd = (
        f"list_reduce(list_transform(range(1, {sub + 1}), "
        f"i -> (t.res[{lo} - 1 + i] - c.cvec[i]) * "
        f"(t.res[{lo} - 1 + i] - c.cvec[i])), (x, y) -> x + y)"
    )
    return f"""rinit{s} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             list_transform(range({lo}, {lo + sub}), i -> res[i]) AS cvec
      FROM (SELECT vec_id, res FROM train ORDER BY vec_id LIMIT {n_centroids})
    ), ra{s} AS (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id
                                  ORDER BY {assign_sqd}, c.cid) AS rn
        FROM train t CROSS JOIN rinit{s} c)
      WHERE rn = 1
    ), rs{s} AS (
      SELECT a.cid, count(*) AS n,
             list_reduce(
               list(list_transform(range({lo}, {lo + sub}), i -> t.res[i])
                    ORDER BY t.vec_id),
               (x, y) -> list_transform(range(1, {sub + 1}), i -> x[i] + y[i]))
               AS summed
      FROM ra{s} a JOIN train t USING (vec_id) GROUP BY a.cid
    ), rcb{s} AS (
      SELECT list(cvec ORDER BY cid) AS cvecs FROM (
        SELECT i.cid,
               CASE WHEN t.cid IS NULL THEN i.cvec
                    ELSE list_transform(t.summed, x -> x / t.n) END AS cvec
        FROM rinit{s} i LEFT JOIN rs{s} t ON i.cid = t.cid)
    )"""


def _ivf_pq_residual_trained_oracle(
    m: int = 8, sub: int = 8, n_centroids: int = 16, k: int = 3,
    n_cells: int = 8, nprobe: int = 2, n_q: int = 16,
) -> str:
    """Oracle for trained-residual IVF-PQ: _ivf_pq_residual_oracle's
    coarse/residualize/probe/ADC chain with the id-window codebook
    replaced by m per-subspace Lloyd's chains over the residual training
    table (_km_cte_res; training excludes the n_cells coarse-centroid
    rows, whose residuals are identically zero).  The trained codebook
    entries are SUB-dim vectors (rcb{s}.cvecs elements), so the
    sub-distance indexes cv[i] directly instead of slicing a full-dim
    residual."""

    def subsqd(side: str, s: int) -> str:
        lo = (s - 1) * sub + 1
        return (
            f"list_reduce(list_transform(range(1, {sub + 1}), "
            f"i -> ({side}.res[{lo} - 1 + i] - cv[i]) * "
            f"({side}.res[{lo} - 1 + i] - cv[i])), (x, y) -> x + y)"
        )

    rkms = ", ".join(_km_cte_res(s, sub, n_centroids) for s in range(1, m + 1))
    dls_c = ", ".join(
        f"list_transform((SELECT cvecs FROM rcb{s}), cv -> {subsqd('d', s)})"
        for s in range(1, m + 1)
    )
    dls_q = ", ".join(
        f"list_transform((SELECT cvecs FROM rcb{s}), cv -> {subsqd('p', s)})"
        for s in range(1, m + 1)
    )
    adc = " + ".join(f"q.dtab[{s}][c.codes[{s}]]" for s in range(1, m + 1))
    return f"""
    WITH coarse AS (
      SELECT list(embedding ORDER BY vec_id) AS cvecs
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_cells})
    ), dc AS (
      SELECT e.vec_id, e.embedding,
             list_transform((SELECT cvecs FROM coarse),
               c -> {_SQD.format(v='e.embedding')}) AS cdists
      FROM embeddings e
    ), cellq AS (
      SELECT d.vec_id, d.embedding, co.cvecs, d.cdists,
             list_position(d.cdists, list_min(d.cdists))::BIGINT AS cell
      FROM dc d, coarse co
    ), dcr AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65),
               i -> embedding[i]::DOUBLE - cvecs[cell][i]::DOUBLE) AS res
      FROM cellq
    ), thr AS (
      SELECT max(vec_id) AS mx FROM (SELECT vec_id FROM embeddings
                                     ORDER BY vec_id LIMIT {n_cells})
    ), train AS (
      SELECT d.vec_id, d.res FROM dcr d, thr WHERE d.vec_id > thr.mx
    ), {rkms}, coded AS (
      SELECT d.vec_id, d.cell,
             list_transform([{dls_c}],
               t -> list_position(t, list_min(t))) AS codes
      FROM dcr d
    ), probes AS (
      SELECT q_id, cell, embedding, cvecs FROM (
        SELECT c.vec_id AS q_id, c.embedding, c.cvecs,
               unnest(range(1, len(c.cdists) + 1)) AS cell,
               unnest(c.cdists) AS dist
        FROM cellq c WHERE c.vec_id < {n_q}
      ) x QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY dist, cell)
             <= {nprobe}
    ), probe_res AS (
      SELECT q_id, cell,
             list_transform(range(1, 65),
               i -> embedding[i]::DOUBLE - cvecs[cell][i]::DOUBLE) AS res
      FROM probes
    ), pdt AS (
      SELECT p.q_id, p.cell, [{dls_q}] AS dtab FROM probe_res p
    ), scored AS (
      SELECT q.q_id, c.vec_id AS c_id, round({adc}, 4) AS adc
      FROM coded c JOIN pdt q ON c.cell = q.cell
      WHERE q.q_id <> c.vec_id
    )
    SELECT q_id, rank, c_id, adc FROM (
      SELECT q_id, c_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# Bench-only (pytest-gated oracle) per the window-budget policy — the r12
# verdict's stretch A: trained codebooks fitted to the RESIDUAL
# distribution, closing the codebook-quality bind the residual entry's
# honest negative measured.
@register_bench_only(
    "q_ivf_pq_residual_trained_topk", oracle=_ivf_pq_residual_trained_oracle()
)
def q_ivf_pq_residual_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ with TRAINED residual codebooks
    (operators/similarity.ivf_pq_residual_topk_trained =
    train_pq_codebooks composed over the residuals vec -
    coarse_centroid[cell]): the follow-up q_ivf_pq_residual_topk's
    honest negative calls for — its 0.104 recall (≈ raw training-free
    0.109) is a codebook-quality bind, since the literature's residual
    gains (Jegou et al. 2011) assume codebooks fitted to the
    low-variance residual distribution.  Training excludes the 8
    coarse-centroid rows (identically-zero residuals would seed dead
    centroids); every candidate still gets coded.  The ENTIRE chain —
    coarse assign -> residualize -> 8 per-subspace Lloyd's chains over
    residuals -> code -> per-probe tables -> ADC — sits under one hash
    gate (the oracle unrolls all of it; _km_cte_res).

    Measured recall@3 vs exact L2 (scripts/pq_recall.py, sf0.01, 64
    queries): 0.089 at n_iter=2 (this entry's config, matching the
    other trained entries), 0.115 converged at n_iter=3/4 — ABOVE the
    training-free residual (0.104) but still below trained RAW IVF-PQ
    (0.167).  A second honest negative, sharper than the first: the
    bind is not codebook quality alone but the residual decomposition
    itself on this corpus — the synthetic embeddings have no cluster
    structure, so the coarse quantizer explains almost no variance
    (residuals ~= raw vectors) while the residual layout still pays
    per-probe table mismatch across cells.  Residual PQ earns its keep
    only where coarse cells are tight; measure before adopting.

    Scale: identical join shapes to q_ivf_pq_residual_topk (two one-row
    broadcasts, cell hash equi-join, m lookups per surviving pair);
    training adds m bounded k-means passes over the residual projection,
    paid once per index build (quantize-on-write), books collapse to one
    localCheckpoint-ed broadcast row."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side: sharing `emb` across both join
    # sides risks Catalyst's self-join HOF-lambda rebind bug (see
    # operators/similarity.embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 16)
    return S.ivf_pq_residual_topk_trained(
        queries, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, n_iter=2, k=3,
    )


# ---------------------------------------------------------------------------
# Embedding-level data selection (operators/selection.py): hard-negative
# mining, kNN label-error detection, k-center greedy coreset.  Bench-only
# (pytest-gated oracles) per the window-budget policy — the driver window
# is full this round; these head the promotion line with the PQ entries.

from pimdb_spark.operators import selection as SEL  # noqa: E402

# int8 quantization CTE carrying the label column (the selection family
# ranks by the same quantized scorer but decides on labels).
_INT8_QZL = """
      SELECT vec_id, label,
             mx / 127.0 AS scale, nrm,
             list_transform(range(1, 65), i ->
               CASE WHEN mx = 0 THEN 0
                    ELSE CAST(least(127.0, greatest(-127.0,
                         floor(embedding[i]::DOUBLE * 127.0 / mx + 0.5)))
                         AS BIGINT) END) AS codes
      FROM (
        SELECT vec_id, label, embedding,
               list_max(list_transform(range(1, 65),
                        i -> abs(embedding[i]::DOUBLE))) AS mx,
               sqrt(list_reduce(list_transform(range(1, 65),
                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
                    (x, y) -> x + y)) AS nrm
        FROM embeddings
      )
"""

_QCOS = """round(CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
                 ELSE (CAST(list_reduce(list_transform(range(1, 65),
                            i -> q.codes[i] * c.codes[i]), (x, y) -> x + y)
                       AS DOUBLE) * q.scale * c.scale)
                      / (q.nrm * c.nrm) END, 4)"""


@register_bench_only(
    "q_hard_negatives",
    oracle=f"""
    WITH qz AS ({_INT8_QZL}),
    q AS (SELECT * FROM qz WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS q_id, q.label AS q_label,
             c.vec_id AS c_id, c.label AS c_label,
             {_QCOS} AS qcos
      FROM qz c, q WHERE q.vec_id <> c.vec_id
    ),
    neg AS (
      SELECT q_id, q_label, c_id, c_label, qcos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY qcos DESC, c_id) AS neg_rank
      FROM scored WHERE c_label <> q_label
    ),
    pos AS (
      SELECT q_id, max(qcos) AS pos_qcos
      FROM scored WHERE c_label = q_label GROUP BY q_id
    )
    SELECT n.q_id, n.q_label, CAST(n.neg_rank AS INTEGER) AS neg_rank,
           n.c_id AS neg_id, n.c_label AS neg_label, n.qcos AS neg_qcos,
           p.pos_qcos, p.pos_qcos - n.qcos AS margin
    FROM neg n LEFT JOIN pos p ON n.q_id = p.q_id
    WHERE n.neg_rank <= 3
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/selection.hard_negative_mining): per query vector, the 3
    most-similar DIFFERENT-label candidates under the quantized int8
    cosine, the best same-label positive score, and the margin
    pos - neg — small or negative margin marks exactly the
    training-informative pair.  All ranking is the established int8
    discipline (exact integer dots, one fixed-shape double rescale,
    round-4, ties by candidate id); the positive best is an order-free
    MAX over round-4 doubles; queries whose label has no other member
    get NULL pos/margin (absence, not a zero score).

    Scale: identical plan economics to q_int8_ann_topk — broadcast
    query side, one 8x-narrower candidate pass, WindowGroupLimit —
    plus one bounded broadcast join for the positive-best attach; the
    label predicate prunes rows after the join, and at corpus scale the
    candidate stream composes with the LSH/IVF generators unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    # independent scan for the query side (self-join HOF rebind bug —
    # see embedding_dup_pairs docstring)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    return SEL.hard_negative_mining(queries, emb, k=3)


@register_bench_only(
    "q_knn_label_errors",
    oracle=f"""
    WITH qz AS ({_INT8_QZL}),
    q AS (SELECT * FROM qz WHERE vec_id < 32),
    scored AS (
      SELECT q.vec_id AS q_id, q.label AS q_label,
             c.vec_id AS c_id, c.label AS c_label,
             {_QCOS} AS qcos
      FROM qz c, q WHERE q.vec_id <> c.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT q_id, q_label, c_label, qcos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY qcos DESC, c_id) AS nn_rank
        FROM scored
      ) WHERE nn_rank <= 5
    ),
    votes AS (
      SELECT q_id, q_label, c_label, count(*) AS n_votes
      FROM knn GROUP BY q_id, q_label, c_label
    ),
    majority AS (
      SELECT q_id, q_label, c_label AS knn_label FROM (
        SELECT q_id, q_label, c_label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY n_votes DESC, c_label) AS vote_rank
        FROM votes
      ) WHERE vote_rank = 1
    ),
    agree AS (
      SELECT q_id, count(*) AS n_agree FROM knn
      WHERE c_label = q_label GROUP BY q_id
    )
    SELECT m.q_id AS vec_id, m.q_label AS label, m.knn_label,
           CAST(coalesce(a.n_agree, 0) AS BIGINT) AS n_agree,
           m.knn_label <> m.q_label AS is_suspect
    FROM majority m LEFT JOIN agree a ON m.q_id = a.q_id
    """,
)
def q_knn_label_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-error detection — confident-learning-lite (Northcutt et
    al. 2021; operators/selection.knn_label_errors): for 32 query
    vectors, the 5 nearest candidates vote their labels; the row is
    flagged when the (count DESC, label ASC)-deterministic majority
    disagrees with its own label.  Every decision after the round-4
    ranking is INTEGER (vote counts, tie-broken argmax), so the flags
    are engine-exact.

    Honest-signal note (the q_quality_classifier precedent): this
    corpus's labels are embedding-INDEPENDENT (measured same-label mean
    cosine 0.0016 vs 0.0003 different-label at sf0.01), so the suspect
    rate sits near the 1 - 1/n_labels base rate by construction — the
    hash gate attests the algorithm (ranking, voting, tie-breaks), not
    a planted mislabel signal.

    Scale: one broadcast-query candidate pass + WindowGroupLimit, then
    vote aggregation over at most queries x k rows — bounded by the
    top-k output, not the corpus; candidate generation composes with
    IVF/LSH unchanged."""
    emb = _cand_emb(spark, sf_dir)
    # independent scan for the query side (self-join HOF rebind bug)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 32)
    return SEL.knn_label_errors(queries, emb, k=5)


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled k-round k-center greedy CTE chain (the kmeans-oracle
    discipline): each round materializes the chosen set as an ordered
    list of vectors, computes every remaining point's min ordered-fold
    sqdist to it (list_min over per-center folds — min is order-free,
    each fold is the identical left-to-right double sequence Spark
    runs), and takes the (dmin DESC, vec_id) argmax."""
    parts = [
        """
    WITH e AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> embedding[i]::DOUBLE) AS v
      FROM embeddings
    ),
    sel1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)"""
    ]
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, v FROM sel{i}" for i in range(1, r)
        )
        parts.append(f"""
    ctr{r} AS (SELECT list(v ORDER BY vec_id) AS cvs FROM ({prev})),
    sel{r} AS (
      SELECT vec_id, v, dmin FROM (
        SELECT e.vec_id, e.v,
               list_min(list_transform(ctr{r}.cvs, cv ->
                 list_reduce(list_prepend(0.0,
                   list_transform(range(1, 65),
                     i -> (e.v[i] - cv[i]) * (e.v[i] - cv[i]))),
                   (x, y) -> x + y))) AS dmin
        FROM e, ctr{r}
        WHERE e.vec_id NOT IN ({" UNION ALL ".join(
            f"SELECT vec_id FROM sel{i}" for i in range(1, r))})
      ) ORDER BY dmin DESC, vec_id LIMIT 1
    )""")
    tail = " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS sel_rank, vec_id, "
        + ("CAST(NULL AS DOUBLE) AS dmin" if r == 1 else "dmin")
        + f" FROM sel{r}"
        for r in range(1, k + 1)
    )
    return ",".join(parts) + f"\n    {tail}"


@register_bench_only("q_kcenter_coreset", oracle=_kcenter_oracle(6))
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection — Sener & Savarese 2018
    (operators/selection.kcenter_greedy): seed with the smallest id,
    then 5 times pick the point farthest (ordered-fold squared L2) from
    its nearest chosen center, ties by id.  Output row r's dmin is the
    k-center coverage radius after r-1 centers — the whole objective
    curve, monotone non-increasing, hash-gated alongside the picks
    themselves (oracle unrolls all 6 rounds CTE for CTE, the
    kmeans-oracle discipline).

    Scale: each round is ONE narrow pass — chosen centers travel as a
    single broadcast row (k x dim doubles; the driver never holds a
    data-sized frame), dmin is a map-side array_min expression, the
    argmax is TakeOrdered(1), and lineage is cut per round so the plan
    stays O(1) deep.  O(N*k) total work is the algorithm's bound, not a
    plan artifact; at 100 TB run it on the post-dedup sample the
    coreset is meant to summarize."""
    emb = load(spark, sf_dir, "embeddings")
    return SEL.kcenter_greedy(emb, k=6)
