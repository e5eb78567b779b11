"""Pipeline-hygiene catalog: paragraph-level dedup, n-gram eval-set
decontamination, sliding-window chunking, per-source token-budget mixture,
key-skew heavy hitters, equi-width histograms, robust (median/MAD) outlier
summaries, and the materialized inverted index.

These extend the LLM-training-data families (catalog_corpus /
catalog_curation / catalog_text) with the remaining curation steps a
100 TB pipeline runs between raw ingest and the final mix.  Reference
parity: none (beyond-parity operators, same policy as operators/corpus.py).

Oracle conventions follow the repo rules: every sum that DuckDB would
widen to HUGEINT is cast to BIGINT; floats are produced only by single
IEEE operations on exact integers/doubles (no libm transcendentals); row
orders inside string aggregations are pinned with ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pimdb_spark.catalog import load, register, register_bench_only
from pimdb_spark.operators import corpus as C
from pimdb_spark.operators import curation as CU
from pimdb_spark.operators import profile as P
from pimdb_spark.operators import retrieval as R

_TOKS = "string_split(text, ' ')"
# engine-portable deterministic hash order (same form as catalog_curation)
_H8 = "('0x' || substring(md5(CAST({c} AS VARCHAR)), 1, 8))::BIGINT"


@register(
    "q_paragraph_dedup",
    oracle=f"""
    WITH seg AS (
      SELECT doc_id,
             unnest(range(1, greatest(len({_TOKS}), 1) + 1, 10)) AS start,
             {_TOKS} AS toks
      FROM documents
    ), segs AS (
      SELECT doc_id, CAST((start - 1) / 10 AS BIGINT) AS pos,
             array_to_string(list_slice(toks, start, start + 9), ' ') AS seg
      FROM seg
    ), ranked AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
      FROM segs
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos),
                    '') AS text,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY doc_id
    """,
    bench=True,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (operators/corpus.paragraph_dedup):
    10-token segments, corpus-wide keep-first by (doc_id, position),
    documents re-assembled in order (empty string when everything was seen
    before — the row count is preserved).

    Scale: two inherent keyed shuffles — the keep-first window on
    md5(segment) moves (id, pos, segment) rows, never whole documents;
    the re-assembly groupBy moves surviving segments once."""
    docs = load(spark, sf_dir, "documents")
    return C.paragraph_dedup(docs, block=10)


@register(
    "q_ngram_decontaminate",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len({_TOKS}) - 5 + 2),
                            i -> array_to_string(list_slice({_TOKS}, i, i + 4),
                                                 ' ')) AS grams
      FROM documents
    ), ev AS (
      SELECT DISTINCT md5(unnest(grams)) AS gfp FROM g WHERE doc_id % 11 = 0
    ), hits AS (
      SELECT doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, md5(unnest(list_distinct(grams))) AS gfp FROM g) t
      WHERE gfp IN (SELECT gfp FROM ev)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
           coalesce(h.n_shared, 0) < 3 AS keep
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram eval-set decontamination (operators/corpus.ngram_decontaminate):
    a training doc is contaminated when ≥3 of its distinct 5-grams appear
    in the held-out slice (doc_id % 11 — both engines build the identical
    eval set).  The exact-text `q_decontaminate` misses embedded/partial
    leakage; the n-gram form is the published convention (GPT-3 App. C).

    Scale: the eval side reduces to distinct gram md5s and broadcasts, so
    the corpus explode joins shuffle-free; the only shuffle aggregates
    (doc, hit) pairs — proportional to contamination, not corpus size."""
    docs = load(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 11 == 0)
    return C.ngram_decontaminate(docs, eval_docs, n=5, threshold=3)


@register(
    "q_chunk_documents",
    oracle="""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 20, 1) + 1, 100)) AS start
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) / 100 AS INTEGER) AS chunk_idx,
           substring(text, start, 120) AS chunk_text,
           CAST(length(substring(text, start, 120)) AS INTEGER) AS chunk_len
    FROM starts
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/curation.chunk_documents):
    120-char chunks with 20-char overlap — the sequence-prep step before
    tokenization/packing and the standard RAG indexing unit.

    Scale: pure projection + explode, zero shuffle; fan-out bounded by
    len/stride per document."""
    docs = load(spark, sf_dir, "documents")
    return CU.chunk_documents(docs, chunk_chars=120, overlap_chars=20)


@register(
    "q_budget_take",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOKS}) AS n_toks,
             CAST(sum(len({_TOKS})) OVER (
               PARTITION BY source
               ORDER BY {_H8.format(c='doc_id')}, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens,
             CASE WHEN source = 'src0' THEN 800
                  WHEN source = 'src5' THEN 400 ELSE 600 END AS budget
      FROM documents
    )
    SELECT doc_id, source, n_toks, cum_tokens
    FROM t WHERE cum_tokens - n_toks < budget
    """,
)
def q_budget_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget mixture (operators/curation.budget_take):
    each source contributes documents in deterministic hash order until
    its token budget is met (src0: 800, src5: 400, others: 600) — how a
    training mix hits "100B web, 10B code" targets reproducibly.

    Scale: one window shuffle on the source key; integer cumsum stays
    exact past double's 2^53 range."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "n_toks", F.size(F.split(F.col("text"), " "))
    )
    return CU.budget_take(
        docs,
        "source",
        "doc_id",
        "n_toks",
        budgets={"src0": 800, "src5": 400},
        default_budget=600,
    ).select("doc_id", "source", "n_toks", "cum_tokens")


@register(
    "q_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id
    ), total AS (SELECT count(*) AS t FROM events)
    SELECT key, cnt,
           CAST(cnt AS DOUBLE) / (SELECT t FROM total) AS share,
           CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INTEGER) AS rank
    FROM c ORDER BY cnt DESC, key LIMIT 15
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew heavy hitters (operators/profile.heavy_hitters): the top
    15 event users by exact frequency with their share of all rows — the
    diagnostic that decides whether a key needs salting
    (operators/skew.py) before a 100 TB join/agg.

    Scale: partial-aggregated (key, count) shuffle + TakeOrderedAndProject;
    the row total rides a one-row broadcast; share is one IEEE division
    of exact integers."""
    events = load(spark, sf_dir, "events")
    return P.heavy_hitters(events, "user_id", k=15)


@register(
    "q_histogram",
    oracle="""
    WITH b AS (
      SELECT greatest(0, least(19, CAST(floor(value / 25.0) AS BIGINT))) AS bin
      FROM events
    ), c AS (
      SELECT bin, count(*) AS cnt FROM b GROUP BY bin
    ), grid AS (SELECT unnest(range(20)) AS bin)
    SELECT g.bin,
           CAST(g.bin * 25.0 AS DOUBLE) AS bin_lo,
           CAST((g.bin + 1) * 25.0 AS DOUBLE) AS bin_hi,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM grid g LEFT JOIN c ON g.bin = c.bin
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value over [0, 500) in 25-wide bins
    (operators/profile.numeric_histogram), out-of-range mass clamped into
    the edge bins, empty bins emitted — the range-drift profile a
    pipeline runs on every metric column at ingest.

    Scale: bin index is a projection; one count shuffle of ≤ nbins
    groups; the dense grid is an nbins-row broadcast join."""
    events = load(spark, sf_dir, "events")
    return P.numeric_histogram(events, "value", lo=0.0, hi=500.0, nbins=20)


@register(
    "q_robust_outliers",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT *, max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                         THEN value END)
                  OVER (PARTITION BY event_type) AS m
      FROM ranked
    ), dev AS (
      SELECT event_type, value, n, m, abs(value - m) AS d,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(value - m)) AS rn2
      FROM med
    ), mad AS (
      SELECT *, max(CASE WHEN rn2 = CAST(floor((n + 1) / 2) AS BIGINT)
                         THEN d END)
                  OVER (PARTITION BY event_type) AS md
      FROM dev
    )
    SELECT event_type, count(*) AS n, max(m) AS median, max(md) AS mad,
           CAST(sum(CASE WHEN d > 3.0 * md THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM mad GROUP BY event_type
    """,
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier summary (operators/profile.
    robust_outliers): discrete median + MAD with a 3-MAD fence — the
    heavy-tail-safe gate for metric columns (mean/stddev are dragged by
    the very outliers they hunt).  The discrete (lower) median is an
    actual data value, so the float result is engine-exact without
    interpolation rounding.

    Scale: both window passes hash-partition on the group key — one
    exchange feeds median, deviation, and the final rollup."""
    events = load(spark, sf_dir, "events")
    return P.robust_outliers(events, "event_type", "value", n_mads=3.0)


@register_bench_only(
    "q_inverted_index",
    oracle=f"""
    WITH pairs AS (
      SELECT token, doc_id AS doc, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY token, doc_id
    )
    SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
           string_agg(doc || ':' || tf, ',' ORDER BY doc) AS postings
    FROM pairs GROUP BY token
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index (operators/retrieval.inverted_index):
    per token its document frequency, collection frequency, and id-ordered
    doc:tf postings string — build once, broadcast-join per query batch
    (the amortized form of q_bm25_topk's per-query scan).

    Scale: two keyed shuffles ((token, doc) partial count, then token);
    per-token postings are bounded by the token's df — production builds
    cap head tokens via a max-df filter first.

    Bench-only since builder r17 (r13 demotion precedent): the exhaustive
    twin of q_inverted_index_capped, which is the production form and
    keeps the driver-window slot; this entry stays hash-gated by the
    pytest oracle sweep via _EXTRA_BENCH_ORACLE."""
    docs = load(spark, sf_dir, "documents")
    return R.inverted_index(docs)


@register(
    "q_inverted_index_capped",
    oracle=f"""
    WITH pairs AS (
      SELECT token, doc_id AS doc, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY token, doc_id
    ), ok AS (
      SELECT token FROM pairs GROUP BY token HAVING count(*) <= 390
    )
    SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
           string_agg(doc || ':' || tf, ',' ORDER BY doc) AS postings
    FROM pairs JOIN ok USING (token) GROUP BY token
    """,
)
def q_inverted_index_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-capped inverted index (operators/retrieval.inverted_index
    with max_df=390): stop-word-grade tokens (df > 390 — roughly every
    document at sf0.01) are dropped BEFORE postings aggregation, so no
    corpus-sized postings string is ever built.  The production form of
    q_inverted_index: head tokens carry ~zero retrieval signal but all
    the memory and shuffle skew.

    Scale: the df pre-count carries (token, df) only; the filter joins
    back on the same token partitioning, bounding every collect_list by
    max_df by construction."""
    docs = load(spark, sf_dir, "documents")
    return R.inverted_index(docs, max_df=390)


@register(
    "q_fuzzy_link",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS blk FROM part
    )
    SELECT a.p_partkey AS left_id,
           b.p_partkey AS right_id,
           a.p_name AS left_name,
           b.p_name AS right_name,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
    FROM (SELECT * FROM p WHERE p_partkey < 300) a
    JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (operators/linkage.fuzzy_link): link a new-batch
    slice of parts (p_partkey < 300) against the master part table by
    name similarity — blocked on the name's noun token, verified with an
    exact Levenshtein <= 2 predicate.  Both the blocking key and the
    edit distance are JVM built-ins, so DuckDB's levenshtein reproduces
    the verdict bit-for-bit.

    Scale: one shuffle on the blocking key; candidates are per-block
    products, never all-pairs; a hot block is droppable via
    max_block_size (flood-cap discipline shared with the LSH banding
    join)."""
    from pimdb_spark.operators.linkage import fuzzy_link

    part = load(spark, sf_dir, "part")
    batch = part.filter(F.col("p_partkey") < 300)
    return fuzzy_link(
        batch,
        part,
        id_col="p_partkey",
        name_col="p_name",
        block=F.split(F.col("p_name"), " ").getItem(1),
        max_distance=2,
    )


from pimdb_spark.functions.zorder import ZORDER_SQL_2D as _ZSQL

# the oracle runs the TEXTUALLY IDENTICAL bit expressions Spark evaluates
_ZORDER_ORACLE = f"""
    SELECT o_orderkey,
           CAST({_ZSQL("(o_custkey % 65536)",
                       "((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 65536)")}
                AS BIGINT) AS zkey
    FROM orders
"""


@register("q_zorder_key", oracle=_ZORDER_ORACLE)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day)
    (functions/zorder.zorder_key_2d): the multi-dimensional layout key —
    files sorted by it have small bounding boxes in BOTH dimensions, so
    parquet min/max stats prune range filters on either.  Pure JVM bit
    arithmetic (parallel-prefix spreads, shifts, ors); the oracle runs the
    textually identical bit expressions, so a hash match proves exact key
    parity.

    Scale: zero-shuffle projection (tests/test_linkage_zorder.py checks
    the key against a Python reference)."""
    from pimdb_spark.functions.zorder import zorder_key_2d

    orders = load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    return orders.select(
        "o_orderkey",
        zorder_key_2d(F.col("o_custkey") % 65536, day % 65536).alias("zkey"),
    )


# DEMOTED to bench-only in builder r19 (the r16 verdict's headroom
# pairing, q_ivf_pq_topk precedent): the single-pass plan is verbatim
# pass 1 of q_snm_multipass (its oracle's r1 CTE IS this oracle), and
# q_snm_multipass (r15-attested, forced into the next window) keeps the
# driver slot; this form stays timed and hash-gated via
# _EXTRA_BENCH_ORACLE.  The demotion also shrinks the next window's
# forced cohort (see COVERAGE.md r19 rotation entry).
@register_bench_only(
    "q_sorted_neighborhood",
    oracle="""
    WITH base AS (
      SELECT p_partkey AS left_id, p_name AS left_name,
             substring(p_name, 1, 1)
               || substring(split_part(p_name, ' ', 2), 1, 1) AS blk
      FROM part
    ), ranked AS (
      SELECT left_id, left_name, blk,
             lead(left_id, 1) OVER w AS r1_id, lead(left_name, 1) OVER w AS r1_nm,
             lead(left_id, 2) OVER w AS r2_id, lead(left_name, 2) OVER w AS r2_nm,
             lead(left_id, 3) OVER w AS r3_id, lead(left_name, 3) OVER w AS r3_nm
      FROM base
      WINDOW w AS (PARTITION BY blk ORDER BY left_name, left_id)
    ), pairs AS (
      SELECT left_id, left_name, r1_id AS right_id, r1_nm AS right_name FROM ranked
      UNION ALL
      SELECT left_id, left_name, r2_id, r2_nm FROM ranked
      UNION ALL
      SELECT left_id, left_name, r3_id, r3_nm FROM ranked
    )
    SELECT left_id, right_id, left_name, right_name,
           CAST(levenshtein(left_name, right_name) AS INTEGER) AS distance
    FROM pairs
    WHERE right_id IS NOT NULL
      AND levenshtein(left_name, right_name) <= 2
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER (operators/linkage.sorted_neighborhood_link):
    per block (the first letter of EACH of the first two name tokens —
    a key whose cardinality multiplies with the name vocabulary instead
    of capping at one alphabet), parts sorted by name and each compared
    to its next 3 sort neighbors, Levenshtein <= 2 verified JVM-side —
    the complement to q_fuzzy_link's equality blocking (SNM catches
    shared-prefix near-matches a split blocking key would miss;
    multi-pass = q_snm_multipass).

    Scale: one block-key shuffle; candidates are exactly window x rows —
    linear, no m-squared hot block.  The token-initial block keeps the
    per-block sort parallel at scale (first-letter-only blocking would
    mean <= 26 effective partitions forever)."""
    from pimdb_spark.operators.linkage import sorted_neighborhood_link

    part = load(spark, sf_dir, "part")
    return sorted_neighborhood_link(
        part,
        id_col="p_partkey",
        name_col="p_name",
        block=_two_initial_block(),
        window=3,
        max_distance=2,
    )


def _two_initial_block() -> F.Column:
    # first letter of token 0 + first letter of token 1 (missing second
    # token -> '' on both engines: coalesce matches DuckDB's split_part)
    return F.concat(
        F.substring(F.col("p_name"), 1, 1),
        F.substring(
            F.coalesce(F.split(F.col("p_name"), " ").getItem(1), F.lit("")), 1, 1
        ),
    )


@register(
    "q_snm_multipass",
    oracle="""
    WITH base AS (
      SELECT p_partkey AS left_id, p_name AS left_name,
             substring(p_name, 1, 1)
               || substring(split_part(p_name, ' ', 2), 1, 1) AS blk1,
             substring(reverse(p_name), 1, 2) AS blk2,
             reverse(p_name) AS rname
      FROM part
    ), r1 AS (
      SELECT left_id, left_name,
             lead(left_id, 1) OVER w AS r1_id, lead(left_name, 1) OVER w AS r1_nm,
             lead(left_id, 2) OVER w AS r2_id, lead(left_name, 2) OVER w AS r2_nm,
             lead(left_id, 3) OVER w AS r3_id, lead(left_name, 3) OVER w AS r3_nm
      FROM base
      WINDOW w AS (PARTITION BY blk1 ORDER BY left_name, left_id)
    ), r2 AS (
      SELECT left_id, left_name,
             lead(left_id, 1) OVER w AS r1_id, lead(left_name, 1) OVER w AS r1_nm,
             lead(left_id, 2) OVER w AS r2_id, lead(left_name, 2) OVER w AS r2_nm,
             lead(left_id, 3) OVER w AS r3_id, lead(left_name, 3) OVER w AS r3_nm
      FROM base
      WINDOW w AS (PARTITION BY blk2 ORDER BY rname, left_id)
    ), pairs AS (
      SELECT left_id, left_name, r1_id AS right_id, r1_nm AS right_name FROM r1
      UNION ALL SELECT left_id, left_name, r2_id, r2_nm FROM r1
      UNION ALL SELECT left_id, left_name, r3_id, r3_nm FROM r1
      UNION ALL SELECT left_id, left_name, r1_id, r1_nm FROM r2
      UNION ALL SELECT left_id, left_name, r2_id, r2_nm FROM r2
      UNION ALL SELECT left_id, left_name, r3_id, r3_nm FROM r2
    ), verified AS (
      SELECT left_id, left_name, right_id, right_name,
             CAST(levenshtein(left_name, right_name) AS INTEGER) AS distance
      FROM pairs
      WHERE right_id IS NOT NULL
        AND levenshtein(left_name, right_name) <= 2
    )
    SELECT DISTINCT
           least(left_id, right_id) AS a_id,
           greatest(left_id, right_id) AS b_id,
           CASE WHEN left_id < right_id THEN left_name ELSE right_name END AS a_name,
           CASE WHEN left_id < right_id THEN right_name ELSE left_name END AS b_name,
           distance
    FROM verified
    """,
)
def q_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood ER (operators/linkage.snm_multipass):
    pass 1 blocks on the two token initials and sorts by name; pass 2
    blocks on the first two characters of the REVERSED name and sorts by
    it — suffix-adjacent near-matches that pass 1's prefix sort separates
    become neighbors in pass 2.  Pairs are orientation-normalized
    (a_id < b_id) and deduplicated across passes.

    Scale: two linear SNM passes (one block-key shuffle each, window x
    rows candidates) + one output-sized distinct; block cardinality
    scales with the vocabulary in both passes."""
    from pimdb_spark.operators.linkage import snm_multipass

    part = load(spark, sf_dir, "part")
    return snm_multipass(
        part,
        id_col="p_partkey",
        name_col="p_name",
        passes=[
            (_two_initial_block(), None),
            (
                F.substring(F.reverse(F.col("p_name")), 1, 2),
                F.reverse(F.col("p_name")),
            ),
        ],
        window=3,
        max_distance=2,
    )


@register(
    "q_mixture_plan",
    oracle="""
    WITH inv AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS available,
             CAST(CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
                              ELSE 2 END AS BIGINT) AS weight
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
      GROUP BY source
    ), keyed AS (
      SELECT *, available * (30 // weight) AS sort_key FROM inv
    ), binding AS (
      SELECT available AS b_avail, weight AS b_weight
      FROM keyed ORDER BY sort_key, source LIMIT 1
    )
    SELECT source, available, weight,
           (b_avail * weight) // b_weight AS allocation,
           CAST((b_avail * weight) // b_weight AS DOUBLE) / available
               AS utilization
    FROM keyed, binding
    """,
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix allocation (operators/curation.mixture_plan): target
    weights src0:src1:src2 = 5:3:2 over the documents corpus (n_chars as
    the token inventory).  The scarcest source relative to its weight
    caps the mix; every allocation is exact integer arithmetic (lcm sort
    key + integer DIV), utilization the only division.

    Scale: one map-side-combined groupBy(source); planning arithmetic
    runs on a |sources|-row frame with a one-row broadcast attach."""
    from pimdb_spark.operators.curation import mixture_plan

    docs = load(spark, sf_dir, "documents")
    return mixture_plan(
        docs, "source", "n_chars", weights={"src0": 5, "src1": 3, "src2": 2}
    )


@register(
    "q_validate_constraints",
    oracle="""
    WITH agg AS (
      SELECT
        CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_value_not_null,
        CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_value_nonneg,
        CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup','error')
                      THEN 1 ELSE 0 END) AS BIGINT) AS r_known_type,
        CAST(sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS r_user_id_valid
      FROM events
    )
    SELECT 'value_not_null' AS rule_id, 'value must be present' AS description,
           r_value_not_null AS n_violations, r_value_not_null = 0 AS passed FROM agg
    UNION ALL
    SELECT 'value_nonneg', 'value must be >= 0', r_value_nonneg, r_value_nonneg = 0 FROM agg
    UNION ALL
    SELECT 'known_type', 'event_type in allowed set', r_known_type, r_known_type = 0 FROM agg
    UNION ALL
    SELECT 'user_id_valid', 'user_id present and >= 0', r_user_id_valid,
           r_user_id_valid = 0 FROM agg
    """,
)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/profile.
    validate_constraints): a 4-rule expectation suite over events
    evaluated in ONE scan — violation predicates become conditional sums
    in a single aggregate, exploded back to one row per rule.  The shape
    a 100 TB ingest gate needs: rule count never adds passes.

    Scale: one full scan with map-side combine; rules are JVM
    expressions."""
    from pimdb_spark.operators.profile import validate_constraints

    events = load(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup", "error"]
    rules = [
        ("value_not_null", F.col("value").isNull(), "value must be present"),
        ("value_nonneg", F.col("value") < 0, "value must be >= 0"),
        ("known_type", ~F.col("event_type").isin(allowed), "event_type in allowed set"),
        (
            "user_id_valid",
            F.col("user_id").isNull() | (F.col("user_id") < 0),
            "user_id present and >= 0",
        ),
    ]
    return validate_constraints(events, rules)


@register(
    "q_sparse_doc_sim",
    bench=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks WHERE len(t) >= 2
    ), tf AS (
      SELECT doc_id AS doc, gram, count(*) AS tf FROM grams GROUP BY 1, 2
    ), dfs AS (
      SELECT gram, count(*) AS df FROM tf GROUP BY gram
      HAVING count(*) <= 40
    ), nn AS (
      SELECT count(*) AS n FROM documents
    ), w AS (
      SELECT doc, tf.gram,
             tf.tf * ((CAST(nn.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5)) AS w
      FROM tf JOIN dfs USING (gram), nn
    ), n2 AS (
      SELECT doc, list_reduce(list(w * w ORDER BY gram), (x, y) -> x + y) AS n2
      FROM w GROUP BY doc
    ), dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             list_reduce(list(a.w * b.w ORDER BY a.gram), (x, y) -> x + y) AS dot
      FROM w a JOIN w b ON a.gram = b.gram AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
    FROM dots JOIN n2 na ON dots.doc_a = na.doc
              JOIN n2 nb ON dots.doc_b = nb.doc
    WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5
    """,
)
def q_sparse_doc_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse TF-IDF cosine over bigrams (operators/retrieval.
    sparse_doc_similarity, max_df=40, threshold 0.5) — the lexical twin
    of the dense embedding near-dup operators: candidates come from an
    equi-join on shared under-the-cap grams (never all-pairs; Σdf²
    bounded), weights use the rational idf, and norms/dots are ordered
    folds so every cosine is engine-exact.

    Scale: one gram shuffle for tf, capped-gram pair join keyed on gram,
    pair groupBy on (doc_a, doc_b); max_df is the cost dial.

    The repartition(defaultParallelism) pins the CPU-bound pre-exchange
    tokenize/shingle/tf chain past the SF dir's single-split parquet
    scan (measured 4.38 s -> 1.62 s at sf0.1 for identical rows; the
    session-knob alternative is physically inert on single-row-group
    files — SCALE.md).  defaultParallelism — never a literal constant:
    on local[32] both equal 32, but at production a literal would
    COLLAPSE thousands of input splits to a fixed task count, whereas
    defaultParallelism follows the cluster's total core count (the
    operators/dedup.minhash_lsh_pairs form).  Applied in r14 when the
    rotation window first had head slots free (changed registry entries
    are forced into the driver window)."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return R.sparse_doc_similarity(docs, max_df=40, threshold=0.5, n=2)


# Bench-only since the round-10 consolidation (driver-window capacity —
# see COVERAGE.md "Attestation rotation"); the round-4 associative-sum
# contract stays hash-gated by tests/test_catalog_oracle.py's bench-only
# sweep on every pytest run.
@register_bench_only(
    "q_sparse_doc_sim_sum",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks WHERE len(t) >= 2
    ), tf AS (
      SELECT doc_id AS doc, gram, count(*) AS tf FROM grams GROUP BY 1, 2
    ), dfs AS (
      SELECT gram, count(*) AS df FROM tf GROUP BY gram
      HAVING count(*) <= 40
    ), nn AS (
      SELECT count(*) AS n FROM documents
    ), w AS (
      SELECT doc, tf.gram,
             tf.tf * ((CAST(nn.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5)) AS w
      FROM tf JOIN dfs USING (gram), nn
    ), n2 AS (
      SELECT doc, sum(w * w) AS n2 FROM w GROUP BY doc
    ), dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.gram = b.gram AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos
    FROM dots JOIN n2 na ON dots.doc_a = na.doc
              JOIN n2 nb ON dots.doc_b = nb.doc
    WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5
    """,
)
def q_sparse_doc_sim_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sparse_doc_sim's PRODUCTION scorer twin (scorer="sum"): norms
    and pair dots via plain F.sum with partial map-side aggregation
    instead of the per-pair array_sort(collect_list) ordered folds the
    oracle entry pays for bit-parity.  Engine-chosen accumulation order
    makes the sum differ from the fold by last-ulp only; the
    round-to-4-digits contract absorbs it, so the DuckDB hash still
    matches.

    Scale: same candidate discipline as q_sparse_doc_sim (capped-gram
    equi-join, Σdf² bounded) minus the fold overhead — no per-pair
    buffered list, no sort; this is the shape to run at 100 TB.

    The repartition(defaultParallelism) pins the CPU-bound pre-exchange
    tokenize/gram/tf chain past the SF dir's single-split parquet scan —
    the exact fix the fold twin carries (measured there 4.38 s ->
    1.62 s; this twin had been left on one core, r18 optimization
    round).  defaultParallelism — never a literal constant: it follows
    the cluster's total core count (see q_sparse_doc_sim)."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return R.sparse_doc_similarity(
        docs, max_df=40, threshold=0.5, n=2, scorer="sum", round_digits=4
    )


@register(
    "q_group_auc",
    oracle="""
    WITH base AS (
      SELECT vec_id % 3 AS bucket, label >= 5 AS is_pos,
             embedding[1]::DOUBLE AS s
      FROM embeddings
    ), ranked AS (
      SELECT bucket, is_pos,
             rank() OVER (PARTITION BY bucket ORDER BY s)
               + (count(*) OVER (PARTITION BY bucket, s) - 1) / 2.0::DOUBLE
                 AS arank
      FROM base
    ), agg AS (
      SELECT bucket,
             sum(CASE WHEN is_pos THEN arank END) AS rank_sum,
             CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM ranked GROUP BY bucket
    )
    SELECT bucket, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (rank_sum - n_pos * (n_pos + 1) / 2.0::DOUBLE)
                     / CAST(n_pos * n_neg AS DOUBLE)
           END AS auc
    FROM agg
    """,
)
def q_group_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-slice ROC AUC (operators/profile.group_auc) via the
    rank-sum identity with average ranks for ties — the offline model
    eval gate, computed exactly (ranks are half-integers, their sums
    order-independent in double; one final division).  Slices are
    vec_id % 3, positives label >= 5, score the first embedding
    coordinate.

    Scale: one group-key exchange feeds both rank windows and the final
    aggregation."""
    from pimdb_spark.operators.profile import group_auc

    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        (F.col("vec_id") % 3).alias("bucket"),
        (F.col("label") >= 5).alias("is_pos"),
        F.element_at("embedding", 1).cast("double").alias("s"),
    )
    return group_auc(base, "bucket", "is_pos", "s")


@register(
    "q_calibration_bins",
    oracle="""
    WITH base AS (
      SELECT label >= 5 AS pos, embedding[1]::DOUBLE AS s FROM embeddings
    ), agg AS (
      SELECT LEAST(CAST(floor((LEAST(GREATEST(s, -0.25::DOUBLE), 0.25::DOUBLE)
                               - (-0.25::DOUBLE)) / 0.05::DOUBLE) AS INT),
                   9) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM base GROUP BY 1
    ), grid AS (
      SELECT CAST(unnest(range(0, 10)) AS INT) AS bin
    )
    SELECT g.bin,
           -0.25::DOUBLE + g.bin * 0.05::DOUBLE AS bin_lo,
           -0.25::DOUBLE + (g.bin + 1) * 0.05::DOUBLE AS bin_hi,
           coalesce(a.n, 0) AS n,
           coalesce(a.n_pos, 0) AS n_pos,
           CASE WHEN a.n IS NOT NULL
                THEN CAST(a.n_pos AS DOUBLE) / a.n END AS pos_rate
    FROM grid g LEFT JOIN agg a USING (bin)
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins (operators/profile.
    calibration_bins): scores (first embedding coordinate) clamped into
    10 equal-width bins over [-0.25, 0.25), per bin the count, positive
    count (label >= 5) and exact positive rate — with group_auc the
    offline-eval pair: AUC ranks, calibration checks the probabilities.
    Empty bins are emitted (dense grid), edge bins absorb outliers.

    Scale: one map-side-combined scan into <= 10 groups + a broadcast
    dense-grid left join."""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        (F.col("label") >= 5).alias("is_pos"),
        F.element_at("embedding", 1).cast("double").alias("s"),
    )
    return P.calibration_bins(base, "is_pos", "s", lo=-0.25, hi=0.25, n_bins=10)


_BLOOM_GRAMS = f"""
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len({_TOKS}) - 5 + 2),
                            i -> array_to_string(list_slice({_TOKS}, i, i + 4),
                                                 ' '))) AS grams
      FROM documents
    ), dg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), ev AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 13 = 0
    )
"""

_BLOOM_POS = (
    "('0x' || substring(md5({g} || ':' || {j}), 1, 8))::BIGINT % 65536"
)


@register(
    "q_bloom_decontaminate",
    bench=True,
    oracle=f"""
    WITH {_BLOOM_GRAMS},
    bits AS (
      SELECT DISTINCT {_BLOOM_POS.format(g='gram', j='j.j')} AS pos
      FROM ev, (SELECT unnest([0, 1, 2]) AS j) j
    ), bloom AS (
      SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
      FROM bits GROUP BY 1
    ), probe AS (
      SELECT doc_id, gram, {_BLOOM_POS.format(g='gram', j='j.j')} AS pos
      FROM dg, (SELECT unnest([0, 1, 2]) AS j) j
    ), tested AS (
      SELECT doc_id, gram,
             bool_and((coalesce(b.word, 0) & (1::BIGINT << CAST(pos % 32 AS INTEGER)))
                      = (1::BIGINT << CAST(pos % 32 AS INTEGER))) AS bloom_hit
      FROM probe LEFT JOIN bloom b ON CAST(pos // 32 AS BIGINT) = b.word_idx
      GROUP BY doc_id, gram
    ), perdoc AS (
      SELECT doc_id, count(*) AS n_grams,
             count(*) FILTER (bloom_hit) AS bloom_hits
      FROM tested GROUP BY doc_id
    ), exact AS (
      SELECT t.doc_id, count(*) AS exact_hits
      FROM tested t JOIN ev USING (gram)
      WHERE t.bloom_hit GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.bloom_hits, 0) AS BIGINT) AS bloom_hits,
           CAST(coalesce(e.exact_hits, 0) AS BIGINT) AS exact_hits,
           coalesce(e.exact_hits, 0) < 3 AS keep
    FROM documents d
    LEFT JOIN perdoc p USING (doc_id)
    LEFT JOIN exact e USING (doc_id)
    """,
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination (operators/membership.
    bloom_decontaminate): the held-out slice's (doc_id %% 13) distinct
    5-grams fold into a 65,536-bit bloom (k=3 md5-derived positions,
    32-bit words in BIGINTs, bit_or-aggregated — every step
    engine-portable, so DuckDB rebuilds the IDENTICAL bitmap), training
    docs probe it, and only bloom-positive grams reach the exact
    verification join.  bloom_hits - exact_hits is the audited
    false-positive volume the prefilter admitted; keep matches
    q_ngram_decontaminate's < 3-exact-hits rule.

    Scale: the bloom is ≤ m/32 = 2,048 rows whatever the eval-set size —
    it broadcasts where the raw gram table could not; the exact join (the
    only gram-text shuffle) carries true hits + FP-rate x corpus grams.
    Tune m ~ 10 x distinct eval grams for ~0.1%% FP at k=3."""
    from pimdb_spark.operators.membership import bloom_decontaminate

    docs = load(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 13 == 0)
    return bloom_decontaminate(
        docs, eval_docs, n=5, m_bits=65536, k_hashes=3, threshold=3
    )


# Promoted to the driver registry in round 11 (one of the 3 freed
# rotation slots — COVERAGE.md "Attestation rotation"); bench-only with a
# pytest-gated oracle through round 10.
@register(
    "q_cms_heavy_hitters",
    bench=True,
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS item FROM documents
    ), js AS (
      SELECT unnest(range(0, 3)) AS j
    ), cms AS (
      SELECT CAST(j AS INTEGER) AS row,
             ('0x' || substring(md5(j || ':' || item), 1, 8))::BIGINT % 64 AS col,
             count(*) AS cnt
      FROM toks, js GROUP BY 1, 2
    ), di AS (
      SELECT DISTINCT item FROM toks
    ), est AS (
      -- every queried item incremented all 3 of its cells, so the join
      -- always finds them (no missing-cell coalesce needed for members)
      SELECT di.item, min(cms.cnt) AS est
      FROM di, js
      JOIN cms ON cms.row = js.j
       AND cms.col = ('0x' || substring(md5(js.j || ':' || di.item), 1, 8))::BIGINT % 64
      GROUP BY di.item
    ), cand AS (
      SELECT item, est FROM est WHERE est >= 100
    ), exact AS (
      SELECT item, count(*) AS exact FROM toks
      WHERE item IN (SELECT item FROM cand) GROUP BY item
    )
    SELECT c.item, c.est, e.exact, e.exact >= 100 AS is_heavy
    FROM cand c JOIN exact e USING (item)
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter candidates over the corpus token
    stream (operators/sketch.cms_heavy_hitter_candidates): a 3 x 64
    counter sketch (deliberately narrow so collisions really produce
    false candidates at this scale) generates candidates with NO false
    negatives, and the exact groupBy verifies only the candidate set —
    the bloom_decontaminate economics applied to frequency.  Counters
    are exact BIGINT sums; estimation is d unrolled codegen map lookups
    against a one-row broadcast (the bloom_probe lesson); the DuckDB
    oracle rebuilds the identical sketch.

    Scale: one corpus pass and one item-keyed exchange — the distinct
    enumeration this entry's output domain requires already pays
    full-vocabulary per-key state, so the exact counts ride that same
    groupBy (+8 bytes/key) and the sketch builds from the per-item
    counts (associative BIGINT sums, bit-identical cells); the sketch
    shuffle stays capped at d x w cells per task by the map-side
    combine, and estimation is a shuffle-free one-row-broadcast map
    projection."""
    from pimdb_spark.operators.sketch import cms_heavy_hitter_candidates

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("item"))
    return cms_heavy_hitter_candidates(
        toks, "item", width=64, depth=3, min_est=100
    )


# Promoted to the driver registry in round 12; demoted back to
# bench-only in builder r17 (third demotion of the window-capacity
# consolidation): q_hll_group_distinct runs the IDENTICAL register /
# estimate arithmetic with a group key — the global form is its
# one-group special case — and keeps the driver slot; this entry stays
# hash-gated by the pytest oracle sweep via _EXTRA_BENCH_ORACLE.
@register_bench_only(
    "q_hll_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS item FROM documents
    ), hs AS (
      SELECT ('0x' || substring(md5(item), 1, 8))::BIGINT AS h FROM toks
    ), rr AS (
      SELECT CAST(h // 67108864 AS INTEGER) AS bucket,
             CAST(CASE WHEN h % 67108864 = 0 THEN 27
                  ELSE 27 - length(bin(h % 67108864)) END AS INTEGER) AS rho
      FROM hs
    ), regs AS (
      SELECT bucket, max(rho) AS register FROM rr GROUP BY bucket
    ), est AS (
      SELECT count(*) AS n_present,
             sum(1.0::DOUBLE / CAST(1::BIGINT << register AS DOUBLE)) AS s
      FROM regs
    ), ex AS (
      SELECT count(DISTINCT item) AS exact_distinct FROM toks
    )
    SELECT 64 AS m,
           CAST(est.n_present AS BIGINT) AS n_present,
           (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE))
             * 64.0::DOUBLE * 64.0::DOUBLE
             / (coalesce(est.s, 0.0::DOUBLE)
                + CAST(64 - est.n_present AS DOUBLE)) AS raw_estimate,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM est, ex
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog over the corpus token vocabulary
    (operators/sketch.hll_registers + hll_estimate) — the cardinality
    member of the sketch trio, and unlike q_approx_distinct (Spark's
    opaque builtin HLL, checked only within an error band) this one is
    BIT-IDENTICAL across engines: md5-derived registers are exact
    integers, 2^-M terms are dyadic rationals summed exactly in any
    order, and the DuckDB oracle reproduces the raw estimate to the last
    bit.  Output: (m, n_present, raw_estimate, exact_distinct).

    Scale: the register groupBy is capped at 64 rows per task by the
    map-side combine; registers are MAX-idempotent, so the sketch also
    streams replay-safe (the bloom contract)."""
    from pimdb_spark.operators.sketch import hll_estimate, hll_registers

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("item"))
    est = hll_estimate(hll_registers(toks, "item"))
    exact = toks.agg(F.count_distinct("item").cast("bigint").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "m", "n_present", "raw_estimate", "exact_distinct"
    )


# Promoted to the driver registry in round 11 (one of the 3 freed
# rotation slots); bench-only with a pytest-gated oracle through round 10.
@register(
    "q_hll_group_distinct",
    bench=True,
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS}) AS item FROM documents
    ), hs AS (
      SELECT lang, ('0x' || substring(md5(item), 1, 8))::BIGINT AS h FROM toks
    ), rr AS (
      SELECT lang, CAST(h // 67108864 AS INTEGER) AS bucket,
             CAST(CASE WHEN h % 67108864 = 0 THEN 27
                  ELSE 27 - length(bin(h % 67108864)) END AS INTEGER) AS rho
      FROM hs
    ), regs AS (
      SELECT lang, bucket, max(rho) AS register FROM rr GROUP BY 1, 2
    )
    SELECT lang AS grp,
           CAST(count(*) AS BIGINT) AS n_present,
           (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE))
             * 64.0::DOUBLE * 64.0::DOUBLE
             / (sum(1.0::DOUBLE / CAST(1::BIGINT << register AS DOUBLE))
                + CAST(64 - count(*) AS DOUBLE)) AS raw_estimate
    FROM regs GROUP BY lang
    """,
)
def q_hll_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via grouped HyperLogLog
    (operators/sketch.hll_group_estimate) — the at-scale
    count-DISTINCT-GROUP-BY shape: per-(group, bucket) MAX registers,
    then an m-row reduce per group, every estimate bit-identical across
    engines (the q_hll_distinct arithmetic with a group key).

    Scale: register aggregation is capped at |groups| x 64 rows per task
    map-side; no distinct-set shuffle ever happens — the point of the
    sketch."""
    from pimdb_spark.operators.sketch import hll_group_estimate

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("item")
    )
    return hll_group_estimate(toks, "lang", "item")


# Bench-only (pytest-gated oracle) per the window-budget policy — the
# DISTRIBUTION member of the sketch family (bloom = membership/OR,
# CMS = frequency/SUM, HLL = cardinality/MAX, EH = quantiles/SUM).
@register_bench_only(
    "q_quantile_sketch",
    oracle="""
    WITH v AS (
      SELECT CAST(n_chars AS BIGINT) AS v FROM documents
    ), k AS (
      SELECT CAST(length(bin(v)) AS BIGINT) * 16
               + (v >> greatest(length(bin(v)) - 4, 0)) AS bkey,
             CAST((v >> greatest(length(bin(v)) - 4, 0))
               << greatest(length(bin(v)) - 4, 0) AS BIGINT) AS lo
      FROM v
    ), b AS (
      SELECT bkey, lo, count(*) AS cnt FROM k GROUP BY bkey, lo
    ), cum AS (
      SELECT bkey, lo, cnt,
             sum(cnt) OVER (ORDER BY bkey ROWS UNBOUNDED PRECEDING) AS cum
      FROM b
    ), n AS (SELECT count(*) AS n FROM v),
    t AS (
      SELECT q_bp, (CAST(q_bp AS BIGINT) * n.n + 9999) // 10000 AS rank
      FROM (VALUES (5000), (9000), (9900)) AS q(q_bp), n
    ), est AS (
      SELECT t.q_bp, t.rank, min(cum.lo) AS est
      FROM cum JOIN t ON cum.cum >= t.rank
      GROUP BY t.q_bp, t.rank
    ), sorted AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v
    )
    SELECT CAST(est.q_bp AS INTEGER) AS q_bp,
           CAST(est.rank AS BIGINT) AS rank,
           CAST(est.est AS BIGINT) AS est,
           CAST(s.v AS BIGINT) AS exact,
           CAST(s.v - est.est AS BIGINT) AS abs_gap
    FROM est JOIN sorted s ON s.rn = est.rank
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of document length via the exponential-histogram
    quantile sketch (operators/sketch.eh_buckets + eh_quantiles) —
    the distribution member of the sketch family, and the deterministic
    engine-portable stand-in for approx_percentile / t-digest (whose
    randomized internals can never be oracle-exact).  Buckets key on
    (bitlength, top-4-bits) of the value — length(bin(v)), the HLL
    trick — so both engines build the identical cell table; counts are
    exact BIGINT sums; the readout rank ceil(q*N) and the bucket lower
    bound are all integer arithmetic.  Output per quantile: (q_bp,
    rank, est, exact, abs_gap) where exact is the true rank-r value —
    the sketch's error, est <= exact < est * (1 + 2^-3), is hash-gated
    row by row (the ann_recall quality-gate discipline; the exact side's
    full-sort rank lookup is the calibration ground truth, not the
    production path).

    Scale: the sketch is ONE map-side-combined groupBy capped at the
    cell count (<= 64 octaves x 8 sub-buckets) per task — the CMS
    shape; the readout is bounded x 3 arithmetic.  Merge = cell-wise
    SUM (disjoint slices, the CMS contract); streams exactly-once via
    streaming/sketch.eh_stream."""
    from pyspark.sql import Window

    from pimdb_spark.operators.sketch import eh_buckets, eh_quantiles

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").cast("bigint").alias("v"))
    est = eh_quantiles(eh_buckets(vals, "v"), [5000, 9000, 9900])
    w = Window.orderBy("v")
    ranked = vals.select("v", F.row_number().over(w).alias("rn"))
    return ranked.join(F.broadcast(est), F.col("rn") == F.col("rank")).select(
        "q_bp",
        "rank",
        "est",
        F.col("v").alias("exact"),
        (F.col("v") - F.col("est")).cast("bigint").alias("abs_gap"),
    )


# Bench-only (pytest-gated oracle) — the GROUPED quantile sketch, the
# eh analogue of q_hll_group_distinct: percentile-per-source without a
# per-group full sort.
@register_bench_only(
    "q_group_quantile_sketch",
    oracle="""
    WITH v AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS v FROM documents
    ), k AS (
      SELECT grp,
             CAST(length(bin(v)) AS BIGINT) * 16
               + (v >> greatest(length(bin(v)) - 4, 0)) AS bkey,
             CAST((v >> greatest(length(bin(v)) - 4, 0))
               << greatest(length(bin(v)) - 4, 0) AS BIGINT) AS lo
      FROM v
    ), b AS (
      SELECT grp, bkey, lo, count(*) AS cnt FROM k GROUP BY grp, bkey, lo
    ), cum AS (
      SELECT grp, bkey, lo, cnt,
             sum(cnt) OVER (PARTITION BY grp ORDER BY bkey
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM b
    ), n AS (SELECT grp, count(*) AS n FROM v GROUP BY grp),
    t AS (
      SELECT n.grp, q.q_bp,
             (CAST(q.q_bp AS BIGINT) * n.n + 9999) // 10000 AS rank
      FROM (VALUES (5000), (9000)) AS q(q_bp), n
    ), est AS (
      SELECT t.grp, t.q_bp, t.rank, min(cum.lo) AS est
      FROM cum JOIN t ON cum.grp = t.grp AND cum.cum >= t.rank
      GROUP BY t.grp, t.q_bp, t.rank
    ), sorted AS (
      SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
      FROM v
    )
    SELECT est.grp AS source, CAST(est.q_bp AS INTEGER) AS q_bp,
           CAST(est.rank AS BIGINT) AS rank,
           CAST(est.est AS BIGINT) AS est,
           CAST(s.v AS BIGINT) AS exact,
           CAST(s.v - est.est AS BIGINT) AS abs_gap
    FROM est JOIN sorted s ON s.grp = est.grp AND s.rn = est.rank
    """,
)
def q_group_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90 of document length via the GROUPED
    exponential-histogram sketch (operators/sketch.eh_group_buckets +
    eh_group_quantiles) — the at-scale "percentile per source /
    language / day" shape, exactly as hll_group_estimate is the at-scale
    count-DISTINCT-GROUP-BY: one map-side-combined groupBy capped at
    |groups| x cells rows per task, then a bounded per-group readout —
    no per-group full sort ever happens.  The q_quantile_sketch
    arithmetic with a group key: every step integer, est <= exact <
    est * (1 + 2^-3) hash-gated row by row against the true per-group
    rank values (the quality-gate discipline; the exact side's
    per-group sort is calibration, not the production path).

    Scale: the readout's cum >= rank pick rides as a post-filter on a
    grp HASH equi-join of two bounded frames — no nested loop, no
    allowlist slot needed."""
    from pimdb_spark.operators.sketch import (
        eh_group_buckets,
        eh_group_quantiles,
    )
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    vals = docs.select(
        F.col("source").alias("grp"), F.col("n_chars").cast("bigint").alias("v")
    )
    est = eh_group_quantiles(eh_group_buckets(vals, "grp", "v"), [5000, 9000])
    w = Window.partitionBy("grp").orderBy("v")
    ranked = vals.select("grp", "v", F.row_number().over(w).alias("rn"))
    return (
        ranked.join(
            F.broadcast(est),
            (ranked.grp == est.grp) & (F.col("rn") == F.col("rank")),
        )
        .select(
            est.grp.alias("source"),
            "q_bp",
            "rank",
            "est",
            F.col("v").alias("exact"),
            (F.col("v") - F.col("est")).cast("bigint").alias("abs_gap"),
        )
    )


# Bench-only (pytest-gated oracle) per the window-budget policy — the r14
# temperature-sampling twin of q_mixture_plan: weights DERIVED from the
# inventory as floor(sqrt(T)) instead of caller-fixed integers.
@register_bench_only(
    "q_mixture_plan_temp",
    oracle="""
    WITH inv AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS available,
             CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT)
               AS weight
      FROM documents GROUP BY source
    ), keyed AS (
      SELECT *, CAST(available AS DOUBLE) / CAST(weight AS DOUBLE)
                  AS sort_key
      FROM inv
    ), binding AS (
      SELECT available AS b_avail, weight AS b_weight
      FROM keyed ORDER BY sort_key, source LIMIT 1
    ), ws AS (
      SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM inv
    )
    SELECT source, available, weight,
           least((b_avail * weight) // b_weight, available) AS allocation,
           CAST(least((b_avail * weight) // b_weight, available) AS DOUBLE)
               / available AS utilization,
           CAST(weight AS DOUBLE) / wsum AS sample_prob
    FROM keyed, binding, ws
    """,
)
def q_mixture_plan_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling training mix (operators/curation.
    mixture_plan_temperature, alpha = 1/2 — the UniMax / multilingual
    alpha-sampling policy): per-source weights derived from the token
    inventory itself as floor(sqrt(T)), up-sampling tail sources
    relative to proportional mixing; allocations and the weight-sum
    sampling probabilities come out of mixture_plan's exact machinery.
    alpha = 1/2 is the one engine-exact temperature (IEEE sqrt is
    correctly rounded; general pow goes through libm exp/ln and drifts
    in the last ulp — the rational-surrogate rule).

    Scale: one map-side-combined groupBy(source); planning arithmetic
    on a |sources|-row frame with two one-row broadcast attaches."""
    from pimdb_spark.operators.curation import mixture_plan_temperature

    docs = load(spark, sf_dir, "documents")
    return mixture_plan_temperature(docs, "source", "n_chars")
