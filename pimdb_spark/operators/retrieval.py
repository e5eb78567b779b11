"""Sparse text retrieval: BM25-family scoring and top-k search over the
documents table — the lexical half of a training-data curation stack
(quality-weighted sampling, query-based corpus slicing, eval-set
retrieval), complementing the dense ANN operators in similarity.py.

Reference parity: none (the reference has no text-retrieval surface);
this is a beyond-parity LLM-pipeline operator family like dedup/ANN.

Scale design (100 TB corpus, q query terms, q small):
- The exploded token stream is filtered to the q query terms BEFORE the
  (doc, token) aggregation, so the only shuffle carries just the rows
  that mention a query term — corpus-size-independent for selective
  queries.
- Document length is a projection (size(split(text))) — no explode, no
  shuffle.
- Corpus stats (N, avgdl) ride along as a one-row broadcast, never
  collected to the driver.
- Per-term contributions pivot into fixed columns summed in a FIXED
  left-to-right order, so the final score is bit-identical across
  engines and runs (float + is not associative; a groupBy SUM of
  contributions would depend on partial-aggregation order).

Scoring note: the inverse-document-frequency factor follows the repo's
oracle-checkable convention (operators/corpus.idf): the BM25 idf is used
WITHOUT the log — (N - df + 0.5) / (df + 0.5) — because libm log
implementations are not bit-identical across engines.  Unlike a single
idf ranking, a SUM of per-term contributions is not a monotone transform
of the log version, so this is a documented scoring-family choice
(rational-idf BM25), not the Robertson original; pass ``idf_fn`` to plug
in any other per-term weight (e.g. F.log for true BM25 when exact
cross-engine hashes are not required).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _rational_idf(df_col: Column, n_docs: Column) -> Column:
    return (n_docs.cast("double") - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))


def term_stats(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
) -> DataFrame:
    """(doc_id, token, tf) for the query terms only.  The isin filter runs
    on the exploded stream before the aggregation, so the shuffle carries
    only query-term hits."""
    return (
        docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), sep)).alias("token"))
        .filter(F.col("token").isin(list(terms)))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    idf_fn: Callable[[Column, Column], Column] = _rational_idf,
) -> DataFrame:
    """Top-k documents by BM25-family score for a bag of query terms.

    score(d) = Σ_t idf(df_t) · tf_{t,d}·(k1+1) / (tf_{t,d} + k1·(1-b+b·dl_d/avgdl))

    summed over the query terms in their GIVEN order via per-term pivot
    columns (deterministic float addition).  Ties break on doc_id, so the
    returned set is unique.  Output: (doc_id, score, rank)."""
    tf = term_stats(docs, terms, id_col, text_col, sep)
    dl = docs.select(F.col(id_col), F.size(F.split(F.col(text_col), sep)).alias("dl"))
    # corpus stats: one row, broadcast (same BNLJ-of-one-row shape as
    # corpus.with_idf — a constant attach, not a pairing join)
    stats = docs.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        (F.sum(F.size(F.split(F.col(text_col), sep))).cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    df_per_term = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(dl, id_col)
        .join(F.broadcast(df_per_term), "token")
        .crossJoin(F.broadcast(stats))
    )
    contrib = (
        idf_fn(F.col("df"), F.col("_n_docs"))
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl")))
    )
    # pivot each term's single contribution into its own column (max of
    # the one row), then add in fixed term order
    per_doc = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("token") == t, contrib)).alias(f"_c{i}")
            for i, t in enumerate(terms)
        ]
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    # global top-k as orderBy+limit -> TakeOrderedAndProject (per-partition
    # heap + driver merge of k rows, never a full sort); the rank window
    # then runs over only the k survivors
    top = (
        per_doc.withColumn("score", score)
        .select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    max_df: int | None = None,
) -> DataFrame:
    """Full inverted index over the corpus: one row per token with its
    document frequency, collection frequency, and the postings list
    rendered as an id-ordered "doc:tf,doc:tf,..." string — the
    materialized structure behind bm25_topk when queries arrive
    repeatedly (build once, broadcast-join per query batch) and the
    classic export format for external retrieval systems.

    Postings are a string, not array<struct>, deliberately: the sorted
    render is engine-portable (oracle-hashable) and writes/scans as a
    plain parquet column.

    ``max_df`` is the head-token flood cap: tokens appearing in more than
    ``max_df`` documents are dropped BEFORE their postings are
    aggregated, so a stop-word-dense 100 TB corpus never builds a
    corpus-sized postings string for "the" — those tokens carry no
    retrieval signal (df-proportional idf ~ 0) but would dominate memory
    and skew the token shuffle.  Production builds should always set it;
    the None default preserves the exhaustive export.

    Scale: explode -> (token, doc) partial-aggregated count (one
    shuffle), then groupBy(token) for df/cf.  With ``max_df``, the df
    pre-aggregation carries only (token, df) — no postings yet — and the
    surviving-token filter joins back on the SAME token key before the
    postings aggregation, so the collect_list is bounded by max_df by
    construction (the filter and both aggregations share one hash
    partitioning on token; AQE coalesces the reused exchange)."""
    pairs = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.col(text_col), sep)).alias("token"),
        )
        .groupBy("token", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_df is not None:
        ok = (
            pairs.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("token")
        )
        pairs = pairs.join(ok, "token")
    return pairs.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("doc"), F.col("tf")))),
                lambda s: F.concat_ws(":", s.doc, s.tf),
            ),
            ",",
        ).alias("postings"),
    )


def ngram_weights(
    docs: DataFrame,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    n: int = 2,
    idf_fn: Callable[[Column, Column], Column] = _rational_idf,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Per-(doc, n-gram) TF-IDF weights with a df flood cap: grams in more
    than ``max_df`` documents (or ``max_df_frac`` of the corpus — the
    production knob, since an absolute cap silently tightens as the
    corpus grows) are dropped: they carry ~no signal and are exactly the
    grams whose pair joins explode.  At least one cap is required — an
    uncapped all-pairs gram join has no scale story.  Returns
    (doc, gram, w) with w = tf * rational_idf(df, N); the corpus size
    rides along as a one-row broadcast (also feeding the frac cap, so
    nothing collects to the driver)."""
    if max_df is None and max_df_frac is None:
        raise ValueError("set max_df or max_df_frac: the cap is the scale dial")
    toks = F.split(F.col(text_col), sep)
    if n == 1:
        grams = toks
    else:
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    sep, *[F.element_at(toks, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    tf = (
        docs.select(F.col(id_col).alias("doc"), F.explode(grams).alias("gram"))
        .groupBy("doc", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    dfs = tf.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    if max_df_frac is not None:
        dfs = dfs.crossJoin(F.broadcast(n_docs)).filter(
            F.col("df") <= F.floor(F.lit(max_df_frac) * F.col("_n_docs"))
        ).drop("_n_docs")
    if max_df is not None:
        dfs = dfs.filter(F.col("df") <= max_df)
    return (
        tf.join(dfs, "gram")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "gram",
            (F.col("tf") * idf_fn(F.col("df"), F.col("_n_docs"))).alias("w"),
        )
    )


def sparse_doc_similarity(
    docs: DataFrame,
    max_df: int | None = None,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    n: int = 2,
    max_df_frac: float | None = None,
    scorer: str = "fold",
    round_digits: int | None = None,
) -> DataFrame:
    """All-pairs sparse cosine similarity over n-gram TF-IDF vectors — the
    lexical counterpart to the dense embedding near-dup operators
    (similarity.embedding_dup_pairs): candidate pairs are generated by an
    EQUI-JOIN on shared grams, so two documents are compared iff they
    share at least one under-the-cap gram, and the ``max_df`` cap bounds
    candidate volume at Σ_gram df² — the DISCO/stop-word discipline;
    never all-pairs.  Returns (doc_a, doc_b, cos) with doc_a < doc_b and
    cos >= threshold.

    Scoring twins (the cosine/IVF ``scorer`` convention):
    scorer="fold" — per-doc norms and per-pair dot products are ORDERED
    folds over grams sorted lexicographically (gram keys are unique per
    doc after the tf aggregation), so a DuckDB oracle reproduces every
    cosine exactly; the idf is the repo's rational convention (no log).
    scorer="sum" — plain ``F.sum`` of products: partial (map-side)
    aggregation instead of collect_list+array_sort per pair, the shape
    you run in production; accumulation order is engine-chosen, so pair
    it with ``round_digits`` (the last-ulp order difference is absorbed
    by rounding).

    Scale: one gram shuffle for tf; the pair join ships (doc, gram, w,
    n2) for capped grams only; the pair groupBy keys on (doc_a, doc_b)
    with the two norms riding along (functionally dependent grouping
    keys for "fold", min aggregates for "sum") — no post-aggregation
    norm join (beyond the broadcast threshold that join would be a
    pair-frame-sized sort-merge join).  max_df is the cost dial —
    exactly the knob inverted_index documents."""
    if scorer not in ("fold", "sum"):
        raise ValueError(f"unknown scorer {scorer!r}: use 'fold' or 'sum'")
    w = ngram_weights(
        docs, max_df, id_col, text_col, sep, n, max_df_frac=max_df_frac
    ).localCheckpoint(eager=False)
    # The per-doc norm rides the pair path's EXISTING exchanges instead
    # of attaching via two doc-keyed joins onto the pair frame: beyond
    # the broadcast threshold those joins degrade to two pair-frame-
    # sized sort-merge joins (the norm side is one row per corpus doc).
    # As a window over the doc partition the norm costs the same one
    # doc-keyed exchange the old groupBy paid, every (doc, gram) row
    # carries its norm into the gram join (+1 double on that wire), and
    # the pair groupBy carries it along — no post-aggregation join at
    # all.
    if scorer == "sum":
        # Accumulation order is engine-chosen in this scorer (window
        # partition order here, hash-agg order before); the declared
        # round_digits contract absorbs the last-ulp difference.
        wn = w.withColumn(
            "_n2", F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc"))
        )
    else:
        # Bit-parity scorer: the norm must be the ordered fold over
        # grams sorted lexicographically.  A running window sum updates
        # its double buffer one row at a time in the partition's sort
        # order (0.0 + w2_1 + w2_2 + ... — the exact fold sequence);
        # F.last over the full frame spreads the final value to every
        # row.  Gram keys are unique per doc after the tf aggregation,
        # so the order has no ties.
        w_run = (
            Window.partitionBy("doc")
            .orderBy("gram")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = (
            Window.partitionBy("doc")
            .orderBy("gram")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        wn = (
            w.withColumn("_run", F.sum(F.col("w") * F.col("w")).over(w_run))
            .withColumn("_n2", F.last("_run").over(w_all))
            .drop("_run")
        )
    a = wn.select(
        F.col("doc").alias("doc_a"), "gram", F.col("w").alias("w_a"),
        F.col("_n2").alias("_n2_a"),
    )
    b = wn.select(
        F.col("doc").alias("doc_b"), "gram", F.col("w").alias("w_b"),
        F.col("_n2").alias("_n2_b"),
    )
    pairs = a.join(b, "gram").filter(F.col("doc_a") < F.col("doc_b"))
    if scorer == "sum":
        # the norms are order-dependent double sums here: a recomputed
        # window may differ in the last ulp, so they ride as aggregates
        # (equal within one evaluation), never as grouping keys
        dots = pairs.groupBy("doc_a", "doc_b").agg(
            F.sum(F.col("w_a") * F.col("w_b")).alias("dot"),
            F.min("_n2_a").alias("_n2_a"),
            F.min("_n2_b").alias("_n2_b"),
        )
    else:
        dots = pairs.groupBy("doc_a", "doc_b", "_n2_a", "_n2_b").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("gram"), (F.col("w_a") * F.col("w_b")).alias("p"))
                    )
                ),
                F.lit(0.0),
                lambda acc, v: acc + v["p"],
            ).alias("dot")
        )
    out = (
        dots.withColumn(
            "cos", F.col("dot") / (F.sqrt("_n2_a") * F.sqrt("_n2_b"))
        )
        .filter(F.col("cos") >= threshold)
        .select("doc_a", "doc_b", "cos")
    )
    if round_digits is not None:
        out = out.withColumn("cos", F.round("cos", round_digits))
    return out
