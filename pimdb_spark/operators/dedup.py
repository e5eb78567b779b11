"""Deduplication operators: exact (hash-groupBy), MinHash+LSH banding,
SimHash, and n-gram Jaccard — each as pure DataFrame transforms.

Design for 100 TB:
- Exact dedup shuffles once on the 128-bit content hash (not the content).
- MinHash signatures are one projection (md5 is JVM-side); LSH banding
  turns the quadratic all-pairs problem into an equi-join on band hashes,
  so the shuffle is O(n_docs * n_bands) rows and candidate verification
  touches only same-bucket pairs.
- SimHash is one projection producing a 32-bit sketch; hamming-radius
  blocking can then bucket by sketch prefix.
- All hashing is md5-based, byte-stable across engines (oracle-friendly)
  and across JVM versions — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per identical (lowercased) text.
    Scale: shuffles the md5 hash + id only."""
    fp = F.md5(F.lower(F.col(text_col))).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (element_at is 1-based);
    empty array for documents shorter than k tokens.  The guard is a
    conditional branch, not greatest(end, 0): sequence(1, 0) DESCENDS to
    [1, 0], so the unguarded form still evaluated position 1 and walked
    element_at past the end of a short document (ANSI out-of-bounds
    crash — every caller in the minhash/LSH family inherited it)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(k)]
    )
    return F.when(
        F.size(toks) >= k, F.array_distinct(F.transform(idx, shingle))
    ).otherwise(F.array().cast("array<string>"))


# Universal-hash minhash family: one md5 per shingle yields a 32-bit
# integer x; h_i(x) = (a_i*x + b_i) mod P with P prime > 2^32.  a_i < 2^30
# keeps a_i*x < 2^62 (no int64 overflow).  16x fewer md5 calls than hashing
# per (i, shingle), and identical integer arithmetic on every engine.
MINHASH_P = 4294967311
_A_MUL, _A_ADD, _A_MASK = 1103515245, 12345, (1 << 30) - 1
_B_MUL = 1000003


def _minhash_a(i: Column) -> Column:
    i = i.cast("bigint")  # i*_A_MUL overflows int32 under ANSI mode
    return ((i * _A_MUL + _A_ADD).bitwiseAND(F.lit(_A_MASK))).bitwiseOR(F.lit(1))


def shingle_int_hashes(shingles: Column) -> Column:
    """32-bit integer hash per shingle (first 8 hex chars of md5)."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
    )


def minhash_signature_from_hashes(xs: Column, num_hashes: int = 16) -> Column:
    """Array of num_hashes minhash values (bigint) from precomputed shingle
    int hashes.  IMPORTANT: materialize xs (persist or shuffle boundary)
    before calling — Catalyst's CollapseProject would otherwise inline the
    md5 hashing into all num_hashes lambda bodies and recompute it per
    hash function (higher-order functions are interpreted, not codegen'd,
    so that costs ~num_hashes x the whole hashing pass)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                xs, lambda x: (_minhash_a(i) * x + i.cast("bigint") * _B_MUL) % MINHASH_P
            )
        ),
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """Convenience single-expression form (fine for small inputs; prefer
    the from_hashes form with a materialized hash column at scale)."""
    return minhash_signature_from_hashes(shingle_int_hashes(shingles), num_hashes)


def lsh_band_hashes(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: one md5 per band over its rows_per_band slice
    (values joined as text so the band hash is engine-reproducible)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(signature, b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / F.size(F.array_union(a, b))


def minhash_doc_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """The per-document minhash chain every banding consumer shares:
    (doc, h0..h{num_hashes-1}, shingles), persisted (serves the caller's
    banding pass + both verification sides).  Documents shorter than k
    tokens produce no row.  Persist it as a TABLE when the corpus it
    describes is long-lived (an admitted reference corpus gating many
    incoming shards): signatures are computed once at admission time and
    every later gate reads ~(num_hashes x 8 bytes + shingle set) per
    reference doc instead of re-shingling the reference text.

    ONE shuffle, everything heavy in whole-stage codegen.  Interpreted
    higher-order functions (transform/aggregate lambdas) cost ~5-10x the
    codegen'd scalar path, so the pipeline is row-oriented instead:
      repartition(id)            <- the only shuffle that carries text
      posexplode tokens          <- Generate, codegen
      window lead(k-1) shingles  <- partitioning satisfied: sort only
      md5 per shingle row        <- codegen scalar, once per shingle
      groupBy(doc) Nx min()      <- partitioning satisfied: no exchange
    At 100 TB the input already has thousands of splits; the repartition
    keys the whole chain so window AND aggregate reuse one exchange.
    Duplicate shingles can't change a min; collect_set dedups for the
    exact jaccard/containment verification."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(parallelism, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    sh = (
        tok.select("doc", F.concat_ws(" ", *parts).alias("sh"), parts[-1].alias("_t"))
        .filter(F.col("_t").isNotNull())  # drop the k-1 tail positions
        .select("doc", "sh")
    )
    x = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("bigint")
    hashed = sh.select("doc", "sh", x.alias("x"))

    def _a(i: int) -> int:  # same universal-hash family as _minhash_a
        return ((i * _A_MUL + _A_ADD) & _A_MASK) | 1

    mins = [
        F.min((F.lit(_a(i)) * F.col("x") + F.lit(i * _B_MUL)) % MINHASH_P).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc").agg(*mins, F.collect_set("sh").alias("shingles")).persist()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    local_frames: list | None = None,
) -> DataFrame:
    """End-to-end near-duplicate pairs: shingle → minhash → band → bucket
    join → verify true Jaccard ≥ threshold.  Returns (id_a, id_b, jacc)
    with id_a < id_b.

    Scale: the bucket join shuffles (id, band_hash) pairs; verification
    re-joins shingle sets only for candidates.  Skewed buckets (boilerplate
    docs) are handled by AQE skew-join; ``max_bucket_size`` is the
    adversarial-input defense — a band bucket holding m docs emits m²/2
    candidate pairs, so one flood bucket (mass-produced boilerplate, spam
    templates) turns the join quadratic.  Buckets over the cap are dropped
    from candidate generation (their members are by construction
    near-identical floods, better handled by exact/fingerprint dedup
    upstream); the flooded-bucket set is tiny by definition, so the
    exclusion is a broadcast anti-join, not another shuffle.

    Persist lifecycle: the internal signature frame is persisted (it
    serves the banding pass AND both verification sides of one action).
    Repeated callers in a long-lived session pass ``local_frames`` (an
    empty list) — the operator appends the frame so the caller can
    finally-unpersist after materializing, the cross_neardup_filter /
    incremental_split_batch discipline; one-shot harnesses (the bench
    clearCache()s between queries) need nothing.
    """
    # per-doc signature chain shared with containment_lsh_pairs and the
    # from-signatures callers; see minhash_doc_signatures for the
    # one-exchange plan rationale
    sig = minhash_doc_signatures(df, id_col, text_col, k, num_hashes)
    if local_frames is not None:
        local_frames.append(sig)
    return minhash_pairs_from_signatures(
        sig, num_hashes, bands, threshold, max_bucket_size=max_bucket_size
    )


def _banded_signatures(
    sig: DataFrame, id_out: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id_out, band, band_hash) rows from a minhash_doc_signatures frame:
    one md5 per band over its rows_per_band slice, comma-joined as text so
    the band hash is engine-reproducible; the key ships as 16-byte
    unhex(md5) BINARY — half the r18 hex string on the banding join's
    wire, count-identical because unhex is bijective on md5 output
    (r19; the streaming path keeps the hex form — its band_hash is an
    applyInPandasWithState group key with its own state contract).  The
    band join downstream carries these rows ONLY — the wide shingle
    arrays stay out of the O(n_docs x bands) shuffle and are re-joined
    just for the (typically tiny) candidate set."""
    rows_per_band = num_hashes // bands
    band_hash = [
        F.unhex(
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)],
                )
            )
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col("doc").alias(id_out),
        F.posexplode(F.array(*band_hash)).alias("band", "band_hash"),
    )


def minhash_pairs_from_signatures(
    sig: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banding + exact-Jaccard verification over a PRECOMPUTED
    minhash_doc_signatures frame — the second stage of minhash_lsh_pairs,
    callable on its own so a pipeline that needs the same signatures for
    several banding schemes (e.g. 4x4 self-dedup plus 8x2 cross-corpus
    gating in q_incremental_split_inherit) computes them ONCE."""
    banded = _banded_signatures(sig, "doc", num_hashes, bands)
    if max_bucket_size is not None:
        flooded = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
            .select("band", "band_hash")
        )
        banded = banded.join(F.broadcast(flooded), ["band", "band_hash"], "left_anti")
    left = banded.select(F.col("doc").alias("id_a"), "band", "band_hash")
    right = banded.select(F.col("doc").alias("id_b"), "band", "band_hash")
    cand_ids = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sig.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand_ids.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jacc", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def cross_minhash_pairs_from_signatures(
    sig_a: DataFrame,
    sig_b: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Two-sided banding + exact-Jaccard verification over two PRECOMPUTED
    minhash_doc_signatures frames: verified (id_a, id_b, jacc) pairs with
    id_a from sig_a and id_b from sig_b — cross_neardup_filter's candidate
    core for callers that already hold signature frames (build each side
    once, band and join; the a-side never pairs with itself).

    Scale: candidates are an equi-join on (band, band_hash) — a x b only;
    verification re-joins shingle sets for candidates alone."""
    cand = (
        _banded_signatures(sig_a, "id_a", num_hashes, bands)
        .join(_banded_signatures(sig_b, "id_b", num_hashes, bands),
              ["band", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sig_a.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig_b.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jacc", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def simhash32_sql(toks_sql: str) -> str:
    """SQL text for a 32-bit SimHash over the distinct tokens of the array
    expression ``toks_sql``: per bit, sum +-1 votes from each token's
    32-bit hash (first 8 hex chars of md5); bit set if the sum is positive.
    One projection, no shuffle.  (SQL text because the per-bit shifts need
    column-valued shift amounts, which the Python shiftright API doesn't
    accept; SQL `>>` does.)"""
    return simhash32_from_hashes_sql(token_hashes_sql(toks_sql))


def token_hashes_sql(toks_sql: str) -> str:
    """SQL text: 32-bit md5-derived hash per distinct token."""
    return (
        f"transform(array_distinct({toks_sql}), "
        "t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))"
    )


def simhash32_from_hashes_sql(hashes_sql: str) -> str:
    """All 32 bit-votes accumulate in ONE pass over the hash array: the
    fold state is a 32-long vote vector updated per token via zip_with.

    This shape matters: the naive form (a per-bit ``transform(sequence(0,
    31), b -> aggregate(hashes, ...))``) references the hash array inside
    the per-bit lambda, so after Catalyst's CollapseProject inlines the
    md5 transform (it is textually a single reference, hence "cheap" to
    collapse), md5 runs once per (token, bit) — 32x the hashing work.
    Measured at sf0.1: 5.2 s -> 0.96 s for the single-pass form, identical
    results.  With the hash transform inlined HERE, it sits in the fold's
    input position and is evaluated exactly once per row regardless of
    projection collapsing."""
    votes = (
        f"aggregate({hashes_sql}, array_repeat(CAST(0 AS BIGINT), 32), "
        "(acc, h) -> zip_with(acc, sequence(0, 31), "
        "(a, b) -> a + (((h >> b) & 1) * 2 - 1)))"
    )
    bits = (
        f"zip_with({votes}, sequence(0, 31), "
        "(v, b) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
        "ELSE CAST(0 AS BIGINT) END)"
    )
    return f"aggregate({bits}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"


def simhash32(toks_sql: str) -> Column:
    return F.expr(simhash32_sql(toks_sql))


def hamming32_sql(a_sql: str, b_sql: str) -> str:
    """SQL text for the Hamming distance between two 32-bit sketches."""
    return (
        f"aggregate(sequence(0, 31), 0, (acc, bit) -> "
        f"acc + CAST(((({a_sql}) ^ ({b_sql})) >> bit) & 1 AS INT))"
    )


def hamming32(a_sql: str, b_sql: str) -> Column:
    return F.expr(hamming32_sql(a_sql, b_sql))


def dup_span_excise(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection and excision — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    modality this repo's dedup family was missing: instead of dropping
    whole near-duplicate DOCUMENTS, find every token position covered by
    an n-token span that occurs ``min_count``-or-more times ANYWHERE in
    the corpus (boilerplate headers, license blocks, templated
    paragraphs — also within one document) and cut those positions out,
    keeping the unique remainder.  Returns one row per document:
    (id, n_tokens, n_dup_tokens, dup_frac, clean_text) — clean_text is
    the original token stream with covered positions removed, in order.

    Mechanics: n-token shingles with their start position, md5-keyed
    (the key the corpus-wide count groups and joins on — 128 bits, so
    collisions are negligible and both engines compute the identical
    key; at 100 TB the md5 string is also ~10x narrower than a raw
    50-token span, which is what the count shuffle and the dup-set join
    bill for).  A span's occurrence count is corpus-global, so a doc's
    own repetition counts too — the paper's semantics.  Coverage is the
    union of [start, start + n) over its duplicated spans, computed by
    an explode + distinct bounded at n_tokens positions per doc.

    Scale: one corpus-sized groupBy on the span hash (map-side combined
    — Zipf leverage caps nothing here, dup detection NEEDS the full
    count) + one hash equi-join of spans against the >=min_count set +
    one bounded per-doc coverage distinct.  No all-pairs stage at any
    point — the span hash IS the blocking key.  dup_frac is an exact
    integer ratio in one double division.

    Long-doc guard (r12 verdict watch item): the clean-text rebuild is
    ``array_except(sequence(1, n_tokens), covered)`` — Spark evaluates
    ArrayExcept with a hash set over the right operand, so the per-doc
    cost is O(n_tokens + |covered|), not the O(n_tokens x |covered|) a
    per-token membership probe would pay; kept positions come out in
    original order because the left operand is the ascending position
    sequence.  Per-doc work is therefore linear in document length with
    no doc-length contract needed."""
    base, grams = _span_grams(docs, id_col, text_col, n)
    dup_set = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    return _excise_spans(
        base, grams, dup_set, id_col, n, "n_dup_tokens", "dup_frac"
    )


def _span_grams(docs, id_col, text_col, n):
    """(base, grams) for the span-excision family: base = (id, toks,
    n_tokens); grams = one (id, gpos, 16-byte unhex(md5) span hash) row
    per n-token span start (128-bit keys, engine-identical semantics,
    ~20x narrower on the wire than a raw n-token span; the binary form
    is half the r18 hex string — unhex is bijective on md5 output, so
    every groupBy/distinct/join over gh is count-identical)."""
    arr = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("_id"), arr.alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    # r18 optimization: explode(sequence) + slice/concat_ws instead of
    # the interpreted transform lambda (higher-order functions don't
    # codegen; the gopher_repetition gram shape, which also sidesteps
    # the Spark 4.1 union-HOF-lambda rebind class entirely).  gpos and
    # gh values are identical.
    grams = base.select(
        "_id",
        "toks",
        F.explode(
            F.when(
                F.col("n_tokens") >= n,
                F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("gpos"),
    ).select(
        "_id",
        "gpos",
        F.unhex(
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("gpos"), n)))
        ).alias("gh"),
    )
    return base, grams


def _excise_spans(base, grams, span_set, id_col, n, cnt_name, frac_name):
    """Cut every position covered by a span whose hash is in `span_set`
    from each doc; one row per doc with coverage counts and the in-order
    clean text (the array_except hash-set rebuild — O(n + |cov|))."""
    covered = (
        grams.join(span_set, "gh")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + n - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    cov = covered.groupBy("_id").agg(
        F.sort_array(F.collect_set("pos")).alias("cov_pos"),
        F.count(F.lit(1)).alias("n_dup"),
    )
    joined = base.join(cov, "_id", "left").withColumn(
        "_cov", F.coalesce(F.col("cov_pos"), F.array().cast("array<int>"))
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias(cnt_name),
        (
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias(frac_name),
        F.concat_ws(
            " ",
            F.transform(
                F.array_except(
                    F.sequence(F.lit(1), F.col("n_tokens")), F.col("_cov")
                ),
                lambda p: F.element_at(F.col("toks"), p),
            ),
        ).alias("clean_text"),
    )


def eval_span_excise(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Span-level EVAL-SET decontamination — the cross-corpus form of
    dup_span_excise (Lee et al. 2022 applied to contamination instead of
    duplication): every position of a TRAINING document covered by an
    n-token span that appears ANYWHERE in the eval set is cut out, and
    the unique remainder survives.  Document-level decontamination
    (ngram_decontaminate / bloom_decontaminate) DROPS a contaminated doc
    wholesale; this keeps the doc and removes only the leaked spans —
    the right trade when contamination is a quoted benchmark question
    inside an otherwise-fine document.

    Returns one row per train doc: (id, n_tokens, n_eval_tokens,
    eval_frac, clean_text).

    Scale: the eval side reduces to DISTINCT span md5s (eval sets are
    benchmark-sized — the hash join Spark plans here becomes a broadcast
    exactly when that table is small, the decontaminate economics); the
    train side is the same single posexplode + hash equi-join + bounded
    per-doc coverage shape as dup_span_excise, no all-pairs stage."""
    base, grams = _span_grams(train_docs, id_col, text_col, n)
    _, eval_grams = _span_grams(eval_docs, id_col, text_col, n)
    span_set = eval_grams.select("gh").distinct()
    return _excise_spans(
        base, grams, span_set, id_col, n, "n_eval_tokens", "eval_frac"
    )


def gopher_repetition(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 8),
) -> DataFrame:
    """Gopher repetition-quality signals — Rae et al. 2021 ("Scaling
    Language Models: ... Gopher"), Appendix A1.1's WITHIN-document
    repetition filters, the quality-gate sibling of the corpus-global
    `dup_span_excise`:

    - for each n in ``top_ns`` (paper: 2..4): the fraction of characters
      contained in occurrences of the doc's single most frequent word
      n-gram (``top{n}_char_frac`` = count * len(gram) / len(text) —
      overlapping occurrences each count, so machine-gun repetition can
      push the ratio past 1.0 exactly as in the reference
      implementations; ties broken by lexicographically smallest gram so
      both engines pick the same one).
    - for each n in ``dup_ns`` (paper: 5..10): the fraction of TOKENS
      covered by any n-gram that occurs two-or-more times within the
      document (``dup{n}_token_frac``) — a coverage union over [start,
      start+n), so overlap never double-counts.  Token fraction rather
      than the paper's character fraction: deterministic under
      tokenization and exact as one integer ratio (documented
      deviation).

    Documents shorter than n tokens have no n-grams: NULL top gram,
    zero counts, 0.0 fractions.

    All intermediate values are integers (counts, lengths, coverage
    sizes); every output fraction is a single int/int IEEE division, so
    results are bit-identical across engines — no float folds needed.

    Scale: grams explode per doc (no shuffle), one map-side-combined
    groupBy on (doc, n, gram), one window per (doc, n) for the top pick,
    one bounded per-doc coverage distinct, and one conditional-aggregate
    groupBy back to a single row per doc.  Everything is keyed by doc
    id — no corpus-global stage, no all-pairs, so the operator scales
    with corpus size like any per-doc projection chain."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    arr = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("_id"),
        arr.alias("toks"),
        F.length(text_col).alias("n_chars"),
    ).withColumn("n_tokens", F.size("toks"))

    # NOTE deliberately no F.transform lambda here: unioning several
    # frames that each close over their own HOF lambda variable trips a
    # Spark 4.1 rebind bug (the branches' lambda exprIds collide and the
    # slice length decays into a position-dependent value — observed,
    # not hypothetical).  explode(sequence) + slice with a plain column
    # start has no lambda to collide and yields gpos for free.
    gram_frames = []
    for n in all_ns:
        gram_frames.append(
            base.select(
                "_id",
                "toks",
                F.explode(
                    # sequence(1, 0) would DESCEND ([1, 0]) — guard short
                    # docs with an explicit empty array instead
                    F.when(
                        F.col("n_tokens") >= n,
                        F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
                    ).otherwise(F.array().cast("array<int>"))
                ).alias("gpos"),
            ).select(
                "_id",
                F.lit(n).alias("n"),
                "gpos",
                F.concat_ws(
                    " ", F.slice(F.col("toks"), F.col("gpos"), n)
                ).alias("gram"),
            )
        )
    grams = gram_frames[0]
    for gf in gram_frames[1:]:
        grams = grams.unionByName(gf)

    counts = grams.groupBy("_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )

    w = Window.partitionBy("_id", "n").orderBy(F.desc("c"), F.asc("gram"))
    tstats = (
        counts.filter(F.col("n").isin(list(top_ns)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("_id", "n", "gram", "c")
    )

    dup_set = (
        counts.filter(F.col("n").isin(list(dup_ns)))
        .filter(F.col("c") >= 2)
        .select("_id", "n", "gram")
    )
    cstats = (
        grams.join(dup_set, ["_id", "n", "gram"])
        .select(
            "_id",
            "n",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.col("n") - 1)
            ).alias("pos"),
        )
        .distinct()
        .groupBy("_id", "n")
        .agg(F.count(F.lit(1)).alias("cov"))
    )

    stats = tstats.withColumn("cov", F.lit(None).cast("long")).unionByName(
        cstats.select(
            "_id",
            "n",
            F.lit(None).cast("string").alias("gram"),
            F.lit(None).cast("long").alias("c"),
            F.col("cov"),
        )
    )

    aggs = []
    for n in top_ns:
        is_n = F.col("n") == n
        aggs.append(F.max(F.when(is_n, F.col("gram"))).alias(f"top{n}_gram"))
        aggs.append(
            F.coalesce(F.max(F.when(is_n, F.col("c"))), F.lit(0))
            .cast("long")
            .alias(f"top{n}_count")
        )
    for n in dup_ns:
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("cov"))), F.lit(0)
            )
            .cast("long")
            .alias(f"dup{n}_cov_tokens")
        )
    perdoc = stats.groupBy("_id").agg(*aggs)

    out = base.join(perdoc, "_id", "left")
    cols = [
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ]
    for n in top_ns:
        cols.append(F.col(f"top{n}_gram"))
        cnt = F.coalesce(F.col(f"top{n}_count"), F.lit(0)).cast("long")
        cols.append(cnt.alias(f"top{n}_count"))
        cols.append(
            (
                cnt.cast("double")
                * F.coalesce(F.length(f"top{n}_gram"), F.lit(0)).cast("double")
                / F.col("n_chars").cast("double")
            ).alias(f"top{n}_char_frac")
        )
    for n in dup_ns:
        cov = F.coalesce(F.col(f"dup{n}_cov_tokens"), F.lit(0)).cast("long")
        cols.append(cov.alias(f"dup{n}_cov_tokens"))
        cols.append(
            (cov.cast("double") / F.col("n_tokens").cast("double")).alias(
                f"dup{n}_token_frac"
            )
        )
    return out.select(*cols)


def exact_jaccard_pairs(
    sig: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """EXHAUSTIVE near-duplicate ground truth over a minhash_doc_signatures
    frame (doc, h0.., shingles): every unordered doc pair whose k-shingle
    Jaccard similarity is >= t_num/t_den, found by shared-shingle
    blocking — any pair with Jaccard > 0 shares at least one shingle, so
    the equi-join on the shingle hash is COMPLETE (no candidate is
    missed, unlike banded LSH).  The threshold compare is integer
    cross-multiplication (t_den * shared >= t_num * union), so no float
    enters the decision.  Returns (id_a, id_b, shared, union_sz, jacc)
    with id_a < id_b; jacc is the one terminal double division of two
    exact integers.

    This is the evaluation baseline for minhash_lsh_pairs (see
    dedup_recall): q_dedup_recall_lsh builds ground truth and the banded
    side from ONE persisted signature frame.  The blocking join keys on
    the 16-byte unhex(md5) of each shingle, not the raw k-word string
    (unhex is bijective on md5 output, so counts cannot change).

    Scale: the shingle equi-join emits sum-over-shingles df^2 candidate
    rows — quadratic in per-shingle document frequency, NOT corpus
    size.  At 100 TB this is the operator you run on a SAMPLE to
    measure the banded pipeline's recall, not on the full corpus."""
    # The set size is row-local on the signature frame, so it rides the
    # blocking join and the pair groupBy as a functionally dependent
    # grouping key — no doc-keyed size joins onto the Σdf²-row pair
    # frame (sort-merge joins beyond the broadcast threshold).
    sh = sig.select(
        F.col("doc"),
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("sg"),
    ).select("doc", "n", F.unhex(F.md5("sg")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("shared")
    return (
        pairs.filter(t_den * F.col("shared") >= t_num * uni)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("bigint").alias("shared"),
            uni.cast("bigint").alias("union_sz"),
            (F.col("shared").cast("double") / uni.cast("double")).alias(
                "jacc"
            ),
        )
    )


def dedup_recall(
    approx_pairs: DataFrame,
    exact_pairs: DataFrame,
) -> DataFrame:
    """Recall/precision of an approximate near-dup pair set against the
    exhaustive ground truth (both frames keyed id_a < id_b): ONE row —
    (n_exact, n_approx, n_hit, recall, precision).  The quality gate
    for the banded-LSH dedup path, mirroring similarity.ann_recall for
    the ANN ladder.  Counts are exact integers from a full outer join;
    the two ratios are terminal double divisions (NULL when the
    denominator is zero — no pairs means the metric is undefined, not
    1.0).  Agg-without-groupBy, so the row exists even on empty inputs.

    Scale: both inputs are pair sets (already reduced); the outer join
    shuffles on the pair key and the final aggregate is a single row."""
    ap = approx_pairs.select("id_a", "id_b").withColumn("in_a", F.lit(1))
    ex = exact_pairs.select("id_a", "id_b").withColumn("in_e", F.lit(1))
    joined = ap.join(ex, ["id_a", "id_b"], "full")
    # outer coalesce: sum over ZERO rows is NULL — counts must be 0
    n_exact = F.coalesce(F.sum(F.coalesce(F.col("in_e"), F.lit(0))), F.lit(0))
    n_approx = F.coalesce(F.sum(F.coalesce(F.col("in_a"), F.lit(0))), F.lit(0))
    n_hit = F.coalesce(
        F.sum(
            F.coalesce(F.col("in_a"), F.lit(0))
            * F.coalesce(F.col("in_e"), F.lit(0))
        ),
        F.lit(0),
    )
    return joined.agg(
        n_exact.cast("bigint").alias("n_exact"),
        n_approx.cast("bigint").alias("n_approx"),
        n_hit.cast("bigint").alias("n_hit"),
        (n_hit.cast("double") / F.when(n_exact > 0, n_exact).cast("double"))
        .alias("recall"),
        (
            n_hit.cast("double")
            / F.when(n_approx > 0, n_approx).cast("double")
        ).alias("precision"),
    )


def cross_neardup_filter(
    new_docs: DataFrame,
    ref_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    ref_signatures: DataFrame | None = None,
    new_signatures: DataFrame | None = None,
    local_frames: list | None = None,
) -> DataFrame:
    """CROSS-corpus near-duplicate gate: flag every NEW document that is
    a banded-MinHash near-duplicate (true Jaccard >= threshold) of ANY
    REFERENCE document — the incremental-ingest shape self-join dedup
    cannot express (dedup a fresh crawl shard against the existing
    training corpus; keep eval/benchmark near-copies out of training
    data — the near-dup complement of exact/ngram decontamination).

    Returns one row per NEW doc: (id, n_ref_matches, best_ref,
    best_jacc, matched) — best = highest verified Jaccard, ties to the
    smallest reference id, NULLs and matched = 0 when nothing matched.

    Banding recall is the knob: at the default 16 hashes x 8 bands a
    Jaccard-0.6 pair is caught with p ~ 0.98 (measured ladder on the
    sibling dedup_recall entry: 0.185 / 0.407 / 0.985 at 2 / 4 / 8
    bands) — a GATE wants the high-recall end; verification keeps
    precision exact.

    Both sides run through the shared minhash_doc_signatures chain
    (ONE row-oriented codegen pass per side — the interpreted
    higher-order-function signature projection this operator originally
    carried cost ~5-10x per doc; the same rewrite cut the incremental
    fence 9.4x) and pair through cross_minhash_pairs_from_signatures.
    The math is value-identical: same universal-hash family, same md5
    band hashing, same exact-Jaccard verification.

    Reusable reference side: pass ``ref_signatures`` (a frame of
    (doc, h0..h{num_hashes-1}, shingles) rows from
    minhash_doc_signatures — typically persisted as a table when the
    reference corpus was admitted) and ``ref_docs`` is never touched:
    successive shards gate against the SAME signature table without
    re-shingling or re-hashing the reference corpus — the build-once,
    join-per-shard incremental-ingest economics the docstring always
    promised, now a first-class argument.

    Caller-owned new side: pass ``new_signatures`` (the
    minhash_doc_signatures frame of ``new_docs``) and the operator builds
    no internal persisted frame at all — long-running callers (the
    cross_neardup_stream handler runs this once per micro-batch) own the
    frame's lifecycle and unpersist it after the sink write, so Spark's
    CacheManager cannot accumulate one cached entry per batch.
    ``new_docs`` is still required: the left join that emits unmatched
    (and shingle-less) docs reads it.

    Repeated one-shot callers: pass ``local_frames`` (an empty list) and
    the operator appends every signature frame it builds INTERNALLY
    (persisted by minhash_doc_signatures) to it — materialize the
    result, then unpersist the collected frames in a ``finally`` block,
    exactly incremental_split_batch's local_frames discipline.  Without
    it, internally built frames stay in Spark's CacheManager for the
    session (fine for a run-one-query process; a leak for a loop that
    calls the gate per shard).  The collector — rather than an
    operator-internal eager materialize + finally-unpersist — keeps the
    default path's lazy plan byte-identical for existing callers and
    composition; frames the CALLER passed in (``ref_signatures`` /
    ``new_signatures``) are never collected, they live on the caller's
    lifecycle.

    Scale: candidates are an equi-join on (band, band_hash) — new x ref
    only, never new x new — and verification re-joins shingle sets for
    candidates alone.  Count and best-match come from one window pass
    over the verified pairs (single shuffle on new_id)."""
    if ref_signatures is None:
        if ref_docs is None:
            raise ValueError("cross_neardup_filter needs ref_docs or ref_signatures")
        ref_signatures = minhash_doc_signatures(
            ref_docs, id_col, text_col, k, num_hashes
        )
        if local_frames is not None:
            local_frames.append(ref_signatures)
    sig_new = new_signatures
    if sig_new is None:
        sig_new = minhash_doc_signatures(new_docs, id_col, text_col, k, num_hashes)
        if local_frames is not None:
            local_frames.append(sig_new)
    verified = cross_minhash_pairs_from_signatures(
        sig_new, ref_signatures, num_hashes, bands, threshold
    )
    w_part = Window.partitionBy("id_a")
    w_best = w_part.orderBy(F.desc("jacc"), F.asc("id_b"))
    best = (
        verified.withColumn("n_ref_matches", F.count(F.lit(1)).over(w_part))
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_a").alias("new_id"),
            "n_ref_matches",
            F.col("id_b").alias("best_ref"),
            F.col("jacc").alias("best_jacc"),
        )
    )
    return (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.coalesce("n_ref_matches", F.lit(0))
            .cast("bigint")
            .alias("n_ref_matches"),
            F.col("best_ref").cast("bigint").alias("best_ref"),
            F.col("best_jacc"),
            F.when(F.col("n_ref_matches").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("matched"),
        )
    )


def doc_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct k-word shingle SET per document — (doc, <extra_cols>, s)
    — via the row-oriented chain (repartition(id) -> posexplode tokens
    -> window lead shingles -> collect_set), the minhash_doc_signatures
    discipline without the minhash columns.  ~5-10x cheaper than the
    interpreted word_shingles transform chain (higher-order functions
    are interpreted, not codegen'd; measured 6.5 s -> 0.7 s for the
    sf0.1 corpus pass in the r18 optimization round).

    Value-identical to word_shingles + filter(size > 0) for every SET
    consumer (size / membership / intersection): the same distinct
    shingle strings per doc, in collect_set's engine-chosen ORDER rather
    than first-occurrence order — callers that expose element order must
    keep word_shingles.  Docs shorter than k tokens produce no row,
    matching the size(s) > 0 filter.  ``extra_cols`` must be functionally
    dependent on the doc id; they are aggregated with F.first over the
    doc-keyed group, so the output is ONE row per doc BY CONSTRUCTION —
    a non-dependent column can no longer split a document into several
    shingle-set rows and silently corrupt downstream Jaccard sizes (r18
    ADVICE; under dependence F.first reads a constant, and the narrower
    doc-only grouping key is also less shuffle wire).

    Scale: one id-keyed exchange serves window and aggregate; text never
    shuffles again past the shingle rows."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(parallelism, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, k)]
    sh = (
        tok.select(
            "doc",
            *extra_cols,
            F.concat_ws(" ", *parts).alias("sh"),
            parts[-1].alias("_t"),
        )
        .filter(F.col("_t").isNotNull())  # drop the k-1 tail positions
        .select("doc", *extra_cols, "sh")
    )
    return sh.groupBy("doc").agg(
        *[F.first(c).alias(c) for c in extra_cols],
        F.collect_set("sh").alias("s"),
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df: int = 40,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTED near-subset detection by shingle containment
    C(A, B) = |S(A) ∩ S(B)| / |S(A)| — the asymmetric complement of the
    Jaccard dedup family (Zhu et al., "LSH Ensemble", VLDB 2016, frame
    the problem; this is the exact blocked form).  A short excerpt,
    quote, or syndicated fragment inside a much longer document has
    containment ~1 while its Jaccard drowns in the denominator
    (|A∪B| ≈ |B|), so symmetric near-dup passes never see it; this
    operator is the pipeline step that catches quote-level duplication
    and excerpt spam.

    Returns (id_a, id_b, n_a, shared, containment) — directed rows, A's
    shingles covered by B's, containment >= threshold, A != B.  Note
    (a, b) and (b, a) can BOTH appear (exact duplicates contain each
    other); consumers wanting the symmetric form take GREATEST of the
    two directions.

    Scale: candidates come from an equi-join on shared UNDER-THE-CAP
    shingles (the sparse_doc_similarity discipline — a shingle in more
    than ``max_df`` docs is stopword-like furniture and generates no
    candidates; Σ df² over surviving shingles bounds the pair count, and
    the cap is the cost dial).  Verification re-joins the full distinct
    shingle sets for candidate pairs alone (array_intersect on two
    in-row arrays — no second shuffle family), so the cap can only
    lose candidates whose EVERY shared shingle is super-cap-frequent —
    at that point the pair is boilerplate, not a quote, and belongs to
    boilerplate_strip.  LSH-Ensemble banding (minhash partitioned by
    set size) is the sub-linear upgrade path when the candidate join
    itself dominates."""
    # One lineage cut: the CPU-bound shingle projection feeds the gram
    # explode AND both verification sides — without it the chain re-runs
    # per consumer (measured 14.6 -> 4.5 s at sf0.1 for identical rows).
    # r18 optimization: the shingle sets come from the row-oriented
    # doc_shingle_sets chain (posexplode + window lead + collect_set)
    # instead of the interpreted word_shingles transform — the dominant
    # cost of this operator (measured ~6.5 s of the 6.8 s warm query at
    # sf0.1); every downstream consumer (size / intersect / gram hash)
    # is set-order-insensitive, so results are value-identical.
    sh = doc_shingle_sets(docs, id_col, text_col, k).localCheckpoint(eager=False)
    # 64-bit gram keys narrow the candidate join's wire (the dup-span
    # md5-key convention); the shingle STRINGS never shuffle here.
    grams = sh.select(
        "doc", F.explode(F.transform("s", lambda x: F.xxhash64(x))).alias("g")
    )
    rare = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("g")
    )
    capped = grams.join(rare, "g").localCheckpoint(eager=False)
    cand = (
        capped.select(F.col("doc").alias("id_a"), "g")
        .join(capped.select(F.col("doc").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_containment(cand, sh, threshold)



def _verify_containment(cand, shingle_df, threshold):
    """Shared exact-verification tail of the containment family: join the
    (id_a, id_b) candidates back to the (doc, s) distinct-shingle frame
    on both sides and keep directed pairs with |S(A) ∩ S(B)| / |S(A)| >=
    threshold — one integer intersection + one IEEE division per pair,
    bit-identical cross-engine."""
    a = shingle_df.select(F.col("doc").alias("id_a"), F.col("s").alias("s_a"))
    b = shingle_df.select(F.col("doc").alias("id_b"), F.col("s").alias("s_b"))
    shared = F.size(F.array_intersect("s_a", "s_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("s_a").cast("bigint").alias("n_a"),
            shared.cast("bigint").alias("shared"),
            (shared.cast("double") / F.size("s_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    threshold: float = 0.8,
    max_bucket_size: int | None = 64,
    local_frames: list | None = None,
) -> DataFrame:
    """Banded containment candidates — the SUB-LINEAR path for
    containment_pairs (the LSH-Ensemble direction, Zhu et al. VLDB 2016,
    reduced to its high-recall endpoint): minhash signatures banded at
    ONE ROW PER BAND, so two documents become a candidate pair when ANY
    of the ``num_hashes`` minimums agree.  Single-row bands are the
    right end of the (b, r) dial for the asymmetric problem: an excerpt
    A inside a 10x larger B has Jaccard ~|A|/|B| ~0.1, which r=2 bands
    catch with p = 1-(1-j^2)^8 ~ 0.08 (useless) while r=1 bands catch
    with p = 1-(1-j)^16 ~ 0.81; at equal sizes (j ~ t) both are ~1.
    The full LSH Ensemble adds size-partitioned indexes with per
    partition (b, r) tuning — worth it when even 16 single-hash probes
    over-generate; this endpoint form is exact-verified, so tuning only
    moves COST, never correctness.  Candidates verify EXACT containment
    |S(A) ∩ S(B)| / |S(A)| >= threshold — same contract and columns as
    containment_pairs (directed; mutual containment for exact dups).

    Scale: the minhash chain IS minhash_lsh_pairs' chain — both call the
    shared minhash_doc_signatures helper (posexplode → window shingles →
    codegen md5/min — no interpreted HOF in the hot path); the bucket
    join shuffles (doc, i, min_i) triples only; ``max_bucket_size``
    drops flood buckets (a minimum shared by m docs emits m² candidate
    rows; the flooded set is tiny by definition, so exclusion is a
    broadcast anti-join).  Unlike containment_pairs' capped-shingle
    blocking — whose candidate volume is Σ df² over ALL surviving
    shingles — the candidate bound here is num_hashes x Σ bucket² with
    buckets capped, independent of document length.

    Persist lifecycle: as minhash_lsh_pairs — the internal signature
    frame is persisted; repeated long-lived-session callers pass
    ``local_frames`` to own the unpersist."""
    sig = minhash_doc_signatures(docs, id_col, text_col, k, num_hashes)
    if local_frames is not None:
        local_frames.append(sig)
    banded = sig.select(
        "doc",
        F.posexplode(
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
        ).alias("band", "v"),
    )
    if max_bucket_size is not None:
        flooded = (
            banded.groupBy("band", "v")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket_size)
            .select("band", "v")
        )
        banded = banded.join(F.broadcast(flooded), ["band", "v"], "left_anti")
    left = banded.select(F.col("doc").alias("id_a"), "band", "v")
    right = banded.select(F.col("doc").alias("id_b"), "band", "v")
    cand = (
        left.join(right, ["band", "v"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_containment(
        cand, sig.select("doc", F.col("shingles").alias("s")), threshold
    )


def eval_leak_report(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-EVAL-document contamination report — the flip side of
    eval_span_excise: instead of repairing the training set, quantify
    how compromised each BENCHMARK document is.  For every eval doc:
    how many of its distinct n-token spans occur anywhere in the
    training corpus, what fraction of its spans that is, and the worst
    single span's training document frequency (a span carried by
    thousands of training docs is boilerplate, not a leak — the df
    column is what separates the two readings).

    Output, one row per eval doc: (id, n_tokens, n_spans BIGINT,
    n_leaked BIGINT, leak_frac DOUBLE — NULL when the doc is shorter
    than n tokens, worst_span_df BIGINT — NULL when nothing leaked).

    Scale: both sides reduce to md5 span keys (the _span_grams wire
    discipline); the training side aggregates to (span, df) BEFORE the
    join, so the only cross-corpus edge is an equi-join on the 128-bit
    key against the eval side's DISTINCT spans — never doc x doc, and
    the per-eval-doc rollup never materializes carrier PAIRS (df rides
    the span row), so a boilerplate span cannot flood the join."""
    ebase, egrams = _span_grams(eval_docs, id_col, text_col, n)
    _tbase, tgrams = _span_grams(train_docs, id_col, text_col, n)
    tdf = tgrams.groupBy("gh").agg(
        F.count_distinct("_id").cast("bigint").alias("df")
    )
    ed = egrams.select("_id", "gh").distinct()
    per = (
        ed.join(tdf, "gh", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("df").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
            F.max("df").alias("worst_span_df"),
        )
    )
    return (
        ebase.select("_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_leaked", F.lit(0)).cast("bigint").alias("n_leaked"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.coalesce("n_leaked", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double"),
            ).alias("leak_frac"),
            F.col("worst_span_df").cast("bigint").alias("worst_span_df"),
        )
    )
