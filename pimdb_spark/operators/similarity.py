"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k as the exact baseline, and sign-LSH bucketed ANN
as the scale path.

Design for 100 TB:
- Brute force is a broadcast nested-loop of the (small) query set against
  the candidate scan — one pass, no shuffle of the candidates; per-query
  top-k via window rank (WindowGroupLimit pushes the k-filter down).
- Sign-LSH buckets both sides by the sign pattern of the first b
  dimensions (or of b random hyperplanes — here fixed axes for
  determinism), turning the cross join into an equi-join on bucket id:
  candidates shrink by ~2^b, the classic recall/cost trade.
- The dot product is a sequential fold (zip_with + aggregate), JVM-side,
  so every score is bit-reproducible against the DuckDB oracle.
- Every top-k operator ends in the same tail (`_topk`): optional round,
  then rank per query by score with ties broken by candidate id.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic
    accumulation order — oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pandas(a_col: str, b_col: str):
    """Arrow-batched cosine via numpy — the fast path for WIDE vectors
    (fold-based `cosine` is exact and oracle-reproducible but interpreted;
    numpy einsum is ~10-100x faster per row at dim >= a few hundred, at the
    price of BLAS summation order, so results can differ from the fold in
    the last ulp — use for production scoring, keep the fold for oracle
    parity).  Returns a Column usable in select/withColumn."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.stack(a.to_numpy())
        bv = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", av, bv, dtype=np.float64)
        den = np.linalg.norm(av.astype(np.float64), axis=1) * np.linalg.norm(
            bv.astype(np.float64), axis=1
        )
        return pd.Series(num / den)

    return _cos(F.col(a_col), F.col(b_col))


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance, sequential double fold (oracle-reproducible)."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


# -- shared stages of the top-k operators -------------------------------------
# Every scored frame carries (q_id, c_id, <score>).  Column names that
# differ between operators are arguments of the stage that makes them.


def _topk(
    scored: DataFrame,
    score: str,
    k: int,
    round_digits: int | None,
    ascending: bool = False,
    cols: tuple | None = None,
) -> DataFrame:
    """Per-query top-k: round BEFORE ranking, so rank ties at the output
    precision break by candidate id (the policy every oracle shares).
    ``ascending`` ranks distances (smaller = closer)."""
    if round_digits is not None:
        scored = scored.withColumn(score, F.round(score, round_digits))
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("q_id").orderBy(order, "c_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*(cols or ("q_id", "rank", "c_id", score)))
    )


def _pairs(c: DataFrame, q: DataFrame, on: Column | None = None) -> DataFrame:
    """Candidate x query pairs without self-matches: a cross join, or a
    join on ``on``."""
    joined = c.crossJoin(q) if on is None else c.join(q, on)
    return joined.filter(F.col("q_id") != F.col("c_id"))


def _lowest_id_vecs(
    candidates: DataFrame, cand_id: str, vec_col: str, n: int, alias: str, *aggs: Column
) -> DataFrame:
    """One row: the ``n`` lowest-id candidate vectors in id order, the
    training-free centroid / codebook convention (plus any ``aggs`` over
    the same head rows)."""
    return (
        candidates.orderBy(cand_id)
        .limit(n)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(cand_id).alias("cid"), F.col(vec_col).alias("cvec"))
                    )
                ),
                lambda s: s.cvec,
            ).alias(alias),
            *aggs,
        )
    )


def _with_cell_dists(
    df: DataFrame, coarse: DataFrame, vec: str, cents: str = "coarse_vecs", dists: str = "cdists"
) -> DataFrame:
    """Attach the one-row centroid frame and each row's squared-L2
    distance to every centroid."""
    return df.crossJoin(F.broadcast(coarse)).withColumn(
        dists, F.transform(F.col(cents), lambda cv: sqdist(F.col(vec), cv))
    )


def _nearest(dists: str) -> Column:
    """1-based index of the first minimum distance (ties break toward the
    lower centroid id on both engines)."""
    return F.array_position(dists, F.array_min(dists))


def _probe(
    df: DataFrame, dists: str, keep: list[str], nprobe: int, cell: str = "q_cell"
) -> DataFrame:
    """``keep`` plus ``cell`` for each query's ``nprobe`` nearest cells,
    ties by cell id."""
    w = Window.partitionBy("q_id").orderBy("dist", cell)
    return (
        df.select(*keep, F.posexplode(dists).alias("pos", "dist"))
        .withColumn(cell, (F.col("pos") + 1).cast("bigint"))
        .withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
    )


def _pq_codes(vec: str, m: int, sub: int, **layout) -> Column:
    """PQ code per subspace: first-minimum position in the vector's
    sub-distance table (``layout``: _subdist_tables' table and flags)."""
    return F.transform(
        _subdist_tables(vec, m, sub, **layout),
        lambda d: F.array_position(d, F.array_min(d)).cast("int"),
    )


def _adc_topk(pairs: DataFrame, m: int, k: int, round_digits: int | None) -> DataFrame:
    """Score (dtab, codes) pairs by asymmetric distance, the sum of m
    table lookups left-associated, and keep the k smallest."""
    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(F.element_at(F.col("dtab"), s), F.element_at(F.col("codes"), s)),
    )
    return _topk(
        pairs.select("q_id", "c_id", adc.alias("adc")), "adc", k, round_digits, ascending=True
    )


def _ivf_adc_topk(
    c: DataFrame,
    q: DataFrame,
    books: DataFrame,
    c_vec: str,
    q_vec: str,
    m: int,
    sub: int,
    k: int,
    round_digits: int | None,
    **layout,
) -> DataFrame:
    """IVF-PQ scoring: code the candidates ``c`` (c_id, c_cell, c_vec),
    build each probed query row's sub-distance table from ``q`` (q_id,
    q_cell, q_vec), join on cell and rank by ADC."""
    c = c.crossJoin(F.broadcast(books)).select(
        "c_id", "c_cell", _pq_codes(c_vec, m, sub, **layout).alias("codes")
    )
    q = q.crossJoin(F.broadcast(books)).select(
        "q_id", "q_cell", _subdist_tables(q_vec, m, sub, **layout).alias("dtab")
    )
    return _adc_topk(
        _pairs(c, q, F.col("c_cell").eqNullSafe(F.col("q_cell"))), m, k, round_digits
    )


def _cos_side(df: DataFrame, id_col: str, vec_col: str, p: str, *extra: Column) -> DataFrame:
    """(p_id, p_vec, p_nrm, *extra) side frame of a cosine scorer, norms
    computed once per vector.  The query side (p = "q") is lazily
    localCheckpoint-ed: small by contract, and it keeps the optimizer
    from re-merging query and candidate scans of one table into a
    self-join with mis-rebound HOF lambdas (see embedding_dup_pairs)."""
    side = df.select(
        F.col(id_col).alias(p + "_id"),
        F.col(vec_col).alias(p + "_vec"),
        norm(F.col(vec_col)).alias(p + "_nrm"),
        *extra,
    )
    return side.localCheckpoint(eager=False) if p == "q" else side


def _split(dim: int, m: int, fn: str) -> int:
    """Sub-vector width dim/m; m must divide dim."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"{fn}: dim {dim} not divisible by m {m}")
    return sub


# _subdist_tables layout of the training-free codebooks: full-width
# lowest-id vectors, sliced per subspace, raw floats cast on both sides
_FREE_LAYOUT = {"table": "cvecs", "sliced_table": True, "cast_x": True, "cast_y": True}


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 3,
    round_digits: int = 4,
    scorer: str = "fold",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every vector to its nearest centroid cell; each query probes only the
    ``nprobe`` nearest cells and scores exact cosine inside them.

    The coarse quantizer here is training-free and deterministic — the
    ``n_centroids`` lowest-id candidate vectors, in id order — so results
    are engine-reproducible (a production build would plug k-means
    centroids into the same plan shape).  Cell id = 1-based index of the
    first minimum distance (ties break toward the lower centroid id on
    both engines).

    Scale: the centroid set is one broadcast row; assignment is a
    projection over the candidate scan (no shuffle of candidates); the
    probe join is an equi-join on cell id, so scored pairs shrink by
    ~n_centroids/nprobe versus brute force.

    scorer: "fold" (oracle bit-parity) / "int8" — the quantized
    composition: probe pairs carry int8 codes (8x narrower payload
    through the cell equi-join) and score with the exact integer dot +
    rescale, engine-exact by construction (see int8_ann_topk).
    """
    if scorer not in ("fold", "int8"):
        raise ValueError(f"unknown scorer {scorer!r}: use 'fold' or 'int8'")
    cents = _lowest_id_vecs(candidates, cand_id, vec_col, n_centroids, "cvecs")

    def with_dists(df: DataFrame, id_col: str, p: str) -> DataFrame:
        extra = [int8_struct(F.col(vec_col)).alias(p + "_q")] if scorer == "int8" else []
        side = _cos_side(df, id_col, vec_col, p, *extra)
        return _with_cell_dists(side, cents, p + "_vec", "cvecs", "dists")

    # distinct per-side cell names + eqNullSafe probe join: both guard the
    # Catalyst constraint-propagation / self-join HOF rebind bug (see
    # lsh_ann_topk docstring) — cells are non-null, semantics identical,
    # still a hash equi-join
    c_cols = ["c_id", "c_vec", "c_nrm"] + (["c_q"] if scorer == "int8" else [])
    q_cols = ["q_id", "q_vec", "q_nrm"] + (["q_q"] if scorer == "int8" else [])
    assigned = with_dists(candidates, cand_id, "c").select(
        *c_cols, _nearest("dists").alias("c_cell")
    )
    probes = _probe(with_dists(queries, query_id, "q"), "dists", q_cols, nprobe).select(
        *q_cols, "q_cell"
    )
    pairs = _pairs(assigned, probes, F.col("c_cell").eqNullSafe(F.col("q_cell")))
    if scorer == "int8":
        # quantized probe scoring: exact integer dot + rescale — the
        # IVF x int8 composition (candidate pruning from the cell
        # equi-join, 8x-narrower pair payload from the codes)
        scored = pairs.select("q_id", "c_id", int8_score().alias("cos"))
    else:
        scored = scored_cosine(pairs, "q_vec", "c_vec", a_norm="q_nrm", b_norm="c_nrm")
    return _topk(scored, "cos", k, round_digits)


def scored_cosine(
    df: DataFrame,
    a: str,
    b: str,
    a_norm: str | None = None,
    b_norm: str | None = None,
) -> DataFrame:
    """Attach a ``cos`` column scoring df[a] x df[b] with the JVM-side
    sequential fold — deterministic accumulation order, bit-reproducible
    against the DuckDB oracle.

    With ``a_norm``/``b_norm`` (names of PRE-COMPUTED norm columns), it
    runs one fold per pair (the dot) instead of three — bit-identical to
    inline norms (same expression over the same floats; the semdedup
    measurement: ~3x less interpreted-fold work).  Callers should compute
    norms once per vector in their side frames."""
    if a_norm is not None and b_norm is not None:
        return df.withColumn(
            "cos", dot(F.col(a), F.col(b)) / (F.col(a_norm) * F.col(b_norm))
        )
    return df.withColumn("cos", cosine(F.col(a), F.col(b)))


def sign_bucket(vec: Column, n_bits: int = 8, offset: int = 0) -> Column:
    """LSH bucket id: bit b set iff vec[offset + b] > 0 (1-based
    element_at).  Fixed-axis hyperplanes keep the bucketing deterministic
    across engines; ``offset`` selects a disjoint dimension slice so
    multiple independent tables can coexist (lsh_multitable_topk); swap
    in seeded random hyperplanes for production recall."""
    bits = F.transform(
        F.sequence(F.lit(1 + offset), F.lit(n_bits + offset)),
        lambda i: F.when(F.element_at(vec, i) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, b: acc * 2 + b)


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact top-k: broadcast the query set, score every candidate, rank
    per query (ties broken by candidate id).  Self-matches excluded.

    The query side is lazily localCheckpoint-ed: queries usually scan the
    same table as candidates, and identical scans are re-merged by the
    optimizer into a self-join whose HOF lambdas Catalyst can mis-rebind
    (see embedding_dup_pairs docstring); the query set is small by
    contract (it broadcasts), so the checkpoint is cheap."""
    q = _cos_side(queries, query_id, vec_col, "q")
    c = _cos_side(candidates, cand_id, vec_col, "c")
    scored = scored_cosine(
        _pairs(c, F.broadcast(q)), "q_vec", "c_vec", a_norm="q_nrm", b_norm="c_nrm"
    )
    return _topk(scored, "cos", k, round_digits)


def lsh_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    round_digits: int | None = 4,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's sign-LSH
    bucket.  Equi-join on bucket id replaces the cross join.

    Two Catalyst-bug guards (see embedding_dup_pairs docstring for the
    failure mode): the query side is lazily localCheckpoint-ed (small by
    contract), and each side's bucket column gets a DISTINCT name with an
    explicit join condition — a USING-column join on the same computed
    name over two scans of one table is exactly the shape whose HOF
    lambdas the self-join dedup mis-rebinds.  The join uses eqNullSafe
    (buckets are non-null, so semantics are identical and it still plans
    as a hash join): plain attribute equality lets constraint propagation
    transitively rewrite one side's HOF bucket expression onto the OTHER
    side's output, where its lambda binds against attributes that no
    longer exist (executor-side INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) —
    EqualNullSafe is opaque to that transitive closure."""
    q = _cos_side(
        queries, query_id, vec_col, "q", sign_bucket(F.col(vec_col), n_bits).alias("q_bucket")
    )
    c = _cos_side(
        candidates, cand_id, vec_col, "c", sign_bucket(F.col(vec_col), n_bits).alias("c_bucket")
    )
    pairs = _pairs(c, F.broadcast(q), F.col("q_bucket").eqNullSafe(F.col("c_bucket")))
    scored = scored_cosine(pairs, "q_vec", "c_vec", a_norm="q_nrm", b_norm="c_nrm")
    return _topk(
        scored, "cos", k, round_digits,
        cols=("q_id", F.col("q_bucket").alias("bucket"), "rank", "c_id", "cos"),
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_bits: int = 8,
    threshold: float = 0.95,
    round_digits: int | None = 4,
) -> DataFrame:
    """Near-duplicate pairs by cosine within sign-LSH buckets: (id_a < id_b,
    cos >= threshold).  The bucket equi-join bounds the pair count.

    The side frame is lazily localCheckpoint-ed before the self-join:
    Catalyst's self-join attribute dedup mis-rebinds lambda variables
    inside higher-order functions (executor-side INTERNAL_ERROR_ATTRIBUTE_
    NOT_FOUND in BindReferences, dependent on session attribute-id state),
    and a checkpointed leaf has no nested plan to mis-rewrite.  It also
    means one scan+bucket computation serves both join sides.

    Per-vector norms are computed ONCE before the pair join (and
    materialize with the checkpoint), so each candidate pair costs one
    fold (the dot product) instead of three — bit-identical to inline
    norms (same expression over the same floats; see clustering.semdedup,
    where this measured ~3x less interpreted-fold work)."""
    side = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    ).localCheckpoint(eager=False)
    a = side.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"), "bucket",
    )
    b = side.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
    if round_digits is not None:
        pairs = pairs.withColumn("cos", F.round("cos", round_digits))
    return pairs


def int8_struct(v: Column) -> Column:
    """(scale, codes) struct for symmetric int8 quantization of vector
    column ``v`` — the abs-max rides as FOLD STATE into the finish
    lambda (never a sibling projection), so CollapseProject cannot
    re-inline a per-element recompute."""
    return F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        lambda mx: F.struct(
            (mx / F.lit(127.0)).alias("scale"),
            F.transform(
                v,
                lambda x: F.when(mx == F.lit(0.0), F.lit(0).cast("long")).otherwise(
                    F.least(
                        F.lit(127.0),
                        F.greatest(
                            F.lit(-127.0),
                            F.floor(
                                x.cast("double") * F.lit(127.0) / mx + F.lit(0.5)
                            ),
                        ),
                    ).cast("long")
                ),
            ).alias("codes"),
        ),
    )


def int8_score(q_pfx: str = "q", c_pfx: str = "c") -> Column:
    """Quantized approximate cosine over (pfx_q struct, pfx_nrm) pairs:
    exact integer dot of the codes, rescaled by the two quantization
    scales over the true norms; zero vectors score 0."""
    idot = F.aggregate(
        F.zip_with(
            F.col(f"{q_pfx}_q.codes"), F.col(f"{c_pfx}_q.codes"), lambda a, b: a * b
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qn, cn = F.col(f"{q_pfx}_nrm"), F.col(f"{c_pfx}_nrm")
    return F.when((qn * cn) == F.lit(0.0), F.lit(0.0)).otherwise(
        idot.cast("double")
        * F.col(f"{q_pfx}_q.scale")
        * F.col(f"{c_pfx}_q.scale")
        / (qn * cn)
    )


def int8_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the memory-bound-regime
    ANN representation: scale = max|x| / 127, code_i = round-half-up of
    x_i / scale, clamped to [-127, 127].  Returns (id, scale, codes,
    nrm) with nrm the TRUE (pre-quantization) L2 norm for rescaling.

    At 100 TB this is the dial that matters before any join strategy: a
    64-dim float64 embedding column is 512 B/row on the wire; int8 codes
    are 64 B plus one scale — an 8x cut in candidate-scan shuffle bytes,
    and the dot product becomes exact INTEGER arithmetic (no FP ulp
    concerns at all; only the final rescale touches doubles).

    Determinism: abs-max is order-independent; code arithmetic is
    floor(x * 127 / mx + 0.5) in doubles with a fixed expression shape,
    identical in the DuckDB oracle.  The abs-max rides as FOLD STATE
    into the finish lambda (never a sibling projection), so
    CollapseProject cannot re-inline a 64x recompute — the SimHash r9
    lesson applied at design time."""
    v = F.col(vec_col)
    qs = int8_struct(v)
    return df.select(
        F.col(id_col).alias(id_col), qs.alias("_q"), norm(v).alias("nrm")
    ).select(
        id_col,
        F.col("_q.scale").alias("scale"),
        F.col("_q.codes").alias("codes"),
        "nrm",
    )


def int8_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Quantized brute-force top-k: both sides int8-quantized, the dot
    product runs over integer codes (EXACT — engine-independent by
    construction), and the approximate cosine rescales by the two
    quantization scales over the TRUE norms:
    qcos = (idot * scale_q * scale_c) / (nrm_q * nrm_c).

    Same plan shape as cosine_topk (queries broadcast, one candidate
    pass, WindowGroupLimit top-k) — at scale, compose with the LSH/IVF
    candidate generators exactly as the float scorers do; quantization
    changes the BYTES per candidate, not the join strategy.  Zero
    vectors (scale 0) score 0 against everything."""
    q = queries.select(
        F.col(query_id).alias("q_id"),
        int8_struct(F.col(vec_col)).alias("q_q"),
        norm(F.col(vec_col)).alias("q_nrm"),
    ).localCheckpoint(eager=False)
    c = candidates.select(
        F.col(cand_id).alias("c_id"),
        int8_struct(F.col(vec_col)).alias("c_q"),
        norm(F.col(vec_col)).alias("c_nrm"),
    )
    return _int8_brute(q, c, k, round_digits)


def _int8_brute(q: DataFrame, c: DataFrame, k: int, round_digits: int | None) -> DataFrame:
    """Shared quantized brute-force tail: q = (q_id, q_q, q_nrm)
    broadcast against c = (c_id, c_q, c_nrm), WindowGroupLimit top-k."""
    scored = _pairs(c, F.broadcast(q)).select("q_id", "c_id", int8_score().alias("qcos"))
    return _topk(scored, "qcos", k, round_digits)


def int8_topk_from_codes(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str = "vec_id",
    cand_id: str = "vec_id",
    k: int = 5,
    round_digits: int | None = 4,
) -> DataFrame:
    """Quantized top-k over PRE-QUANTIZED tables — the quantize-on-WRITE
    production shape: both sides are int8_quantize output (id, scale,
    codes, nrm), e.g. a parquet table materialized at ingest, so no
    query ever touches (or even SCANS) the float embedding column.  The
    scan reads ~72 B/vector instead of 512 B — at 100 TB of embeddings
    that is the 7x I/O cut quantization exists for, and it is free at
    query time because the fold cost moved to the single write.

    Identical results to int8_ann_topk on the raw vectors (same codes,
    same rescale — asserted in tests)."""
    q = queries.select(
        F.col(query_id).alias("q_id"),
        F.struct(
            F.col("scale").alias("scale"), F.col("codes").alias("codes")
        ).alias("q_q"),
        F.col("nrm").alias("q_nrm"),
    ).localCheckpoint(eager=False)
    c = candidates.select(
        F.col(cand_id).alias("c_id"),
        F.struct(
            F.col("scale").alias("scale"), F.col("codes").alias("codes")
        ).alias("c_q"),
        F.col("nrm").alias("c_nrm"),
    )
    return _int8_brute(q, c, k, round_digits)


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the technique that stores a vector in m BYTES: the dim-wide
    space splits into ``m`` subspaces of dim/m; each subspace gets an
    ``n_centroids``-entry codebook; a candidate is represented by its m
    per-subspace nearest-centroid codes; a query precomputes the
    m x n_centroids table of exact sub-distances ONCE and scores every
    candidate as the sum of m table lookups — no float vector ever
    touches the scoring join.

    Codebooks here are training-free and deterministic — subspace s's
    codebook is the ``n_centroids`` lowest-id candidate vectors' s-th
    sub-vectors, the same engine-reproducible convention as ivf_topk's
    coarse quantizer (a production build plugs per-subspace k-means into
    the same plan shape).  Distances: approximate L2^2 (larger = farther;
    top-k is the SMALLEST ADC).  Ties break by candidate id after the
    round-digits contract.

    Scale: candidates carry m small ints (m=8: 8 codes ~ 8 B vs 512 B of
    float64 at dim 64 — the 64x payload cut PQ exists for); the query's
    distance table is one broadcast row per query; scoring is m array
    lookups per pair, no per-pair fold over dim.  Compose with IVF
    coarse cells exactly as int8 does (IVF-PQ): the cell equi-join
    prunes, PQ pays bytes only for survivors.

    Determinism: every sub-distance is the house sequential double fold;
    code assignment is first-minimum (list_position semantics, both
    engines); the ADC sum unrolls m left-associated adds — the DuckDB
    oracle reproduces each value exactly."""
    sub = _split(dim, m, "pq_topk")
    cents = _lowest_id_vecs(candidates, cand_id, vec_col, n_centroids, "cvecs")
    coded = _pq_encode(candidates, cents, cand_id, vec_col, m, sub, **_FREE_LAYOUT)
    return _pq_from_codes(
        queries, coded, cents, query_id, vec_col, m, sub, k, round_digits, **_FREE_LAYOUT
    )


def pq_adc_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    shortlist: int = 12,
    k: int = 3,
    round_digits: int | None = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC SHORTLIST, then EXACT cosine RE-RANK —
    the standard production ANN recipe the single-stage scorers build up
    to.  Stage 1 is `pq_topk` with k=``shortlist``: the whole corpus is
    scored from m-byte codes (no float vector in the scoring join) and
    each query keeps its ``shortlist`` best candidates by approximate ADC
    distance.  Stage 2 touches raw vectors ONLY for those |Q| x shortlist
    survivors: their float embeddings are fetched by a broadcast hash
    join on candidate id and re-scored with the exact sequential-fold
    cosine, and the final top-``k`` ranks by the exact score.

    Why this beats either stage alone: ADC's quantization error scrambles
    rank ORDER inside the shortlist far more than it scrambles shortlist
    MEMBERSHIP — re-ranking repairs the ordering for the price of
    ``shortlist`` exact dots per query, so recall@k approaches shortlist
    recall (measured: the pq_rerank_s{6,12,24}_l2 variants in
    scripts/pq_recall.py's default sweep) while the corpus
    scan still pays quantized bytes.

    Scale: stage 1 is pq_topk's audited plan (codes-only corpus pass,
    WindowGroupLimit shortlist).  Stage 2's only corpus-sized operation
    is ONE broadcast hash join — the (q_id, c_id) shortlist is tiny
    (|Q| x shortlist rows) and broadcasts against the candidate scan, so
    no shuffle of the corpus and no second full scoring pass; the exact
    cosine runs on |Q| x shortlist rows, not |Q| x |corpus|.

    Determinism: the shortlist boundary ties break by candidate id inside
    pq_topk (round-digits contract), so shortlist membership is
    engine-stable; the re-rank cosine is the house sequential fold
    rounded to ``round_digits``, ties again by candidate id.

    ``metric``: "cosine" (default — the catalog entry's contract; larger
    = closer) or "l2" (exact squared L2, smaller = closer) — the
    recall-harness variant, so scripts/pq_recall.py re-ranks in the SAME
    metric as its exact-L2 ground truth (ADC approximates L2, so an L2
    re-rank's recall@k equals the shortlist's hit rate on the true
    top-k — the cleanest measure of what re-ranking recovers)."""
    short = pq_topk(
        queries, candidates, query_id, cand_id, vec_col,
        m=m, dim=dim, n_centroids=n_centroids, k=shortlist,
        round_digits=round_digits,
    ).select("q_id", "c_id")
    return exact_rerank(
        short, queries, candidates, query_id, cand_id, vec_col,
        k=k, round_digits=round_digits, metric=metric,
    )


def exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    round_digits: int | None = 4,
    metric: str = "cosine",
) -> DataFrame:
    """Stage 2 of two-stage retrieval, composable behind ANY shortlist
    generator (``short``: a (q_id, c_id) frame from pq_topk, ivf_pq_topk,
    their trained/residual forms, or an LSH candidate union): fetch raw
    vectors for the survivors and re-rank by the exact sequential-fold
    score.  ``metric``: "cosine" (larger = closer) or "l2" (exact squared
    L2, smaller = closer).  Scale: the shortlist is |Q| x shortlist rows
    and BROADCASTS against the candidate scan — one broadcast hash join,
    no corpus shuffle, exact scoring on survivors only.  The QUERY-vector
    frame is force-broadcast too (raw floats, not just ids): the serving
    shape this stage exists for has a query batch orders of magnitude
    smaller than the corpus."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"exact_rerank: unknown metric {metric!r}")
    # distinct: a multi-table candidate UNION can list the same (q, c)
    # twice; without it the duplicate would occupy two of the k ranks
    short = short.select("q_id", "c_id").distinct()
    cand_vecs = candidates.select(
        F.col(cand_id).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    q_vecs = queries.select(
        F.col(query_id).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    score_col = "cos" if metric == "cosine" else "d"
    scorer = (
        cosine(F.col("q_vec"), F.col("c_vec"))
        if metric == "cosine"
        else sqdist(F.col("q_vec"), F.col("c_vec"))
    )
    rescored = (
        cand_vecs.join(F.broadcast(short), "c_id")
        .join(F.broadcast(q_vecs), "q_id")
        .select("q_id", "c_id", scorer.alias(score_col))
    )
    return _topk(rescored, score_col, k, round_digits, ascending=metric == "l2")


def ivf_pq_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    shortlist: int = 12,
    k: int = 3,
    round_digits: int | None = 4,
    metric: str = "cosine",
) -> DataFrame:
    """The full production ANN stack in one plan: IVF cell pruning ->
    PQ-ADC code scoring -> shortlist -> EXACT re-rank.  Stage 1 is
    ivf_pq_topk with k=``shortlist`` (cell equi-join prunes pairs, ADC
    scores 8-byte codes); stage 2 is `exact_rerank` (one broadcast hash
    join fetches raw vectors for the |Q| x shortlist survivors, exact
    fold re-ranks).  See pq_adc_rerank_topk for the recall argument and
    scripts/pq_recall.py for the measured ladder.

    Note the IVF interaction: under cell pruning a query's shortlist can
    be SHORTER than ``shortlist`` (probed cells may hold fewer than
    shortlist candidates) — re-rank then operates on what the probes
    admitted; recall is bounded by probe coverage exactly as in
    ivf_pq_topk."""
    short = ivf_pq_topk(
        queries, candidates, query_id, cand_id, vec_col,
        n_cells=n_cells, nprobe=nprobe, m=m, dim=dim,
        n_centroids=n_centroids, k=shortlist, round_digits=round_digits,
    ).select("q_id", "c_id")
    return exact_rerank(
        short, queries, candidates, query_id, cand_id, vec_col,
        k=k, round_digits=round_digits, metric=metric,
    )


def ivf_pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF-PQ — the production large-scale ANN layout, both halves
    composed: an ``n_cells`` coarse quantizer prunes candidates to the
    query's ``nprobe`` nearest cells (the ivf_topk equi-join), and the
    surviving pairs score by PQ asymmetric distance (the pq_topk
    m-lookup sum) — so the scoring join ships m CODES per candidate and
    touches no float vector, while the pair count shrinks
    ~n_cells/nprobe before any scoring happens.

    Simplification vs. the literature: PQ codebooks quantize the RAW
    vectors, not the per-cell residuals (residual PQ needs per-cell
    codebooks; the plan shape is identical — swap the codebook attach).
    Both quantizers use the training-free lowest-id convention, so every
    value is engine-reproducible and the DuckDB oracle is hash-exact.

    Scale: one broadcast row carries the coarse centroids, one the PQ
    codebooks; both assignments are projections over the candidate scan;
    the probe join is a hash equi-join on cell id; scoring is m array
    lookups per surviving pair."""
    sub = _split(dim, m, "ivf_pq_topk")
    fine = _lowest_id_vecs(candidates, cand_id, vec_col, n_centroids, "cvecs")
    return _ivf_pq(
        queries, candidates, fine, query_id, cand_id, vec_col,
        n_cells, nprobe, m, sub, k, round_digits, **_FREE_LAYOUT,
    )


def _ivf_pq(
    queries: DataFrame,
    candidates: DataFrame,
    fine: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str,
    n_cells: int,
    nprobe: int,
    m: int,
    sub: int,
    k: int,
    round_digits: int | None,
    **layout,
) -> DataFrame:
    """IVF-PQ over raw vectors against the one-row fine-codebook frame
    ``fine`` (``layout``: its _subdist_tables table and flags); the
    coarse quantizer is the training-free lowest-id convention."""
    coarse = _lowest_id_vecs(candidates, cand_id, vec_col, n_cells, "coarse_vecs")
    c = _with_cell_dists(
        candidates.select(F.col(cand_id).alias("c_id"), F.col(vec_col).alias("c_vec")),
        coarse,
        "c_vec",
    ).select("c_id", "c_vec", _nearest("cdists").alias("c_cell"))
    q = _with_cell_dists(
        queries.select(F.col(query_id).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .localCheckpoint(eager=False),
        coarse,
        "q_vec",
    )
    q = _probe(q, "cdists", ["q_id", "q_vec"], nprobe).select("q_id", "q_vec", "q_cell")
    return _ivf_adc_topk(c, q, fine, "c_vec", "q_vec", m, sub, k, round_digits, **layout)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    k: int = 3,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact top-k —
    the eval harness for the ANN ladder (LSH / IVF / int8 / PQ): every
    approximate index trades recall for cost, and this MEASURES the
    trade instead of asserting it.  Input frames carry (query_id,
    cand_id) rows (rank/score columns ignored); output is (query_id,
    n_hits, recall) per query with recall = |approx ∩ exact| / |exact
    set for that query| — a single exact IEEE division of integers.
    Dividing by the PER-QUERY exact-set size (not the nominal ``k``)
    keeps recall honest when a query has fewer than k true neighbors
    (corpus smaller than k+1, or an exact side built with its own
    cutoff): a by-k denominator would saturate below 1.0 for a perfect
    index.  On any corpus where every query has >= k neighbors — every
    testdata SF here — the two denominators coincide, so this is a
    contract clarification, not a value change.  ``k`` is retained for
    call-site documentation only.

    Queries missing entirely from ``approx`` (e.g. an empty LSH bucket)
    still appear, with n_hits = 0 — silent query dropout is exactly what
    an eval harness must expose.

    Scale: one semi-join on (query, candidate) + one count per query —
    both keyed on the query id; candidate sets are k rows per query, so
    the whole evaluation is O(queries x k)."""
    hits = (
        approx.select(query_id, cand_id)
        .join(exact.select(query_id, cand_id), [query_id, cand_id], "left_semi")
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select(query_id, cand_id)
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("_n_exact"))
        .join(hits, query_id, "left")
        .select(
            query_id,
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("_n_exact").cast("double")
            ).alias("recall"),
        )
    )


def lsh_multitable_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    k: int = 3,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    round_digits: int | None = 4,
) -> DataFrame:
    """Multi-table sign-LSH top-k — the standard recall repair for
    single-table LSH: L independent bucketings (here: disjoint
    ``n_bits``-dim slices, table t over dims t*n_bits+1..(t+1)*n_bits —
    deterministic, engine-portable) each propose same-bucket candidates,
    the union is deduplicated per (query, candidate) pair, and only the
    union is scored.  A true neighbor is missed only if it disagrees
    with the query in EVERY table — recall 1-(1-p^b)^L instead of p^b,
    and b (bits/table) is the second dial: fewer bits = wider buckets =
    more candidates per table.  Measured on the sf0.01 embeddings
    (recall@3 vs exact cosine, 500 candidates): b=8 gives 0.02 / 0.04 /
    0.10 / 0.13 at L = 1/2/4/8; b=4 gives 0.46 / 0.69 / 0.88 at
    L = 4/8/16 — tune (b, L) so per-query candidate volume
    ~ L x n / 2^b stays a small fraction of the corpus while recall
    clears the target; at this toy scale high-recall settings approach
    brute force, exactly as the formula says they must.

    Scale: candidates fan out L-fold into the (table, bucket) equi-join
    — still never all-pairs; the pair-distinct before scoring bounds
    re-scoring at one per surviving pair.

    Requires n_tables * n_bits <= dim, ENFORCED (the pq_topk
    discipline): table t reads dims t*n_bits+1..(t+1)*n_bits, and
    element_at past the end of the vector is engine-dependent (NULL
    under non-ANSI Spark), which would silently collapse the
    out-of-range bits to 0 — every tail table becomes bucket-biased
    instead of failing loudly."""
    if n_tables * n_bits > dim:
        raise ValueError(
            f"lsh_multitable_topk: n_tables ({n_tables}) * n_bits ({n_bits}) "
            f"= {n_tables * n_bits} exceeds dim ({dim}) — disjoint slices "
            "would read past the vector"
        )
    q = _cos_side(queries, query_id, vec_col, "q")
    c = _cos_side(candidates, cand_id, vec_col, "c")

    def tabbed(side: DataFrame, id_col: str, bucket_alias: str, tab_alias: str):
        vec = "q_vec" if id_col == "q_id" else "c_vec"
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tab"),
                    sign_bucket(F.col(vec), n_bits, t * n_bits).alias("bucket"),
                )
                for t in range(n_tables)
            ]
        )
        return side.select(
            *side.columns, F.explode(tables).alias("_tb")
        ).select(
            *side.columns,
            F.col("_tb.tab").alias(tab_alias),
            F.col("_tb.bucket").alias(bucket_alias),
        )

    pairs = (
        _pairs(
            tabbed(c, "c_id", "c_bucket", "c_tab"),
            F.broadcast(tabbed(q, "q_id", "q_bucket", "q_tab")),
            F.col("q_tab").eqNullSafe(F.col("c_tab"))
            & F.col("q_bucket").eqNullSafe(F.col("c_bucket")),
        )
        .select("q_id", "q_vec", "q_nrm", "c_id", "c_vec", "c_nrm")
        .distinct()
    )
    scored = scored_cosine(pairs, "q_vec", "c_vec", a_norm="q_nrm", b_norm="c_nrm")
    return _topk(scored, "cos", k, round_digits)


def train_pq_codebooks(
    candidates: DataFrame,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """TRAINED product-quantization codebooks: per-subspace Lloyd's
    k-means over the candidates' sub-vectors — the production upgrade
    over pq_topk's training-free lowest-id convention (a codebook that
    models the actual sub-vector distribution cuts quantization error,
    hence ADC ranking error, hence raises recall; measured on
    catalog_similarity.q_pq_trained_topk's config).

    Returns a ONE-ROW frame with column ``books``:
    array<array<array<double>>> of shape m x n_centroids x (dim/m) —
    books[s][j] is subspace s's centroid j, in deterministic cid order.
    Training replicates the clustering module's exact machinery (init =
    the n_centroids lowest-id candidates' s-th sub-vectors; ``n_iter -
    1`` exact ordered-fold centroid updates), FUSED across subspaces:
    one chain over (s, vec_id, sub-vector) rows instead of m
    per-subspace chains.  Every (s, cid) group folds the same doubles in
    the same sorted-by-id order the subspace-s chain would, so every
    centroid coordinate is bit-deterministic and the whole trained
    pipeline stays DuckDB-oracle-checkable end to end — the
    q_kmeans_assignments property, applied m times (the oracle still
    unrolls m independent chains; values are identical).

    Scale: one kmeans-shaped pass per Lloyd's iteration over m x n_rows
    exploded sub-vector rows (broadcast argmin assignment — no candidate
    shuffle — plus one (s, cid)-keyed update shuffle); the m *
    n_centroids centroid rows collapse to one broadcastable row.  The
    fusion reads the corpus once per iteration where the per-subspace
    loop read it m times.  Training cost is paid ONCE per index build
    (the quantize-on-write argument); callers localCheckpoint the
    returned row to cut the training lineage out of every downstream
    scoring plan."""
    sub = _split(dim, m, "train_pq_codebooks")
    # FUSED across subspaces (r18 optimization round, guide §1.2/§2.4):
    # one k-means chain over (s, vec_id, sub-vector) rows replaces the m
    # independent per-subspace chains — m x fewer jobs/scans/shuffles per
    # Lloyd's iteration, and at 100 TB the corpus is read once per
    # iteration instead of m times.  Bit-parity with the per-subspace
    # form: every (s, cid) group holds exactly the rows the subspace-s
    # chain would hold, the assignment min(struct(dist, cid)) compares
    # the same 16 sub-distances per (s, vec), and the centroid update's
    # ordered fold (sort by vec_id, left-fold in double) sums the same
    # doubles in the same order — so the trained books row is
    # bit-identical and the DuckDB oracle (which unrolls the m chains)
    # still matches.
    # Expression trees below are built as single F.expr strings where an
    # unrolled Python loop of HOF builders would otherwise pay m x the
    # py4j round trips and m x the Catalyst tree (see _subdist_tables) —
    # the sequence-loop forms produce bit-identical values.
    sliced = candidates.select(
        F.col(cand_id).alias("vec_id"),
        F.expr(
            f"posexplode(transform(sequence(0, {m - 1}), "
            f"s_i -> slice(`{vec_col}`, s_i * {sub} + 1, {sub})))"
        ).alias("s", "embedding"),
    )
    # init: ONE TakeOrdered pass over the candidates (the n_centroids
    # lowest ids) serves all m subspaces; cid assignment replicates
    # clustering.init_centroids (row_number over id order, minus 1)
    w = Window.orderBy("vec_id")
    head = (
        candidates.select(F.col(cand_id).alias("vec_id"), F.col(vec_col).alias("_v"))
        .orderBy("vec_id")
        .limit(n_centroids)
        .select((F.row_number().over(w) - 1).alias("cid"), "_v")
    )
    cents = head.select(
        "cid",
        F.expr(
            f"posexplode(transform(sequence(0, {m - 1}), s_i -> "
            f"transform(slice(_v, s_i * {sub} + 1, {sub}), "
            f"x -> CAST(x AS DOUBLE))))"
        ).alias("s", "cvec"),
    ).select("s", "cid", "cvec")
    for _ in range(n_iter - 1):
        # assignment: nearest centroid per (s, vec) — a PROJECTION over
        # the sliced rows against the ONE-ROW codebook array (pq_encode's
        # attach shape; builder r19).  The m*n_centroids centroid rows
        # collapse to one array sorted by (s, cid); each row slices out
        # its subspace's n_centroids entries (every (s, cid) pair is
        # always present: init emits all of them and the left-join update
        # preserves them) and takes array_min over struct(sqdist, cid) —
        # the identical sqdist double fold and the identical
        # lowest-distance-then-lowest-cid tie-break as the former
        # broadcast-join + min(struct(dist, cid)) groupBy, so assignments
        # are bit-identical — with ZERO exchanges where the aggregate
        # form paid a corpus-sized groupBy shuffle PLUS the members
        # join-back shuffle (the sub-vector now rides the assignment).
        carr = cents.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("cid"), F.col("cvec")))
            ).alias("_cb")
        )
        nearest = F.expr(
            f"array_min(transform("
            f"slice(_cb, s * {n_centroids} + 1, {n_centroids}), "
            f"c -> struct(aggregate(zip_with(embedding, c.cvec, "
            f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, v) -> acc + v) AS _d, c.cid AS cid))).cid"
        )
        members = sliced.crossJoin(F.broadcast(carr)).select(
            "s", "vec_id", "embedding", nearest.alias("cid")
        )
        # update: per-(s, cid) ordered fold — update_centroids_exact's
        # exact expressions keyed by (s, cid) instead of cid
        summed = F.expr(
            "aggregate(sort_array(collect_list(struct(vec_id AS _sid, "
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS _sv))), "
            f"array_repeat(0.0D, {sub}), "
            "(acc, sv) -> zip_with(acc, sv._sv, (a, x) -> a + x))"
        )
        upd = (
            members.groupBy("s", "cid")
            .agg(F.count(F.lit(1)).alias("_n"), summed.alias("_sum"))
            .select(
                "s",
                "cid",
                F.transform(F.col("_sum"), lambda x: x / F.col("_n")).alias("_new"),
            )
        )
        cents = cents.join(upd, ["s", "cid"], "left").select(
            "s", "cid", F.coalesce(F.col("_new"), F.col("cvec")).alias("cvec")
        )
    flat = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s"), F.col("cid"), F.col("cvec")))
        ).alias("_flat")
    )
    return flat.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda si: F.transform(
                F.slice(F.col("_flat"), si * n_centroids + 1, n_centroids),
                lambda r: r["cvec"],
            ),
        ).alias("books")
    )


def pq_topk_books(
    queries: DataFrame,
    candidates: DataFrame,
    books: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """PQ ADC top-k against an EXPLICIT codebook frame (one row,
    ``books`` = m x n_centroids x (dim/m) doubles — train_pq_codebooks'
    output, or any codebook table materialized at index-build time):
    candidates code to their per-subspace nearest centroid, queries
    precompute the m x n_centroids exact sub-distance table once, pairs
    score as m table lookups — pq_topk's exact plan shape with the
    codebook attach swapped from the training-free convention to a
    supplied table.  This separation IS the production layout: train
    once, write codes with the table, score forever.

    Determinism: identical expression shapes to pq_topk (house
    sequential double fold per sub-distance, first-minimum code
    assignment, left-associated ADC adds) — codebook VALUES are the only
    difference, so the same DuckDB oracle discipline applies.

    Scale: one one-row broadcast (the codebooks), both assignments as
    projections over their scans, the q_cosine_topk brute broadcast
    shape for scoring (compose an IVF cell equi-join in front exactly as
    ivf_pq_topk does when the corpus outgrows one pass)."""
    coded = pq_encode(candidates, books, cand_id, vec_col, m=m, dim=dim)
    return pq_topk_from_codes(
        queries, coded, books, query_id, "c_id", vec_col,
        m=m, dim=dim, k=k, round_digits=round_digits,
    )


def _subdist_tables(
    vec_name: str,
    m: int,
    sub: int,
    table: str = "books",
    sliced_table: bool = False,
    cast_x: bool = True,
    cast_y: bool = False,
) -> Column:
    """The m x n_centroids exact sub-distance table of `vec_name` vs an
    in-scope one-row centroid table, as ONE SQL expression: element [s][j]
    is the house sequential double fold over (slice s of the vector minus
    centroid j's slice-s sub-vector) squared.

    ``table`` names the codebook column: per-subspace sub-vectors indexed
    by s (``books``, the train_pq_codebooks layout; sliced_table=False) or
    full-width vectors each sliced per subspace (``cvecs``/``rvecs``, the
    training-free convention; sliced_table=True).  cast_x/cast_y add the
    CAST(.. AS DOUBLE) on raw float inputs exactly where the historical
    per-site lambdas had them, so every produced double is bit-identical.

    One F.expr instead of an m-way unrolled Python loop of nested HOF
    builders (r19 optimization, guide §1.2 driver-side analog of §7.3
    "planning time itself can become the bottleneck"): the unrolled form
    paid hundreds of py4j round trips and an m x larger Catalyst tree per
    call site for the same values — measured 557 ms -> 178 ms to build
    one coding site at m=8, with the same fold results bit-for-bit (the
    sequence-loop subspace index replays the identical zip_with/aggregate
    folds in the identical order; 0 mismatches over every (vec, s, j) at
    sf0.01).  Execution cost is unchanged: the same m x n_centroids
    interpreted folds per row, now driven by a runtime sequence instead
    of m sibling expressions."""
    x = "CAST(x AS DOUBLE)" if cast_x else "x"
    y = "CAST(y AS DOUBLE)" if cast_y else "y"
    if sliced_table:
        entries = table
        rhs = f"slice(cv, s_i * {sub} + 1, {sub})"
    else:
        entries = f"element_at({table}, s_i + 1)"
        rhs = "cv"
    return F.expr(
        f"transform(sequence(0, {m - 1}), s_i -> "
        f"transform({entries}, cv -> "
        f"aggregate(zip_with(slice({vec_name}, s_i * {sub} + 1, {sub}), {rhs}, "
        f"(x, y) -> ({x} - {y}) * ({x} - {y})), "
        f"0.0D, (acc, v) -> acc + v)))"
    )


def pq_encode(
    candidates: DataFrame,
    books: DataFrame,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """WRITE-time PQ encoder: (c_id, codes) rows — each vector's m
    per-subspace nearest-centroid codes against an explicit codebook
    frame (train_pq_codebooks' one-row output).  Materialize this (e.g.
    a parquet table written at ingest, codes + the books row alongside)
    and serve with pq_topk_from_codes: the serving scan then reads m
    small ints (~8 B at m=8) per vector and never touches — never even
    SCANS — the float embedding column, the PQ analogue of
    int8_topk_from_codes' quantize-on-write layout at a further 8x
    narrower payload.

    Determinism: identical coding expressions to pq_topk_books
    (first-minimum array_position per subspace), so codes written by
    this encoder score identically to inline coding."""
    sub = _split(dim, m, "pq_encode")
    return _pq_encode(candidates, books, cand_id, vec_col, m, sub)


def _pq_encode(
    candidates: DataFrame,
    books: DataFrame,
    cand_id: str,
    vec_col: str,
    m: int,
    sub: int,
    **layout,
) -> DataFrame:
    """(c_id, codes) against the one-row codebook frame ``books``."""
    return (
        candidates.select(F.col(cand_id).alias("c_id"), F.col(vec_col).alias("c_vec"))
        .crossJoin(F.broadcast(books))
        .select("c_id", _pq_codes("c_vec", m, sub, **layout).alias("codes"))
    )


def pq_topk_from_codes(
    queries: DataFrame,
    coded: DataFrame,
    books: DataFrame,
    query_id: str,
    cand_id: str = "c_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """PQ ADC top-k over PRE-ENCODED candidates — the quantize-on-WRITE
    serving path: ``coded`` is pq_encode output (or the parquet table it
    was written to), so the corpus scan carries (id, m codes) only;
    queries arrive as raw vectors at query time and precompute their
    m x n_centroids sub-distance table once against the same ``books``
    row.  Scoring, ranking, and tie-breaks are pq_topk_books' exact
    expressions — identical results to inline coding (asserted by the
    parquet round-trip test), with the coding cost paid once at write.

    Scale: the serving plan has ONE one-row broadcast (books, query side
    only) and the q_cosine_topk brute broadcast shape over ~8 B/vector;
    compose an IVF cell equi-join in front exactly as ivf_pq_topk does
    when the corpus outgrows one pass."""
    sub = _split(dim, m, "pq_topk_from_codes")
    c = coded.select(F.col(cand_id).alias("c_id"), F.col("codes").alias("codes"))
    return _pq_from_codes(queries, c, books, query_id, vec_col, m, sub, k, round_digits)


def _pq_from_codes(
    queries: DataFrame,
    c: DataFrame,
    books: DataFrame,
    query_id: str,
    vec_col: str,
    m: int,
    sub: int,
    k: int,
    round_digits: int | None,
    **layout,
) -> DataFrame:
    """Brute ADC top-k of coded candidates ``c`` (c_id, codes): each
    query's sub-distance table against ``books``, broadcast."""
    q = (
        queries.select(F.col(query_id).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .localCheckpoint(eager=False)
        .crossJoin(F.broadcast(books))
        .select("q_id", _subdist_tables("q_vec", m, sub, **layout).alias("dtab"))
    )
    return _adc_topk(_pairs(c, F.broadcast(q)), m, k, round_digits)


def ivf_pq_topk_books(
    queries: DataFrame,
    candidates: DataFrame,
    books: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF-PQ against an EXPLICIT fine-codebook frame (train_pq_codebooks'
    one-row ``books`` output): ivf_pq_topk's exact plan shape — coarse
    cells prune candidates to each query's ``nprobe`` nearest, surviving
    pairs score by PQ asymmetric distance — with the fine-codebook attach
    swapped from the training-free convention to a supplied table, the
    composition pq_topk_books' docstring promises.  The coarse quantizer
    stays the training-free lowest-id convention (ivf_topk's), so the
    delta a trained fine codebook buys is isolated and measurable.

    Scale: two one-row broadcasts (coarse centroids, fine codebooks),
    both assignments projections over the candidate scan, one hash
    equi-join on cell id, m lookups per surviving pair."""
    sub = _split(dim, m, "ivf_pq_topk_books")
    return _ivf_pq(
        queries, candidates, books, query_id, cand_id, vec_col,
        n_cells, nprobe, m, sub, k, round_digits,
    )


def ivf_pq_topk_trained(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    k: int = 3,
    n_iter: int = 2,
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF-PQ with TRAINED per-subspace fine codebooks — the full
    production composition: the cell equi-join prunes (~n_cells/nprobe),
    and the surviving pairs score against k-means codebooks instead of
    the memorize-16-rows convention.  Same checkpointed one-row codebook
    frame as pq_topk_trained; the coarse quantizer stays training-free
    so the fine-codebook delta is the only variable.

    Measured recall@3 vs exact squared-L2 (scripts/pq_recall.py,
    sf0.01, 64 queries): training-free IVF-PQ 0.109 -> trained 0.167 (a
    1.5x lift; flat trained PQ reaches 0.203, so the cell pruning
    attenuates but does not erase the codebook gain).  Note training-free
    IVF-PQ (0.109) measures ABOVE training-free flat PQ (0.089) — the
    documented ADC non-monotonicity: pruning removes spurious
    artificially-low-ADC candidates too."""
    books = train_pq_codebooks(
        candidates, cand_id, vec_col, m=m, dim=dim,
        n_centroids=n_centroids, n_iter=n_iter,
    ).localCheckpoint(eager=False)
    return ivf_pq_topk_books(
        queries, candidates, books, query_id, cand_id, vec_col,
        n_cells=n_cells, nprobe=nprobe, m=m, dim=dim, k=k,
        round_digits=round_digits,
    )


def pq_topk_trained(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    k: int = 3,
    n_iter: int = 2,
    round_digits: int | None = 4,
) -> DataFrame:
    """PQ ADC top-k with PER-SUBSPACE K-MEANS-TRAINED codebooks — the
    stated production upgrade over pq_topk's training-free lowest-id
    convention, through the identical plan shape (train_pq_codebooks +
    pq_topk_books).  The one-row codebook frame is lazily
    localCheckpoint-ed: one materialization of the m training chains
    serves both the candidate-coding and query-table sides, the scoring
    plan stays as shallow as pq_topk's, and the checkpointed leaf
    sidesteps the self-join HOF-rebind hazard of re-deriving the
    codebooks from the candidate scan on both sides (see
    embedding_dup_pairs).

    Measured recall lift (scripts/pq_recall.py — sf0.01 embeddings, 500
    candidates, recall@3 vs exact squared-L2 brute force, same round-4 +
    id tie-breaks both sides): at the same m=8 x 16-centroid budget,
    training-free pq_topk 0.125 -> trained 0.25 over 16 queries, and
    0.089 -> 0.203 over 64 queries — a consistent ~2.3x lift from the
    codebook modeling the distribution instead of memorizing the first
    16 rows.  A third Lloyd's iteration measured flat-to-slightly-lower
    (0.193 at 64 queries): ADC recall is NOT monotone in codebook
    quality per the ann_recall non-monotonicity note, and 2 iterations
    is the measured sweet spot here.  IVF-PQ composition: swap the
    fine-codebook attach in ivf_pq_topk the same way."""
    books = train_pq_codebooks(
        candidates, cand_id, vec_col, m=m, dim=dim,
        n_centroids=n_centroids, n_iter=n_iter,
    ).localCheckpoint(eager=False)
    return pq_topk_books(
        queries, candidates, books, query_id, cand_id, vec_col,
        m=m, dim=dim, k=k, round_digits=round_digits,
    )


def ivf_pq_residual_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """RESIDUAL IVF-PQ — the literature's actual IVF-PQ layout (Jegou et
    al. 2011), completing the upgrade path ivf_pq_topk's docstring
    documents: PQ quantizes the RESIDUAL vec - coarse_centroid[cell]
    instead of the raw vector.  Residuals are centered near zero and far
    lower-variance than raw vectors, so the same m x n_centroids budget
    spends its codewords on the part of the vector the coarse quantizer
    did NOT explain.  The metric is unchanged — within a probed cell,
    q_res - c_res = (q - centroid) - (c - centroid) = q - c — so ADC
    over residuals approximates the same squared-L2, with smaller
    quantization error.

    Training-free determinism (the house convention): the residual
    codebook is the residuals of candidates ranked n_cells+1 ..
    n_cells+n_centroids in id order (each w.r.t. its OWN nearest cell;
    the first n_cells ids are skipped because they ARE the coarse
    centroids — their residuals are identically zero and would waste
    codebook entries).  Per-subspace k-means over residuals plugs into
    the same slot exactly as train_pq_codebooks does for the raw form.

    The query side pays the residual price: the sub-distance table is
    per (query, probed cell) — nprobe tables per query instead of one —
    which is the classic residual-PQ trade and stays O(queries x nprobe
    x m x n_centroids), corpus-size-independent.

    Scale: identical join shapes to ivf_pq_topk (two one-row broadcasts,
    cell hash equi-join, m lookups per surviving pair)."""
    sub = _split(dim, m, "ivf_pq_residual_topk")
    coarse = _lowest_id_vecs(candidates, cand_id, vec_col, n_cells, "coarse_vecs")
    # residual codebook: ranks n_cells+1 .. n_cells+n_centroids in id
    # order, each residualized against its own nearest cell
    rank_w = Window.orderBy(F.col("c_id"))
    books = (
        _residual_cells(
            candidates.orderBy(cand_id).limit(n_cells + n_centroids), coarse, cand_id, vec_col
        )
        .withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") > n_cells)
        .select(F.col("c_id"), _resid(F.col("_vec")).alias("rvec"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("c_id"), F.col("rvec")))
                ),
                lambda s: s.rvec,
            ).alias("rvecs")
        )
        .localCheckpoint(eager=False)
    )
    c = _residual_cells(candidates, coarse, cand_id, vec_col).select(
        "c_id", F.col("cell").alias("c_cell"), _resid(F.col("_vec")).alias("c_res")
    )
    return _ivf_pq_residual(
        queries, c, coarse, books, query_id, vec_col, nprobe, m, sub, k, round_digits,
        table="rvecs", sliced_table=True, cast_x=False, cast_y=False,
    )


def _resid(vec: Column) -> Column:
    """Residual of ``vec`` vs the row's own ``cell`` centroid (requires
    coarse_vecs in scope)."""
    return F.zip_with(
        vec,
        F.element_at(F.col("coarse_vecs"), F.col("cell").cast("int")),
        lambda x, y: x.cast("double") - y.cast("double"),
    )


def _residual_cells(
    df: DataFrame, coarse: DataFrame, cand_id: str, vec_col: str
) -> DataFrame:
    """Candidates as (c_id, _vec) with their nearest coarse ``cell``."""
    return _with_cell_dists(
        df.select(F.col(cand_id).alias("c_id"), F.col(vec_col).alias("_vec")), coarse, "_vec"
    ).withColumn("cell", _nearest("cdists"))


def _ivf_pq_residual(
    queries: DataFrame,
    c: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    query_id: str,
    vec_col: str,
    nprobe: int,
    m: int,
    sub: int,
    k: int,
    round_digits: int | None,
    **layout,
) -> DataFrame:
    """Residual IVF-PQ scoring of candidate residuals ``c`` (c_id,
    c_cell, c_res) against the residual codebook frame ``books``: one
    sub-distance table per (query, probed cell), over the query's
    residual to that cell."""
    q = _with_cell_dists(
        queries.select(F.col(query_id).alias("q_id"), F.col(vec_col).alias("_vec"))
        .localCheckpoint(eager=False),
        coarse,
        "_vec",
    )
    q = _probe(q, "cdists", ["q_id", "_vec", "coarse_vecs"], nprobe, cell="cell").select(
        "q_id", F.col("cell").alias("q_cell"), _resid(F.col("_vec")).alias("q_res")
    )
    return _ivf_adc_topk(c, q, books, "c_res", "q_res", m, sub, k, round_digits, **layout)


def ivf_pq_residual_topk_trained(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    n_iter: int = 2,
    k: int = 3,
    round_digits: int | None = 4,
) -> DataFrame:
    """Residual IVF-PQ with TRAINED residual codebooks — the composition
    ivf_pq_residual_topk's honest-negative docstring calls for: its
    measured no-lift result (recall 0.104 ~= raw training-free 0.109)
    is a codebook-quality bind, because residual gains in the literature
    (Jegou et al. 2011) assume codebooks FITTED to the low-variance
    residual distribution.  Here train_pq_codebooks runs over the
    residuals themselves (vec - coarse_centroid[cell], each vs the
    row's own nearest cell), so the m x n_centroids budget is spent by
    per-subspace Lloyd's on exactly the distribution being quantized.

    Training set = every candidate EXCEPT the n_cells lowest ids (they
    ARE the coarse centroids, so their residuals are identically zero —
    including them would seed and pull centroids toward a zero point
    that represents no real residual mass; the same rationale as the
    training-free form's id-window skip, extended to training).  The
    excluded rows still get CODED like everyone else.  Everything stays
    bit-deterministic: residuals are exact double subtractions, training
    is the clustering module's ordered-fold machinery per subspace, so
    the full chain — coarse assign -> residualize -> m k-means chains ->
    code -> per-probe tables -> ADC — remains DuckDB-oracle-checkable.

    The query side pays the classic residual price (one sub-distance
    table per probed cell, O(queries x nprobe x m x n_centroids) —
    corpus-size-independent).

    Scale: identical join shapes to ivf_pq_residual_topk (two one-row
    broadcasts, cell hash equi-join, m lookups per surviving pair);
    training adds m bounded k-means passes over the residual projection,
    paid once per index build (quantize-on-write), and the trained books
    collapse to ONE localCheckpoint-ed broadcast row so the scoring plan
    is as shallow as the training-free form's."""
    sub = _split(dim, m, "ivf_pq_residual_topk_trained")
    # ONE TakeOrdered pass yields both the coarse centroids and the
    # training-exclusion threshold (max of the n_cells lowest ids);
    # localCheckpoint materializes the one-row frame once so the two
    # projections below never re-run the corpus pass
    head = _lowest_id_vecs(
        candidates, cand_id, vec_col, n_cells, "coarse_vecs", F.max(F.col(cand_id)).alias("_mx")
    ).localCheckpoint(eager=False)
    coarse = head.select("coarse_vecs")
    thresh = head.select("_mx")

    # one residual pass serves training AND coding; localCheckpoint cuts
    # the coarse-attach lineage so the m-subspace training loop and the
    # scoring plan both start from a flat frame (the self-join HOF-rebind
    # discipline — see embedding_dup_pairs)
    res_all = (
        _residual_cells(candidates, coarse, cand_id, vec_col)
        .select("c_id", F.col("cell").alias("c_cell"), _resid(F.col("_vec")).alias("rvec"))
        .localCheckpoint(eager=False)
    )
    # exclude the zero-residual coarse-centroid rows from TRAINING only
    # (thresh is a one-row broadcast, never collected)
    train = (
        res_all.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_id") > F.col("_mx"))
        .select("c_id", "rvec")
    )
    books = train_pq_codebooks(
        train, "c_id", "rvec", m=m, dim=dim, n_centroids=n_centroids, n_iter=n_iter
    ).localCheckpoint(eager=False)
    return _ivf_pq_residual(
        queries, res_all.withColumnRenamed("rvec", "c_res"), coarse, books,
        query_id, vec_col, nprobe, m, sub, k, round_digits, cast_x=False,
    )
