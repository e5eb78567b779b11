"""Similarity operators: the Arrow/numpy cosine fast path must agree with
the exact fold-based cosine to float tolerance, and the approximate
percentile sketch must respect its error bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pimdb_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def test_pandas_cosine_matches_fold(spark):
    from pimdb_spark.operators.similarity import cosine, cosine_pandas

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") == F.col("ib") - 1)
    both = pairs.select(
        "ia",
        cosine(F.col("va"), F.col("vb")).alias("cos_fold"),
        cosine_pandas("va", "vb").alias("cos_np"),
    ).collect()
    assert len(both) > 100
    for r in both:
        assert abs(r.cos_fold - r.cos_np) < 1e-9


def test_approx_percentile_error_bound(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    r = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).collect()[0]
    assert abs(r.approx - r.exact) / r.exact < 0.01


def test_int8_quantize_codes_and_zero_vector(spark):
    from pimdb_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r.vec_id: r for r in int8_quantize(df).collect()}
    # scale = max|x|/127; codes = round-half-up(x/scale) clamped
    assert rows[1].codes == [127, -63, 32, 0]  # -63.5 -> floor(-63.0)= -63? see below
    assert abs(rows[1].scale - 1.0 / 127.0) < 1e-15
    # zero vector: all-zero codes, zero scale, zero norm
    assert rows[2].codes == [0, 0, 0, 0]
    assert rows[2].scale == 0.0 and rows[2].nrm == 0.0


def test_int8_topk_tracks_exact_cosine(spark):
    """Quantized ranks agree with exact cosine ranks on well-separated
    vectors, and the quantized cosine is within the int8 error band of
    the exact one."""
    import math
    import random

    from pimdb_spark.operators.similarity import cosine_topk, int8_ann_topk

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    df2 = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    exact = {
        (r.q_id, r.c_id): r.cos
        for r in cosine_topk(q, df2, "vec_id", "vec_id", k=40).collect()
    }
    quant = {
        (r.q_id, r.c_id): r.qcos
        for r in int8_ann_topk(
            df.filter(F.col("vec_id") < 3), df2, "vec_id", "vec_id", k=40
        ).collect()
    }
    assert set(exact) == set(quant)
    for key, cos in exact.items():
        # int8 relative quantization error: ~1/127 per side on the dot
        assert abs(quant[key] - cos) < 0.05, (key, cos, quant[key])
    # exactness spot check against a python model
    vecs = {i: v for i, v in rows}
    for (qi, ci), qcos in list(quant.items())[:20]:
        a, b = vecs[qi], vecs[ci]
        sa, sb = max(map(abs, a)) / 127.0, max(map(abs, b)) / 127.0
        ca = [max(-127, min(127, math.floor(x * 127.0 / max(map(abs, a)) + 0.5))) for x in a]
        cb = [max(-127, min(127, math.floor(x * 127.0 / max(map(abs, b)) + 0.5))) for x in b]
        idot = sum(x * y for x, y in zip(ca, cb))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        want = round(idot * sa * sb / (na * nb), 4)
        assert abs(qcos - want) < 1.0001e-4, (qi, ci, qcos, want)


def test_int8_quantize_on_write_roundtrip(spark, tmp_path):
    """The quantize-on-write path: int8_quantize materialized to parquet,
    top-k served from the codes table alone — identical results to
    quantizing inline from the float vectors, and the query's scan never
    reads an embedding column (it doesn't exist in the codes table)."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators.similarity import (
        int8_ann_topk,
        int8_quantize,
        int8_topk_from_codes,
    )

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "emb_int8")
    int8_quantize(emb).write.mode("overwrite").parquet(path)
    codes = spark.read.parquet(path)
    assert "embedding" not in codes.columns  # floats never ship at query time

    from_codes = {
        (r.q_id, r.rank): (r.c_id, r.qcos)
        for r in int8_topk_from_codes(
            codes.filter(F.col("vec_id") < 8), codes, k=5
        ).collect()
    }
    inline = {
        (r.q_id, r.rank): (r.c_id, r.qcos)
        for r in int8_ann_topk(
            load(spark, SF, "embeddings").filter(F.col("vec_id") < 8),
            load(spark, SF, "embeddings"),
            "vec_id",
            "vec_id",
            k=5,
        ).collect()
    }
    assert from_codes == inline and len(from_codes) == 40


def test_pq_topk_matches_python_model(spark):
    """pq_topk vs a from-scratch python PQ/ADC model: same codebooks
    (lowest-id sub-vectors), same first-minimum code assignment, same
    ADC sums — full ranking equality on the sf0.001 embeddings."""
    import math

    from pimdb_spark.catalog import load
    from pimdb_spark.operators.similarity import pq_topk

    emb = load(spark, SF, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    m, sub, nc, k = 8, 8, 16, 3
    cb = [vecs[i] for i in sorted(vecs)[:nc]]

    def ssq(a, b, s):
        t = 0.0
        for i in range(s * sub, (s + 1) * sub):
            d = a[i] - b[i]
            t += d * d
        return t

    codes = {
        cid: [
            min(range(nc), key=lambda j: (ssq(v, cb[j], s), j))
            for s in range(m)
        ]
        for cid, v in vecs.items()
    }
    expected = {}
    for qid in range(8):
        scored = sorted(
            (
                (round(sum(ssq(vecs[qid], cb[codes[cid][s]], s) for s in range(m)), 4), cid)
                for cid in vecs
                if cid != qid
            )
        )[:k]
        for rank, (adc, cid) in enumerate(scored, 1):
            expected[(qid, rank)] = (cid, adc)

    q = load(spark, SF, "embeddings").filter(F.col("vec_id") < 8)
    got = {
        (r.q_id, r.rank): (r.c_id, r.adc)
        for r in pq_topk(q, emb, "vec_id", "vec_id", k=k).collect()
    }
    assert got == expected


def test_ivf_pq_is_cell_restricted_pq(spark):
    """IVF-PQ = brute PQ restricted to the query's probed coarse cells:
    every returned pair's ADC equals the brute-PQ ADC for that pair, and
    every returned candidate lives in one of the query's 2 probed
    cells (python coarse model)."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators.similarity import ivf_pq_topk, pq_topk

    emb = load(spark, SF, "embeddings")
    n = emb.count()
    q = load(spark, SF, "embeddings").filter(F.col("vec_id") < 16)
    got = {
        (r.q_id, r.c_id): r.adc
        for r in ivf_pq_topk(q, emb, "vec_id", "vec_id", k=3).collect()
    }
    full = {
        (r.q_id, r.c_id): r.adc
        for r in pq_topk(
            load(spark, SF, "embeddings").filter(F.col("vec_id") < 16),
            emb, "vec_id", "vec_id", k=n,
        ).collect()
    }
    assert got and all(full[key] == adc for key, adc in got.items())

    # coarse cells via a python model (first-minimum over the 8 lowest-id
    # vectors), checking the candidate really was in a probed cell
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    cb = [vecs[i] for i in sorted(vecs)[:8]]

    def sq(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cell(v):
        d = [sq(v, c) for c in cb]
        return d.index(min(d))

    def probes(v):
        d = sorted((sq(v, c), i) for i, c in enumerate(cb))
        return {i for _, i in d[:2]}

    for (qid, cid) in got:
        assert cell(vecs[cid]) in probes(vecs[qid]), (qid, cid)


def test_ann_recall_semantics_and_measured_ladder(spark):
    """ann_recall: exact-vs-exact is 1.0, a dropped query surfaces with
    n_hits=0, and the measured LSH/IVF recalls on the real testdata are
    sane (in (0, 1]) with the brute int8 scorer beating cell-pruned IVF."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")

    def queries():
        return load(spark, sf, "embeddings").filter(F.col("vec_id") < 16)

    exact = S.cosine_topk(queries(), emb, "vec_id", "vec_id", "embedding", k=3)
    # identity: recall of the exact result against itself is 1.0
    perfect = S.ann_recall(exact, exact, "q_id", "c_id", k=3)
    assert all(r.recall == 1.0 for r in perfect.collect())

    # dropout: a query absent from approx appears with zero hits
    dropped = exact.filter(F.col("q_id") != 0)
    rec = {r.q_id: r.n_hits for r in S.ann_recall(dropped, exact, k=3).collect()}
    assert rec[0] == 0 and all(v == 3 for q, v in rec.items() if q != 0)

    lsh = S.lsh_ann_topk(queries(), emb, "vec_id", "vec_id", "embedding", k=3, n_bits=8)
    ivf = S.ivf_topk(queries(), emb, "vec_id", "vec_id", "embedding",
                     n_centroids=8, nprobe=2, k=3)
    pq = S.pq_topk(queries(), emb, "vec_id", "vec_id", "embedding",
                   m=8, dim=64, n_centroids=16, k=3)
    ivfpq = S.ivf_pq_topk(queries(), emb, "vec_id", "vec_id", "embedding",
                          n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3)
    m_lsh = S.ann_recall(lsh, exact, k=3).agg(F.avg("recall")).first()[0]
    m_ivf = S.ann_recall(ivf, exact, k=3).agg(F.avg("recall")).first()[0]
    m_pq = S.ann_recall(pq, exact, k=3).agg(F.avg("recall")).first()[0]
    m_ivfpq = S.ann_recall(ivfpq, exact, k=3).agg(F.avg("recall")).first()[0]
    for m in (m_lsh, m_ivf, m_pq, m_ivfpq):
        assert 0.0 <= m <= 1.0
    # NOTE a tempting invariant that is FALSE: "IVF pruning in front of
    # PQ can only remove candidates, so IVF-PQ recall <= PQ recall".
    # Candidate-set monotonicity implies recall monotonicity only when
    # the scorer ranks consistently with the ground-truth metric (the
    # multitable-LSH case, which scores by the exact rounded cosine).
    # PQ scores by quantized ADC distance: a spurious candidate with an
    # artificially low ADC can crowd a true neighbor out of the top-k,
    # and pruning that candidate RAISES recall — observed on this very
    # fixture (IVF-PQ 0.1875 > PQ 0.1667 at sf0.001).


def test_lsh_multitable_recall_monotone_and_single_table_parity(spark):
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")

    def queries():
        return load(spark, sf, "embeddings").filter(F.col("vec_id") < 16)

    exact = S.cosine_topk(queries(), emb, "vec_id", "vec_id", "embedding", k=3)

    # L=1 must equal the single-table operator's result set exactly
    single = {
        (r.q_id, r.rank, r.c_id, r.cos)
        for r in S.lsh_ann_topk(
            queries(), emb, "vec_id", "vec_id", "embedding", k=3, n_bits=8
        ).select("q_id", "rank", "c_id", "cos").collect()
    }
    multi1 = {
        (r.q_id, r.rank, r.c_id, r.cos)
        for r in S.lsh_multitable_topk(
            queries(), emb, "vec_id", "vec_id", "embedding",
            k=3, n_bits=8, n_tables=1,
        ).collect()
    }
    assert multi1 == single

    # recall is monotone non-decreasing in the table count (candidate
    # sets only ever grow)
    recalls = []
    for L in (1, 2, 4, 8):
        approx = S.lsh_multitable_topk(
            queries(), emb, "vec_id", "vec_id", "embedding",
            k=3, n_bits=4, n_tables=L,
        )
        recalls.append(
            S.ann_recall(approx, exact, k=3).agg(F.avg("recall")).first()[0]
        )
    assert all(b >= a - 1e-12 for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] > recalls[0]


def test_lsh_multitable_rejects_slice_overrun():
    """n_tables * n_bits > dim must raise: table t reads dims
    t*n_bits+1..(t+1)*n_bits and element_at past the vector end is NULL
    under non-ANSI Spark — every tail table would silently collapse
    toward bucket 0 instead of failing loudly (the pq_topk dim check
    discipline)."""
    import pytest

    from pimdb_spark.operators import similarity as S

    with pytest.raises(ValueError, match="exceeds dim"):
        S.lsh_multitable_topk(
            None, None, "vec_id", "vec_id", "embedding",
            k=3, n_bits=8, n_tables=16, dim=64,
        )
    with pytest.raises(ValueError, match="exceeds dim"):
        S.lsh_multitable_topk(
            None, None, "vec_id", "vec_id", "embedding",
            k=3, n_bits=4, n_tables=4, dim=8,
        )


def test_ann_recall_divides_by_exact_set_size(spark):
    """Recall denominates by the PER-QUERY exact-set size, not the nominal
    k: a query with only 2 true neighbors and both recovered scores 1.0,
    not the saturated 2/3 a by-k denominator would report."""
    from pimdb_spark.operators import similarity as S

    exact = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20), (1, 21), (1, 22)], ["q_id", "c_id"]
    )
    approx = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 20), (1, 21)], ["q_id", "c_id"]
    )
    got = {r.q_id: (r.n_hits, r.recall) for r in
           S.ann_recall(approx, exact, "q_id", "c_id", k=3).collect()}
    assert got[0] == (2, 1.0)          # 2-of-2, NOT 2-of-k
    assert got[1] == (2, 2.0 / 3.0)    # 2-of-3


def test_train_pq_codebooks_shape_and_python_model(spark):
    """Trained codebooks: books is m x n_centroids x (dim/m); subspace
    s's codebook equals a python per-subspace Lloyd's run (init = 16
    lowest-id sub-vectors, one id-ordered-fold update) bit-for-bit."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    m, dim, nc, sub = 8, 64, 16, 8
    books = S.train_pq_codebooks(emb, "vec_id", "embedding",
                                 m=m, dim=dim, n_centroids=nc).collect()[0].books
    assert len(books) == m
    assert all(len(b) == nc for b in books)
    assert all(len(cv) == sub for b in books for cv in b)

    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()
    )
    for s in range(m):
        subs = [(vid, v[s * sub:(s + 1) * sub]) for vid, v in rows]
        cents = [list(v) for _, v in subs[:nc]]  # lowest-id init, cid order
        # one assignment + one exact ordered-fold update (n_iter=2)
        assign = {}
        for vid, v in subs:
            d = [
                (sum_fold(v, c), cid) for cid, c in enumerate(cents)
            ]
            assign[vid] = min(d)[1]
        new = []
        for cid in range(nc):
            members = [v for vid, v in subs if assign[vid] == cid]
            if not members:
                new.append(cents[cid])
                continue
            acc = [0.0] * sub
            for v in members:  # id order (subs sorted by vec_id)
                acc = [a + x for a, x in zip(acc, v)]
            new.append([a / len(members) for a in acc])
        assert books[s] == new, f"subspace {s}"


def sum_fold(a, b):
    """Left-to-right squared-L2 fold matching the engine expression."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def test_pq_trained_beats_training_free_recall(spark):
    """The measured claim behind q_pq_trained_topk: at the same
    m x n_centroids budget, trained codebooks recall at least as much of
    the exact-L2 top-3 as the training-free convention on the testdata
    (measured 0.125 -> 0.25 at sf0.01; asserted non-strictly here at
    sf0.001 to stay robust to fixture regeneration)."""
    from pyspark.sql import Window

    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"

    def emb():
        return load(spark, sf, "embeddings").select("vec_id", "embedding")

    def qs():
        return emb().filter(F.col("vec_id") < 16)

    q = qs().select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).localCheckpoint(eager=False)
    c = emb().select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d"), "c_id")
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                F.round(S.sqdist(F.col("q_vec"), F.col("c_vec")), 4).alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id")
    )
    free = S.pq_topk(qs(), emb(), "vec_id", "vec_id", "embedding",
                     m=8, dim=64, n_centroids=16, k=3)
    trained = S.pq_topk_trained(qs(), emb(), "vec_id", "vec_id", "embedding",
                                m=8, dim=64, n_centroids=16, k=3)
    r_free = S.ann_recall(free, exact, k=3).agg(F.avg("recall")).first()[0]
    r_trained = S.ann_recall(trained, exact, k=3).agg(F.avg("recall")).first()[0]
    assert 0.0 <= r_free <= 1.0 and 0.0 <= r_trained <= 1.0
    assert r_trained >= r_free, (r_free, r_trained)


def test_books_plumbing_reduces_to_training_free_at_n_iter_1(spark):
    """n_iter=1 training = zero Lloyd's updates = the init centroids = the
    n_centroids lowest-id sub-vectors — EXACTLY the training-free
    convention.  So pq_topk_books/ivf_pq_topk_books over those books must
    reproduce pq_topk/ivf_pq_topk row-for-row: the explicit-codebook
    plumbing changes nothing but the codebook source."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"

    def emb():
        return load(spark, sf, "embeddings").select("vec_id", "embedding")

    def qs(n):
        return emb().filter(F.col("vec_id") < n)

    books = S.train_pq_codebooks(
        emb(), "vec_id", "embedding", m=8, dim=64, n_centroids=16, n_iter=1
    ).localCheckpoint(eager=False)

    base_pq = {
        tuple(r) for r in S.pq_topk(
            qs(8), emb(), "vec_id", "vec_id", "embedding",
            m=8, dim=64, n_centroids=16, k=3,
        ).collect()
    }
    via_books = {
        tuple(r) for r in S.pq_topk_books(
            qs(8), emb(), books, "vec_id", "vec_id", "embedding",
            m=8, dim=64, k=3,
        ).collect()
    }
    assert via_books == base_pq

    base_ivfpq = {
        tuple(r) for r in S.ivf_pq_topk(
            qs(16), emb(), "vec_id", "vec_id", "embedding",
            n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3,
        ).collect()
    }
    via_books_ivf = {
        tuple(r) for r in S.ivf_pq_topk_books(
            qs(16), emb(), books, "vec_id", "vec_id", "embedding",
            n_cells=8, nprobe=2, m=8, dim=64, k=3,
        ).collect()
    }
    assert via_books_ivf == base_ivfpq


def test_residual_trained_reduces_to_training_free_at_n_iter_1(spark):
    """n_iter=1 residual training = zero Lloyd's updates = the init
    centroids = the residuals of the n_centroids lowest-id TRAINING rows
    (ids ranked n_cells+1..n_cells+n_centroids, since training excludes
    the n_cells coarse-centroid rows) — EXACTLY the training-free
    residual convention of ivf_pq_residual_topk.  So the trained form at
    n_iter=1 must reproduce it row-for-row: the k-means plumbing changes
    nothing but the codebook source."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"

    def emb():
        return load(spark, sf, "embeddings").select("vec_id", "embedding")

    def qs():
        return emb().filter(F.col("vec_id") < 16)

    base = {
        tuple(r) for r in S.ivf_pq_residual_topk(
            qs(), emb(), "vec_id", "vec_id", "embedding",
            n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, k=3,
        ).collect()
    }
    trained_init_only = {
        tuple(r) for r in S.ivf_pq_residual_topk_trained(
            qs(), emb(), "vec_id", "vec_id", "embedding",
            n_cells=8, nprobe=2, m=8, dim=64, n_centroids=16, n_iter=1, k=3,
        ).collect()
    }
    assert trained_init_only == base
    assert len(base) == 16 * 3


def test_residual_trained_books_exclude_zero_residuals(spark):
    """The residual training set must exclude the n_cells coarse-centroid
    rows: their residuals are identically zero, and a zero vector seeded
    into the codebook would represent no real residual mass.  At
    n_iter=1 the books ARE the init rows, so assert none of them is the
    zero sub-vector."""
    from pimdb_spark.catalog import load
    from pimdb_spark.operators import similarity as S
    from pimdb_spark.operators.similarity import train_pq_codebooks

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    coarse_ids = [r[0] for r in emb.orderBy("vec_id").limit(8).select("vec_id").collect()]
    thresh = max(coarse_ids)
    # replicate the operator's residual + training-set construction
    coarse = emb.orderBy("vec_id").limit(8).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("vec_id").alias("cid"),
                                                 F.col("embedding").alias("cvec")))),
            lambda s: s.cvec,
        ).alias("coarse_vecs")
    )
    withc = (
        emb.crossJoin(F.broadcast(coarse))
        .withColumn("cdists", F.transform(
            F.col("coarse_vecs"),
            lambda cv: F.aggregate(
                F.zip_with(F.col("embedding"), cv,
                           lambda x, y: (x.cast("double") - y.cast("double"))
                                        * (x.cast("double") - y.cast("double"))),
                F.lit(0.0), lambda a, v: a + v),
        ))
        .withColumn("cell", F.array_position("cdists", F.array_min("cdists")))
        .select(
            "vec_id",
            F.zip_with(
                F.col("embedding"),
                F.element_at(F.col("coarse_vecs"), F.col("cell").cast("int")),
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("rvec"),
        )
        .filter(F.col("vec_id") > thresh)
    )
    books = train_pq_codebooks(
        withc, "vec_id", "rvec", m=8, dim=64, n_centroids=16, n_iter=1
    ).first()["books"]
    for sub_books in books:
        for cb in sub_books:
            assert any(abs(x) > 0 for x in cb), "zero residual seeded a codeword"


def test_pq_rerank_subset_order_and_exact_limit(spark):
    """pq_adc_rerank_topk: (a) the re-ranked result is a subset of the ADC
    shortlist with dense ranks ordered by the exact score; (b) at
    shortlist >= corpus the l2 re-rank REDUCES to exact brute-force L2
    top-k (the equivalence-at-the-limit gate: stage 2 alone is exact, so
    any recall loss is attributable to shortlist membership)."""
    from pyspark.sql import Window

    from pimdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 4)

    short = {
        (r.q_id, r.c_id)
        for r in S.pq_topk(
            q, emb, "vec_id", "vec_id", "embedding",
            m=8, dim=64, n_centroids=16, k=12,
        ).collect()
    }
    rer = S.pq_adc_rerank_topk(
        q, emb, "vec_id", "vec_id", "embedding",
        m=8, dim=64, n_centroids=16, shortlist=12, k=3,
    ).collect()
    assert {(r.q_id, r.c_id) for r in rer} <= short
    per_q = {}
    for r in sorted(rer, key=lambda r: (r.q_id, r.rank)):
        per_q.setdefault(r.q_id, []).append(r)
    for rows in per_q.values():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True)

    # equivalence at the limit: shortlist covers the whole corpus
    n = emb.count()
    full = S.pq_adc_rerank_topk(
        q, emb, "vec_id", "vec_id", "embedding",
        m=8, dim=64, n_centroids=16, shortlist=n, k=3, metric="l2",
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    qq = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    scored = (
        c.crossJoin(F.broadcast(qq))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            F.round(S.sqdist(F.col("q_vec"), F.col("c_vec")), 4).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d"), "c_id")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "rank", "c_id", "d")
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_pq_rerank_rejects_unknown_metric(spark):
    import pytest

    from pimdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="unknown metric"):
        S.pq_adc_rerank_topk(
            emb, emb, "vec_id", "vec_id", "embedding", metric="dot"
        )


def test_ivf_pq_rerank_probe_all_reduces_to_exact(spark):
    """ivf_pq_rerank_topk at nprobe = n_cells with a corpus-covering
    shortlist REDUCES to exact L2 top-k: probing every cell makes the
    shortlist complete, and the l2 re-rank is exact — so any recall loss
    in production settings is attributable to probe coverage and
    shortlist membership, never to the re-rank stage."""
    from pyspark.sql import Window

    from pimdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 4)
    n = emb.count()
    full = S.ivf_pq_rerank_topk(
        q, emb, "vec_id", "vec_id", "embedding",
        n_cells=8, nprobe=8, m=8, dim=64, n_centroids=16,
        shortlist=n, k=3, metric="l2",
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    qq = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    scored = (
        c.crossJoin(F.broadcast(qq))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            F.round(S.sqdist(F.col("q_vec"), F.col("c_vec")), 4).alias("d"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d"), "c_id")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "rank", "c_id", "d")
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_exact_rerank_dedups_shortlist(spark):
    """A multi-table candidate UNION can list the same (q, c) twice; the
    re-rank must not let the duplicate occupy two of the k ranks."""
    from pimdb_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2)
    ids = [r.vec_id for r in emb.filter(F.col("vec_id") < 8).collect()]
    short = spark.createDataFrame(
        [(qi, ci) for qi in (0, 1) for ci in ids[2:6]] * 2,  # every pair twice
        ["q_id", "c_id"],
    )
    out = S.exact_rerank(short, q, emb, "vec_id", "vec_id", "embedding", k=3)
    rows = out.collect()
    for qi in (0, 1):
        got = [r.c_id for r in rows if r.q_id == qi]
        assert len(got) == 3 and len(set(got)) == 3


def test_pq_codes_parquet_round_trip_equals_inline(spark):
    """pq_encode codes written to parquet and served by
    pq_topk_from_codes reproduce pq_topk_books' inline-coded ranking
    exactly — the quantize-on-write layout loses nothing."""
    import tempfile

    from pimdb_spark.operators.similarity import (
        pq_encode,
        pq_topk_books,
        pq_topk_from_codes,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 8)
    books = train_pq_codebooks(
        emb, "vec_id", "embedding", m=8, dim=64, n_centroids=16, n_iter=2
    ).localCheckpoint()
    inline = {
        (r.q_id, r.rank): (r.c_id, r.adc)
        for r in pq_topk_books(
            q, emb, books, "vec_id", "vec_id", m=8, dim=64, k=3
        ).collect()
    }
    with tempfile.TemporaryDirectory() as d:
        pq_encode(emb, books, "vec_id", "embedding", m=8, dim=64).write.parquet(
            f"{d}/codes.parquet"
        )
        coded = spark.read.parquet(f"{d}/codes.parquet")
        served = {
            (r.q_id, r.rank): (r.c_id, r.adc)
            for r in pq_topk_from_codes(
                q, coded, books, "vec_id", "c_id", m=8, dim=64, k=3
            ).collect()
        }
    assert served == inline and len(served) == 24


def _pq_from_codes(q, c, k):
    books = S.train_pq_codebooks(c, "vec_id", m=4, dim=8, n_centroids=4, n_iter=1)
    coded = S.pq_encode(c, books, "vec_id", m=4, dim=8)
    return S.pq_topk_from_codes(q, coded, books, "vec_id", m=4, dim=8, k=k)


_PQ = {"m": 4, "dim": 8, "n_centroids": 4}
_TIE_OPS = {
    "cosine_topk": lambda q, c, k: S.cosine_topk(q, c, "vec_id", "vec_id", k=k),
    "lsh_ann_topk": lambda q, c, k: S.lsh_ann_topk(q, c, "vec_id", "vec_id", k=k, n_bits=4),
    "ivf_topk": lambda q, c, k: S.ivf_topk(
        q, c, "vec_id", "vec_id", n_centroids=2, nprobe=2, k=k
    ),
    "pq_topk": lambda q, c, k: S.pq_topk(q, c, "vec_id", "vec_id", k=k, **_PQ),
    "pq_topk_from_codes": _pq_from_codes,
    "ivf_pq_topk": lambda q, c, k: S.ivf_pq_topk(
        q, c, "vec_id", "vec_id", n_cells=2, nprobe=2, k=k, **_PQ
    ),
    "ivf_pq_residual_topk": lambda q, c, k: S.ivf_pq_residual_topk(
        q, c, "vec_id", "vec_id", n_cells=2, nprobe=1, k=k, **_PQ
    ),
}


@pytest.mark.parametrize("op", sorted(_TIE_OPS))
def test_topk_breaks_score_ties_by_candidate_id(spark, op):
    """Two candidates with identical vectors (ids 12 and 13) tie on every
    scorer; the query has their vector too, so they are its two best
    hits.  The lower candidate id takes the lower rank, and exactly k
    rows come back."""
    import random

    rng = random.Random(5)

    def vec():
        # positive components: one sign-LSH bucket for every vector
        return [round(rng.uniform(0.1, 1.0), 2) for _ in range(8)]

    rows = [(i, vec()) for i in range(12)]
    twin = vec()
    rows += [(13, list(twin)), (12, twin)]
    schema = "vec_id long, embedding array<float>"
    q = spark.createDataFrame([(100, twin)], schema)
    c = spark.createDataFrame(rows, schema)
    got = sorted((r.q_id, r.rank, r.c_id) for r in _TIE_OPS[op](q, c, 2).collect())
    assert got == [(100, 1, 12), (100, 2, 13)]


@pytest.mark.parametrize("scorer", ["numpy", "sum"])
def test_ivf_topk_rejects_unknown_scorer(spark, scorer):
    """ivf_topk scores with the fold or int8 only; any other scorer is
    refused before a plan is built."""
    df = spark.range(1).selectExpr("id AS vec_id", "array(1.0f) AS embedding")
    with pytest.raises(ValueError, match="unknown scorer"):
        S.ivf_topk(df, df, "vec_id", "vec_id", scorer=scorer)
