"""Property-based checks (hypothesis) for the semantics that are easiest
to get subtly wrong, each against an independent brute-force Python model:

- as-of join: union + carry-forward must equal "the right row with the
  greatest time <= left time" for arbitrary key/time layouts, including
  no-match (NULL) and exact-tie (t_left == t_right) cases.
- range join: neighbor-bucket explode must produce EXACTLY the |dt| <= R
  pairs — no duplicates from the triple-bucket explode, no misses at
  bucket boundaries, negative times included.
- E4 greedy token decomposition: the native Spark expression equals the
  pure-Python rule, and keeps its invariants, on random concatenations.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

# -- E4: the native expression vs the pure-Python rule ---------------------


@given(st.lists(st.lists(st.sampled_from(
    ["alternative", "dvd", "festival", "tv", "video", "working", "original",
     "imdbDisplay", "xx", "7", "é"]), max_size=6), min_size=1, max_size=25),
)
@settings(max_examples=20, deadline=None)  # one Spark job per batch
def test_e4_decomposition_invariants(spark, batch):
    from pimdb_spark.schemas import IMDB_TITLE_ALIAS_TYPES
    from tests.fixtures_imdb import (
        greedy_title_alias_types_oracle,
        greedy_title_alias_types_spark,
    )

    raws = ["".join(tokens) for tokens in batch]
    for raw, out in zip(raws, greedy_title_alias_types_spark(spark, raws)):
        assert out == greedy_title_alias_types_oracle(raw), raw
        # unique, in declaration order, and each output type occurred in raw
        assert out == [t for t in IMDB_TITLE_ALIAS_TYPES if t in out]
        assert len(out) == len(set(out))
        for t in out:
            assert t in raw
        # every declared type present verbatim in raw is found (greedy
        # removal only deletes matched types, which cannot create new
        # occurrences of an EARLIER-checked type, and 'tv'/'video'
        # overlaps resolve in order)
        first_pass = [t for t in IMDB_TITLE_ALIAS_TYPES if t in raw]
        assert out[:1] == first_pass[:1]


# -- spark operators vs brute force ----------------------------------------

times = st.integers(min_value=-100, max_value=100)
keys = st.integers(min_value=0, max_value=3)


@pytest.mark.parametrize("seed", range(6))
def test_asof_join_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    n_l, n_r = rng.randint(0, 12), rng.randint(0, 12)
    left = [(rng.randint(0, 3), rng.randint(-50, 50), 1000 + i) for i in range(n_l)]
    # unique (key, time) on the right: the as-of contract requires it (two
    # right rows at the identical key+time have no defined winner)
    seen = set()
    right = []
    for i in range(n_r):
        k, t = rng.randint(0, 3), rng.randint(-50, 50)
        if (k, t) not in seen:
            seen.add((k, t))
            right.append((k, t, 2000 + i))

    from pimdb_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left or [(0, 0, 0)], "k int, t int, lid int")
    rdf = spark.createDataFrame(right or [(0, 0, 0)], "k int, t int, rid int")
    if not left:
        ldf = ldf.filter("false")
    if not right:
        rdf = rdf.filter("false")

    got = {
        (r.k, r.t, r.lid): (r.asof_rid, r.asof_time)
        for r in asof_join(ldf, rdf, on="k", left_time="t", right_time="t",
                           right_value_cols=["rid"]).collect()
    }

    expected = {}
    for k, t, lid in left:
        matches = [(rt, rid) for (rk, rt, rid) in right if rk == k and rt <= t]
        if matches:
            rt, rid = max(matches)
            expected[(k, t, lid)] = (rid, rt)
        else:
            expected[(k, t, lid)] = (None, None)
    assert got == expected


@pytest.mark.parametrize("seed", range(4))
def test_minhash_pipeline_matches_python_model(spark, seed):
    """The codegen minhash pipeline (explode → window shingles → md5 →
    16x min aggregate) must equal a from-scratch Python reimplementation
    of the same universal-hash family on random documents."""
    import hashlib
    import random

    from pimdb_spark.operators.dedup import (
        MINHASH_P,
        _A_ADD,
        _A_MASK,
        _A_MUL,
        _B_MUL,
        minhash_lsh_pairs,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(12)
    ]
    # duplicate doc 0 as doc 100 so at least one certain pair exists
    docs.append((100, docs[0][1]))

    def py_signature(text):
        toks = text.split(" ")
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not shingles:
            return None
        xs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
        sig = []
        for i in range(16):
            a = ((i * _A_MUL + _A_ADD) & _A_MASK) | 1
            sig.append(min((a * x + i * _B_MUL) % MINHASH_P for x in xs))
        return tuple(sig)

    def py_jaccard(t1, t2):
        a = {" ".join(t1.split(" ")[i : i + 3]) for i in range(len(t1.split(" ")) - 2)}
        b = {" ".join(t2.split(" ")[i : i + 3]) for i in range(len(t2.split(" ")) - 2)}
        return len(a & b) / len(a | b)

    expected = set()
    sigs = {i: py_signature(t) for i, t in docs}
    for i, ti in docs:
        for j, tj in docs:
            if i < j and sigs[i] and sigs[j]:
                # same band hash in any of 4 bands (4 rows each)
                banded = any(
                    sigs[i][b * 4 : b * 4 + 4] == sigs[j][b * 4 : b * 4 + 4]
                    for b in range(4)
                )
                if banded and py_jaccard(ti, tj) >= 0.8:
                    expected.add((i, j))

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    assert got == expected
    if sigs[0] is not None:  # doc 0 long enough to shingle
        assert (0, 100) in got  # the planted exact duplicate


@pytest.mark.parametrize("seed", range(6))
def test_range_join_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    radius = rng.choice([1, 3, 7])
    rows = [
        (rng.randint(0, 2), rng.randint(-40, 40), i) for i in range(rng.randint(0, 15))
    ]

    from pimdb_spark.operators.asof import range_join_pairs

    df = spark.createDataFrame(rows or [(0, 0, 0)], "k int, t bigint, i int")
    if not rows:
        df = df.filter("false")
    got = sorted(
        (r.k, r.id_a, r.id_b, r.t_a, r.t_b)
        for r in range_join_pairs(df, "k", "t", "i", radius).collect()
    )
    expected = sorted(
        (k1, i1, i2, t1, t2)
        for (k1, t1, i1) in rows
        for (k2, t2, i2) in rows
        if k1 == k2 and i1 < i2 and abs(t1 - t2) <= radius
    )
    assert got == expected


def test_minhash_bucket_cap_drops_flood_keeps_true_pairs(spark):
    """Adversarial flood: many identical boilerplate docs put every one of
    their band buckets over the cap — those quadratic candidates are
    dropped, while a genuine near-dup pair outside the flood still
    surfaces.  Without the cap the flood contributes m²/2 pairs."""
    import pyspark.sql.functions as F

    from pimdb_spark.operators.dedup import minhash_lsh_pairs

    flood = [(i, "spam template body repeated verbatim across the corpus")
             for i in range(100)]
    base = (
        "the quick brown fox jumps over the lazy dog while the calm cat "
        "watches from the old wooden fence nearby"
    )
    real = [(200, base), (201, base + " tonight")]  # jacc = 18/19 >= 0.8
    df = spark.createDataFrame(flood + real, "doc_id long, text string")

    capped = minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (200, 201) in got                      # true pair survives
    assert not any(a < 100 and b < 100 for a, b in got)  # flood suppressed

    uncapped = minhash_lsh_pairs(df, "doc_id", "text")
    flood_pairs = sum(
        1 for r in uncapped.collect() if r.id_a < 100 and r.id_b < 100
    )
    assert flood_pairs == 100 * 99 // 2  # what the cap is defending against


@pytest.mark.parametrize("seed", range(6))
def test_scd2_intervals_matches_bruteforce(spark, seed):
    """scd2_intervals vs a from-scratch Python model over random snapshot
    stacks with NULL transitions: the eqNullSafe run-detection must treat
    NULL->value, value->NULL, and NULL->NULL exactly like Python's ==
    over Optionals (None == None opens NO new run), with version gaps and
    single-version runs included."""
    import random

    rng = random.Random(seed)
    rows = []
    for k in range(rng.randint(1, 4)):
        versions = sorted(rng.sample(range(1, 12), rng.randint(1, 8)))
        for v in versions:
            a = rng.choice([None, 0, 1])
            b = rng.choice([None, "x", "y"])
            rows.append((k, v, a, b))

    # brute-force model: per key, order by version, split into runs of
    # identical (a, b) (None-safe ==), emit half-open [from, next_from)
    expected = set()
    by_key = {}
    for k, v, a, b in rows:
        by_key.setdefault(k, []).append((v, a, b))
    for k, lst in by_key.items():
        lst.sort()
        runs = []
        for v, a, b in lst:
            if not runs or runs[-1][0] != (a, b):
                runs.append([(a, b), v, 0])
            runs[-1][2] += 1
        for i, (val, vfrom, n) in enumerate(runs):
            vto = runs[i + 1][1] if i + 1 < len(runs) else None
            expected.add((k, vfrom, vto, n, val[0], val[1]))

    from pimdb_spark.operators.delta import scd2_intervals

    df = spark.createDataFrame(rows, "k int, v int, a int, b string")
    got = {
        (r.k, r.valid_from, r.valid_to, r.n_versions, r.a, r.b)
        for r in scd2_intervals(df, ["k"], "v", ["a", "b"]).collect()
    }
    assert got == expected


@pytest.mark.parametrize("seed", range(4))
def test_bm25_matches_bruteforce(spark, seed):
    """bm25_topk vs a from-scratch Python model: same rational-idf BM25
    formula evaluated in plain Python doubles (identical IEEE ops in the
    same order -> exact score equality), random small corpora with docs
    that contain no query term (must not appear) and repeated terms."""
    import random

    rng = random.Random(seed)
    vocab = ["spark", "join", "window", "scan", "sort", "merge", "row"]
    terms = ["spark", "join", "window"]
    n_docs = rng.randint(3, 12)
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(n_docs)
    ]

    k1, b = 1.2, 0.75
    n = len(docs)
    dls = {i: len(t.split(" ")) for i, t in docs}
    avgdl = float(sum(dls.values())) / n
    dfs = {t: sum(1 for _, txt in docs if t in txt.split(" ")) for t in terms}
    expected = {}
    for i, txt in docs:
        toks = txt.split(" ")
        score = 0.0
        hit = False
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                score = score + 0.0
                continue
            hit = True
            idf = (float(n) - dfs[t] + 0.5) / (dfs[t] + 0.5)
            w = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl))
            score = score + w
        if hit:
            expected[i] = score
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:5]

    from pimdb_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_topk(df, terms, top_k=5).orderBy("rank").collect()
    ]
    assert [(d, s) for d, s, _ in got] == want
    assert [r for _, _, r in got] == list(range(1, len(want) + 1))


@pytest.mark.parametrize("seed", range(4))
def test_kmeans_matches_bruteforce(spark, seed):
    """kmeans_assignments vs a plain-Python Lloyd's model (same init, same
    ordered summation, ties to lowest cid) on random low-dim vectors."""
    import random

    import struct

    rng = random.Random(seed)
    n, k, dim, iters = rng.randint(6, 30), 3, 4, 2

    def f32(x):  # the array<float> column stores float32; model must too
        return struct.unpack("f", struct.pack("f", x))[0]

    vecs = [
        (i, [f32(rng.uniform(-1, 1)) for _ in range(dim)]) for i in range(n)
    ]

    def sq(a, c):
        s = 0.0
        for x, y in zip(a, c):
            s = s + (float(x) - y) * (float(x) - y)
        return s

    cents = [[float(x) for x in v] for _, v in vecs[:k]]
    assign = {}
    for _ in range(iters):
        assign = {
            i: min(range(k), key=lambda c: (sq(v, cents[c]), c)) for i, v in vecs
        }
        sums = {c: [0.0] * dim for c in range(k)}
        counts = {c: 0 for c in range(k)}
        for i, v in vecs:  # id order == insertion order here
            c = assign[i]
            counts[c] += 1
            sums[c] = [a + float(x) for a, x in zip(sums[c], v)]
        cents = [
            [x / counts[c] for x in sums[c]] if counts[c] else cents[c]
            for c in range(k)
        ]
    # model does iters assignments + iters updates; the operator does
    # n_iter assignments with n_iter-1 updates between -> redo final assign
    assign = {i: min(range(k), key=lambda c: (sq(v, cents[c]), c)) for i, v in vecs}

    from pimdb_spark.operators.clustering import kmeans_assignments

    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r.cluster
        for r in kmeans_assignments(df, k=k, n_iter=iters + 1, dim=dim).collect()
    }
    assert got == assign


@pytest.mark.parametrize("seed", range(4))
def test_weighted_sample_matches_bruteforce(spark, seed):
    """weighted_sample vs a Python model of the same max-of-w-md5-draws
    keys; zero/negative weights are excluded; heavier items must win ties
    in aggregate (distribution sanity on a biased weight layout)."""
    import hashlib
    import random

    import pyspark.sql.functions as F

    rng = random.Random(seed)
    rows = [(i, rng.randint(-1, 6)) for i in range(40)]
    k = 10

    def draw(i, j):
        return int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8], 16)

    keys = {
        i: max(draw(i, j) for j in range(1, w + 1))
        for i, w in rows
        if w >= 1
    }
    want = sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    want = [(i, dict(rows)[i], key) for i, key in want]

    from pimdb_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(rows, "doc_id long, weight int")
    got = [
        (r.doc_id, r.weight, r.sample_key)
        for r in weighted_sample(df, k, "weight", "doc_id")
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .collect()
    ]
    assert got == want
    assert all(w >= 1 for _, w, _ in got)


@pytest.mark.parametrize("seed", range(4))
def test_corpus_divergence_matches_bruteforce(spark, seed):
    """corpus_divergence vs a Python model of the same chi-square formula
    (identical IEEE rational ops in the same order -> exact equality),
    including tokens present in only one corpus."""
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]
    mk = lambda n: [  # noqa: E731
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(n)
    ]
    a, b = mk(rng.randint(2, 8)), mk(rng.randint(2, 8))

    def count(docs):
        out = {}
        for _, t in docs:
            for tok in t.split(" "):
                out[tok] = out.get(tok, 0) + 1
        return out

    ca, cb = count(a), count(b)
    na, nb = sum(ca.values()), sum(cb.values())
    expected = {}
    for tok in set(ca) | set(cb):
        oa, ob = ca.get(tok, 0), cb.get(tok, 0)
        ra = float(na) / (na + nb)
        rb = float(nb) / (na + nb)
        ea = (oa + ob) * ra
        eb = (oa + ob) * rb
        chi2 = (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
        expected[tok] = (oa, ob, chi2)
    want = sorted(expected.items(), key=lambda kv: (-kv[1][2], kv[0]))[:5]
    want = [(t, oa, ob, c) for t, (oa, ob, c) in want]

    from pimdb_spark.operators.corpus import corpus_divergence

    da = spark.createDataFrame(a, "doc_id long, text string")
    db = spark.createDataFrame(b, "doc_id long, text string")
    got = [
        (r.token, r.o_a, r.o_b, r.chi2)
        for r in corpus_divergence(da, db, top_k=5).collect()
    ]
    assert got == want


@pytest.mark.parametrize("seed", range(5))
def test_group_auc_matches_bruteforce(spark, seed):
    """Exact AUC vs the O(n^2) pair-counting definition: wins + half-ties
    over n_pos x n_neg — the rank-sum identity must reproduce it exactly,
    including tied scores and one-class groups."""
    import random

    rng = random.Random(seed)
    rows = []
    for g in range(3):
        for i in range(rng.randint(0, 14)):
            # coarse score grid forces plenty of exact ties
            rows.append((f"g{g}", rng.random() < 0.5, rng.randint(0, 4) / 4.0))
    if not rows:
        rows = [("g0", True, 0.5)]
    df = spark.createDataFrame(rows, "g string, pos boolean, s double")
    from pimdb_spark.operators.profile import group_auc

    got = {r.g: (r.n_pos, r.n_neg, r.auc) for r in group_auc(df, "g", "pos", "s").collect()}
    by_g: dict = {}
    for g, pos, s in rows:
        by_g.setdefault(g, []).append((pos, s))
    for g, items in by_g.items():
        ps = [s for pos, s in items if pos]
        ns = [s for pos, s in items if not pos]
        n_pos, n_neg, auc = got[g]
        assert (n_pos, n_neg) == (len(ps), len(ns))
        if not ps or not ns:
            assert auc is None
            continue
        wins = sum(1.0 for p in ps for q in ns if p > q)
        ties = sum(0.5 for p in ps for q in ns if p == q)
        assert auc == (wins + ties) / (len(ps) * len(ns))


@pytest.mark.parametrize("seed", range(5))
def test_linear_attribution_matches_bruteforce(spark, seed):
    """Bucketed candidate generation vs the O(n^2) definition: every
    strictly-preceding in-horizon touch of the same user, weight 1/n —
    bucket boundaries and (ts, id) ties must not lose or duplicate pairs."""
    import random

    rng = random.Random(seed)
    h = 50
    rows = []
    eid = 0
    for _ in range(rng.randint(1, 30)):
        eid += 1
        rows.append(
            (eid, rng.randint(0, 2), rng.randint(0, 200),
             rng.choice(["touch", "conv", "other"]))
        )
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts_us bigint, event_type string"
    )
    from pimdb_spark.operators.analytics import linear_attribution

    out = linear_attribution(df, "conv", ["touch"], horizon_us=h).collect()
    got: dict = {}
    for r in out:
        got.setdefault(r.conversion_id, set()).add(
            (r.touch_event_id, r.n_touches, r.weight)
        )
    for cid, u, cts, typ in rows:
        if typ != "conv":
            continue
        touches = [
            tid
            for tid, tu, tts, tty in rows
            if tty == "touch" and tu == u and tts >= cts - h
            and (tts, tid) < (cts, cid)
        ]
        if not touches:
            assert got[cid] == {(None, 0, None)}
        else:
            n = len(touches)
            assert got[cid] == {(tid, n, 1.0 / n) for tid in touches}


@pytest.mark.parametrize("seed", range(5))
def test_bpe_train_matches_bruteforce(spark, seed):
    """The DataFrame BPE trainer (string double-replace rewrite, one-row
    broadcast merges) vs the classic symbol-list algorithm: same winning
    pair, count, and post-merge vocabulary effects every round — including
    back-to-back runs ('abab'), same-symbol runs ('aaa'), and count ties
    (broken count-desc then lexicographic on the pair)."""
    import random

    rng = random.Random(seed)
    alphabet = "ab"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        for _ in range(rng.randint(1, 8))
    ]
    text = " ".join(words)
    n_merges = 3

    # pure-python model over (symbol-tuple, freq) entries
    freqs: dict = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    entries = [(tuple(w) + ("</w>",), f) for w, f in freqs.items()]
    expected = []
    for _ in range(n_merges):
        counts: dict = {}
        for syms, f in entries:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        mx = max(counts.values())
        pair = min(p for p, c in counts.items() if c == mx)
        expected.append((pair[0], pair[1], mx))
        merged = []
        for syms, f in entries:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged.append((tuple(out), f))
        entries = merged

    from pimdb_spark.operators.corpus import bpe_train_steps

    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = [
        (r.lhs, r.rhs, r.cnt)
        for r in sorted(
            bpe_train_steps(docs, n_merges).collect(), key=lambda r: r.merge_rank
        )
    ]
    assert got == expected


@pytest.mark.parametrize("seed", range(5))
def test_bpe_train_batched_matches_bruteforce(spark, seed):
    """The batched DataFrame BPE trainer vs a pure-python model of the
    SAME rule: per round, top-m pool by (count desc, lhs, rhs), accept
    pairs with no symbol-or-output overlap against ANY higher-ranked pool
    pair, apply accepted merges in pool order with the engine's
    documented whole-token double-replace rewrite (python str.replace has
    the same left-to-right non-overlapping semantics, so this is an
    independent implementation of the same rule — see _merge_rewrite's
    same-symbol-run caveat for where it deviates from symbol-list BPE)."""
    import random

    rng = random.Random(1000 + seed)
    alphabet = "abc"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        for _ in range(rng.randint(1, 10))
    ]
    text = " ".join(words)
    n_rounds, m = 2, 3

    freqs: dict = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    entries = [
        (" " + " ".join(tuple(w) + ("</w>",)) + " ", f) for w, f in freqs.items()
    ]

    def rewrite(s, lhs, rhs):
        pat, rep = f" {lhs} {rhs} ", f" {lhs}{rhs} "
        return s.replace(pat, rep).replace(pat, rep)

    expected = []
    for rnd in range(1, n_rounds + 1):
        counts: dict = {}
        for s, f in entries:
            syms = s.split()
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        pool = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:m]
        for i, (p, c) in enumerate(pool):
            sy = {p[0], p[1], p[0] + p[1]}
            if any(sy & {q[0], q[1], q[0] + q[1]} for q, _ in pool[:i]):
                continue
            expected.append((rnd, p[0], p[1], c))
            entries = [(rewrite(s, p[0], p[1]), f) for s, f in entries]

    from pimdb_spark.operators.corpus import bpe_train_batched

    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        bpe_train_batched(docs, n_rounds, m).collect(), key=lambda r: r.merge_rank
    )
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))
    got = [(r.batch_no, r.lhs, r.rhs, r.cnt) for r in rows]
    assert got == expected


def test_word_shingles_short_doc_regression(spark):
    """Docs shorter than k tokens must yield an EMPTY shingle array, not
    crash: sequence(1, 0) descends to [1, 0], so the pre-fix
    greatest(end, 0) guard still evaluated position 1 and element_at
    walked past the end of the array (ANSI out-of-bounds) — every
    minhash/LSH caller died on any corpus containing one short doc."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from pimdb_spark.operators.dedup import minhash_lsh_pairs, word_shingles

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x"),
            Row(doc_id=2, text="a b"),
            Row(doc_id=3, text="a b c d e"),
        ]
    )
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", word_shingles(F.split("text", " "), 3).alias("s")
        ).collect()
    }
    assert got[1] == [] and got[2] == []
    assert got[3] == ["a b c", "b c d", "c d e"]

    # end to end: the pipeline survives short docs and still finds the
    # planted exact copy
    base = df.union(
        df.selectExpr("doc_id + 10 as doc_id", "text")
    )
    pairs = minhash_lsh_pairs(
        base, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.8
    )
    assert (3, 13) in {(r.id_a, r.id_b) for r in pairs.collect()}


@pytest.mark.parametrize("seed", range(4))
def test_exact_jaccard_pairs_matches_bruteforce(spark, seed):
    """Shared-shingle blocking must find EXACTLY the brute-force pairs
    with shingle-Jaccard >= 1/2 — completeness is the property banded
    LSH gives up, so it must hold here."""
    import random

    from pimdb_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_doc_signatures,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for i in range(14)
    ]
    docs.append((100, docs[0][1]))  # exact copy: certain pair

    def shingles(t):
        ts = t.split(" ")
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    expected = {}
    for i, ti in docs:
        for j, tj in docs:
            a, b = shingles(ti), shingles(tj)
            if i < j and a and b:
                inter = len(a & b)
                uni = len(a | b)
                if 2 * inter >= uni:
                    expected[(i, j)] = (inter, uni)

    df = spark.createDataFrame(docs, "doc_id int, text string")
    sig = minhash_doc_signatures(df, "doc_id", "text", 3, 16)
    got = {
        (r.id_a, r.id_b): (r.shared, r.union_sz)
        for r in exact_jaccard_pairs(sig, t_num=1, t_den=2).collect()
    }
    sig.unpersist()
    assert got == expected
    if len(docs[0][1].split(" ")) >= 3:  # doc 0 long enough to shingle
        assert (0, 100) in got


def test_dedup_recall_counts_and_null_contract(spark):
    from pyspark.sql import Row

    from pimdb_spark.operators.dedup import dedup_recall

    ex = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=4, id_b=5)]
    )
    ap = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=9, id_b=10)]
    )
    r = dedup_recall(ap, ex).collect()[0]
    assert (r.n_exact, r.n_approx, r.n_hit) == (3, 2, 1)
    assert r.recall == 1 / 3 and r.precision == 1 / 2

    # empty approx: recall 0, precision NULL (0/0 undefined, not 1.0)
    r = dedup_recall(ap.filter("false"), ex).collect()[0]
    assert (r.n_exact, r.n_approx, r.n_hit) == (3, 0, 0)
    assert r.recall == 0.0 and r.precision is None

    # both empty: the row still exists, all metrics NULL
    r = dedup_recall(ap.filter("false"), ex.filter("false")).collect()[0]
    assert (r.n_exact, r.n_approx, r.n_hit) == (0, 0, 0)
    assert r.recall is None and r.precision is None


def test_cross_neardup_filter_matches_python_model(spark):
    """cross_neardup_filter vs a python replay of both sides' banding:
    planted exact and partial copies of reference docs in the new
    shard, plus never-matching docs (NULL best / matched 0)."""
    import hashlib

    from pimdb_spark.operators.dedup import (
        MINHASH_P,
        _A_ADD,
        _A_MASK,
        _A_MUL,
        _B_MUL,
        cross_neardup_filter,
    )

    ref = [
        (0, "the quick brown fox jumps over the lazy dog tonight again"),
        (7, "pack my box with five dozen liquor jugs before noon today"),
        (14, "sphinx of black quartz judge my vow said the old king"),
    ]
    new = [
        (100, ref[0][1]),                                   # exact copy
        (101, " ".join(ref[1][1].split(" ")[:7])),          # 7-token prefix
        (102, "completely unrelated words about database engines and joins"),
        (103, "xy"),                                        # too short
    ]

    def shingles(t):
        ts = t.split(" ")
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    def sig(s):
        xs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in s]
        out = []
        for i in range(16):
            a = ((i * _A_MUL + _A_ADD) & _A_MASK) | 1
            out.append(min((a * x + i * _B_MUL) % MINHASH_P for x in xs))
        return out

    def bands(sg):
        return {
            (b, tuple(sg[b * 2 : b * 2 + 2])) for b in range(8)
        }

    expected = {}
    for ni, nt in new:
        ns = shingles(nt)
        matches = []
        if ns:
            nb = bands(sig(ns))
            for ri, rt in ref:
                rs = shingles(rt)
                if rs and nb & bands(sig(rs)):
                    j = len(ns & rs) / len(ns | rs)
                    if j >= 0.5:
                        matches.append((j, ri))
        if matches:
            bj, br = max((j, -ri) for j, ri in matches)
            expected[ni] = (len(matches), -br, bj, 1)
        else:
            expected[ni] = (0, None, None, 0)

    ndf = spark.createDataFrame(new, "doc_id int, text string")
    rdf = spark.createDataFrame(ref, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_ref_matches, r.best_ref, r.best_jacc, r.matched)
        for r in cross_neardup_filter(
            ndf, rdf, k=3, num_hashes=16, bands=8, threshold=0.5
        ).collect()
    }
    assert got == expected
    assert got[100][3] == 1      # exact copy caught
    assert got[102] == (0, None, None, 0)
    assert got[103] == (0, None, None, 0)  # too short: no shingles, no crash


def test_cross_neardup_filter_reusable_ref_signatures(spark, tmp_path):
    """The build-once, join-per-shard contract (the r15 verdict stretch):
    the reference corpus's minhash_doc_signatures frame persists as a
    parquet table once, and TWO successive new shards gate against the
    read-back table — verdicts equal the from-scratch gate, and because
    ref_docs is never passed (None), the gate plan structurally cannot
    re-shingle or even re-read the reference text."""
    from pimdb_spark.operators.dedup import (
        cross_neardup_filter,
        minhash_doc_signatures,
    )

    ref = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight again"),
            (7, "pack my box with five dozen liquor jugs before noon today"),
            (14, "sphinx of black quartz judge my vow said the old king"),
        ],
        "doc_id int, text string",
    )
    shard1 = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight again"),
            (101, "completely unrelated words about database engines and joins"),
        ],
        "doc_id int, text string",
    )
    shard2 = spark.createDataFrame(
        [
            (200, "pack my box with five dozen liquor jugs before noon"),
            (201, "other words entirely disjoint from every reference doc here"),
        ],
        "doc_id int, text string",
    )

    # admission time: signatures computed ONCE, persisted as a table
    sig_path = str(tmp_path / "ref_signatures")
    sig = minhash_doc_signatures(ref, "doc_id", "text", 3, 16)
    sig.write.parquet(sig_path)
    sig.unpersist()
    sig_table = spark.read.parquet(sig_path)

    for shard in (shard1, shard2):
        via_table = {
            tuple(r)
            for r in cross_neardup_filter(
                shard, None, k=3, num_hashes=16, bands=8, threshold=0.5,
                ref_signatures=sig_table,
            ).collect()
        }
        from_scratch = {
            tuple(r)
            for r in cross_neardup_filter(
                shard, ref, k=3, num_hashes=16, bands=8, threshold=0.5
            ).collect()
        }
        assert via_table == from_scratch and len(via_table) == 2

    # neither argument given is a loud error, not a silent empty result
    import pytest

    with pytest.raises(ValueError, match="ref_docs or ref_signatures"):
        cross_neardup_filter(shard1, None)


def _persistent_rdd_ids(spark) -> set:
    """IDs of currently persisted RDDs (java map keys as a python set)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    it = m.keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def test_cross_neardup_filter_local_frames_collector(spark):
    """Repeated ONE-SHOT gate calls must not accumulate cached signature
    frames: the ``local_frames`` collector receives every internally
    built persisted frame (both sides when built here, only the built
    side when the caller owns the other), and unpersisting them in a
    finally block returns the CacheManager to its starting size --
    incremental_split_batch's discipline, available to the batch API."""
    from pimdb_spark.operators.dedup import (
        cross_neardup_filter,
        minhash_doc_signatures,
    )

    ref = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight again")],
        "doc_id int, text string",
    )
    shard = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight again"),
         (101, "completely unrelated words about database engines and joins")],
        "doc_id int, text string",
    )
    jsc = spark.sparkContext._jsc
    # baseline as an ID SET: the async ContextCleaner may unpersist
    # checkpointed frames of EARLIER tests mid-test, so a global size
    # comparison is flaky; only NEW surviving entries indicate a leak
    before = _persistent_rdd_ids(spark)
    expect = None
    for _ in range(3):  # the repeated-caller loop the leak would grow with
        frames: list = []
        try:
            got = {
                tuple(r)
                for r in cross_neardup_filter(
                    shard, ref, local_frames=frames
                ).collect()
            }
            assert len(frames) == 2  # ref side + new side, both built here
            if expect is None:
                expect = got
            assert got == expect
        finally:
            for f in frames:
                f.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()

    # caller-owned sides are never collected: only the built side lands
    sig_ref = minhash_doc_signatures(ref, "doc_id", "text", 3, 16)
    try:
        frames = []
        try:
            cross_neardup_filter(
                shard, None, ref_signatures=sig_ref, local_frames=frames
            ).collect()
            assert len(frames) == 1  # sig_new only; sig_ref is the caller's
        finally:
            for f in frames:
                f.unpersist()
    finally:
        sig_ref.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()


def test_containment_pairs_matches_python_model(spark):
    """containment_pairs vs a direct python replay: distinct k-shingles,
    capped-df candidate blocking, |A∩B|/|A| — directed, both directions
    possible, threshold-gated.  Includes an excerpt (containment ~1 in
    its source, Jaccard well below symmetric thresholds), an exact dup
    pair (mutual containment), and an unrelated doc."""
    from pyspark.sql import Row

    from pimdb_spark.operators.dedup import containment_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "quick brown fox jumps over",  # excerpt of 1
        3: "completely different words here nothing shared at all",
        4: "completely different words here nothing shared at all",  # dup of 3
        5: "unrelated tokens entirely separate vocabulary usage",
    }
    k, max_df, threshold = 3, 40, 0.8

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        } if len(toks) >= k else set()

    sh = {i: shingles(t) for i, t in texts.items()}
    df = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    rare = {g for g, c in df.items() if c <= max_df}
    expected = {}
    for a in texts:
        for b in texts:
            if a == b or not sh[a]:
                continue
            if not (sh[a] & sh[b] & rare):
                continue  # no under-cap shared shingle -> no candidate
            cont = len(sh[a] & sh[b]) / len(sh[a])
            if cont >= threshold:
                expected[(a, b)] = (len(sh[a]), len(sh[a] & sh[b]), cont)

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        (r.id_a, r.id_b): (r.n_a, r.shared, r.containment)
        for r in containment_pairs(
            docs, k=k, max_df=max_df, threshold=threshold
        ).collect()
    }
    assert got == expected
    assert (2, 1) in got and got[(2, 1)][2] == 1.0  # excerpt contained
    assert (1, 2) not in got  # asymmetric: the long side is NOT contained
    assert (3, 4) in got and (4, 3) in got  # exact dups contain each other


def test_containment_lsh_pairs_matches_python_model(spark):
    """containment_lsh_pairs vs a direct python replay of the minhash
    banding: candidates = pairs agreeing on ANY of the 16 minimums
    (flood-capped), verification = exact |A∩B|/|A|.  The excerpt/dup
    fixture from the brute twin's test, so the two models also agree on
    what exact verification must produce for shared candidates."""
    import hashlib

    from pyspark.sql import Row

    from pimdb_spark.operators.dedup import containment_lsh_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "quick brown fox jumps over",  # 5-token excerpt of 1
        3: "completely different words here nothing shared at all",
        4: "completely different words here nothing shared at all",  # dup
        5: "unrelated tokens entirely separate vocabulary usage",
    }
    k, num_hashes, threshold, cap = 3, 16, 0.8, 64
    P, A_MUL, A_ADD, A_MASK, B_MUL = (
        4294967311, 1103515245, 12345, (1 << 30) - 1, 1000003
    )

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        } if len(toks) >= k else set()

    def mh(s):
        xs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in s]
        return [
            min(((((i * A_MUL + A_ADD) & A_MASK) | 1) * x + i * B_MUL) % P
                for x in xs)
            for i in range(num_hashes)
        ]

    sh = {i: shingles(t) for i, t in texts.items()}
    sig = {i: mh(s) for i, s in sh.items() if s}
    buckets = {}
    for d, sg in sig.items():
        for i, v in enumerate(sg):
            buckets.setdefault((i, v), []).append(d)
    expected = {}
    for members in buckets.values():
        if len(members) > cap:
            continue
        for a in members:
            for b in members:
                if a == b:
                    continue
                cont = len(sh[a] & sh[b]) / len(sh[a])
                if cont >= threshold:
                    expected[(a, b)] = (len(sh[a]), len(sh[a] & sh[b]), cont)

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        (r.id_a, r.id_b): (r.n_a, r.shared, r.containment)
        for r in containment_lsh_pairs(
            docs, k=k, num_hashes=num_hashes,
            threshold=threshold, max_bucket_size=cap,
        ).collect()
    }
    assert got == expected
    assert (2, 1) in got and got[(2, 1)][2] == 1.0  # excerpt caught: its
    # minimum over any h_i comes from ITS shingles, all present in doc 1,
    # and doc 1's min can only be <= over a superset -> equal mins exist
    assert (3, 4) in got and (4, 3) in got  # exact dups: identical sigs


# -- r15 text transforms vs python models -----------------------------------


def _py_normalize(s: str) -> str:
    import re

    s = s.lower()
    s = re.sub(r"[^a-z0-9 ]", " ", s)
    s = re.sub(r"[0-9]+", "0", s)
    s = re.sub(r" +", " ", s)
    return s.strip()


@pytest.mark.parametrize("seed", range(4))
def test_normalize_text_matches_python_model(spark, seed):
    """normalize_text ≡ the python re model on arbitrary printable-ASCII
    strings, and is idempotent (the CCNet hash-form contract)."""
    import random
    import string

    from pimdb_spark.operators.text import normalize_text

    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + string.punctuation + "  \t"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r.i: (r.n1, r.n2)
        for r in df.select(
            "i",
            normalize_text("t").alias("n1"),
            normalize_text(normalize_text("t")).alias("n2"),
        ).collect()
    }
    for i, t in rows:
        want = _py_normalize(t)
        assert got[i][0] == want, repr(t)
        assert got[i][1] == want  # idempotent


@pytest.mark.parametrize("seed", range(3))
def test_pii_counts_match_python_model(spark, seed):
    """pii_counts/pii_redact ≡ python re on generated mixtures of organic
    words and planted identifiers (the Java/RE2 pattern-parity claim,
    exercised beyond the fixture's shapes)."""
    import random
    import re

    from pimdb_spark.operators.text import PII_PATTERNS, pii_counts, pii_redact

    rng = random.Random(seed)

    def email():
        return (
            "".join(rng.choice("abcz09._%+-") for _ in range(rng.randint(1, 6)))
            + "@"
            + "".join(rng.choice("abcz09") for _ in range(rng.randint(1, 5)))
            + "."
            + "".join(rng.choice("abcz") for _ in range(rng.randint(2, 4)))
        )

    def ip():
        return ".".join(str(rng.randint(0, 999)) for _ in range(4))

    def phone():
        return "+1-555-" + "".join(str(rng.randint(0, 9)) for _ in range(4))

    def word():
        return "".join(rng.choice("abcdefgh") for _ in range(rng.randint(1, 7)))

    rows = []
    for i in range(60):
        parts = []
        for _ in range(rng.randint(0, 10)):
            parts.append(rng.choice([word, word, word, email, ip, phone])())
        rows.append((i, " ".join(parts)))
    df = spark.createDataFrame(rows, ["i", "t"])
    c = pii_counts("t")
    got = {
        r.i: (r.e, r.p, r.ph, r.clean)
        for r in df.select(
            "i",
            c["n_email"].alias("e"),
            c["n_ip"].alias("p"),
            c["n_phone"].alias("ph"),
            pii_redact("t").alias("clean"),
        ).collect()
    }
    for i, t in rows:
        want_counts = [len(re.findall(pat, t)) for pat, _ in PII_PATTERNS.values()]
        clean = t
        for pat, mask in PII_PATTERNS.values():
            clean = re.sub(pat, mask, clean)
        assert list(got[i][:3]) == want_counts, repr(t)
        assert got[i][3] == clean, repr(t)


@pytest.mark.parametrize("seed", range(3))
def test_eval_leak_report_matches_python_model(spark, seed):
    """eval_leak_report ≡ a brute-force python span model on random small
    corpora: per eval doc, distinct 5-token spans, how many occur in ANY
    train doc, and the max train-doc frequency among leaked spans."""
    import random

    from pimdb_spark.operators.dedup import eval_leak_report

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> organic collisions

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 14)))

    train = [(100 + i, doc()) for i in range(25)]
    ev = [(i, doc()) for i in range(10)]

    def spans(text):
        t = text.split(" ")
        return [" ".join(t[i : i + 5]) for i in range(len(t) - 4)]

    tdf: dict[str, set] = {}
    for tid, text in train:
        for s in set(spans(text)):
            tdf.setdefault(s, set()).add(tid)

    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.n_leaked, r.leak_frac, r.worst_span_df)
        for r in eval_leak_report(
            spark.createDataFrame(train, ["doc_id", "text"]),
            spark.createDataFrame(ev, ["doc_id", "text"]),
            n=5,
        ).collect()
    }
    assert set(got) == {i for i, _ in ev}
    for i, text in ev:
        ss = set(spans(text))
        leaked = [s for s in ss if s in tdf]
        want_frac = len(leaked) / len(ss) if ss else None
        want_worst = max((len(tdf[s]) for s in leaked), default=None)
        n_tok, n_spans, n_leaked, frac, worst = got[i]
        assert n_tok == len(text.split(" "))
        assert n_spans == len(ss)
        assert n_leaked == len(leaked)
        if want_frac is None:
            assert frac is None
        else:
            assert abs(frac - want_frac) < 1e-12
        assert worst == want_worst


def test_lsh_pairs_local_frames_collector_batch(spark):
    """BATCH edition of the session-leak regression (r18 verdict item 5):
    minhash_lsh_pairs and containment_lsh_pairs persist their internal
    signature frame; repeated one-shot callers pass ``local_frames`` and
    finally-unpersist, returning the CacheManager to its starting size.
    Default path (no collector) stays byte-identical — the attested
    catalog entries rely on the harness clearCache."""
    from pimdb_spark.operators.dedup import containment_lsh_pairs, minhash_lsh_pairs

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight again"),
            (1, "the quick brown fox jumps over the lazy dog tonight again"),
            (2, "completely unrelated words about database engines and joins"),
        ],
        "doc_id int, text string",
    )
    jsc = spark.sparkContext._jsc
    # baseline as an ID SET (see test_cross_neardup_filter_local_frames_
    # collector): async ContextCleaner activity makes size comparisons
    # flaky; a leak is a NEW surviving entry
    before = _persistent_rdd_ids(spark)
    expect_mh = expect_ct = None
    for _ in range(3):
        frames: list = []
        try:
            mh = {
                tuple(r)
                for r in minhash_lsh_pairs(
                    docs, "doc_id", "text", local_frames=frames
                ).collect()
            }
            ct = {
                tuple(r)
                for r in containment_lsh_pairs(
                    docs, "doc_id", "text", k=3, local_frames=frames
                ).collect()
            }
            assert len(frames) == 2  # one signature frame per operator
            if expect_mh is None:
                expect_mh, expect_ct = mh, ct
            assert mh == expect_mh and ct == expect_ct
            assert (0, 1) in {(a, b) for a, b, *_ in mh}
        finally:
            for f in frames:
                f.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()


def test_exploded_ngram_rows_rejects_colliding_names(spark):
    """Reserved internals (_toks/_nt/_i) and out-vs-cols collisions are a
    loud ValueError, not an ambiguous-column error or silently shadowed
    output (r18 ADVICE)."""
    import pytest

    from pimdb_spark.operators.corpus import exploded_ngram_rows

    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id int, text string"
    ).withColumnRenamed("doc_id", "_nt")
    with pytest.raises(ValueError, match="collide"):
        exploded_ngram_rows(docs, ("_nt",), "text", 2)
    docs2 = spark.createDataFrame([(1, "a b c d")], "g int, text string")
    with pytest.raises(ValueError, match="collide"):
        exploded_ngram_rows(docs2, ("g",), "text", 2, out="g")
    with pytest.raises(ValueError, match="collide"):
        exploded_ngram_rows(docs2, ("g",), "text", 2, out="_i")
    # the non-colliding path still yields occurrence rows
    ok = exploded_ngram_rows(docs2, ("g",), "text", 2, out="gram").collect()
    assert [(r.g, r.gram) for r in ok] == [(1, "a b"), (1, "b c"), (1, "c d")]


def test_doc_shingle_sets_one_row_per_doc(spark):
    """extra_cols ride the doc-keyed group via F.first: ONE output row per
    doc by construction, even for a (contract-violating) non-dependent
    extra column — the row-split hazard that would corrupt downstream
    Jaccard sizes is structurally closed (r18 ADVICE).  Dependent extras
    are carried through unchanged."""
    from pimdb_spark.operators.dedup import doc_shingle_sets

    docs = spark.createDataFrame(
        [(1, "en", "w x y z"), (2, "de", "a b c")],
        "doc_id int, lang string, text string",
    )
    rows = doc_shingle_sets(
        docs, "doc_id", "text", 3, extra_cols=("lang",)
    ).collect()
    assert sorted((r.doc, r.lang, tuple(sorted(r.s))) for r in rows) == [
        (1, "en", ("w x y", "x y z")),
        (2, "de", ("a b c",)),
    ]
