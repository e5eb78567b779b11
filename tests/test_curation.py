"""Curation operators (operators/curation.py): hash splits, domain quota,
sequence packing, connected components — each against an independent
Python model or invariant set."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F


def _h8(val: str, start: int = 0) -> int:
    return int(hashlib.md5(str(val).encode()).hexdigest()[start : start + 8], 16)


def test_hash_split_matches_python_model_and_is_stable(spark):
    from pimdb_spark.operators.curation import hash_split

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    for doc_id in range(500):
        b = _h8(str(doc_id)) % 100
        want = "train" if b < 80 else ("val" if b < 90 else "test")
        assert got[doc_id] == want
    # repartitioning cannot change the assignment (no RNG state)
    again = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(7), "doc_id").collect()
    }
    assert again == got


def test_domain_quota_matches_python_model(spark):
    rng = random.Random(7)
    rows = [(i, f"g{rng.randint(0, 4)}") for i in range(200)]
    from pimdb_spark.operators.curation import domain_quota

    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = domain_quota(df, "grp", "doc_id", 10).collect()
    # model: per group, order by (md5 % 2^31, id), take 10
    by_grp: dict[str, list[int]] = {}
    for i, g in rows:
        by_grp.setdefault(g, []).append(i)
    want = set()
    for g, ids in by_grp.items():
        ids.sort(key=lambda i: (_h8(str(i)) % (1 << 31), i))
        want |= {(i, g, rk + 1) for rk, i in enumerate(ids[:10])}
    assert {(r.doc_id, r.grp, r.rk) for r in out} == want


def test_pack_sequences_matches_python_model(spark):
    rng = random.Random(3)
    rows = [(i, rng.randint(1, 400)) for i in range(120)]
    from pimdb_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(rows, ["doc_id", "toks"])
    out = pack_sequences(df, "doc_id", "toks", budget=1000, shards=4).collect()
    # model: per shard, stream docs in (md5[9:17] % 2^32, id) order and cut
    # every 1000 tokens
    shard_of = {i: _h8(str(i)) % 4 for i, _ in rows}
    order_of = {i: (_h8(str(i), start=8), i) for i, _ in rows}
    want: dict[int, tuple[int, int, int]] = {}
    for s in range(4):
        docs = sorted((i for i, _ in rows if shard_of[i] == s), key=order_of.get)
        cum = 0
        for i in docs:
            toks = dict(rows)[i]
            want[i] = (s, cum // 1000, cum + toks)
            cum += toks
    got = {r.doc_id: (r.shard, r.seq_id, r.cum_tokens) for r in out}
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 7, 21, 63])
def test_connected_components_matches_bruteforce(spark, seed):
    rng = random.Random(seed)
    n = rng.randint(2, 30)
    edges = [
        (rng.randint(0, n - 1), rng.randint(0, n - 1))
        for _ in range(rng.randint(0, 2 * n))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    from pimdb_spark.operators.curation import connected_components

    nodes_df = spark.range(0, n).withColumnRenamed("id", "node")
    if not edges:
        edges_df = spark.createDataFrame([], "id_a long, id_b long")
    else:
        edges_df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(edges_df, nodes=nodes_df).collect()
    # union-find model
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    for x in range(n):
        root = find(x)
        want[x] = min(y for y in range(n) if find(y) == root)
    assert {r.id: r.component for r in out} == want


def test_connected_components_long_chain_converges(spark):
    # a path graph is the worst case for hash-min (diameter = n-1); the
    # propagation must still reach the fixpoint within max_iter
    from pimdb_spark.operators.curation import connected_components

    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    out = connected_components(edges_df, max_iter=15).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == 13


def test_connected_components_raises_on_non_convergence(spark):
    # builder-r17 loud guard (r13 ADVICE): an uncertified loop exit must
    # raise, never return a silently-partial labeling — downstream
    # contracts (keep-one-per-cluster dedup, leakage-safe component
    # splits) are built on the exact closure.  A 12-edge path graph needs
    # 12 propagation rounds + 1 zero-change certification round; give it 3.
    import pytest as _pytest

    from pimdb_spark.operators.curation import connected_components

    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges_df, max_iter=3)


def test_connected_components_exact_iter_budget_certifies(spark):
    # diameter-d path: d change rounds + 1 certification round must
    # succeed at max_iter = d + 1 (the guard fires only when the LAST
    # allowed round still changed labels)
    from pimdb_spark.operators.curation import connected_components

    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["id_a", "id_b"]
    )
    out = connected_components(edges_df, max_iter=5).collect()
    assert {r.component for r in out} == {0}


def test_quality_funnel_is_monotone(spark):
    from pimdb_spark.catalog_curation import q_quality_funnel

    rows = q_quality_funnel(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.n_total >= r.n_len >= r.n_lang >= r.n_tok >= 0


def test_seq_packing_budget_invariants(spark):
    """Every sequence except the last one per shard must cross the budget
    boundary: total tokens of seqs 0..s-1 >= s * budget."""
    from pimdb_spark.catalog_curation import q_seq_packing

    rows = q_seq_packing(spark, "/root/testdata/sf0.001").collect()
    per_shard: dict[int, dict[int, int]] = {}
    for r in rows:
        per_shard.setdefault(r.shard, {})[r.seq_id] = r.seq_tokens
    for shard, seqs in per_shard.items():
        ids = sorted(seqs)
        # seq ids are dense from 0
        assert ids == list(range(len(ids)))
        cum = 0
        for s in ids[:-1]:
            cum += seqs[s]
            assert cum >= (s + 1) * 2000


def test_table_profile_nulls_and_distincts(spark):
    from pimdb_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, v string"
    )
    got = {r.column: r for r in table_profile(df).collect()}
    assert got["id"].n_rows == 4 and got["id"].n_null == 0
    assert got["id"].n_distinct == 4
    assert (got["id"].min_value, got["id"].max_value) == ("1", "4")
    assert got["v"].n_null == 1
    assert got["v"].n_distinct == 2  # NULL not counted
    assert (got["v"].min_value, got["v"].max_value) == ("a", "b")
    # HLL variant returns plausible counts without exact guarantee
    approx = {r.column: r.n_distinct for r in table_profile(df, exact_distinct=False).collect()}
    assert approx["id"] >= 3


def test_negative_sample_contract(spark):
    """k different-label negatives per anchor, deterministic across runs,
    never the anchor itself."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.curation import negative_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 10)
    out1 = negative_sample(emb, anchors, "vec_id", "label", k=3, buckets=4).collect()
    out2 = negative_sample(emb, anchors, "vec_id", "label", k=3, buckets=4).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    labels = {r.vec_id: r.label for r in anchors.collect()}
    per_anchor = {}
    for r in out1:
        assert r.cand_label != labels[r.anchor_id]
        assert r.cand_id != r.anchor_id
        per_anchor.setdefault(r.anchor_id, []).append(r.neg_rank)
    for a, ranks in per_anchor.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_leakage_safe_split_invariants(spark):
    """q_leakage_safe_split: component-pure safe assignment, audit-column
    correctness, min-id representative, planted copies co-clustered with
    their source, and a non-degenerate fixture (the doc-level baseline
    must actually leak somewhere for the audit to mean anything)."""
    import collections

    from pimdb_spark import entrypoints  # noqa: F401 — loads the catalog
    from pimdb_spark.catalog import _REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = _REGISTRY["q_leakage_safe_split"].fn(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs, max_id = docs.agg(
        F.count(F.lit(1)), F.max("doc_id")
    ).first()
    n_planted = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.size(F.split("text", " ")) >= 3)
    ).count()
    assert len(rows) == n_docs + n_planted
    offset = 1 + max_id

    by_comp = collections.defaultdict(list)
    for r in rows:
        by_comp[r.component].append(r)
    for comp, members in by_comp.items():
        # safe split is component-pure by construction
        assert len({m.split_safe for m in members}) == 1
        # the audit flag is exactly "doc-level split straddles this component"
        leaky = len({m.split_doc for m in members}) > 1
        assert all(m.leaky_doc_level == leaky for m in members)
        # representative = min reachable id
        assert comp == min(m.doc_id for m in members)
    # every planted copy (id >= derived offset) clusters with a real doc
    for r in rows:
        if r.doc_id >= offset:
            assert r.component < offset
    # fixture is non-degenerate: both splits occur and the naive baseline leaks
    assert {r.split_safe for r in rows} == {"train", "eval"}
    assert any(r.leaky_doc_level for r in rows)


def test_incremental_split_inherit_decision_paths(spark):
    # hand-built graph covering every decision path of
    # operators/curation.incremental_split_inherit:
    #   comp 1 = {1, 2}: only doc 2 has a ref edge (train) -> BOTH docs
    #            inherit train through the new-x-new link
    #   comp 3 = {3}:    edges to train AND eval refs -> 'conflict'
    #   comp 4 = {4}:    eval-only ref edge -> eval
    #   comp 5 = {5}:    no ref edges -> fresh hash_bucket(component) rule
    from pimdb_spark.operators.curation import (
        hash_bucket,
        incremental_split_inherit,
    )

    components = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 5)], ["id", "component"]
    )
    cross = spark.createDataFrame(
        [(2, 101), (3, 101), (3, 102), (4, 102)], ["new_id", "ref_id"]
    )
    refs = spark.createDataFrame(
        [(101, "train"), (102, "eval")], ["ref_id", "split"]
    )
    out = {
        r.id: r
        for r in incremental_split_inherit(components, cross, refs).collect()
    }
    assert len(out) == 5
    assert out[1].split == "train" and out[1].inherited == 1
    assert out[2].split == "train" and out[2].inherited == 1
    assert out[1].n_train_refs == 1 and out[1].n_eval_refs == 0
    assert out[3].split == "conflict" and out[3].inherited == 1
    assert out[3].n_train_refs == 1 and out[3].n_eval_refs == 1
    assert out[4].split == "eval" and out[4].inherited == 1
    assert out[5].inherited == 0
    fresh = spark.range(1).select(hash_bucket(F.lit(5).cast("long"))).first()[0]
    assert out[5].split == ("train" if fresh < 90 else "eval")


def test_incremental_split_inherit_fence_is_leak_free(spark):
    # end-to-end composition over the real corpus: no NEW doc assigned
    # 'train' may share a component with an eval-side reference edge and
    # vice versa; conflicts are surfaced, never silently sided
    from pimdb_spark.catalog_text import q_incremental_split_inherit

    rows = q_incremental_split_inherit(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert {r.split for r in rows} <= {"train", "eval", "conflict"}
    for r in rows:
        if r.split == "train":
            assert r.n_eval_refs == 0
        elif r.split == "eval":
            assert r.n_train_refs == 0
        elif r.split == "conflict":
            assert r.n_train_refs > 0 and r.n_eval_refs > 0
        assert r.inherited == int(r.n_train_refs + r.n_eval_refs > 0)
    # fixture is non-degenerate: planted copies inherit, reversed docs don't
    assert any(r.inherited == 1 for r in rows)
    assert any(r.inherited == 0 for r in rows)
