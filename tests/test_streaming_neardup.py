"""Streaming MinHash+LSH near-dup (streaming/neardup.py): pair set must
match a Python model computed from the batch signature pipeline, and
state must carry across micro-batches (a doc arriving later pairs with a
stored doc from an earlier file)."""

from __future__ import annotations

import itertools


def _model_pairs(spark, docs_df, bands=4, rows_per_band=4, threshold=0.8):
    """Expected pairs from the BATCH signature/banding expressions (already
    property-tested against Python): bucket by band hash, then
    signature-estimate >= threshold for every in-bucket pair."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signature,
        word_shingles,
    )

    toks = F.split(F.col("text"), " ")
    sig_arr = minhash_signature(word_shingles(toks, 3), 16)
    rows = docs_df.select(
        "doc_id",
        sig_arr.alias("sig"),
        lsh_band_hashes(sig_arr, bands, rows_per_band).alias("bh"),
    ).collect()
    pairs = set()
    for band in range(bands):
        buckets: dict[str, list] = {}
        for r in rows:
            buckets.setdefault(r.bh[band], []).append(r)
        for members in buckets.values():
            for x, y in itertools.combinations(sorted(members, key=lambda r: r.doc_id), 2):
                est = sum(1 for a, b in zip(x.sig, y.sig) if a == b) / 16.0
                if est >= threshold:
                    pairs.add((x.doc_id, y.doc_id))
    return pairs


def _docs_subset(spark, pred):
    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(pred)
        .select("doc_id", "text")
    )


def _stage_files(tmp_path, frames) -> str:
    """Write each (name, frame) as ONE parquet file <name>.parquet in a
    fresh stream source directory, with modification times increasing in
    list order (the file source orders micro-batches by mtime); returns
    the directory."""
    import glob
    import os
    import shutil
    import time

    src = tmp_path / "stream_src"
    src.mkdir()
    now = time.time()
    for i, (name, df) in enumerate(frames):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dest = src / f"{name}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (now - 20 + 10 * i, now - 20 + 10 * i))
    return str(src)


def test_stream_neardup_matches_model(spark, tmp_path):
    import duckdb

    from pimdb_spark.streaming.events import run_to_memory
    from pimdb_spark.streaming.neardup import neardup_pairs_stream

    src = tmp_path / "docs_stream"
    src.mkdir()
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT doc_id, text
        FROM '/root/testdata/sf0.001/documents.parquet' WHERE doc_id < 300)
        TO '{src}/a.parquet' (FORMAT PARQUET)"""
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out = neardup_pairs_stream(stream, threshold=0.8)
    run_to_memory(out, "neardup_pairs", output_mode="append")
    got = {(r.id_a, r.id_b) for r in spark.table("neardup_pairs").collect()}

    expected = _model_pairs(spark, _docs_subset(spark, "doc_id < 300"))
    assert got == expected
    assert len(got) > 0  # the testdata contains near-dups below 300


def test_stream_neardup_state_spans_micro_batches(spark, tmp_path):
    """Pairs whose members arrive in DIFFERENT micro-batches must still be
    found: maxFilesPerTrigger=1 forces the two files through separate
    micro-batches of one query, so every (even, odd) cross-file pair
    proves the bucket state carried over between batches."""
    import duckdb

    from pimdb_spark.streaming.events import run_to_memory
    from pimdb_spark.streaming.neardup import neardup_pairs_stream

    src = tmp_path / "docs_incr"
    src.mkdir()
    con = duckdb.connect()
    for tag, parity in (("a", 0), ("b", 1)):
        con.execute(
            f"""COPY (SELECT doc_id, text
            FROM '/root/testdata/sf0.001/documents.parquet'
            WHERE doc_id < 300 AND doc_id % 2 = {parity})
            TO '{src}/{tag}.parquet' (FORMAT PARQUET)"""
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = neardup_pairs_stream(stream, threshold=0.8)
    run_to_memory(out, "neardup_incr", output_mode="append")
    got = {(r.id_a, r.id_b) for r in spark.table("neardup_incr").collect()}

    expected = _model_pairs(spark, _docs_subset(spark, "doc_id < 300"))
    assert got == expected
    cross = {(a, b) for a, b in got if (a % 2 == 0) != (b % 2 == 0)}
    assert cross  # pairs span the per-file micro-batches -> state worked


def test_stream_neardup_resumes_from_checkpoint(spark, tmp_path):
    """Cross-QUERY state restore: drain file A with a checkpoint, then
    start a NEW query on the same checkpoint after file B arrives — the
    second drain processes only B, so every (A, B) pair it emits proves
    the bucket state was restored from the state store, not recomputed."""
    import duckdb

    from pimdb_spark.streaming.neardup import neardup_pairs_stream

    src = tmp_path / "docs_chk"
    src.mkdir()
    chk = tmp_path / "chk"
    con = duckdb.connect()
    pairs: set = set()
    batches: list[int] = []

    def drain():
        def sink(batch_df, _epoch):
            got = batch_df.collect()
            batches.append(len(got))
            for r in got:
                pairs.add((r.id_a, r.id_b))

        stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
        q = (
            neardup_pairs_stream(stream, threshold=0.8)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    con.execute(
        f"""COPY (SELECT doc_id, text
        FROM '/root/testdata/sf0.001/documents.parquet'
        WHERE doc_id < 300 AND doc_id % 2 = 0)
        TO '{src}/a.parquet' (FORMAT PARQUET)"""
    )
    drain()
    con.execute(
        f"""COPY (SELECT doc_id, text
        FROM '/root/testdata/sf0.001/documents.parquet'
        WHERE doc_id < 300 AND doc_id % 2 = 1)
        TO '{src}/b.parquet' (FORMAT PARQUET)"""
    )
    drain()

    expected = _model_pairs(spark, _docs_subset(spark, "doc_id < 300"))
    assert pairs == expected
    cross = {(a, b) for a, b in pairs if (a % 2 == 0) != (b % 2 == 0)}
    assert cross  # found by the SECOND query -> state came from checkpoint


def test_cross_neardup_stream_matches_batch_across_splits(spark, tmp_path):
    """Drained-batch parity for the incremental-ingest gate twin: the new
    corpus arrives in two micro-batch files, every per-doc verdict must
    equal the batch cross_neardup_filter over the whole new corpus (a
    verdict depends only on the doc itself vs the static reference, so
    parity is structural — this asserts it anyway), and the fixture
    plants truncated copies so matched and unmatched rows both occur."""
    from pyspark.sql import functions as F

    from pimdb_spark.catalog import load
    from pimdb_spark.operators.dedup import cross_neardup_filter
    from pimdb_spark.streaming.neardup import cross_neardup_stream

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    toks = F.split("text", " ")
    off = docs.agg((F.lit(1) + F.max("doc_id")).alias("_o"))
    trunc = (
        ref.filter(F.col("doc_id") % 3 == 0)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + F.col("_o")).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(toks, 1, F.expr("(3 * size(split(text, ' '))) div 5")),
            ).alias("text"),
        )
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).union(trunc)

    src = _stage_files(
        tmp_path,
        [("a", new.filter(F.col("doc_id") % 2 == 0)),
         ("b", new.filter(F.col("doc_id") % 2 == 1))],
    )
    out_path = str(tmp_path / "verdicts")
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = cross_neardup_stream(
        stream, ref, out_path, str(tmp_path / "chk"), threshold=0.5
    )
    assert q.awaitTermination(300), "stream drain timed out"

    got = {
        r.doc_id: (r.n_ref_matches, r.best_ref, r.best_jacc, r.matched)
        for r in spark.read.parquet(out_path).collect()
    }
    expected = {
        r.doc_id: (r.n_ref_matches, r.best_ref, r.best_jacc, r.matched)
        for r in cross_neardup_filter(new, ref, threshold=0.5).collect()
    }
    assert got == expected
    assert len(got) == new.count()
    assert any(v[3] == 1 for v in got.values())  # planted copies caught
    assert any(v[3] == 0 for v in got.values())  # organic docs pass


def test_incremental_split_stream_matches_batch_id_ordered(spark, tmp_path):
    """Drained-batch parity for the streaming leakage fence under the
    stated order contract (id-ordered ingest: every cluster's min-id
    member arrives first): per-doc 'split' / 'inherited' verdicts must
    equal the one-shot batch composition over the whole new corpus,
    because the growing reference reproduces the component closure hop
    by hop — copies of the same source doc split across micro-batches
    inherit the same side through the admitted earlier copy."""
    from pyspark.sql import functions as F

    from pimdb_spark.catalog import load
    from pimdb_spark.operators.curation import (
        connected_components,
        incremental_split_inherit,
    )
    from pimdb_spark.operators.dedup import (
        cross_minhash_pairs_from_signatures,
        minhash_doc_signatures,
        minhash_pairs_from_signatures,
    )
    from pimdb_spark.operators.curation import hash_bucket
    from pimdb_spark.streaming.neardup import incremental_split_stream

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs
    ref_splits = docs.select(
        F.col("doc_id").alias("ref_id"),
        F.when(hash_bucket(F.col("doc_id")) < 90, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    # new shard: TWO exact copies of every 10th doc (>=3 tokens) so a
    # near-dup cluster spans micro-batches, plus token-reversed texts of
    # every 10th-plus-1 doc as known fresh singletons
    off = docs.agg((F.lit(1) + F.max("doc_id")).alias("_o"))
    eligible = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.size(F.split("text", " ")) >= 3)
    )
    copy1 = eligible.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + F.col("_o")).alias("doc_id"), "text"
    )
    copy2 = eligible.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + 2 * F.col("_o")).alias("doc_id"), "text"
    )
    fresh = (
        docs.filter(F.col("doc_id") % 10 == 1)
        .crossJoin(F.broadcast(off))
        .select(
            (F.col("doc_id") + 3 * F.col("_o")).alias("doc_id"),
            F.concat_ws(" ", F.reverse(F.split("text", " "))).alias("text"),
        )
    )
    new = copy1.union(copy2).union(fresh)
    o = off.first()[0]
    cut = 2 * o  # batch A: first copies (+ nothing else below 2*o)

    src = _stage_files(
        tmp_path,
        [("a", new.filter(F.col("doc_id") < cut)),
         ("b", new.filter(F.col("doc_id") >= cut))],
    )

    splits_path = str(tmp_path / "ref_splits")
    ref_splits.write.parquet(splits_path)
    out_path = str(tmp_path / "verdicts")
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = incremental_split_stream(
        stream,
        ref,
        splits_path,
        str(tmp_path / "admitted"),
        out_path,
        str(tmp_path / "chk"),
    )
    assert q.awaitTermination(300), "stream drain timed out"

    got = {
        r.id: (r.split, r.inherited)
        for r in spark.read.parquet(out_path).collect()
    }

    # one-shot batch composition over the whole new corpus
    sig_new = minhash_doc_signatures(new, "doc_id", "text", 3, 16)
    sig_ref = minhash_doc_signatures(ref, "doc_id", "text", 3, 16)
    nn = minhash_pairs_from_signatures(sig_new, 16, 4, 0.8)
    comp = connected_components(
        nn, "id_a", "id_b", nodes=new.select("doc_id"), max_iter=100
    )
    cross = cross_minhash_pairs_from_signatures(
        sig_new, sig_ref, 16, 8, 0.5
    ).select(F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"))
    expected = {
        r.id: (r.split, r.inherited)
        for r in incremental_split_inherit(
            comp.select(F.col("id").alias("doc_id"), "component"),
            cross,
            ref_splits,
            id_col="doc_id",
        ).collect()
    }
    assert got == expected
    assert len(got) == new.count()
    # cross-batch inheritance actually exercised: every second copy
    # (batch B) is inherited, and its side matches its batch-A sibling
    for r in spark.read.parquet(out_path).collect():
        if 2 * o <= r.id < 3 * o:
            sib = got.get(r.id - o)
            assert sib is not None and r.inherited == 1
            assert r.split == sib[0]
    assert any(v[1] == 0 for v in got.values())  # fresh singletons exist


def test_incremental_split_stream_never_splits_cluster_any_order(spark, tmp_path):
    """The fence's order-robustness contract: under arrival order that
    VIOLATES min-id-first (batches fed in reverse id order), which side a
    fresh cluster lands on may differ from the one-shot split, but no
    near-dup cluster may ever straddle train/eval — later members inherit
    through the admitted earlier member."""
    from pyspark.sql import functions as F

    from pimdb_spark.catalog import load
    from pimdb_spark.operators.curation import hash_bucket
    from pimdb_spark.streaming.neardup import incremental_split_stream

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    ref = docs
    ref_splits = docs.select(
        F.col("doc_id").alias("ref_id"),
        F.when(hash_bucket(F.col("doc_id")) < 90, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    off = docs.agg((F.lit(1) + F.max("doc_id")).alias("_o"))
    eligible = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.size(F.split("text", " ")) >= 3)
    )
    copy1 = eligible.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + F.col("_o")).alias("doc_id"), "text"
    )
    copy2 = eligible.crossJoin(F.broadcast(off)).select(
        (F.col("doc_id") + 2 * F.col("_o")).alias("doc_id"), "text"
    )
    new = copy1.union(copy2)
    o = off.first()[0]

    # REVERSED order: the higher-id copies arrive first
    src = _stage_files(
        tmp_path,
        [("a", new.filter(F.col("doc_id") >= 2 * o)),
         ("b", new.filter(F.col("doc_id") < 2 * o))],
    )

    out_path = str(tmp_path / "verdicts")
    splits_path = str(tmp_path / "ref_splits")
    ref_splits.write.parquet(splits_path)
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = incremental_split_stream(
        stream,
        ref,
        splits_path,
        str(tmp_path / "admitted"),
        out_path,
        str(tmp_path / "chk"),
    )
    assert q.awaitTermination(300), "stream drain timed out"

    got = {r.id: r.split for r in spark.read.parquet(out_path).collect()}
    assert len(got) == new.count()
    # every copy pair (d+o, d+2o) is one near-dup cluster: same side,
    # regardless of which member arrived first
    for d in [r.doc_id for r in eligible.collect()]:
        a, b = got[d + o], got[d + 2 * o]
        assert a == b, (d, a, b)
        assert a in ("train", "eval", "conflict")


# ---------------------------------------------------------------------------
# Replay contract of the incremental fence (the r15 ADVICE fixes): an
# epoch re-fired with the same batch id and rows must re-emit IDENTICAL
# verdict rows — no self-match 'inherited' flip, no same-batch
# opposite-sides 'conflict' flip, counts included — and later epochs
# must be unaffected by the duplicate reference appends the replay left.
# ---------------------------------------------------------------------------

_R1_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_R2_TEXT = "one two three four five six seven eight nine ten"
_UNIQ_TEXT = "red orange yellow green blue indigo violet crimson amber teal"
_LONG_TEXT = (
    "north south east west up down left right front back spring summer "
    "autumn winter morning noon evening night dawn dusk"
)
# 70% prefix: 12/18 distinct shingles shared -> Jaccard 0.667, inside the
# ADVICE's [0.5, 0.8) window (cross gate at 0.5 sees the pair; the 0.8
# self-closure does not)
_PREFIX_TEXT = " ".join(_LONG_TEXT.split(" ")[:14])


def _fence_fixture(spark, tmp_path):
    """(ref_docs, splits_path, admitted_path, out_path, batch0) — ids 103
    (fresh side train) and 112 (fresh side eval) carry the prefix pair;
    101 copies the train reference; 102 is a unique singleton DELIVERED
    TWICE in the batch (at-least-once duplicate)."""
    from pyspark.sql import functions as F  # noqa: F401

    ref_docs = spark.createDataFrame(
        [(1, _R1_TEXT), (2, _R2_TEXT)], "doc_id long, text string"
    )
    splits_path = str(tmp_path / "ref_splits")
    # seed WITHOUT an epoch column — the pre-stream-seed compat path
    spark.createDataFrame(
        [(1, "train"), (2, "eval")], "ref_id long, split string"
    ).write.parquet(splits_path)
    batch0 = spark.createDataFrame(
        [
            (101, _R1_TEXT),
            (102, _UNIQ_TEXT),
            (102, _UNIQ_TEXT),  # within-batch duplicate delivery
            (103, _LONG_TEXT),
            (112, _PREFIX_TEXT),
        ],
        "doc_id long, text string",
    )
    return (
        ref_docs,
        splits_path,
        str(tmp_path / "admitted"),
        str(tmp_path / "verdicts"),
        batch0,
    )


def test_incremental_split_batch_replay_identical(spark, tmp_path):
    """Re-running an epoch appends byte-identical verdict rows: the epoch
    fence hides the epoch's own admissions from its replay."""
    from pimdb_spark.operators.dedup import (
        cross_minhash_pairs_from_signatures,
        minhash_doc_signatures,
    )
    from pimdb_spark.streaming.neardup import incremental_split_batch

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    # fixture self-check: the prefix pair IS cross-detectable at the 8x2
    # banding / 0.5 gate (otherwise the conflict-flip scenario this test
    # exists to rule out could never fire and the test would pass vacuously)
    sig_a = minhash_doc_signatures(
        batch0.filter("doc_id = 103"), "doc_id", "text", 3, 16
    )
    sig_b = minhash_doc_signatures(
        batch0.filter("doc_id = 112"), "doc_id", "text", 3, 16
    )
    gate_pairs = cross_minhash_pairs_from_signatures(sig_a, sig_b, 16, 8, 0.5).collect()
    sig_a.unpersist(), sig_b.unpersist()
    assert len(gate_pairs) == 1 and 0.5 <= gate_pairs[0].jacc < 0.8, gate_pairs

    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    incremental_split_batch(batch0, 0, ref_docs, **kw)
    first = sorted(
        tuple(r) for r in spark.read.parquet(out_path).collect()
    )
    # one verdict row per DISTINCT doc id (the duplicate 102 delivery
    # collapses), correct decisions
    assert [t[0] for t in first] == [101, 102, 103, 112]
    by_id = {t[0]: t for t in first}
    assert by_id[101][4] == "train" and by_id[101][5] == 1  # inherited from R1
    assert by_id[102][4] == "train" and by_id[102][5] == 0  # fresh, hb(102)=23
    assert by_id[103][4] == "train" and by_id[103][5] == 0  # fresh, hb(103)=82
    assert by_id[112][4] == "eval" and by_id[112][5] == 0  # fresh, hb(112)=94

    # REPLAY epoch 0: same batch, same epoch id
    incremental_split_batch(batch0, 0, ref_docs, **kw)
    replayed = sorted(tuple(r) for r in spark.read.parquet(out_path).collect())
    # exactly two copies of each first-run row — every column identical:
    # no 'conflict' flip on 103/112, no inherited flip on any doc, counts
    # unchanged
    assert replayed == sorted(first + first)


def test_incremental_split_batch_later_epoch_ignores_replay_duplicates(
    spark, tmp_path
):
    """A replayed epoch appends duplicate reference rows; a LATER epoch
    must dedupe them on read — counts stay exact and duplicated admitted
    rows never corrupt the reference side."""
    from pimdb_spark.streaming.neardup import incremental_split_batch

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    incremental_split_batch(batch0, 0, ref_docs, **kw)
    incremental_split_batch(batch0, 0, ref_docs, **kw)  # replay
    # epoch 1: a copy of 102's text must inherit 102's side with
    # n_train_refs EXACTLY 1 (102 was admitted twice by the replay)
    batch1 = spark.createDataFrame(
        [(201, _UNIQ_TEXT)], "doc_id long, text string"
    )
    incremental_split_batch(batch1, 1, ref_docs, **kw)
    (row,) = [
        r for r in spark.read.parquet(out_path).collect() if r.id == 201
    ]
    assert row.split == "train" and row.inherited == 1
    assert row.n_train_refs == 1 and row.n_eval_refs == 0


def test_incremental_split_batch_corrupt_admitted_fails_loudly(spark, tmp_path):
    """Only the first-batch missing admitted path is survivable; a corrupt
    reference read must fail the batch, not silently drop the reference
    (a dropped reference = a permanent train/eval leak)."""
    import os

    import pytest

    from pimdb_spark.streaming.neardup import incremental_split_batch

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    os.makedirs(admitted_path)
    with open(os.path.join(admitted_path, "part-00000.parquet"), "wb") as f:
        f.write(b"definitely not parquet bytes")
    with pytest.raises(Exception, match="(?i)parquet|footer|FAILED_READ"):
        incremental_split_batch(
            batch0,
            0,
            ref_docs,
            ref_splits_path=splits_path,
            admitted_path=admitted_path,
            out_path=out_path,
        )
    # and nothing was emitted for the failed epoch
    assert not os.path.exists(out_path) or not [
        f for f in os.listdir(out_path) if f.endswith(".parquet")
    ]


def test_incremental_split_batch_never_reshingles_reference(spark, tmp_path):
    """The fence gates against stored signatures only: a run handed the
    static reference as a precomputed signature frame plus a ref_docs
    frame with POISONED text emits the same verdicts, epoch by epoch, as
    a run that shingles the real reference itself — verdicts can only be
    right if no reference text (static or admitted) is re-shingled.  The
    poisoned run also replays epoch 0 (replay-identical rows) and keeps
    the caller-owned static signatures persisted."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.dedup import minhash_doc_signatures
    from pimdb_spark.streaming.neardup import incremental_split_batch

    results = {}
    for run in ("plain", "poisoned"):
        base = tmp_path / run
        ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
            spark, base
        )
        kw = dict(
            ref_splits_path=splits_path,
            admitted_path=admitted_path,
            out_path=out_path,
        )
        handler_ref = ref_docs
        sig_static = None
        if run == "poisoned":
            sig_static = minhash_doc_signatures(ref_docs, "doc_id", "text", 3, 16)
            kw["ref_signatures"] = sig_static
            # any code path that re-shingles the static reference now
            # produces wrong verdicts
            handler_ref = ref_docs.select(
                "doc_id", F.lit("poisoned text only").alias("text")
            )
        # epoch 1: 201 inherits 102's side through the admitted state;
        # 202 (copy of 103's text) reaches admitted 103 (train) AND
        # admitted 112 (eval, J=0.667) -> conflict via admitted state
        batch1 = spark.createDataFrame(
            [(201, _UNIQ_TEXT), (202, _LONG_TEXT)], "doc_id long, text string"
        )
        incremental_split_batch(batch0, 0, handler_ref, **kw)
        if run == "poisoned":
            incremental_split_batch(batch0, 0, handler_ref, **kw)  # replay
        incremental_split_batch(batch1, 1, handler_ref, **kw)
        rows = [tuple(r) for r in spark.read.parquet(out_path).collect()]
        if run == "poisoned":
            # replay appended a second identical copy of every epoch-0 row
            by_id = {}
            for t in rows:
                by_id.setdefault(t[0], []).append(t)
            for i in (101, 102, 103, 112):
                assert len(by_id[i]) == 2 and by_id[i][0] == by_id[i][1], by_id[i]
            # caller-owned static signatures are NOT unpersisted per batch
            assert sig_static.storageLevel.useMemory
            sig_static.unpersist()
        results[run] = set(rows)
    assert results["poisoned"] == results["plain"]
    by_id = {t[0]: t for t in results["poisoned"]}
    # (id, component, n_train_refs, n_eval_refs, split, inherited)
    assert by_id[101][2:] == (1, 0, "train", 1)  # static signatures matched
    assert by_id[201][2:] == (1, 0, "train", 1)  # through admitted state
    assert by_id[202][2:] == (1, 1, "conflict", 1)  # straddling admissions


def test_incremental_split_batch_rejects_admitted_of_other_settings(
    spark, tmp_path
):
    """Stored signatures are never recomputed from text, so an admitted
    table built at another shingle size k, or without the h columns
    num_hashes needs (a narrower signature, a table of texts alone),
    must raise a named ValueError — gating against it would silently
    drop every admitted doc from the reference (201, a copy of admitted
    102, would lose its inheritance)."""
    import pytest

    from pimdb_spark.streaming.neardup import (
        incremental_split_batch,
        incremental_split_stream,
    )

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    incremental_split_batch(batch0, 0, ref_docs, k=3, **kw)
    batch1 = spark.createDataFrame([(201, _UNIQ_TEXT)], "doc_id long, text string")
    with pytest.raises(ValueError, match="shingle size k=\\[3\\].*runs k=5"):
        incremental_split_batch(batch1, 1, ref_docs, k=5, **kw)
    with pytest.raises(ValueError, match="lacks columns .*'h16'"):
        incremental_split_batch(batch1, 1, ref_docs, num_hashes=32, **kw)
    # the stream checks at start, before any batch runs
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(batch0.schema).parquet(str(src))
    with pytest.raises(ValueError, match="runs k=5"):
        incremental_split_stream(
            stream, ref_docs, splits_path, admitted_path, out_path,
            str(tmp_path / "chk"), k=5,
        )
    # a table of admitted texts alone carries no signatures to gate with
    texts_only = str(tmp_path / "texts_only")
    batch0.withColumn("epoch", batch0.doc_id * 0).write.parquet(texts_only)
    with pytest.raises(ValueError, match="lacks columns"):
        incremental_split_batch(
            batch1, 1, ref_docs, ref_splits_path=splits_path,
            admitted_path=texts_only, out_path=out_path,
        )
    # nothing was emitted for any rejected epoch
    assert {r.id for r in spark.read.parquet(out_path).collect()} == {
        101, 102, 103, 112,
    }


def test_incremental_split_stream_signature_mode(spark, tmp_path):
    """End-to-end stream: two micro-batch files drain — cross-batch
    inheritance flows through the admitted signature table and the
    static signatures computed once by the wrapper."""
    from pimdb_spark.streaming.neardup import incremental_split_stream

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    batch1 = spark.createDataFrame(
        [(201, _UNIQ_TEXT), (202, _LONG_TEXT)], "doc_id long, text string"
    )
    # batch0 must be admitted before batch1
    src = _stage_files(tmp_path, [("a", batch0), ("b", batch1)])
    stream = (
        spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_split_stream(
        stream,
        ref_docs,
        splits_path,
        admitted_path,
        out_path,
        str(tmp_path / "chk"),
    )
    assert q.awaitTermination(300), "stream drain timed out"

    got = {
        r.id: (r.n_train_refs, r.n_eval_refs, r.split, r.inherited)
        for r in spark.read.parquet(out_path).collect()
    }
    assert got[101] == (1, 0, "train", 1)   # inherits the static reference
    assert got[201] == (1, 0, "train", 1)   # inherits through admitted state
    assert got[202] == (1, 1, "conflict", 1)
    assert got[103][2] == "train" and got[112][2] == "eval"


def test_incremental_split_batch_short_doc_marker_rows(spark, tmp_path):
    """A shingle-less admitted doc (< k tokens) gets a row with NULL
    signature columns: the admitted table's epoch coverage still counts
    it (the reset-checkpoint guard's input) and the row never reaches
    the banding pass.  Each epoch writes one row per admitted doc, with
    its text, signature, shingles, k and epoch."""
    from pimdb_spark.streaming.neardup import (
        _admitted_max_epoch,
        incremental_split_batch,
    )

    ref_docs, splits_path, admitted_path, out_path, _ = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    b0 = spark.createDataFrame([(301, "too short")], "doc_id long, text string")
    incremental_split_batch(b0, 0, ref_docs, **kw)
    adm = spark.read.parquet(admitted_path)
    assert adm.columns == [
        "doc", "text", *[f"h{i}" for i in range(16)], "shingles", "k", "epoch"
    ]
    (marker,) = adm.collect()
    assert (marker.doc, marker.text, marker.k, marker.epoch) == (
        301, "too short", 3, 0,
    )
    assert marker.shingles is None and marker.h0 is None

    b1 = spark.createDataFrame([(302, _UNIQ_TEXT)], "doc_id long, text string")
    incremental_split_batch(b1, 1, ref_docs, **kw)
    rows = {r.id: r.split for r in spark.read.parquet(out_path).collect()}
    assert rows[301] in ("train", "eval") and rows[302] in ("train", "eval")
    assert _admitted_max_epoch(spark, admitted_path, 3, 16) == 1


def test_incremental_split_batch_reset_checkpoint_guard(spark, tmp_path):
    """A batch whose epoch is BEHIND the admitted table's max means the
    stream's checkpoint was reset (foreachBatch ids restart at 0) — the
    epoch fence would then hide every prior admission, handing a
    near-dup of an admitted doc a fresh hash side.  The batch must fail
    loudly; a legitimate replay of the LAST epoch still runs."""
    import pytest

    from pimdb_spark.streaming.neardup import incremental_split_batch

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    incremental_split_batch(batch0, 0, ref_docs, **kw)
    batch1 = spark.createDataFrame([(201, _UNIQ_TEXT)], "doc_id long, text string")
    incremental_split_batch(batch1, 1, ref_docs, **kw)
    # replay of the LAST epoch: allowed, replay-identical
    incremental_split_batch(batch1, 1, ref_docs, **kw)
    rows = [r for r in spark.read.parquet(out_path).collect() if r.id == 201]
    assert len(rows) == 2 and tuple(rows[0]) == tuple(rows[1])
    # reset checkpoint: epoch restarts at 0 while the table reaches 1
    with pytest.raises(ValueError, match="checkpoint was reset"):
        incremental_split_batch(batch0, 0, ref_docs, **kw)
    # and the failed batch emitted nothing new
    assert len(spark.read.parquet(out_path).collect()) == 6  # 4 + 2 replays


def test_cross_neardup_stream_unpersists_batch_signatures(spark, tmp_path):
    """The cross gate's handler owns the per-batch new-side signature
    frame and unpersists it after the sink write: a long-running stream
    must not accumulate one cached frame per micro-batch (only the
    stream-lifetime static reference signatures stay cached)."""
    from pimdb_spark.streaming.neardup import cross_neardup_stream

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    src = _stage_files(
        tmp_path,
        [("a", batch0.filter("doc_id % 2 = 0")),
         ("b", batch0.filter("doc_id % 2 = 1"))],
    )

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    stream = (
        spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = cross_neardup_stream(
        stream, ref_docs, str(tmp_path / "verdicts"), str(tmp_path / "chk")
    )
    assert q.awaitTermination(300), "stream drain timed out"
    # two micro-batches ran; at most ONE new cached entry survives (the
    # stream-owned static sig_ref) — per-batch sig_new frames are gone
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, (before, after)
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()}
    assert got == {101, 102, 103, 112}


def test_signature_mode_prefers_real_signature_over_marker(spark, tmp_path):
    """A doc admitted once shingle-less (NULL-signature row) and later
    with real text must resolve to its REAL signature row on the
    reference side: NULL rows are filtered BEFORE the per-doc dedup, so
    the dedup cannot silently drop the doc from the banding pass."""
    from pyspark.sql import functions as F

    from pimdb_spark.streaming.neardup import incremental_split_batch

    ref_docs, splits_path, admitted_path, out_path, _ = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    # epoch 0: 301 arrives shingle-less -> NULL-signature row
    b0 = spark.createDataFrame([(301, "too short")], "doc_id long, text string")
    incremental_split_batch(b0, 0, ref_docs, **kw)
    # epoch 1: 301 re-delivered with real text -> real signature row
    b1 = spark.createDataFrame([(301, _UNIQ_TEXT)], "doc_id long, text string")
    incremental_split_batch(b1, 1, ref_docs, **kw)
    sig_rows = spark.read.parquet(admitted_path).filter(F.col("doc") == 301).collect()
    assert {r.epoch for r in sig_rows} == {0, 1}
    assert any(r.shingles is not None for r in sig_rows)
    # epoch 2: a copy of 301's real text must inherit 301's side — the
    # reference side resolved 301 to the real row, not the marker
    b2 = spark.createDataFrame([(401, _UNIQ_TEXT)], "doc_id long, text string")
    incremental_split_batch(b2, 2, ref_docs, **kw)
    (row,) = [r for r in spark.read.parquet(out_path).collect() if r.id == 401]
    side_301 = {r.id: r.split for r in spark.read.parquet(out_path).collect()}[301]
    assert row.inherited == 1 and row.split == side_301
    assert row.n_train_refs + row.n_eval_refs == 1


def test_incremental_split_stream_epoch_guard_is_one_scan(
    spark, tmp_path, monkeypatch
):
    """The reset-checkpoint guard costs ONE admitted-table scan at stream
    start; per micro-batch it is an O(1) check against the handler's
    closure-maintained max — no per-batch parquet scan+agg of the
    (reference-sized) admitted table."""
    from pimdb_spark.streaming import neardup as N

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    batch1 = spark.createDataFrame(
        [(201, _UNIQ_TEXT)], "doc_id long, text string"
    )

    calls: list[str] = []
    real = N._admitted_max_epoch

    def counting(s, p, *args):
        calls.append(p)
        return real(s, p, *args)

    monkeypatch.setattr(N, "_admitted_max_epoch", counting)

    src = _stage_files(tmp_path, [("a", batch0), ("b", batch1)])
    stream = (
        spark.readStream.schema(batch0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = N.incremental_split_stream(
        stream,
        ref_docs,
        splits_path,
        admitted_path,
        out_path,
        str(tmp_path / "chk"),
    )
    assert q.awaitTermination(300), "stream drain timed out"
    # two micro-batches drained, yet the admitted table was scanned for
    # its max epoch exactly once — at stream start
    assert calls.count(admitted_path) == 1
    ids = {r.id for r in spark.read.parquet(out_path).collect()}
    assert {101, 102, 103, 112, 201} <= ids


def test_incremental_split_batch_epoch_state_guard(spark, tmp_path, monkeypatch):
    """A caller-owned epoch_state dict makes the guard O(1): the admitted
    table is never rescanned, the closure max stays monotone across
    batches (including a legitimate last-epoch replay), and a reset
    epoch still fails loudly."""
    import pytest

    from pimdb_spark.streaming import neardup as N

    ref_docs, splits_path, admitted_path, out_path, batch0 = _fence_fixture(
        spark, tmp_path
    )
    kw = dict(
        ref_splits_path=splits_path, admitted_path=admitted_path, out_path=out_path
    )
    state = {"max_epoch": N._admitted_max_epoch(spark, admitted_path, 3, 16)}
    assert state["max_epoch"] is None  # table missing pre-stream

    def boom(*args):  # any rescan with epoch_state present is the bug
        raise AssertionError("guard must not rescan the admitted table")

    monkeypatch.setattr(N, "_admitted_max_epoch", boom)
    N.incremental_split_batch(batch0, 0, ref_docs, epoch_state=state, **kw)
    assert state["max_epoch"] == 0
    batch1 = spark.createDataFrame(
        [(201, _UNIQ_TEXT)], "doc_id long, text string"
    )
    N.incremental_split_batch(batch1, 1, ref_docs, epoch_state=state, **kw)
    assert state["max_epoch"] == 1
    # replay of the LAST epoch: allowed, monotone value unchanged
    N.incremental_split_batch(batch1, 1, ref_docs, epoch_state=state, **kw)
    assert state["max_epoch"] == 1
    # reset checkpoint: epoch restarts at 0 while the closure max is 1
    with pytest.raises(ValueError, match="checkpoint was reset"):
        N.incremental_split_batch(batch0, 0, ref_docs, epoch_state=state, **kw)


def test_band_key_streaming_hex_equals_batch_binary(spark):
    """The two encodings of the LSH band key agree: the streaming column
    form (minhash_signature over word_shingles, hex lsh_band_hashes) and
    the batch row form (minhash_doc_signatures h0..h15, 16-byte binary
    _banded_signatures) give equal signatures and unhex(hex) == binary
    for every (doc, band) of the sf0.001 documents.  A doc shorter than
    k is the one boundary: the column form gives it an all-NULL
    signature, the row form no row at all."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.dedup import (
        _banded_signatures,
        lsh_band_hashes,
        minhash_doc_signatures,
        minhash_signature,
        word_shingles,
    )

    short = spark.createDataFrame([(-1, "too short")], "doc_id long, text string")
    docs = _docs_subset(spark, "true").union(short)
    sig_arr = minhash_signature(word_shingles(F.split("text", " "), 3), 16)
    col_form = {
        r.doc_id: (r.sig, r.bh)
        for r in docs.select(
            "doc_id", sig_arr.alias("sig"), lsh_band_hashes(sig_arr, 4, 4).alias("bh")
        ).collect()
    }
    sig = minhash_doc_signatures(docs, "doc_id", "text", 3, 16)
    row_sig = {r.doc: [r[f"h{i}"] for i in range(16)] for r in sig.collect()}
    row_band = {
        (r.doc, r.band): bytes(r.band_hash)
        for r in _banded_signatures(sig, "doc", 16, 4).collect()
    }
    sig.unpersist()

    assert col_form[-1][0] == [None] * 16 and -1 not in row_sig
    del col_form[-1]
    assert len(col_form) == 500 and set(row_sig) == set(col_form)
    assert len(row_band) == 4 * len(row_sig)
    for doc, (sig_list, hexes) in col_form.items():
        assert sig_list == row_sig[doc], doc
        for band, hx in enumerate(hexes):
            assert bytes.fromhex(hx) == row_band[(doc, band)], (doc, band)
