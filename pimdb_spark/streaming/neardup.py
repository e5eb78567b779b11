"""Streaming near-duplicate detection: MinHash+LSH with bucket state
(``applyInPandasWithState``) — the continuous form of
operators/dedup.minhash_lsh_pairs, for dedup-at-ingest pipelines where
new documents must be checked against everything already admitted without
re-running a batch join over the whole corpus.

How it maps to the batch operator:
- The signature pipeline (shingle → md5 int hash → 16-way universal-hash
  min) and the banding are the SAME column expressions as the batch path
  (operators/dedup.minhash_signature / lsh_band_hashes) — projections,
  so they are streaming-safe and produce identical values.
- The batch band-bucket JOIN becomes bucket STATE: each (band, band_hash)
  group keeps the (doc_id, signature) list it has admitted; every
  incoming doc is compared against the stored members, then appended.
  A session sees each historic pair exactly once (new-vs-stored +
  new-vs-new within the batch), across micro-batches.
- Verification differs deliberately: the batch operator re-joins shingle
  sets and checks EXACT Jaccard; carrying shingle sets in streaming state
  would make state O(document size), so the stream emits the SIGNATURE
  ESTIMATE (fraction of agreeing minhash components — the standard
  streaming trade).  Downstream exact verification, where needed, is a
  batch job over the tiny emitted pair set.
- The flood-bucket cap carries over: a bucket whose state hit
  ``max_bucket_size`` stops admitting members (their floods are better
  handled by exact dedup upstream), bounding both state size and the
  per-doc comparison cost — the streaming form of the batch operator's
  quadratic-corner defense.

Pairs can be emitted once per agreeing band (the batch op dedups with
DISTINCT after its join); dedup the output per consumer —
dropDuplicates on (id_a, id_b) in a downstream batch, or a keyed
stateful stage if a strictly-once stream is required.

Scale: state per bucket is O(min(members, cap) x num_hashes); each
micro-batch shuffles only its own documents, keyed by (band, band_hash).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pimdb_spark.operators.dedup import (
    lsh_band_hashes,
    minhash_signature,
    word_shingles,
)

STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        StructField("sigs", ArrayType(StringType())),  # comma-joined ints
    ]
)

PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("band", LongType()),
        StructField("est_jaccard", DoubleType()),
    ]
)


def _est_jaccard(a: list[int], b: list[int]) -> float:
    return sum(1 for x, y in zip(a, b) if x == y) / float(len(a))


def _bucket_group(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    *,
    threshold: float,
    max_bucket_size: int,
) -> Iterable[pd.DataFrame]:
    band = int(key[0])
    if state.exists:
        doc_ids, sigs_raw = state.get
        doc_ids = list(doc_ids)
        sigs = [[int(v) for v in s.split(",")] for s in sigs_raw]
    else:
        doc_ids, sigs = [], []

    out: list[tuple[int, int, int, float]] = []
    for pdf in pdfs:
        pdf = pdf.sort_values("doc_id")  # deterministic admission order
        for doc_id, sig_str in zip(pdf["doc_id"], pdf["sig"]):
            doc_id = int(doc_id)
            if doc_id in doc_ids:
                continue  # replayed/duplicate id: already admitted
            sig = [int(v) for v in sig_str.split(",")]
            for other_id, other_sig in zip(doc_ids, sigs):
                est = _est_jaccard(sig, other_sig)
                if est >= threshold:
                    a, b = sorted((doc_id, other_id))
                    out.append((a, b, band, est))
            if len(doc_ids) < max_bucket_size:
                doc_ids.append(doc_id)
                sigs.append(sig)

    state.update((doc_ids, [",".join(str(v) for v in s) for s in sigs]))
    if out:
        yield pd.DataFrame(out, columns=["id_a", "id_b", "band", "est_jaccard"])


def neardup_pairs_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int = 64,
) -> DataFrame:
    """documents stream -> (id_a, id_b, band, est_jaccard) near-dup pairs,
    checked against all previously admitted documents via bucket state."""
    from pimdb_spark.catalog import ensure_worker_code

    ensure_worker_code(docs.sparkSession)  # state fn pickled by reference
    rows_per_band = num_hashes // bands
    toks = F.split(F.col(text_col), " ")
    sig_arr = minhash_signature(word_shingles(toks, k), num_hashes)
    banded = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_join(sig_arr, ",").alias("sig"),
            F.posexplode(lsh_band_hashes(sig_arr, bands, rows_per_band)).alias(
                "band", "band_hash"
            ),
        )
    )

    def fn(key, pdfs, state):
        return _bucket_group(
            key, pdfs, state, threshold=threshold, max_bucket_size=max_bucket_size
        )

    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        fn,
        outputStructType=PAIR_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cross_neardup_stream(
    doc_stream: DataFrame,
    ref_docs: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
):
    """Streaming twin of the END-TO-END incremental-ingest dedup gate —
    each arriving micro-batch of NEW documents is screened against the
    STATIC reference corpus by the exact batch operator
    (operators/dedup.cross_neardup_filter: two-sided banding, new x ref
    candidates only, exact-Jaccard verification, deterministic best
    match), and per-doc verdicts append to the sink.  This is the
    r13-verdict stretch: the continuous form of the dedup PIPELINE
    (q_neardup_dedup_pipeline covers the batch composition; this covers
    arrival-time gating), complementing minhash_lsh_stream above, which
    carries bucket STATE for new-vs-new pairs.

    Why foreachBatch and not a stateful operator: a verdict depends only
    on the new document's own shingles and the static reference — never
    on other stream rows — so the batch plan IS the streaming plan (the
    streaming/decontam.py recipe), and batch parity is structural: each
    document lands in exactly one micro-batch.

    Sink contract: AT-LEAST-ONCE, stated not hidden (the decontam twin's
    taxonomy).  A replayed epoch re-writes IDENTICAL rows (verdicts are
    deterministic per doc_id), so any keep-one-row-per-doc_id reader
    sees exactly-once results; aggregating readers must dedup on doc_id
    first.  Exactly-once upgrade path: epoch-keyed overwrite
    subdirectories or a transactional table format.

    Scale: the reference SIGNATURE frame (minhash_doc_signatures —
    persisted) is built ONCE here, outside the handler, and every
    micro-batch gates against it via ``ref_signatures=``: the static
    side is shingled and hashed exactly once for the stream's lifetime
    (computed lazily at the first batch, reused — cached — by every
    later one); per batch only the new shard's signatures and the
    banding equi-join run.  On a real cluster write the same frame as a
    table at admission time (the build-once, join-per-shard contract
    tests/test_property.py::test_cross_neardup_filter_reusable_ref_signatures
    proves)."""
    from pimdb_spark.operators.dedup import (
        cross_neardup_filter,
        minhash_doc_signatures,
    )

    sig_ref = minhash_doc_signatures(ref_docs, k=k, num_hashes=num_hashes)

    def handle(batch_df: DataFrame, _epoch: int) -> None:
        # The new-side signature frame is built HERE (not inside the
        # operator) so this handler owns its lifecycle: minhash signature
        # frames are persisted, and Spark's CacheManager holds strong
        # references — without the finally-unpersist a long-running
        # stream accumulates one cached frame per micro-batch without
        # bound.  sig_ref (the static side) deliberately stays persisted
        # for the stream's lifetime.
        sig_new = minhash_doc_signatures(
            batch_df, k=k, num_hashes=num_hashes
        )
        try:
            out = cross_neardup_filter(
                batch_df,
                k=k,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                ref_signatures=sig_ref,
                new_signatures=sig_new,
            )
            out.write.mode("append").parquet(out_path)
        finally:
            sig_new.unpersist()

    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )


def incremental_split_stream(
    doc_stream: DataFrame,
    ref_docs: DataFrame,
    ref_splits_path: str,
    admitted_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    self_bands: int = 4,
    self_threshold: float = 0.8,
    cross_bands: int = 8,
    cross_threshold: float = 0.5,
    train_pct: int = 90,
):
    """Streaming twin of the incremental leakage fence
    (catalog_text.q_incremental_split_inherit): each arriving micro-batch
    of NEW documents is assigned train/eval sides by the exact batch
    composition — one minhash_doc_signatures pass per side, 4x4 banding
    for the batch-internal closure, 8x2 banding against the reference,
    then operators/curation.incremental_split_inherit — and, crucially,
    NON-CONFLICT verdicts are APPENDED TO THE REFERENCE (both the
    (ref_id, split) table at ``ref_splits_path`` and the admitted
    signature table at ``admitted_path``), so later arrivals that
    near-dup an earlier arrival inherit ITS side even when no original
    reference doc is involved.  That growing-reference recursion is what
    makes the fence hold across micro-batches: the one-shot operator's
    component closure is reproduced hop by hop as data arrives.

    Order contract (inherent to any one-pass assignment, stated not
    hidden): per-doc verdicts equal the one-shot batch split whenever
    each near-dup cluster's minimum-id member arrives no later than its
    other members (e.g. id-ordered ingest) — the min is then the
    component representative in both worlds, so the fresh-side hash
    agrees and every later member inherits it through the admitted
    reference.  Under arbitrary arrival order the fence still never
    splits a cluster across sides; only WHICH side a fresh cluster got
    may differ from the one-shot run (the first arrival's hash decides).
    A cluster that reaches both sides surfaces as 'conflict' and is
    QUARANTINED — conflict docs never join the reference; members
    already admitted before the conflicting evidence arrived stay on
    their side (retroactive revocation is a batch re-split, not a
    streaming operation).

    Sink contract: AT-LEAST-ONCE appends, REPLAY-IDENTICAL rows.  Every
    reference-state row (both tables) is stamped with the epoch that
    admitted it, and each batch reads only epochs STRICTLY BEFORE its
    own — foreachBatch re-fires a failed epoch with the same batch id
    and the same rows, so a replayed epoch recomputes against the
    identical pre-epoch reference: it cannot band-match its own prior
    admissions (no self-match 'inherited' flip, no
    same-batch-opposite-sides 'conflict' flip), and every column —
    split, inherited, AND the n_train_refs / n_eval_refs counts —
    re-emits identically, so keep-one-row-per-doc readers see
    exactly-once decisions.  Reference tables are deduped on read
    (duplicate admission rows from a replayed append can neither
    inflate later epochs' counts nor duplicate signature input rows),
    and each micro-batch is deduped on doc id first (at-least-once
    sources may deliver duplicate rows within one batch).  A
    pre-seeded ref_splits table without an epoch column reads as
    epoch -1 (always visible).  The admitted-table read fails the
    batch LOUDLY on anything but the expected first-batch missing
    path: a silently dropped reference would hand a near-dup of an
    admitted doc a fresh hash side and poison the reference with a
    straddling cluster — the exact leak the fence exists to prevent.
    The same loudness covers a RESET CHECKPOINT: foreachBatch epoch
    ids restart at 0 when the checkpoint is deleted, which would make
    the epoch fence hide every prior admission, so each batch raises
    if its epoch is behind the admitted table's max (a legitimate
    replay only re-fires the last epoch), and an admitted table built
    at another shingle size ``k`` (see _admitted_max_epoch).  Both
    checks cost ONE admitted-table scan at stream start; per batch the
    epoch check is O(1) against a closure-maintained monotone max (the
    table only grows through this stream's own appends, at this k).

    Scale: signatures are computed exactly once per document.  The
    static reference's minhash_doc_signatures frame is built ONCE here,
    outside the handler, and each epoch appends its admitted docs'
    signature rows to the admitted table — per batch the reference side
    is a parquet scan of signature rows, and NO reference text (static
    or admitted) is ever re-shingled: the quantize-on-write discipline
    applied to the fence."""
    from pimdb_spark.operators.dedup import minhash_doc_signatures

    epoch_state = {
        "max_epoch": _admitted_max_epoch(
            ref_docs.sparkSession, admitted_path, k, num_hashes
        )
    }
    sig_static = minhash_doc_signatures(
        ref_docs.select(F.col(id_col), F.col(text_col)),
        id_col, text_col, k, num_hashes,
    )

    def handle(batch_df: DataFrame, epoch: int) -> None:
        incremental_split_batch(
            batch_df,
            int(epoch),
            ref_docs,
            ref_splits_path,
            admitted_path,
            out_path,
            id_col=id_col,
            text_col=text_col,
            k=k,
            num_hashes=num_hashes,
            self_bands=self_bands,
            self_threshold=self_threshold,
            cross_bands=cross_bands,
            cross_threshold=cross_threshold,
            train_pct=train_pct,
            ref_signatures=sig_static,
            epoch_state=epoch_state,
        )

    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )


def _visible_before(df: DataFrame, cur_epoch: int) -> DataFrame:
    """Epoch fence: rows admitted at epoch >= cur_epoch are invisible —
    a replayed epoch sees exactly the reference its first run saw.
    Rows without an epoch column (a caller's pre-stream seed) read as
    epoch -1 and are always visible."""
    if "epoch" not in df.columns:
        return df
    return df.filter(F.coalesce(F.col("epoch"), F.lit(-1)) < cur_epoch)


def _read_table(spark, path: str) -> DataFrame | None:
    """Read a reference-state table.  Only the expected first-batch
    missing path is survivable (returns None); corrupt files or storage
    errors fail the batch loudly — a silently dropped reference = a
    permanent train/eval leak."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        return None


def _read_admitted(spark, path: str, num_hashes: int) -> DataFrame | None:
    """The admitted table — one row per admission: (doc, text,
    h0..h{n-1}, shingles, k, epoch) — after checking it carries every
    column this fence reads.  Its signatures are never recomputed from
    the stored text, so a table without the h columns ``num_hashes``
    needs (a narrower signature, or a table of texts alone) cannot be
    gated against and raises."""
    df = _read_table(spark, path)
    if df is None:
        return None
    need = [*(f"h{i}" for i in range(num_hashes)), "shingles", "k", "epoch"]
    missing = [c for c in need if c not in df.columns]
    if missing:
        raise ValueError(
            f"incremental fence: admitted table at {path} lacks columns "
            f"{missing} that num_hashes={num_hashes} signatures need; it was "
            "not written by this fence at these settings — re-split in batch "
            "or start a new admitted_path"
        )
    return df


def _admitted_max_epoch(spark, path: str, k: int, num_hashes: int) -> int | None:
    """Highest epoch in the admitted table (None if it does not exist
    yet), in the same scan that checks every row was shingled at ``k``:
    a table built at another k holds signatures no new doc can
    band-match, so gating against it would silently drop every admitted
    doc from the reference side."""
    df = _read_admitted(spark, path, num_hashes)
    if df is None:
        return None
    row = df.agg(F.max("epoch"), F.min("k"), F.max("k")).first()
    stored = sorted({v for v in row[1:] if v is not None})
    if stored and stored != [k]:
        raise ValueError(
            f"incremental fence: admitted table at {path} holds signatures "
            f"built at shingle size k={stored}, but this fence runs k={k} — "
            "re-split in batch or start a new admitted_path"
        )
    return None if row[0] is None else int(row[0])


def incremental_split_batch(
    batch_df: DataFrame,
    epoch: int,
    ref_docs: DataFrame,
    ref_splits_path: str,
    admitted_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    self_bands: int = 4,
    self_threshold: float = 0.8,
    cross_bands: int = 8,
    cross_threshold: float = 0.5,
    train_pct: int = 90,
    ref_signatures: DataFrame | None = None,
    epoch_state: dict | None = None,
) -> None:
    """One micro-batch of the streaming fence, as a named function so the
    replay contract is directly testable: calling it twice with the same
    (batch_df, epoch) must append byte-identical verdict rows, and a
    later epoch must be unaffected by the duplicate admissions the
    replay left behind (tests/test_streaming_neardup.py replay suite).

    The reference side is read as signatures: the static side from
    ``ref_signatures`` (a minhash_doc_signatures frame the stream
    computes ONCE; built here per call when None) and the admitted side
    from the table at ``admitted_path``, to which each epoch appends its
    admitted docs in ONE write — doc id, text (provenance), signature,
    shingles, k and epoch.  No reference text is ever re-shingled: per
    batch the reference side costs one parquet scan of ~(num_hashes x 8
    bytes + shingle set) per admitted doc."""
    from pimdb_spark.operators.curation import (
        connected_components,
        incremental_split_inherit,
    )
    from pimdb_spark.operators.dedup import (
        cross_minhash_pairs_from_signatures,
        minhash_doc_signatures,
        minhash_pairs_from_signatures,
    )

    spark = batch_df.sparkSession
    # Reset-checkpoint guard: foreachBatch epoch ids restart at 0 when the
    # checkpoint is deleted or replaced, and the epoch fence would then
    # hide EVERY prior admission (each batch reads only epochs strictly
    # before its own) — a near-dup of an admitted doc gets a fresh hash
    # side: the exact leak this module fails loudly on everywhere else.
    # A legitimate replay only re-fires the LAST epoch (epoch == max is
    # fine); epoch < max means a reset checkpoint or misuse.
    #
    # Cost: with ``epoch_state`` (the stream handler's closure dict,
    # seeded by ONE stream-start scan that also checked k) the check is
    # O(1) — the table's max epoch only grows through this stream's own
    # appends (single writer per admitted table, the sink contract), so
    # the closure value maintained below never overstates the table and
    # a value that briefly UNDERSTATES it (crash between append and
    # bookkeeping) only relaxes the guard for the one epoch that
    # legitimately replays.  Without ``epoch_state`` (direct one-shot
    # callers), scan the table — correctness over cost for the batch API.
    if epoch_state is not None and "max_epoch" in epoch_state:
        max_epoch = epoch_state["max_epoch"]
    else:
        max_epoch = _admitted_max_epoch(spark, admitted_path, k, num_hashes)
    if max_epoch is not None and epoch < max_epoch:
        raise ValueError(
            f"batch epoch {epoch} is behind the admitted table at "
            f"{admitted_path} (max epoch {max_epoch}) — the stream's "
            "checkpoint was reset or replaced, so the epoch fence would "
            "silently hide every prior admission from the reference; "
            "restart from the original checkpoint, or re-split in batch"
        )
    splits_raw = _read_table(spark, ref_splits_path)
    if splits_raw is None:
        raise ValueError(f"ref_splits table missing at {ref_splits_path}")
    splits = (
        _visible_before(splits_raw, epoch).select("ref_id", "split").dropDuplicates()
    )
    sig_cols = ["doc", *[f"h{i}" for i in range(num_hashes)], "shingles"]
    local_frames: list[DataFrame] = []
    if ref_signatures is None:
        ref_signatures = minhash_doc_signatures(
            ref_docs.select(F.col(id_col), F.col(text_col)),
            id_col, text_col, k, num_hashes,
        )
        local_frames.append(ref_signatures)
    sig_ref = ref_signatures.select(*sig_cols)
    admitted = _read_admitted(spark, admitted_path, num_hashes)
    if admitted is not None:
        # shingle-less admitted docs (< k tokens) carry NULL-signature
        # rows (epoch bookkeeping only) — they cannot band-match anything
        # and must not reach the banding pass.  Filter them BEFORE the
        # per-doc dedup: a doc admitted once shingle-less and once with
        # real text (at-least-once delivery across epochs) must resolve
        # to its REAL signature row, not arbitrarily to the NULL one —
        # that would silently drop it from the reference side.
        sig_ref = sig_ref.unionByName(
            _visible_before(admitted, epoch)
            .filter(F.col("shingles").isNotNull())
            .dropDuplicates(["doc"])
            .select(*sig_cols)
        )
    new = batch_df.select(id_col, text_col).dropDuplicates([id_col])
    sig_new = minhash_doc_signatures(new, id_col, text_col, k, num_hashes)
    local_frames.append(sig_new)
    try:
        nn = minhash_pairs_from_signatures(
            sig_new, num_hashes, self_bands, self_threshold
        )
        comp = connected_components(
            nn, "id_a", "id_b", nodes=new.select(id_col), max_iter=100
        )
        cross = cross_minhash_pairs_from_signatures(
            sig_new, sig_ref, num_hashes, cross_bands, cross_threshold
        ).select(F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"))
        out = incremental_split_inherit(
            comp.select(F.col("id").alias(id_col), "component"),
            cross,
            splits,
            id_col=id_col,
            train_pct=train_pct,
        ).localCheckpoint(eager=True)  # freeze verdicts BEFORE mutating ref state
        out.write.mode("append").parquet(out_path)
        adm = out.filter(F.col("split") != "conflict").select(
            F.col("id").alias("doc"), "split"
        )
        adm.select(
            F.col("doc").alias("ref_id"), "split", F.lit(epoch).alias("epoch")
        ).write.mode("append").parquet(ref_splits_path)
        # LEFT join: every admitted doc gets a row, with NULL h/shingles
        # when it is shorter than k tokens, so the table's epoch coverage
        # (the reset-checkpoint guard's input) counts every admission.
        new.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text")).join(
            adm.select("doc"), "doc"
        ).join(sig_new, "doc", "left").select(
            "doc",
            "text",
            *sig_cols[1:],
            F.lit(k).alias("k"),
            F.lit(epoch).alias("epoch"),
        ).write.mode("append").parquet(admitted_path)
        # Monotone bookkeeping for the O(1) reset-checkpoint guard: only
        # after the admitted append lands, so the closure value never runs
        # ahead of the table it stands in for.
        if epoch_state is not None:
            prev = epoch_state.get("max_epoch")
            epoch_state["max_epoch"] = epoch if prev is None else max(prev, epoch)
    finally:
        # unpersist on EVERY exit: an exception here (convergence guard,
        # write failure) must not leak cached signature frames into the
        # retried epoch.  A caller-owned ref_signatures frame is NOT
        # touched — it lives for the stream, not the batch.
        for frame in local_frames:
            frame.unpersist()
