"""The stateful streaming linear attributor must match the batch
operator (catalog q_linear_attribution) when the stream drains in one
batch, and must carry the in-horizon touch LIST across micro-batches —
a conversion in batch 2 splits credit across touches from batch 1 and
batch 2."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

HORIZON_US = 3 * 24 * 3_600_000_000  # q_linear_attribution's 3-day horizon


def _event_stream(spark, src_dir):
    from pimdb_spark.streaming.events import EVENTS_SCHEMA

    raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src_dir))
    return raw.select(
        "user_id", F.col("ts").alias("ts_us"), "event_id", "event_type"
    )


def test_streaming_linear_attribution_matches_batch(spark, tmp_path):
    from pimdb_spark.catalog_analytics import q_linear_attribution
    from pimdb_spark.streaming.events import run_to_memory
    from pimdb_spark.streaming.linear_attribution import linear_attribute_stream

    src = tmp_path / "events_stream"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "part-0.parquet")

    out = linear_attribute_stream(
        _event_stream(spark, src), "purchase", ["click", "view"], HORIZON_US
    )
    run_to_memory(out, "lin_attr_stream", output_mode="append")
    got = {
        (r.conversion_id, r.touch_event_id): (
            r.touch_type,
            r.age_us,
            r.n_touches,
            r.weight,
        )
        for r in spark.table("lin_attr_stream").collect()
    }
    expected = {
        (r.conversion_id, r.touch_event_id): (
            r.touch_type,
            r.age_us,
            r.n_touches,
            r.weight,
        )
        for r in q_linear_attribution(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected
    assert len(got) > 0
    assert any(k[1] is not None for k in got)  # some credited touches
    assert any(v[2] > 1 for v in got.values())  # some multi-touch splits


def test_streaming_linear_attribution_state_crosses_batches(spark, tmp_path):
    """Touches in micro-batch 1 split credit with a touch in micro-batch
    2 when the conversion arrives in batch 2; a touch older than the
    horizon is pruned from the carried state and gets no credit."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pimdb_spark.streaming.linear_attribution import linear_attribute_stream

    src = tmp_path / "events_stream"
    src.mkdir()
    chk = tmp_path / "chk"

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pq.write_table(pa.Table.from_pandas(pdf), src / name)

    base = 1_700_000_000 * 1_000_000
    m = 60 * 1_000_000
    # batch 1: one stale click (beyond horizon once the conversion lands)
    # and one fresh click
    write_batch(
        "b1.parquet",
        [
            (1, base - HORIZON_US - m, 7, "click", 1.0, "{}"),
            (2, base, 7, "click", 1.0, "{}"),
        ],
    )

    rows: dict = {}

    def drain():
        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                rows.setdefault(r.conversion_id, set()).add(
                    (r.touch_event_id, r.n_touches, r.weight)
                )

        q = (
            linear_attribute_stream(
                _event_stream(spark, src), "purchase", ["click"], HORIZON_US
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(chk))
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream drain timed out"

    drain()
    assert rows == {}  # only carried touches so far
    # batch 2: another click then the purchase — credit splits 1/2 over
    # event 2 (batch 1, in horizon) and event 3 (batch 2); event 1 is
    # beyond the horizon
    write_batch(
        "b2.parquet",
        [
            (3, base + m, 7, "click", 1.0, "{}"),
            (4, base + 2 * m, 7, "purchase", 1.0, "{}"),
        ],
    )
    drain()
    assert rows == {4: {(2, 2, 0.5), (3, 2, 0.5)}}


def test_streaming_linear_attribution_randomized_splits(spark, tmp_path):
    """Property-style check: a random in-order event stream split into
    three time-ordered micro-batches (maxFilesPerTrigger=1) produces
    exactly the batch operator's credit rows — the carried touch list
    survives arbitrary batch boundaries, not just the crafted ones."""
    import os
    import random
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pimdb_spark.operators.analytics import linear_attribution

    rng = random.Random(31)
    h = 50 * 1_000_000
    base = 1_700_000_000 * 1_000_000
    rows = []
    for eid in range(240):
        rows.append(
            (
                eid,
                base + eid * rng.randint(1, 30) * 1_000_000,
                rng.randint(0, 9),
                rng.choice(["touch", "conv", "other"]),
                1.0,
                "{}",
            )
        )
    rows.sort(key=lambda r: (r[1], r[0]))  # in-order arrival contract

    src = tmp_path / "events_stream"
    src.mkdir()
    thirds = [rows[:80], rows[80:160], rows[160:]]
    for i, chunk in enumerate(thirds):
        pdf = pd.DataFrame(
            chunk, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        path = src / f"b{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        # the file source picks files oldest first; files written in the
        # same instant would arrive in listing order, out of time order
        stamp = time.time() - 60 + 10 * i
        os.utime(path, (stamp, stamp))

    from pimdb_spark.streaming.events import EVENTS_SCHEMA
    from pimdb_spark.streaming.linear_attribution import linear_attribute_stream

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", F.col("ts").alias("ts_us"), "event_id", "event_type")
    )
    got: dict = {}

    def sink(batch_df, _epoch):
        for r in batch_df.collect():
            got.setdefault(r.conversion_id, set()).add(
                (r.touch_event_id, r.n_touches, r.weight)
            )

    q = (
        linear_attribute_stream(stream, "conv", ["touch"], h)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    # assert the drain COMPLETED — a silent timeout under machine load
    # would otherwise surface as a confusing partial-results mismatch
    assert q.awaitTermination(300), "stream drain timed out"

    batch_df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "event_id bigint, ts_us bigint, user_id bigint, event_type string",
    )
    expected: dict = {}
    for r in linear_attribution(batch_df, "conv", ["touch"], horizon_us=h).collect():
        expected.setdefault(r.conversion_id, set()).add(
            (r.touch_event_id, r.n_touches, r.weight)
        )
    assert got == expected
    assert len(got) > 10
    assert any(len(v) > 1 for v in got.values())  # real multi-touch splits


def test_attribute_group_sorts_across_arrow_chunks():
    """A conversion in an earlier Arrow chunk must still see a touch from
    a later chunk of the SAME micro-batch when the touch precedes it in
    (ts_us, event_id) order — the chunk split is a batching artifact, so
    the fn concatenates and sorts before replaying."""
    import pandas as pd

    from pimdb_spark.streaming.linear_attribution import _attribute_group

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        @property
        def hasTimedOut(self):
            return False

    chunk0 = pd.DataFrame(
        {"ts_us": [100], "event_id": [9], "event_type": ["purchase"]}
    )
    chunk1 = pd.DataFrame(
        {"ts_us": [50], "event_id": [3], "event_type": ["click"]}
    )
    out = pd.concat(
        list(
            _attribute_group(
                (7,), [chunk0, chunk1], _FakeState(),
                "purchase", frozenset(["click"]), horizon_us=1000,
            )
        ),
        ignore_index=True,
    )
    assert len(out) == 1
    r = out.iloc[0]
    assert r["touch_event_id"] == 3 and r["n_touches"] == 1
    assert r["weight"] == 1.0
