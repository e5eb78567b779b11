"""fuzzy_link blocking semantics + Z-order key parity."""

from __future__ import annotations


def test_fuzzy_link_blocks_and_verifies(spark):
    from pyspark.sql import functions as F

    from pimdb_spark.operators.linkage import fuzzy_link

    rows = [
        (1, "red widget"),
        (2, "rad widget"),   # distance 1 from red widget, same block
        (3, "red gadget"),   # different block -> never a candidate
        (4, "blue widget"),  # same block, distance 3 from red widget
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_link(
        df, df, "id", "name",
        block=F.split(F.col("name"), " ").getItem(1),
        max_distance=2,
    ).collect()
    pairs = {(r.left_id, r.right_id) for r in out}
    assert pairs == {(1, 2), (2, 1)}  # symmetric, no self-pairs
    assert all(r.distance == 1 for r in out)


def test_fuzzy_link_block_cap_drops_hot_block(spark):
    from pyspark.sql import functions as F

    from pimdb_spark.operators.linkage import fuzzy_link

    hot = [(i, f"x name{i}") for i in range(20)]        # block "name..." varies
    # one adversarial block: 20 identical-block rows
    hot = [(i, "sentinel aaa") for i in range(20)] + [(100, "unique bbb"), (101, "unique bbc")]
    df = spark.createDataFrame(hot, ["id", "name"])
    blk = F.split(F.col("name"), " ").getItem(0)
    uncapped = fuzzy_link(df, df, "id", "name", block=blk, max_distance=2).count()
    capped = fuzzy_link(
        df, df, "id", "name", block=blk, max_distance=2, max_block_size=5
    ).collect()
    assert uncapped == 20 * 19 + 2      # sentinel block explodes + the pair
    pairs = {(r.left_id, r.right_id) for r in capped}
    assert pairs == {(100, 101), (101, 100)}  # hot block dropped, not exploded


def test_zorder_key_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from pimdb_spark.functions.zorder import zorder_key_2d

    def spread(x: int) -> int:
        x &= 0xFFFF
        for shift, mask in [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]:
            x = (x | (x << shift)) & mask
        return x

    rows = [(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 1024)]]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key_2d(F.col("a"), F.col("b")).alias("z")).collect()
    }
    for a, b in rows:
        assert got[(a, b)] == spread(a) | (spread(b) << 1), (a, b)


def test_sorted_neighborhood_link_semantics(spark):
    """Each record pairs with at most `window` following sort neighbors
    inside its block; verified pairs respect the distance bound; a match
    beyond the neighborhood is NOT found (the documented SNM trade-off)."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.linkage import sorted_neighborhood_link

    rows = [
        (1, "aaaa"),
        (2, "aaab"),   # neighbor of 1, distance 1
        (3, "aaac"),   # neighbor of 1 (lead 2), distance 1
        (4, "azzz"),   # same block, sorted far but within lead 3 of 1
        (5, "aaad"),   # also close to 1 but pushes 4 to lead 4 from 1
        (6, "baaa"),   # different block, distance 1 from aaaa -> missed
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = sorted_neighborhood_link(
        df, "id", "name", block=F.substring(F.col("name"), 1, 1),
        window=2, max_distance=2,
    ).collect()
    pairs = {(r.left_id, r.right_id): r.distance for r in out}
    # sort order in block 'a': aaaa(1) aaab(2) aaac(3) aaad(5) azzz(4)
    assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (2, 5): 1, (3, 5): 1}
    # cross-block near-match (1,6) correctly absent: multi-pass territory

def test_snm_multipass_unions_and_normalizes(spark):
    """A suffix-matching pair missed by the name-order pass is found by the
    reversed-name pass; pairs found by both passes appear once, oriented
    a_id < b_id."""
    from pyspark.sql import functions as F

    from pimdb_spark.operators.linkage import snm_multipass

    rows = [
        (1, "aaaa"),
        (2, "aaab"),   # pass-1 neighbor of 1
        (6, "baaa"),   # blocks differ from 1 in pass 1; reversed "aaab"
                       # is adjacent to reversed "aaaa" in pass 2
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = snm_multipass(
        df,
        "id",
        "name",
        passes=[
            (F.substring(F.col("name"), 1, 1), None),
            (F.substring(F.reverse(F.col("name")), 1, 1), F.reverse(F.col("name"))),
        ],
        window=2,
        max_distance=2,
    ).collect()
    pairs = {(r.a_id, r.b_id): r.distance for r in out}
    # (1,2): found by BOTH passes (same block either way) -> exactly once.
    # (1,6): cross-block in pass 1, adjacent under reversal in pass 2.
    # (2,6): reversed "baaa"/"aaab" start differently -> pass-2 blocks
    # differ; pass-1 blocks differ too -> correctly absent (distance 2
    # pair that no pass surfaces).
    assert pairs == {(1, 2): 1, (1, 6): 1}
    for r in out:
        assert r.a_id < r.b_id
