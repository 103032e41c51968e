"""Ports of /root/reference/datamatch/test_pairers.py plus salting
equivalence checks on skewed fixtures."""

from datamatch_spark import ColumnsIndex, NoopIndex
from datamatch_spark.pairing import PairingConfig, candidate_pairs


def pair_ids(pairs_df):
    return sorted((r["idx_a"], r["idx_b"]) for r in pairs_df.collect())


def test_match_pairer(spark):
    # reference test_pairers.py:19-46 — key intersection + A×B
    dfa = spark.createDataFrame(
        [(0, 1, "a", "b"), (1, 2, "c", "d"), (2, 3, "e", "f")],
        "row_key long, x long, y string, z string",
    )
    dfb = spark.createDataFrame(
        [(0, 1, "q", "w"), (1, 4, "z", "x"), (2, 2, "a", "s")],
        "row_key long, x long, y string, z string",
    )
    pairs = candidate_pairs(dfa, ColumnsIndex("x"), "row_key", ["y", "z"], dfb=dfb)
    assert pair_ids(pairs) == [(0, 0), (1, 2)]


def test_dedup_pairer(spark):
    # reference test_pairers.py:49-74 — per-bucket 2-combinations
    rows = [
        (0, 1, "a", "b"),
        (1, 2, "c", "d"),
        (2, 3, "e", "f"),
        (3, 1, "q", "w"),
        (4, 4, "z", "x"),
        (5, 2, "a", "s"),
    ]
    df = spark.createDataFrame(rows, "row_key long, x long, y string, z string")
    pairs = candidate_pairs(df, ColumnsIndex("x"), "row_key", ["y", "z"])
    assert pair_ids(pairs) == [(0, 3), (1, 5)]


def test_noop_dedup_combinations(spark):
    df = spark.createDataFrame(
        [(i, "v") for i in range(5)], "row_key long, y string"
    )
    pairs = candidate_pairs(df, NoopIndex(), "row_key", ["y"])
    assert len(pair_ids(pairs)) == 10  # C(5,2)


def test_salted_dedup_equals_plain(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, "hot" if i < 70 else f"k{i % 5}", f"v{rng.randint(0, 9)}")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "row_key long, blk string, v string")
    plain = candidate_pairs(
        df, ColumnsIndex("blk"), "row_key", ["v"], cfg=PairingConfig(salt_enabled=False)
    )
    salted = candidate_pairs(
        df,
        ColumnsIndex("blk"),
        "row_key",
        ["v"],
        cfg=PairingConfig(salt_threshold=10, rows_per_shard=9),
    )
    assert pair_ids(plain) == pair_ids(salted)


def test_salted_match_equals_plain(spark):
    import random

    rng = random.Random(12)
    mk = lambda n, off: [  # noqa: E731
        (off + i, "hot" if i < 50 else f"k{i % 4}", f"v{rng.randint(0, 9)}")
        for i in range(n)
    ]
    dfa = spark.createDataFrame(mk(80, 0), "row_key long, blk string, v string")
    dfb = spark.createDataFrame(mk(90, 1000), "row_key long, blk string, v string")
    plain = candidate_pairs(
        dfa,
        ColumnsIndex("blk"),
        "row_key",
        ["v"],
        dfb=dfb,
        cfg=PairingConfig(salt_enabled=False),
    )
    salted = candidate_pairs(
        dfa,
        ColumnsIndex("blk"),
        "row_key",
        ["v"],
        dfb=dfb,
        cfg=PairingConfig(salt_threshold=5, rows_per_shard=8),
    )
    assert pair_ids(plain) == pair_ids(salted)


def test_multi_bucket_pairs_deduped(spark):
    # rows sharing TWO elements must still produce one pair
    df = spark.createDataFrame(
        [(0, ["a", "b"]), (1, ["a", "b"])], "row_key long, tags array<string>"
    )
    pairs = candidate_pairs(
        df, ColumnsIndex("tags", index_elements=True), "row_key", ["tags"]
    )
    assert pair_ids(pairs) == [(0, 1)]


def test_salted_plan_build_runs_no_job(spark):
    """Hot-block sizing is part of the pair plan: building the salted
    candidate-pair plan runs no Spark job (no hot-key collect), in
    dedup and match mode."""
    import uuid

    rows = [(i, "hot" if i < 60 else f"c{i % 7}", f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "row_key long, blk string, v string")
    dfb = spark.createDataFrame(
        [(1000 + i, b, v) for i, b, v in rows], "row_key long, blk string, v string"
    )
    cfg = PairingConfig(salt_threshold=20, rows_per_shard=10)
    sc = spark.sparkContext
    group = f"plan-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "candidate_pairs plan build")
    try:
        dedup = candidate_pairs(df, ColumnsIndex("blk"), "row_key", ["v"], cfg=cfg)
        match = candidate_pairs(
            df, ColumnsIndex("blk"), "row_key", ["v"], dfb=dfb, cfg=cfg
        )
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
    assert dedup.count() == 60 * 59 // 2 + sum(
        n * (n - 1) // 2 for n in (6, 6, 6, 6, 6, 5, 5)
    )
    assert match.count() == 60 * 60 + sum(n * n for n in (6, 6, 6, 6, 6, 5, 5))
