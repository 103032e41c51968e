"""Adaptive cell oversubscription (PairingConfig.cell_oversubscription):
a mass-dominant hot block must be sharded into cells ≫ partitions so
hash placement balances, while the pair SET stays exactly invariant.

rows_per_shard alone bounds the worst task but not the task count —
one dominant block under the defaults yields only ~78 cells hashing
into ~2×cores partitions, and the resulting collision/granularity skew
(measured p95/p50 ≈ 5.7× on the 4×8-executor bench) was the direct
limiter of N→4N scaling efficiency."""

import math

import pytest
from pyspark.sql import functions as F

from datamatch_spark import ColumnsIndex, JaroWinklerSimilarity, ThresholdMatcher
from datamatch_spark.pairing import (
    PairingConfig,
    _cell_target,
    _grid_shards_expr,
    _shard_count_expr,
    _wide_shard_cap,
    candidate_pairs,
)


def _tri_cells(s: int) -> int:
    return s * (s + 1) // 2


def _eval(spark, *cols) -> tuple:
    """Values of Column expressions over a one-row frame."""
    return tuple(spark.range(1).select(*cols).first())


def _shards(spark, n: int, cfg: PairingConfig, wide_cap: int) -> int:
    """Dedup shard count (base floor 2) for a block of ``n`` rows."""
    return _eval(spark, _shard_count_expr(F.lit(n).cast("long"), cfg, wide_cap, 2))[0]


def _grid(spark, na: int, nb: int, cfg: PairingConfig, wide_cap: int,
                 target: int) -> tuple:
    """Match grid (sa, sb) for a block of na A rows and nb B rows."""
    return _eval(spark, *_grid_shards_expr(
        F.lit(na).cast("long"), F.lit(nb).cast("long"), cfg, wide_cap, target))


def test_wide_shard_cap_triangular_reaches_target():
    cfg = PairingConfig(cell_oversubscription=4.0)
    for n_parts in (8, 32, 64, 256):
        s = _wide_shard_cap(cfg, n_parts, grid=False)
        target = 4.0 * n_parts
        assert _tri_cells(s) >= target  # enough cells
        assert _tri_cells(s - 1) < target  # smallest such s


def test_wide_shard_cap_grid_reaches_target():
    cfg = PairingConfig(cell_oversubscription=4.0)
    for n_parts in (8, 64, 256):
        s = _wide_shard_cap(cfg, n_parts, grid=True)
        assert s * s >= 4.0 * n_parts
        assert (s - 1) * (s - 1) < 4.0 * n_parts


def test_wide_shard_cap_disabled():
    assert _wide_shard_cap(PairingConfig(cell_oversubscription=0), 64, False) == 0
    assert _wide_shard_cap(PairingConfig(min_shard_rows=0), 64, False) == 0
    # a negative value means disabled too, not a math domain error
    assert _wide_shard_cap(PairingConfig(cell_oversubscription=-1), 64, False) == 0
    assert _wide_shard_cap(PairingConfig(cell_oversubscription=-1), 64, True) == 0


def test_grid_shards_asymmetric_rewiden(spark):
    """A one-side-dominant match block must still reach ~target cells:
    the small side's min_shard_rows floor pins sb, so sa is re-widened
    toward ceil(target / sb) instead of stopping at sqrt(target)."""
    cfg = PairingConfig(rows_per_shard=2_000, min_shard_rows=256)
    n_parts = 64
    target = _cell_target(cfg, n_parts)  # 256
    wide = _wide_shard_cap(cfg, n_parts, grid=True)  # 16
    sa, sb = _grid(spark, 24_000, 300, cfg, wide, target)
    assert sb == 2  # floor-bound small side
    assert sa == 94  # ceil(24000/256): min_shard_rows still caps it
    assert sa * sb >= 128  # far past the 32 cells of the sqrt-only cap
    # symmetric case unchanged by the re-widening branch
    sa2, sb2 = _grid(spark, 24_000, 24_000, cfg, wide, target)
    assert sa2 == sb2 == wide
    # mirrored asymmetry boosts the OTHER side
    sb3, sa3 = _grid(spark, 300, 24_000, cfg, wide, target)
    assert (sa3, sb3) == (sa, sb)


def test_positional_config_compat():
    """New fields live at the dataclass END: positional construction
    of the historical prefix keeps its meaning."""
    cfg = PairingConfig(2_000, 2_000, 50_000)
    assert cfg.max_hot_keys == 50_000
    assert cfg.cell_oversubscription == 4.0
    assert cfg.min_shard_rows == 256


def test_shard_count_rules(spark):
    cfg = PairingConfig(rows_per_shard=2_000, min_shard_rows=256)
    wide = _wide_shard_cap(cfg, 64, grid=False)  # target 256 cells → s=23
    assert wide == 23
    # dominant block: widened from ceil(24k/2k)=12 to the wide cap
    assert _shards(spark, 24_000, cfg, wide) == 23
    # small hot block: min_shard_rows floor binds (ceil(3000/256)=12)
    assert _shards(spark, 3_000, cfg, wide) == 12
    # tiny hot block: stays at the base count — never sliced below
    # min_shard_rows rows per shard
    assert _shards(spark, 300, cfg, wide) == 2
    # widening disabled → pure rows_per_shard sizing
    assert _shards(spark, 24_000, cfg, 0) == 12
    # n below rows_per_shard keeps the base floor
    assert _shards(spark, 100, cfg, 0) == 2
    # huge block: rows_per_shard count already past the cap — unchanged
    assert _shards(spark, 100_000, cfg, wide) == 50


def _skewed(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, "hot" if i < 90 else f"k{i % 7}", f"v{rng.randint(0, 9)}")
        for i in range(160)
    ]
    return spark.createDataFrame(rows, "row_key long, blk string, v string")


def test_widened_dedup_pair_set_invariant(spark):
    """Join path: aggressive widening (tiny min_shard_rows so the cap
    actually bites on a 90-row hot block) yields EXACTLY the plain
    pair set."""
    df = _skewed(spark)
    plain = candidate_pairs(
        df, ColumnsIndex("blk"), "row_key", ["v"],
        cfg=PairingConfig(salt_enabled=False),
    )
    widened = candidate_pairs(
        df, ColumnsIndex("blk"), "row_key", ["v"],
        cfg=PairingConfig(
            salt_threshold=10, rows_per_shard=60,
            cell_oversubscription=4.0, min_shard_rows=4,
        ),
    )
    want = sorted((r["idx_a"], r["idx_b"]) for r in plain.collect())
    got = sorted((r["idx_a"], r["idx_b"]) for r in widened.collect())
    assert got == want and len(got) > 4000


def test_widened_match_pair_set_invariant(spark):
    df_a = _skewed(spark)
    from pyspark.sql import functions as F

    df_b = _skewed(spark).withColumn("row_key", F.col("row_key") + 1000)
    kw = dict(dfb=df_b)
    plain = candidate_pairs(
        df_a, ColumnsIndex("blk"), "row_key", ["v"],
        cfg=PairingConfig(salt_enabled=False), **kw,
    )
    widened = candidate_pairs(
        df_a, ColumnsIndex("blk"), "row_key", ["v"],
        cfg=PairingConfig(
            salt_threshold=10, rows_per_shard=60,
            cell_oversubscription=4.0, min_shard_rows=4,
        ),
        **kw,
    )
    want = sorted((r["idx_a"], r["idx_b"]) for r in plain.collect())
    got = sorted((r["idx_a"], r["idx_b"]) for r in widened.collect())
    assert got == want and len(got) > 8000


@pytest.mark.parametrize("grouped", [True, False])
def test_widened_scored_parity_both_paths(spark, grouped):
    """End-to-end scored pairs under aggressive widening are
    bit-identical to the unwidened run on both scoring paths."""
    df = _skewed(spark).withColumnRenamed("v", "first")

    def run(cfg):
        m = ThresholdMatcher(
            ColumnsIndex("blk"), {"first": JaroWinklerSimilarity()}, df,
            row_key="row_key", validate=False, pairing_config=cfg, defer=True,
        )
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    base = run(PairingConfig(salt_enabled=False, grouped_scoring=grouped))
    wide = run(PairingConfig(
        salt_threshold=10, rows_per_shard=60,
        cell_oversubscription=6.0, min_shard_rows=4,
        grouped_scoring=grouped,
    ))
    assert set(wide) == set(base) and len(wide) > 4000
    for k, v in base.items():
        w = wide[k]
        assert (w == v) or (math.isnan(w) and math.isnan(v)), (k, w, v)


@pytest.mark.parametrize("grouped", [True, False])
def test_widened_match_scored_parity_both_paths(spark, grouped):
    """Match mode (A×B linkage): scored pairs under aggressive GRID
    widening are bit-identical to the unwidened run on both scoring
    paths (the grouped match grid's per-side widening included)."""
    from pyspark.sql import functions as F

    df_a = _skewed(spark).withColumnRenamed("v", "first")
    df_b = (
        _skewed(spark).withColumnRenamed("v", "first")
        .withColumn("row_key", F.col("row_key") + 1000)
    )

    def run(cfg):
        m = ThresholdMatcher(
            ColumnsIndex("blk"), {"first": JaroWinklerSimilarity()},
            df_a, df_b,
            row_key="row_key", validate=False, pairing_config=cfg, defer=True,
        )
        return {
            (r["idx_a"], r["idx_b"]): r["sim_score"]
            for r in m._build_scored().collect()
        }

    base = run(PairingConfig(salt_enabled=False, grouped_scoring=grouped))
    wide = run(PairingConfig(
        salt_threshold=10, rows_per_shard=60,
        cell_oversubscription=6.0, min_shard_rows=4,
        grouped_scoring=grouped,
    ))
    assert set(wide) == set(base) and len(wide) > 8000
    for k, v in base.items():
        w = wide[k]
        assert (w == v) or (math.isnan(w) and math.isnan(v)), (k, w, v)
