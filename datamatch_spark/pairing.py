"""Candidate-pair generation: blocked equi-joins with declarative
hot-block sharding.

The reference's pairers (/root/reference/datamatch/pairers.py:114-128,
171-181) are per-bucket cross products / 2-combinations; here:

* match mode  ≡ inner equi-join of the two keyed sides on BLOCK_KEY;
* dedup mode  ≡ self-equi-join with the upper-triangle predicate
  ``idx_a < idx_b`` (2-combinations, orientation by natural row-key
  order, matching the reference's sorted buckets).

Skew handling — the part that decides whether this works at 10^12
docs: a hot blocking key produces a quadratic pair blowup that AQE's
skew-join (which splits *input* partitions) cannot fix alone, because
the explosion is in the *output* of the join. Hot blocks are split
into bounded grid CELLS (the BlockSplit idea: Kolb, Thor & Rahm,
ICDE 2012) by ONE rule, ``cell_members``, which both scoring paths
use — ``candidate_pairs`` joins members within a cell, grouped.py
scores each cell in place:

* dedup: a block of n > ``salt_threshold`` rows gets s shards (row
  shard ``pmod(xxhash64(idx), s)``) and every row is a member of the s
  cells (min(shard, c), max(shard, c)). Cell (l, t), l < t holds the
  low×high cross product, cell (l, l) the in-shard triangle — each
  unordered pair of the block exactly once, ≤ (rows_per_shard)² pairs
  per cell.
* match: GRID sharding — A rows shard ``sa`` ways and join every B
  shard's cell, B rows shard ``sb`` ways and join every A shard's
  cell, so every cell holds ≤ rows_per_shard rows of each side even
  when one side dwarfs the other. Replication cost is
  ~2·pairs/rows_per_shard rows — always small next to the pair output.

Cold blocks are the single cell (0, 0), so cold and hot blocks take
the same join. Shard counts are Column expressions over a map-side
block-count aggregation whose hot tail broadcasts back onto the rows:
no driver round trip, and no Spark job runs while a plan is built.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .indices import BLOCK_KEY, BaseIndex

__all__ = [
    "PairingConfig",
    "keyed_side",
    "cell_members",
    "candidate_pairs",
    "block_statistics",
]


@dataclass
class PairingConfig:
    # block row count above which the block is salted; also the default
    # per-task row budget for unsalted blocks. Kept equal to
    # rows_per_shard so the largest UNSALTED block's pair count
    # (threshold²/2) matches the salted per-cell budget
    # (rows_per_shard²/2) — otherwise a block just under the threshold
    # is the new straggler (5000 rows = 12.5M pairs in one task).
    salt_threshold: int = 2_000
    # target rows per salt shard. The real budget is PAIR OUTPUT per
    # task ~= rows_per_shard²/2 (~2M pairs at the default) — a shard
    # too large serializes pair generation for the hot block into a
    # handful of tasks and caps cluster scaling.
    rows_per_shard: int = 2_000
    # hard cap on distinct hot keys sharded (the largest first); the
    # rest stay whole blocks
    max_hot_keys: int = 100_000
    salt_enabled: bool = True
    # partition count of the cell-membership exchange (cell_members).
    # None = 2×defaultParallelism. This is the knob that keeps pair
    # generation parallel: AQE sizes partitions by the pre-join input
    # bytes, so the 10-100× pair blowup would land in a handful of
    # partitions. Explicitly hash-repartitioning the cheap member rows
    # (REPARTITION_BY_NUM is never coalesced by AQE) makes the blowup
    # AND the downstream scoring UDFs run wide, with no post-join
    # shuffle of the fat pair rows at all.
    target_partitions: int | None = None
    # score eligible shapes block-locally (grouped.py): records cross
    # the JVM↔Python boundary once per block/cell instead of once per
    # pair — the O(rows)-traffic scoring path. Covers dedup AND A×B
    # match mode, noop and non-float-column Swap variators. Shapes the
    # group kernel can't express (pair filters, float swap columns,
    # multi-bucket or jointly-keyed indices, non-batch scorers) use
    # the join path regardless of this flag.
    grouped_scoring: bool = True
    # Adaptive cell oversubscription. rows_per_shard alone bounds the
    # WORST task but not the task COUNT: one mass-dominant hot block
    # (24k rows under the defaults) yields only s(s+1)/2 ≈ 78 cells,
    # and those cells HASH into ~2×cores partitions — collisions plus
    # coarse ~4M-pair granularity mean the last scheduling wave on a
    # wide cluster idles most cores behind a couple of double-loaded
    # tasks (measured p95/p50 ≈ 5.7× on the 4×8-executor bench; the
    # direct limiter of N→4N scaling efficiency). When > 0, a hot
    # block is sharded finely enough that it ALONE yields about
    # oversubscription × partition-count cells, so cells ≫ partitions
    # and hash placement balances statistically — the widening is
    # capped by ``min_shard_rows`` so replication (pairs/shard_rows
    # member rows) and per-group overhead stay negligible next to the
    # pair output. <= 0 disables (pure rows_per_shard sizing).
    # NOTE: new fields live at the END of the dataclass so positional
    # PairingConfig(...) construction keeps its historical meaning.
    cell_oversubscription: float = 4.0
    # shard-size floor for the adaptive widening: never slice a hot
    # block into shards smaller than this many rows (cells of
    # ~min_shard_rows² pairs amortize Arrow/group overhead; also caps
    # replication of small-but-hot blocks). Only blocks with
    # > 2×min_shard_rows rows can be widened past their
    # rows_per_shard-based count.
    min_shard_rows: int = 256


def keyed_side_from_keys(
    df: DataFrame,
    keys: DataFrame,
    row_key: str,
    needed_cols: list[str],
    idx_name: str,
    rec_name: str,
) -> DataFrame:
    """(idx, BLOCK_KEY, rec struct) from a precomputed key frame. Only
    ``needed_cols`` are carried through the shuffle (column pruning by
    construction)."""
    recs = df.select(
        F.col(row_key).alias(idx_name),
        F.struct(*[F.col(c).alias(c) for c in needed_cols]).alias(rec_name),
    )
    return keys.withColumnRenamed(row_key, idx_name).join(recs, on=idx_name)


def keyed_side(
    df: DataFrame,
    index: BaseIndex,
    row_key: str,
    needed_cols: list[str],
    idx_name: str,
    rec_name: str,
) -> DataFrame:
    """(idx, BLOCK_KEY, rec struct) for one side.

    Row-local indices (``index.key_expr`` non-None: ColumnsIndex,
    NoopIndex, PhoneticIndex, ...) compute the key in the SAME
    projection as the rec struct — one scan, no join. Multi-bucket /
    rank-based indices go through ``key_df`` + an idx join; that join
    broadcasts the key frame locally but becomes a corpus double
    shuffle at a scale where keys outgrow the broadcast cap, so never
    pay it for an index that is a plain expression of the row."""
    ke = getattr(index, "key_expr", None)  # tolerate pre-protocol duck types
    expr = ke(df) if callable(ke) else None
    if expr is not None:
        return df.select(
            F.col(row_key).alias(idx_name),
            expr.alias(BLOCK_KEY),
            F.struct(*[F.col(c).alias(c) for c in needed_cols]).alias(rec_name),
        ).where(
            # the key_df path dropped NULL row keys implicitly (inner
            # join on idx); without this filter a NULL key crashes the
            # grouped orientation compare and emits (idx, NULL) pairs
            F.col(BLOCK_KEY).isNotNull() & F.col(idx_name).isNotNull()
        )
    keys = index.key_df(df, row_key)
    return keyed_side_from_keys(df, keys, row_key, needed_cols, idx_name, rec_name)


def block_statistics(side: DataFrame, dedup: bool) -> DataFrame:
    """Per-block row and candidate-pair counts (metrics sink input)."""
    counts = side.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("n_rows"))
    # compute in double: a >4.3e9-row block's long product wraps
    # negative under non-ANSI SQL — a garbage metric for exactly the
    # block that matters most (precision loss past 2^53 beats sign loss)
    n_d = F.col("n_rows").cast("double")
    pair_cnt = (n_d * (n_d - 1) / 2) if dedup else n_d * n_d
    return counts.withColumn("n_pairs", pair_cnt.cast("long"))


def _cell_target(cfg: PairingConfig, n_parts: int) -> int:
    """Cells one hot block should yield under the adaptive widening
    (oversubscription × partition count); 0 when disabled (a
    non-positive oversubscription or shard-row floor)."""
    if cfg.cell_oversubscription is None or cfg.cell_oversubscription <= 0:
        return 0
    if cfg.min_shard_rows is None or cfg.min_shard_rows <= 0:
        return 0
    import math

    return max(1, math.ceil(float(cfg.cell_oversubscription) * max(1, n_parts)))


def _wide_shard_cap(cfg: PairingConfig, n_parts: int, grid: bool) -> int:
    """Shard-count ceiling implied by ``cell_oversubscription``: the
    smallest s whose cell count reaches oversubscription × n_parts
    (triangular s(s+1)/2 cells for the dedup self-join; per-SIDE
    sqrt(target) for the match grid, where cells = sa·sb — the
    asymmetric-block compensation in ``_grid_shards_expr`` then widens
    the bigger side toward target/s_other when the smaller side's
    floor binds). 0 when the adaptive widening is disabled."""
    target = _cell_target(cfg, n_parts)
    if not target:
        return 0
    import math

    if grid:
        return max(1, math.ceil(math.sqrt(target)))
    return max(1, math.ceil((math.sqrt(8.0 * target + 1.0) - 1.0) / 2.0))


def _shard_count_expr(n_col, cfg: PairingConfig, cap, base_floor: int):
    """Shards for a hot block of ``n_col`` rows (long-typed; caller
    casts): the rows_per_shard-based count (per-task pair budget, at
    least ``base_floor``), widened toward ``cap`` (an int — 0 disables —
    or a Column for the grid's dynamic re-widening; the cluster-width
    cell oversubscription) but never below ``min_shard_rows`` rows per
    shard."""
    s = F.greatest(
        F.lit(base_floor).cast("long"),
        F.ceil(n_col / F.lit(cfg.rows_per_shard)),
    )
    if isinstance(cap, Column):
        cap_col = cap
    elif cap:
        cap_col = F.lit(int(cap)).cast("long")
    else:
        return s
    return F.greatest(
        s, F.least(cap_col, F.ceil(n_col / F.lit(cfg.min_shard_rows)))
    )


def _grid_shards_expr(na_col, nb_col, cfg: PairingConfig, wide_cap: int,
                      target: int):
    """(sa, sb) for a hot A×B match block. Each side first gets the
    symmetric sqrt(target) cap (``wide_cap``); then, because an
    asymmetric block's small side is usually pinned by its
    min_shard_rows floor (sb tiny ⇒ sa·sb ≪ target — the
    cells-≫-partitions goal silently missed), the bigger side is
    re-widened toward ceil(target / s_small). Returns
    (sa, sb) as LONG columns (the product guard below stays in long —
    an int32 product would wrap for degenerate mega-blocks)."""
    sa = _shard_count_expr(na_col, cfg, wide_cap, 1)
    sb = _shard_count_expr(nb_col, cfg, wide_cap, 1)
    if target and wide_cap:
        t = F.lit(int(target)).cast("long")
        under = (sa * sb) < t
        cap_a = F.greatest(F.lit(int(wide_cap)).cast("long"), F.ceil(t / sb))
        cap_b = F.greatest(F.lit(int(wide_cap)).cast("long"), F.ceil(t / sa))
        sa, sb = (
            F.when(under & (na_col >= nb_col),
                   _shard_count_expr(na_col, cfg, cap_a, 1)).otherwise(sa),
            F.when(under & (na_col < nb_col),
                   _shard_count_expr(nb_col, cfg, cap_b, 1)).otherwise(sb),
        )
    return sa, sb


def _n_parts(side: DataFrame, cfg: PairingConfig) -> int:
    if cfg.target_partitions is not None:
        return cfg.target_partitions
    from .session import effective_parallelism

    # 2× total cores: pair output is 10-100× the input, so over-split
    # the cheap input side to keep the blowup (and the scoring UDFs
    # downstream) wide. effective_parallelism is race-free in fresh
    # standalone sessions (see its docstring).
    return 2 * effective_parallelism(side.sparkSession)


def _dedup_cells_expr() -> str:
    # every row is a member of exactly __s cells: paired with each
    # shard c, in cell (min(__shard, c), max(__shard, c)), as the LOW
    # member (pos 0) when c >= __shard else the HIGH member (pos 1).
    # c == __shard is the diagonal cell, pos 0.
    return (
        "explode(transform(sequence(0, __s - 1), c -> struct("
        "least(__shard, c) as l, greatest(__shard, c) as t, "
        "if(c >= __shard, 0, 1) as pos)))"
    )


def _match_cells_expr() -> str:
    # A rows (__pos 0): cells (__shard, c) for every B shard c;
    # B rows (__pos 1): cells (c, __shard) for every A shard c.
    return (
        "explode(transform(sequence(0, __s_other - 1), c -> struct("
        "if(__pos = 0, __shard, c) as l, "
        "if(__pos = 0, c, __shard) as t)))"
    )


def _dedup_members(side: DataFrame, cfg: PairingConfig) -> DataFrame:
    """Grid-cell membership frame for the dedup mode. A COLD row must
    contribute exactly ONE member row — the grouped path's O(rows)
    traffic guarantee (pinned by tests/test_grouped.py's
    membership-count test).

    Shard counts come from HOT keys only: a map-side partial agg (the
    shuffle carries (key, count) rows, never the corpus) whose top
    ``max_hot_keys`` by size (largest first, so a biting cap leaves
    the smallest offenders unsalted, never the worst one)
    broadcast-LEFT-joins back onto the rows; cold rows miss the join
    and coalesce to one shard. Catalyst left to its own estimates
    plans an unfiltered counts join as an SMJ that re-shuffles the
    whole corpus by key (plan-verified), hence the explicit broadcast
    of the bounded hot tail. __s is computed INSIDE the hot frame:
    computed from __n after the left join, cold rows would get __s=2,
    not 1 — Spark's greatest() SKIPS nulls, so greatest(2, NULL) = 2
    and the coalesce default never fires, silently doubling every
    cold row's cell memberships."""
    payload = [c for c in side.columns if c not in ("idx", BLOCK_KEY)]
    if cfg.salt_enabled:
        # per-task pair budget (rows_per_shard), adaptively widened
        # toward the cluster-width cell-oversubscription cap so a
        # mass-dominant block yields cells ≫ partitions (see
        # PairingConfig.cell_oversubscription)
        wide = _wide_shard_cap(cfg, _n_parts(side, cfg), grid=False)
        s_expr = _shard_count_expr(F.col("__n"), cfg, wide, base_floor=2)
        hot_counts = (
            side.groupBy(BLOCK_KEY)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > cfg.salt_threshold)
            .orderBy(F.col("__n").desc(), F.col(BLOCK_KEY).asc())
            .limit(cfg.max_hot_keys)
            .select(BLOCK_KEY, s_expr.cast("int").alias("__s_hot"))
        )
        tagged = side.join(
            F.broadcast(hot_counts), on=BLOCK_KEY, how="left"
        ).select(
            side["*"],
            F.coalesce(F.col("__s_hot"), F.lit(1)).alias("__s"),
        )
    else:
        tagged = side.withColumn("__s", F.lit(1))
    tagged = tagged.withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col("idx")), F.col("__s")).cast("int"),
    )
    cells = F.expr(_dedup_cells_expr())
    return tagged.select(
        "idx", BLOCK_KEY, *payload, cells.alias("__cell")
    ).select(
        "idx",
        BLOCK_KEY,
        *payload,
        F.col("__cell.l").alias("__l"),
        F.col("__cell.t").alias("__t"),
        F.col("__cell.pos").alias("__pos"),
    )


def _match_members(
    side_a: DataFrame, side_b: DataFrame, cfg: PairingConfig
) -> DataFrame:
    """Grid-cell membership frame for the A×B match mode: A rows are
    ``__pos`` 0, B rows ``__pos`` 1. Payload columns one side lacks
    are NULL on that side's rows."""
    union = side_a.withColumn("__pos", F.lit(0)).unionByName(
        side_b.withColumn("__pos", F.lit(1)), allowMissingColumns=True
    )
    payload = [c for c in union.columns if c not in ("idx", BLOCK_KEY, "__pos")]
    if cfg.salt_enabled:
        # hot iff the PAIR PRODUCT na·nb exceeds the budget. The
        # product is a double: na*nb for a degenerate hot key at
        # 10^12-doc scale can exceed Long.MAX and wrap negative under
        # non-ANSI SQL — silently classifying the single hottest block
        # as cold (double loses precision past 2^53 but never the >
        # comparison or the ordering that matter)
        thr = float(cfg.salt_threshold * cfg.rows_per_shard)
        ca = side_a.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("__na"))
        cb = side_b.groupBy(BLOCK_KEY).agg(F.count(F.lit(1)).alias("__nb"))
        prod = F.col("__na").cast("double") * F.col("__nb").cast("double")
        n_parts_ab = _n_parts(side_a, cfg)
        wide = _wide_shard_cap(cfg, n_parts_ab, grid=True)
        target = _cell_target(cfg, n_parts_ab)
        # per-side widening + asymmetric-block re-widening of the
        # bigger side; the product guard stays in LONG — an int32
        # sa·sb would wrap for a degenerate mega-block and collapse sb
        # to 2, one cell holding the whole cross product. A hot key
        # must split SOMETHING, hence the sa·sb ≥ 2 floor.
        sa, sb = _grid_shards_expr(
            F.col("__na"), F.col("__nb"), cfg, wide, target
        )
        sb = F.when(sa * sb < 2, F.lit(2).cast("long")).otherwise(sb)
        sa, sb = sa.cast("int"), sb.cast("int")
        hot_counts = (
            ca.join(cb, on=BLOCK_KEY)
            .where(prod > F.lit(thr))
            .orderBy(prod.desc(), F.col(BLOCK_KEY).asc())
            .limit(cfg.max_hot_keys)
            .select(BLOCK_KEY, sa.alias("__sa"), sb.alias("__sb"))
        )
        tagged = union.join(
            F.broadcast(hot_counts), on=BLOCK_KEY, how="left"
        ).select(
            union["*"],
            F.coalesce(F.col("__sa"), F.lit(1)).alias("__sa2"),
            F.coalesce(F.col("__sb"), F.lit(1)).alias("__sb2"),
        )
        own = F.when(F.col("__pos") == 0, F.col("__sa2")).otherwise(
            F.col("__sb2")
        )
        other = F.when(F.col("__pos") == 0, F.col("__sb2")).otherwise(
            F.col("__sa2")
        )
        tagged = tagged.withColumn("__s_own", own).withColumn(
            "__s_other", other
        ).drop("__sa2", "__sb2")
    else:
        tagged = union.withColumn("__s_own", F.lit(1)).withColumn(
            "__s_other", F.lit(1)
        )
    tagged = tagged.withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col("idx")), F.col("__s_own")).cast("int"),
    )
    cells = F.expr(_match_cells_expr())
    return tagged.select(
        "idx", BLOCK_KEY, *payload, "__pos", cells.alias("__cell")
    ).select(
        "idx",
        BLOCK_KEY,
        *payload,
        F.col("__cell.l").alias("__l"),
        F.col("__cell.t").alias("__t"),
        "__pos",
    )


def cell_members(
    side_a: DataFrame, cfg: PairingConfig, side_b: DataFrame | None = None
) -> DataFrame:
    """Grid-cell membership of keyed side(s) ``(idx, BLOCK_KEY,
    payload...)``: each row tagged with its cell(s) ``(__l, __t)`` and
    its role ``__pos``, hash-partitioned on ``(BLOCK_KEY, __l, __t)``.

    Dedup mode (``side_b`` None): ``__pos`` 0 is the LOW member of an
    off-diagonal cell (every member of a diagonal cell is 0), 1 the
    HIGH member; the low×high products of off-diagonal cells plus the
    triangles of diagonal cells are each unordered pair of a block
    exactly once. Match mode: ``__pos`` 0 rows come from ``side_a``, 1
    from ``side_b``; each cell's A×B product is each pair exactly once.
    Cold blocks are the single cell (0, 0).

    Both scoring paths consume this frame — ``candidate_pairs`` joins
    members within a cell, the grouped path scores each cell in place —
    so the hot-block sharding rule exists once."""
    if side_b is None:
        members = _dedup_members(side_a, cfg)
    else:
        members = _match_members(side_a, side_b, cfg)
    # explicit REPARTITION_BY_NUM: pair output is quadratic in a cell's
    # input, so AQE coalescing by INPUT bytes would funnel the whole
    # pair blowup into a handful of fat tasks. The pinned-width hash
    # partition on the exact cell keys also guarantees every (block,
    # cell) group is wholly contained in one partition — the
    # co-location contract the grouped scorer needs, and the
    # distribution the within-cell join requires, so that join adds no
    # exchange.
    return members.repartition(
        _n_parts(side_a, cfg), F.col(BLOCK_KEY), F.col("__l"), F.col("__t")
    )


def candidate_pairs(
    dfa: DataFrame,
    index: BaseIndex,
    row_key: str,
    needed_cols: list[str],
    dfb: DataFrame | None = None,
    cfg: PairingConfig | None = None,
) -> DataFrame:
    """Candidate-pair frame (idx_a, idx_b, a, b).

    Dedup mode (``dfb is None``): self-join, ``idx_a < idx_b``.
    Match mode: A×B within blocks. Pairs arising from multiple buckets
    (``index.multi_bucket``) are deduplicated.
    """
    cfg = cfg or PairingConfig()
    pair_keys = None
    if dfb is not None:
        pair_keys = index.key_df_pair(dfa, dfb, row_key)
        if pair_keys is None and getattr(index, "dedup_only", False):
            raise ValueError(
                f"{type(index).__name__} keys are only comparable within one "
                "dataset (global sort ranks); it cannot be used in match mode"
            )

    def side(df: DataFrame, i: int) -> DataFrame:
        if pair_keys is not None:
            return keyed_side_from_keys(
                df, pair_keys[i], row_key, needed_cols, "idx", "rec"
            )
        return keyed_side(df, index, row_key, needed_cols, "idx", "rec")

    cell = [BLOCK_KEY, "__l", "__t"]
    if dfb is None:
        members = cell_members(side(dfa, 0), cfg)

        def role(name: str) -> DataFrame:
            return members.select(
                *cell,
                F.col("__pos").alias(f"pos_{name}"),
                F.col("idx").alias(f"idx_{name}"),
                F.col("rec").alias(name),
            )

        # within a cell, keep each unordered pair once (idx_a < idx_b):
        # low×high member pairs of an off-diagonal cell, any two
        # members of a diagonal cell. The role test stays inside a
        # two-sided predicate: a per-side filter would be pushed below
        # the member exchange and split it into two corpus shuffles.
        pairs = role("a").join(role("b"), on=cell).where(
            (F.col("idx_a") < F.col("idx_b"))
            & (
                (F.col("pos_a") != F.col("pos_b"))
                | (F.col("__l") == F.col("__t"))
            )
        ).select("idx_a", "a", "idx_b", "b")
    else:
        # the union inside cell_members shares only the shard-hash
        # input; each side keeps its own idx and rec types
        def tagged(df: DataFrame, i: int, name: str) -> DataFrame:
            return side(df, i).select(
                F.xxhash64("idx").alias("idx"),
                BLOCK_KEY,
                F.col("idx").alias(f"idx_{name}"),
                F.col("rec").alias(name),
            )

        members = cell_members(tagged(dfa, 0, "a"), cfg, tagged(dfb, 1, "b"))
        left = members.where(F.col("__pos") == 0).select(*cell, "idx_a", "a")
        right = members.where(F.col("__pos") == 1).select(*cell, "idx_b", "b")
        pairs = left.join(right, on=cell).drop(*cell)
    if index.multi_bucket:
        pairs = pairs.dropDuplicates(["idx_a", "idx_b"])
    return pairs
