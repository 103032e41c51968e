"""Physical-plan regression guards: the optimizations this engine
depends on must stay visible in the plan (a future change that
reintroduces an explode, an aggregation shuffle, or an IN-list hot-key
filter would silently wreck the 100×-scale story long before any
correctness test notices)."""

import re

from pyspark.sql import functions as F

from datamatch_spark import (
    ColumnsIndex,
    JaroWinklerSimilarity,
    Swap,
    ThresholdMatcher,
)
from datamatch_spark.pairing import PairingConfig, candidate_pairs


def _formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _details(plan: str) -> list[str]:
    """Node detail blocks of a formatted plan, each starting with the
    node name (``Generate\nInput [...]\nArguments: ...``)."""
    return [
        re.sub(r"^\(\d+\) ", "", blk)
        for blk in plan.split("\n\n")
        if re.match(r"\(\d+\) ", blk)
    ]


def test_swap_plan_has_no_explode_or_agg_exchange(spark):
    rows = [(i, f"l{i % 5}", f"f{i % 7}", f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "row_key long, last string, first string, g string")
    sims = {"last": JaroWinklerSimilarity(), "first": JaroWinklerSimilarity()}
    # join path (grouped off): the fused swap UDF must not regress to
    # exploding 4 variants + a per-pair max aggregate
    m = ThresholdMatcher(
        ColumnsIndex("g"), sims, df,
        variator=Swap("first", "last"), validate=False, defer=True,
        pairing_config=PairingConfig(grouped_scoring=False),
    )
    plan = _formatted(m._build_scored())
    nodes = _details(plan)
    # the only explode is the grid-cell membership; the only aggregate
    # is the per-block row count that sizes hot blocks
    gens = [d for d in nodes if d.startswith("Generate")]
    assert gens and all("__cell" in d for d in gens), gens
    keys = [
        re.search(r"Keys \[\d+\]: \[(.*)\]", d).group(1)
        for d in nodes if d.startswith("HashAggregate")
    ]
    assert all(re.fullmatch(r"block_key#\d+", k) for k in keys), keys

    # grouped path: swap scoring stays inside ONE FlatMapGroupsInPandas
    # (the only Generate allowed is the grid-cell membership explode;
    # a per-pair max aggregate must never appear)
    mg = ThresholdMatcher(
        ColumnsIndex("g"), sims, df,
        variator=Swap("first", "last"), validate=False, defer=True,
    )
    plan_g = _formatted(mg._build_scored())
    assert "score_partition" in plan_g  # r6: merged MapInPandas scorer
    assert "ArrowEvalPython" not in plan_g  # no second scoring UDF pass


def test_parquet_scan_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dedup_self_join_shuffles_corpus_once(spark):
    """The dedup self-join must shuffle the keyed corpus ONCE: a single
    upfront hash-partition on block_key that the stats agg and BOTH
    join children share (ReusedExchange / AQE stage reuse). A second
    REPARTITION exchange in the final plan means the corpus is being
    shuffled twice per pairing run — the regression this guards."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = candidate_pairs(
        docs, ColumnsIndex("lang"), "doc_id", ["lang"],
        cfg=PairingConfig(salt_enabled=False),
    )
    qe = pairs._jdf.queryExecution()
    qe.executedPlan().execute().count()  # materialize THIS plan tree (AQE final)
    final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    live = [
        ln for ln in final.splitlines()
        if "REPARTITION_BY_NUM" in ln and "ReusedExchange" not in ln
    ]
    assert len(live) == 1, final


def test_hot_key_tables_are_jvm_literals(spark):
    """Salted-path hot-key tables must stay JVM plans, not
    pickled-Python RDDs: a `Scan ExistingRDD` for a 50-row hot list
    spins up a Python worker on every executor core — a measured
    multi-second anti-scaling constant in every salted join."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = candidate_pairs(
        docs, ColumnsIndex("lang"), "doc_id", ["lang"],
        cfg=PairingConfig(salt_threshold=50, rows_per_shard=25),
    )
    plan = _formatted(pairs)
    assert "ExistingRDD" not in plan, plan


def _blocks(spark, n: int, n_hot: int, n_cold: int, offset: int = 0):
    """``n`` rows with row_key ``offset + i``: the first ``n_hot`` share
    block 'hot', the rest spread over ``n_cold`` cold blocks; ``text``
    is a wide per-row payload. Built from spark.range, so the plan
    holds no pickled-Python scan."""
    i = F.col("id")
    return spark.range(n).select(
        (i + offset).alias("row_key"),
        F.when(i < n_hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (i % n_cold).cast("string")))
        .alias("blk"),
        F.concat(F.repeat(F.lit("x"), 50), i.cast("string")).alias("text"),
    )


def _pairs_with(dfa, cols, cfg, dfb=None):
    return candidate_pairs(
        dfa, ColumnsIndex("blk"), "row_key", cols, dfb=dfb, cfg=cfg
    )


def _pair_set(pairs):
    return {(r["idx_a"], r["idx_b"]) for r in pairs.collect()}


def _check_cell_plan(pairs) -> str:
    """Every hash partitioning that carries the cell columns covers
    (block_key, __l, __t), so a task holds whole cells, never a
    triangular shard target; hot-block sizing stays in the JVM plan
    (no pickled-Python hot-key table, no IN-list over hot keys)."""
    plan = _formatted(pairs)
    cells = [
        m for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "__l#" in m or "__t#" in m
    ]
    assert cells, plan
    for m in cells:
        assert all(f"{c}#" in m for c in ("block_key", "__l", "__t")), m
    assert "ExistingRDD" not in plan, plan
    assert " IN (" not in plan, plan
    return plan


_UNSALTED = PairingConfig(salt_enabled=False)


def test_salted_pairing_uses_broadcast_anti_join(spark):
    """Splitting cold from hot blocks needs neither an anti-join nor an
    IN-list over hot keys: the per-block counts of hot blocks reach the
    rows by a broadcast LEFT join (cold rows miss it and keep one
    cell), and cold and hot blocks then take the same cell join."""
    df = _blocks(spark, 600, 300, 23)
    cfg = PairingConfig(salt_threshold=100, rows_per_shard=50)
    salted = _pairs_with(df, ["blk"], cfg)
    plan = _check_cell_plan(salted)
    assert "LeftAnti" not in plan
    assert "g IN (" not in plan and "block_key IN" not in plan
    outer = [
        d for d in _details(plan)
        if d.startswith("BroadcastHashJoin") and "LeftOuter" in d
    ]
    assert outer, plan
    assert _pair_set(salted) == _pair_set(_pairs_with(df, ["blk"], _UNSALTED))


def test_salted_hot_join_no_triangular_partitioning(spark):
    """A hot block is cut into grid cells and every exchange of cell
    members partitions on the whole cell, so per-task load is a uniform
    cell, never a triangular per-target share (a measured 40x-median
    straggler). The salted pair set equals the unsalted one."""
    from datamatch_spark.pairing import cell_members, keyed_side

    df = _blocks(spark, 120, 80, 7)
    cfg = PairingConfig(salt_threshold=20, rows_per_shard=10)
    side = keyed_side(df, ColumnsIndex("blk"), "row_key", [], "idx", "rec")
    assert cell_members(side, cfg).count() > 120  # hot rows are sharded
    salted = _pairs_with(df, [], cfg)
    _check_cell_plan(salted)
    assert _pair_set(salted) == _pair_set(_pairs_with(df, [], _UNSALTED))


def test_wide_rec_disables_hot_broadcast(spark):
    """A wide rec struct (long text columns) is never broadcast by the
    pairing itself — 1M wide hot rows can be multi-GB. With Spark's
    size-based broadcast off, the only broadcast left in the plan is
    the hinted per-block hot-count table, which carries no rec; the
    salted pair set with the wide rec equals the unsalted one."""
    df = _blocks(spark, 120, 80, 7)
    cfg = PairingConfig(salt_threshold=20, rows_per_shard=10)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _check_cell_plan(_pairs_with(df, ["text"], cfg))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bcast = [d for d in _details(plan) if d.startswith("BroadcastExchange")]
    assert bcast, plan
    for d in bcast:
        inputs = re.search(r"Input \[\d+\]: \[(.*)\]", d).group(1)
        assert "__s_hot#" in inputs, d
        assert "text" not in inputs and "rec#" not in inputs, d
    want = _pair_set(_pairs_with(df, ["text"], _UNSALTED))
    assert _pair_set(_pairs_with(df, ["text"], cfg)) == want


def test_match_salting_grid_shards_both_sides(spark):
    """Asymmetric hot match block (tiny A side, large B side): sharding
    only A cannot bound per-task pairs (~nb pairs in one task); the
    grid cuts the hot block into several (A shard, B shard) cells and
    partitions members on both shard ids. Pair set identical to
    unsalted."""
    from datamatch_spark.pairing import cell_members, keyed_side

    dfa = _blocks(spark, 30, 6, 5)
    dfb = _blocks(spark, 400, 300, 5, offset=1000)
    cfg = PairingConfig(salt_threshold=10, rows_per_shard=20)

    def side(df):
        return keyed_side(df, ColumnsIndex("blk"), "row_key", [], "idx", "rec")

    members = cell_members(side(dfa), cfg, side(dfb))
    hot_cells = (
        members.where(F.col("block_key").endswith("hot"))
        .select("__l", "__t").distinct().count()
    )
    assert hot_cells > 1
    salted = _pairs_with(dfa, [], cfg, dfb)
    _check_cell_plan(salted)
    want = _pair_set(_pairs_with(dfa, [], _UNSALTED, dfb))
    assert _pair_set(salted) == want and len(want) == 6 * 300 + 24 * 20


def test_cell_join_partitions_by_cell(spark):
    """Hot and cold blocks take ONE join on the grid cell, in dedup mode
    with narrow and wide recs and in match mode: the plan partitions
    members by whole cells and holds no pickled-Python scan and no
    hot-key IN-list (``_check_cell_plan``)."""
    df = _blocks(spark, 120, 80, 7)
    cfg = PairingConfig(salt_threshold=20, rows_per_shard=10)
    for cols in ([], ["text"]):
        _check_cell_plan(_pairs_with(df, cols, cfg))
    dfa = _blocks(spark, 30, 6, 5)
    dfb = _blocks(spark, 400, 300, 5, offset=1000)
    _check_cell_plan(
        _pairs_with(dfa, [], PairingConfig(salt_threshold=10, rows_per_shard=20), dfb)
    )
