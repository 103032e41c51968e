"""Bucketed keyed-side tables: co-located, exchange-free pair joins.

At 100 TB the dominant recurring cost of blocked linkage is shuffling
the keyed sides on BLOCK_KEY for every run. Bucketing amortizes it:
write the keyed side ONCE as a table bucketed (and sorted) on
BLOCK_KEY; every subsequent blocked self-join / A×B join reads the
buckets back already co-located — Catalyst plans a SortMergeJoin with
NO Exchange on either side (asserted in tests/test_bucketing.py).

This is the parquet/in-memory-catalog form of the same idea an Iceberg
deployment expresses with a bucket partition transform
(``bucket(N, block_key)``).

Usage::

    side = keyed_side(df, index, "id", cols, "idx", "rec")
    save_bucketed_keyed_side(side, "people_keyed", n_buckets=256)
    pairs = bucketed_candidate_pairs(spark, "people_keyed")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indices import BLOCK_KEY

__all__ = [
    "save_bucketed_keyed_side",
    "bucketed_candidate_pairs",
]


MULTI_BUCKET_PROP = "datamatch.multi_bucket"


def save_bucketed_keyed_side(
    side: DataFrame,
    table_name: str,
    n_buckets: int = 256,
    path: str | None = None,
    multi_bucket: bool = False,
) -> None:
    """Persist a keyed side (idx, block_key, rec — ``pairing.keyed_side``
    output) as a parquet table bucketed AND sorted on BLOCK_KEY.

    ``n_buckets`` must match between any two tables that will be
    joined (co-location requires identical bucketing).

    ``multi_bucket`` MUST be the ``index.multi_bucket`` flag of the
    index that produced ``side`` (True for ``index_elements=True`` /
    ``MultiIndex`` OR): it is persisted as table property
    ``datamatch.multi_bucket`` and read back by
    ``bucketed_candidate_pairs`` so pairs sharing >1 bucket are
    deduplicated exactly as the runtime path does."""
    writer = (
        side.write.format("parquet")
        .bucketBy(n_buckets, BLOCK_KEY)
        .sortBy(BLOCK_KEY)
        .mode("overwrite")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    side.sparkSession.sql(
        f"ALTER TABLE {table_name} SET TBLPROPERTIES "
        f"('{MULTI_BUCKET_PROP}'='{str(bool(multi_bucket)).lower()}')"
    )


def _table_multi_bucket(spark: SparkSession, table_name: str) -> bool:
    rows = spark.sql(
        f"SHOW TBLPROPERTIES {table_name} ('{MULTI_BUCKET_PROP}')"
    ).collect()
    val = rows[0]["value"] if rows else None
    if val not in ("true", "false"):
        # the property is written by a separate ALTER after saveAsTable
        # commits; its absence means that second statement never ran (a
        # crash in the window) — refusing loudly beats silently skipping
        # pair dedup for a multi-bucket index (review r5)
        raise ValueError(
            f"table {table_name!r} lacks the {MULTI_BUCKET_PROP!r} "
            "property — it was not (fully) written by "
            "save_bucketed_keyed_side; re-save it"
        )
    return val == "true"


def bucketed_candidate_pairs(
    spark: SparkSession,
    table_a: str,
    table_b: str | None = None,
    dedupe_multi_bucket: bool | None = None,
) -> DataFrame:
    """Candidate pairs from pre-bucketed keyed-side table(s): the
    blocked join on BLOCK_KEY runs exchange-free (bucket co-location
    replaces the runtime repartition).

    Dedup mode (``table_b is None``): self-join with idx_a < idx_b.
    Match mode: A×B within blocks. Hot-block salting is intentionally
    NOT applied here — salting re-shards rows and would defeat
    co-location; for skewed corpora either salt at write time (bucket
    the pre-salted side) or use the runtime ``candidate_pairs`` path.

    ``dedupe_multi_bucket=None`` (default) reads the
    ``datamatch.multi_bucket`` property persisted by
    ``save_bucketed_keyed_side`` (OR across both tables), matching the
    runtime path which always dedupes when ``index.multi_bucket``.
    Pass an explicit bool to override.
    """
    if dedupe_multi_bucket is None:
        dedupe_multi_bucket = _table_multi_bucket(spark, table_a) or (
            table_b is not None and _table_multi_bucket(spark, table_b)
        )

    def role(table: str, name: str) -> DataFrame:
        return spark.table(table).select(
            BLOCK_KEY, F.col("idx").alias(f"idx_{name}"), F.col("rec").alias(name)
        )

    pairs = role(table_a, "a").join(role(table_b or table_a, "b"), on=BLOCK_KEY)
    if table_b is None:
        pairs = pairs.where(F.col("idx_a") < F.col("idx_b"))
    pairs = pairs.drop(BLOCK_KEY)
    if dedupe_multi_bucket:
        pairs = pairs.dropDuplicates(["idx_a", "idx_b"])
    return pairs
