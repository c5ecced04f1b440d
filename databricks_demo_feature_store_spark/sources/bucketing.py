"""Bucketed tables: pre-shuffled storage for co-located, exchange-free joins.

At 100 TB the dominant cost of a big equi-join is the shuffle of both
sides. Bucketing pays that shuffle ONCE at write time: both tables are
hash-partitioned into the same number of buckets on the join key and
sorted within buckets, so a later join (or aggregation on the bucket key)
reads matching buckets side by side — SortMergeJoin with **no Exchange**
under either side. This is the storage-level twin of the reference's
"partition by historical key" layer discipline
(``storage_operations.py:181,192``) applied to join keys instead of scan
pruning.

Bucketed tables must live in the session catalog (``saveAsTable``); the
warehouse location is configured in ``session.get_spark`` (defaults to a
/tmp warehouse locally).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) catalog table."""
    cols = list(bucket_cols)
    writer = (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(num_buckets, cols[0], *cols[1:])
    )
    sort = list(sort_cols) if sort_cols is not None else cols
    if sort:
        writer = writer.sortBy(sort[0], *sort[1:])
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables — planned without a shuffle on either
    side when both are bucketed on the join keys with equal bucket counts."""
    return spark.read.table(left_table).join(
        spark.read.table(right_table), on=list(on), how=how
    )
