"""Data-quality functions: NA standardization, drops, imputation, renames.

Parity targets in the reference:

- ``standardize_na_values`` — ``src/packages/preprocessing/clean/data_quality.py:10-38``
- ``drop_na`` / ``drop_duplicates`` — ``data_quality.py:41-76,78-112``
  (``"all"`` keyword means all columns)
- ``impute_dataframe`` — ``src/packages/preprocessing/transformers/transform_column.py:90-129``
- ``rename_columns`` — ``transform_column.py:58-87``
- duplicate-column dedup — ``src/packages/preprocessing/clean/clean_data.py:8-36``
  (the reference does a pandas transpose; ours is a pure projection)
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, functions as F


def standardize_na_values(
    df: DataFrame,
    columns: Sequence[str],
    na_values: Sequence[Any] = ("", "NA", "N/A", "null", "NULL", "None", "999999999"),
) -> DataFrame:
    """``when(col.isin(na_vals), NULL).otherwise(col)`` per column.

    Reference ``data_quality.py:10-38``; the sentinel ``'999999999'`` is the
    customer-id NA convention every ingestion filter drops
    (``fs_cus_credit_risk.py:78-82``).
    """
    return df.withColumns(
        {
            c: F.when(F.col(c).isin(list(na_values)), F.lit(None)).otherwise(F.col(c))
            for c in columns
        }
    )


def drop_na(df: DataFrame, subset: Sequence[str] | str = "all") -> DataFrame:
    """``df.na.drop(subset)`` with the reference's ``"all"`` keyword —
    ``data_quality.py:41-76``."""
    if subset == "all":
        return df.na.drop()
    return df.na.drop(subset=list(subset))


def drop_duplicates(df: DataFrame, subset: Sequence[str] | str = "all") -> DataFrame:
    """``df.dropDuplicates(subset)`` — ``data_quality.py:78-112``."""
    if subset == "all":
        return df.dropDuplicates()
    return df.dropDuplicates(list(subset))


def impute_dataframe(
    df: DataFrame, fill: Any | Mapping[str, Any], subset: Sequence[str] | None = None
) -> DataFrame:
    """``df.na.fill(value-or-dict)`` — ``transform_column.py:90-129``."""
    if isinstance(fill, Mapping):
        return df.na.fill(dict(fill))
    return df.na.fill(fill, subset=list(subset) if subset else None)


def rename_columns(df: DataFrame, renames: Mapping[str, str]) -> DataFrame:
    """Validated ``withColumnsRenamed`` — ``transform_column.py:58-87``."""
    missing = [c for c in renames if c not in df.columns]
    if missing:
        raise ValueError(f"Cannot rename missing columns: {missing}")
    return df.withColumnsRenamed(dict(renames))


def robust_outlier_flags(
    df,
    column: str,
    partition_by=(),
    threshold: float = 3.5,
    round_to: int = 6,
):
    """Median/MAD outlier detection (per group when ``partition_by`` is
    given): the modified z-score ``0.6745 · (x − median) / MAD`` flags
    rows beyond ``threshold`` (Iglewicz & Hoaglin's 3.5 default).
    Median-based, so — unlike mean/stddev z-scores — the outliers
    themselves cannot inflate the scale estimate and mask each other.
    Appends ``{col}_robust_z`` (NULL when the value is NULL or the
    group's MAD is 0) and ``{col}_is_outlier`` (a zero-MAD group flags
    any value different from the median — the constant-column break
    case).

    Two grouped aggregations (exact ``percentile`` median, then MAD as
    the median absolute deviation — both map-side-combinable per group)
    broadcast back onto the rows; the fact table never sorts globally.
    """
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.functions.rounding import dround

    keys = list(partition_by)
    x = F.col(column).cast("double")
    med_agg = (
        df.groupBy(*keys).agg(F.percentile(x, F.lit(0.5)).alias("__med"))
        if keys
        else df.agg(F.percentile(x, F.lit(0.5)).alias("__med"))
    )
    if keys:
        with_med = df.join(F.broadcast(med_agg), keys)
    else:
        with_med = df.crossJoin(F.broadcast(med_agg))
    dev = F.abs(x - F.col("__med"))
    mad_agg = (
        with_med.groupBy(*keys).agg(
            F.percentile(dev, F.lit(0.5)).alias("__mad"),
            F.first("__med").alias("__med"),
        )
        if keys
        else with_med.agg(
            F.percentile(dev, F.lit(0.5)).alias("__mad"),
            F.first("__med").alias("__med"),
        )
    )
    if keys:
        out = df.join(F.broadcast(mad_agg), keys)
    else:
        out = df.crossJoin(F.broadcast(mad_agg))
    z = F.when(
        x.isNotNull() & (F.col("__mad") > 0),
        F.lit(0.6745) * (x - F.col("__med")) / F.col("__mad"),
    )
    flat_break = (F.col("__mad") == 0) & x.isNotNull() & (x != F.col("__med"))
    return out.select(
        *df.columns,
        dround(z, round_to).alias(f"{column}_robust_z"),
        (
            F.coalesce(F.abs(z) > F.lit(float(threshold)), F.lit(False))
            | F.coalesce(flat_break, F.lit(False))
        ).alias(f"{column}_is_outlier"),
    )
