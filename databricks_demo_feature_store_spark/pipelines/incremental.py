"""Incremental feature materialization: recompute only changed entities.

At 100 TB the daily reality of a feature store is that a small fraction of
entities receive new source rows; rerunning a whole pipeline to refresh
them burns the cluster. The correct incremental granularity for this
engine's pipelines is the ENTITY, not the month: lag/rolling features use
row frames over each entity's observed months (and lag/diff/RSI chains
propagate forward indefinitely), so one changed source row can move every
later feature row of that entity — but never any other entity's rows.
Every pipeline here is per-entity decomposable (features never mix
entities: aggregations, windows and ratios all partition by the entity
key), which makes "recompute the changed entities, replace their rows"
exactly equal to a full rerun. That equality is not assumed — the driver
gate checks the incremental result against the full-recompute oracle
(``q_pipeline_incremental``).

Scale shape: the changed-entity set is broadcast into a left-semi join
that prunes the source scan (predicate reaches the parquet scan; with the
source bucketed by entity the semi-join is shuffle-free), the pipeline
runs on that slice only, and the write replaces exactly the affected
entities' rows (Delta: ``MERGE`` with a source-scoped delete; parquet
fallback: anti-join in ``writers.rewrite_table``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.sources.writers import (
    rewrite_table,
    stage_and_swap,
    table_generation,
)


def replace_entities(
    df: DataFrame,
    path: str,
    entity_col: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Replace ALL rows of the entities present in ``df`` with ``df``'s
    rows (delete-then-insert scoped to those entities) — unlike a keyed
    upsert, rows the entity no longer produces (a retracted month) are
    removed.

    Delta form: ``MERGE ON t.entity = s.entity`` with
    ``whenMatchedDelete`` + append, or ``replaceWhere entity IN (...)``.
    Parquet fallback: a ``rewrite_table`` whose build is kept = live
    rows ⟕anti(entity) df, out = kept ∪ df; the table's registry sidecar
    carries over and rows a deletion vector removed stay removed. A
    missing table is bootstrapped with ``df`` in one staged swap, which a
    concurrent creator fails with ``ConcurrentWriteError``.
    """
    touched = df.select(entity_col).distinct()

    def build(existing: DataFrame) -> DataFrame:
        kept = existing.join(F.broadcast(touched), on=entity_col, how="left_anti")
        return kept.unionByName(df, allowMissingColumns=True)

    generation = table_generation(path)
    if not rewrite_table(
        df.sparkSession, path, fmt, build, partition_by=partition_by,
        _generation=generation,
    ):
        stage_and_swap(df, path, fmt, generation, partition_by, sized=False)


def incremental_entity_refresh(
    source: DataFrame,
    changed_entities: DataFrame,
    compute: Callable[[DataFrame], DataFrame],
    entity_in: str,
    entity_out: str,
    table_path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Refresh the feature table at ``table_path`` for ``changed_entities``
    only.

    ``compute`` is the full pipeline (source slice → standardized feature
    frame); ``entity_in`` / ``entity_out`` name the entity key on the
    source / output side (pipelines rename, e.g. ``o_custkey`` →
    ``pk_customer``). The source is pruned with a broadcast left-semi
    join BEFORE the pipeline runs, so the scan, shuffle and window work
    all scale with the changed slice, not the table.

    Contract: ``compute`` must be per-entity decomposable (true for every
    pipeline in this package — see module docstring; the driver gate
    proves it against a full-recompute oracle).
    """
    keys = changed_entities.select(
        F.col(changed_entities.columns[0]).alias(entity_in)
    ).distinct()
    src = source.join(F.broadcast(keys), on=entity_in, how="left_semi")
    out = compute(src)
    replace_entities(out, table_path, entity_out, fmt, partition_by)
