"""Column mapping: rename columns WITHOUT rewriting data files.

The Delta column-mapping twin (``ALTER TABLE ... RENAME COLUMN`` under
``delta.columnMapping.mode = name``): parquet files keep their original
PHYSICAL column names forever; a tiny mapping sidecar records the
physical→logical assignment, readers project physical names to logical
ones (a zero-cost alias projection — column pruning and predicate
pushdown still reach the scan because the projection is a direct
attribute rename), and writers translate logical back to physical so
files appended after a rename stay consistent with files written before
it. At 100 TB a rename is a metadata operation — O(1 sidecar write) —
instead of an O(table) rewrite.

The reference's storage core renames via full rewrite
(``storage_operations.py`` write paths); this is the scale-correct
replacement, mirroring how Delta decoupled logical schema from physical
layout.

Concurrency/crash discipline: the mapping file is written atomically
(``writers.atomic_open``). The sidecar lives inside the table directory
with an underscore name, invisible to plain parquet scans, and survives
append-mode writes; a table rewrite (``writers.rewrite_table``) reads
physical column names and does not carry the mapping, so apply
:func:`materialize_mapping` before rewriting a renamed table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from databricks_demo_feature_store_spark.sources.writers import (
    atomic_open,
    rewrite_table,
)

__all__ = [
    "rename_column",
    "read_with_mapping",
    "write_with_mapping",
    "load_mapping",
    "materialize_mapping",
    "mapping_path",
]

MAPPING_FILE = "_column_mapping.json"


def mapping_path(table_path: str) -> str:
    return os.path.join(table_path.removeprefix("file:"), MAPPING_FILE)


def load_mapping(table_path: str) -> dict[str, str]:
    """physical name → logical name; empty dict when no sidecar (identity)."""
    p = mapping_path(table_path)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _save_mapping(table_path: str, mapping: dict[str, str]) -> None:
    with atomic_open(mapping_path(table_path)) as fh:
        json.dump(mapping, fh, indent=2, sort_keys=True)


def _physical_columns(spark: SparkSession, table_path: str) -> list[str]:
    return spark.read.parquet(table_path).columns


def rename_column(
    spark: SparkSession, table_path: str, old: str, new: str
) -> dict[str, str]:
    """Logical rename ``old`` → ``new``: one sidecar write, zero data IO.
    Renames chain (a→b then b→c folds to physical a → logical c).
    Raises on unknown source names and logical collisions — a mapping
    that drops or duplicates a column would corrupt every future read."""
    mapping = load_mapping(table_path)
    physical = _physical_columns(spark, table_path)
    logical_of = {p: mapping.get(p, p) for p in physical}
    sources = [p for p, log in logical_of.items() if log == old]
    if not sources:
        raise ValueError(
            f"no column with logical name {old!r} (have {sorted(logical_of.values())})"
        )
    if new in logical_of.values():
        raise ValueError(f"logical name {new!r} already exists")
    mapping[sources[0]] = new
    _save_mapping(table_path, mapping)
    return mapping


def read_with_mapping(spark: SparkSession, table_path: str) -> DataFrame:
    """Scan with logical names: one alias projection over the physical
    scan; no sidecar ⇒ plain scan."""
    df = spark.read.parquet(table_path)
    mapping = load_mapping(table_path)
    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def write_with_mapping(df: DataFrame, table_path: str, mode: str = "append") -> None:
    """Write a LOGICALLY-named frame into the physically-named table:
    translate logical→physical so post-rename appends line up with
    pre-rename files. Logical columns without a physical twin (genuine
    new columns) keep their name — parquet schema evolution adds them
    under their logical (= new physical) name.

    Collision guard: an incoming column whose name equals a MAPPED
    physical name (``name in mapping`` with a different logical target)
    is rejected. Writing it through would land it under physical
    ``name``, and every subsequent read would alias that physical column
    to its mapped logical target — silently merging two distinct logical
    columns under one name. Delta's name-mode mapping forbids reusing a
    renamed-away name for the same reason."""
    mapping = load_mapping(table_path)
    collisions = sorted(
        c for c in df.columns if c in mapping and mapping[c] != c
    )
    if collisions:
        raise ValueError(
            f"column name(s) {collisions} are physical names already mapped to "
            f"logical name(s) {[mapping[c] for c in collisions]}; writing them "
            "would merge two logical columns under one name. Rename the "
            "incoming column, or materialize_mapping() first."
        )
    to_physical = {log: phys for phys, log in mapping.items()}
    out = df.select(
        *[F.col(c).alias(to_physical.get(c, c)) for c in df.columns]
    )
    out.write.mode(mode).parquet(table_path)


def materialize_mapping(spark: SparkSession, table_path: str) -> int:
    """Bake logical names into the files (a ``writers.rewrite_table``)
    and drop the sidecar — the escape hatch before handing the table to a
    reader or writer that does not speak the mapping. Returns
    renamed-column count; no-op without a sidecar."""
    mapping = load_mapping(table_path)
    if not mapping:
        return 0
    # the mapping sidecar lives in the replaced directory, so the swap
    # drops it
    rewrite_table(
        spark, table_path, "parquet",
        lambda base: base.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in base.columns]
        ).localCheckpoint(eager=True),
    )
    return len(mapping)
