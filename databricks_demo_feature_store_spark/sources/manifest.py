"""Manifest export: a pinned file-list snapshot of a parquet table.

The Delta ``GENERATE symlink_format_manifest`` twin: one text file under
``<table>/_manifest/`` lists the table's data files at generation time so
(a) an EXTERNAL engine (Presto/Trino/Athena/DuckDB — anything that reads
file lists) can consume a consistent snapshot without speaking this
store's sidecars, and (b) an internal reader can pin itself to the
manifest and stay isolated from files appended AFTER generation —
snapshot semantics on an append-only directory, no version store needed.

Parity notes mirrored from Delta's own limitation: a table with PENDING
deletion vectors refuses to generate (external engines read raw files
and would resurrect deleted rows — run ``apply_deletes`` first; Delta
documents the same restriction for symlink manifests on DV tables). A
table with a live column-mapping sidecar also refuses: the physical
column names in the files are not the logical schema (Delta again —
symlink manifests don't support column mapping); bake names in with
``materialize_mapping`` first.

The manifest write is atomic (``writers.atomic_open``), so concurrent
readers see the previous complete manifest or the new one, never a torn
list.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from databricks_demo_feature_store_spark.sources.writers import atomic_open

__all__ = ["write_manifest", "read_manifest", "manifest_file"]

MANIFEST_DIR = "_manifest"


def manifest_file(table_path: str) -> str:
    return os.path.join(
        table_path.removeprefix("file:"), MANIFEST_DIR, "files.txt"
    )


def write_manifest(spark: SparkSession, table_path: str) -> list[str]:
    """Snapshot the current data-file list. Returns the pinned paths."""
    from databricks_demo_feature_store_spark.sources.column_mapping import (
        mapping_path,
    )
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        dv_path,
    )
    from databricks_demo_feature_store_spark.sources.skipping import (
        _list_part_files,
    )

    root = table_path.removeprefix("file:")
    if os.path.isdir(dv_path(root)):
        raise ValueError(
            "table has pending deletion vectors — an external reader of the "
            "raw files would resurrect deleted rows; run apply_deletes "
            "before write_manifest (Delta imposes the same restriction on "
            "symlink manifests)"
        )
    if os.path.exists(mapping_path(root)):
        raise ValueError(
            "table has a live column mapping — the files' physical column "
            "names are not the logical schema; run materialize_mapping "
            "before write_manifest"
        )
    files = _list_part_files(root)
    with atomic_open(manifest_file(root)) as fh:
        fh.write("\n".join(files) + ("\n" if files else ""))
    return files


def read_manifest(spark: SparkSession, table_path: str) -> DataFrame:
    """Read EXACTLY the manifest's file set — files appended after
    generation are invisible (snapshot isolation); files that vanished
    since generation surface as a read error, never silent shrinkage."""
    p = manifest_file(table_path)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"no manifest at {p!r} — call write_manifest first"
        )
    with open(p) as fh:
        files = [line.strip() for line in fh if line.strip()]
    if not files:
        raise ValueError(f"manifest at {p!r} lists no files")
    return spark.read.option("basePath", table_path).parquet(*files)
