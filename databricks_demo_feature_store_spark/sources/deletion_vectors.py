"""Deletion vectors: row-level deletes WITHOUT rewriting data files.

The Delta deletion-vector twin (reference storage core: Delta MERGE /
DELETE rewrite files or attach DVs — ``storage_operations.py:183-222``):
a delete records the (file, row_index) coordinates of matching rows in a
hidden sidecar under the table directory; every DV-aware read folds them
out with one anti-join. The data files never change, so a delete of k
rows costs O(matching scan) + O(k) sidecar bytes instead of rewriting
the files that contain them — THE at-scale win when deletes are sparse
(GDPR erasure, late-arriving corrections) and files are large.

Positions are stable because parquet files are immutable:
``_metadata.row_index`` is the row's ordinal within its file, fixed at
write time. A rewrite invalidates coordinates, so every table rewrite
(``writers.rewrite_table``) reads through ``writers.read_table``, which
folds the deletes out, and promotes new files without the sidecar;
:func:`apply_deletes` (the Delta ``REORG TABLE ... APPLY (PURGE)`` twin)
is that rewrite with nothing else to change.

Scale shape: the DV sidecar is tiny by construction (deleted coordinates
only); the read path broadcasts it into a left-anti join against the
scan, and multiple delete waves ACCUMULATE by appending (parquet append
of immutable delta files — no read-modify-write race window).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["delete_rows", "read_with_deletes", "apply_deletes", "dv_path"]

DV_DIR = "_dv"  # underscore prefix: invisible to plain parquet scans


def dv_path(table_path: str) -> str:
    return os.path.join(table_path, DV_DIR, "data")


def _norm_path(col):
    """file:-URI → plain path, matching os.walk-style listings."""
    return F.regexp_replace(col, "^file:/+", "/")


def delete_rows(spark: SparkSession, table_path: str, predicate: str) -> int:
    """Record every row matching ``predicate`` as deleted — data files
    untouched. Returns the number of NEWLY deleted coordinates (rows
    already covered by an earlier delete don't double-count). Repeating
    a delete is a no-op: coordinates are a set."""
    base = spark.read.parquet(table_path).select(
        _norm_path(F.col("_metadata.file_path")).alias("__file"),
        F.col("_metadata.row_index").alias("__row"),
        "*",
    )
    hits = base.filter(predicate).select("__file", "__row")
    out = dv_path(table_path)
    if os.path.isdir(out):
        existing = spark.read.parquet(out)
        hits = hits.join(existing, on=["__file", "__row"], how="left_anti")
    # localCheckpoint: the append below writes INTO the directory the
    # anti-join's plan reads — materialize first
    hits = hits.localCheckpoint(eager=True)
    n_new = hits.count()
    if n_new:
        hits.write.mode("append").parquet(out)
    return n_new


# Above this many sidecar bytes the DV fold stops forcing a broadcast:
# a GDPR-sized delete set is tiny, but nothing architecturally bounds the
# sidecar (a huge predicate delete before apply_deletes), and a forced
# broadcast of an unbounded side is exactly the shape that OOMs the
# driver at 100 TB. Past the cap the anti-join degrades gracefully to a
# shuffle join (AQE still picks broadcast if runtime stats allow).
DV_BROADCAST_MAX_BYTES = 128 << 20


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, n))
    return total


def read_with_deletes(spark: SparkSession, table_path: str) -> DataFrame:
    """DV-aware scan: the base table minus all recorded coordinates —
    ONE anti-join on (file, row_index); no sidecar ⇒ plain scan. Delete
    waves accumulate, so the sidecar may hold duplicate coordinates only
    across concurrent writers — the anti-join is insensitive to
    duplicates by construction.

    The anti-join is broadcast while the sidecar is broadcast-sized
    (checked driver-side from file sizes, O(files)); a sidecar past
    ``DV_BROADCAST_MAX_BYTES`` falls back to a shuffle anti-join instead
    of force-broadcasting an unbounded side (round-13 scaling row: the
    sidecar grows with the deleted-row count, which nothing bounds
    before ``apply_deletes``)."""
    base = spark.read.parquet(table_path)
    out = dv_path(table_path)
    if not os.path.isdir(out):
        return base
    dv = spark.read.parquet(out)
    if _dir_bytes(out) <= DV_BROADCAST_MAX_BYTES:
        dv = F.broadcast(dv)
    cols = base.columns
    return (
        base.select(
            _norm_path(F.col("_metadata.file_path")).alias("__file"),
            F.col("_metadata.row_index").alias("__row"),
            "*",
        )
        .join(dv, on=["__file", "__row"], how="left_anti")
        .select(*cols)
    )


def apply_deletes(spark: SparkSession, table_path: str) -> int:
    """Materialize the deletion vectors: rewrite the table without the
    deleted rows, which drops the sidecar (Delta ``REORG ... APPLY
    (PURGE)``). Returns rows physically removed."""
    from databricks_demo_feature_store_spark.sources.writers import rewrite_table

    out = dv_path(table_path)
    if not os.path.isdir(out):
        return 0
    # concurrent delete waves may append duplicate coordinates; the
    # physical count is over DISTINCT (file, row) pairs
    dv_count = spark.read.parquet(out).distinct().count()
    if not dv_count:
        return 0
    rewrite_table(
        spark, table_path, "parquet", lambda live: live.localCheckpoint(eager=True)
    )
    return dv_count
