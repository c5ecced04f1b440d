"""Layered lakehouse catalog: ``source → ingestion → preprocessing → feature``.

Parity target: ``get_table`` / layer resolution in the reference's
``src/packages/storage/storage_operations.py:19-57`` — a dataset name +
layer resolves to either a metastore table or a path in a layer directory.
Our catalog is a plain dict of layer roots; formats are parquet by default
with Delta used automatically when ``delta-spark`` is importable.

Named-catalog surface (reference ``notebooks/utils.py:1896-1969``): when a
``database`` is set, datasets can be registered as EXTERNAL session-catalog
tables over their layer paths (``CREATE DATABASE IF NOT EXISTS`` +
``CREATE TABLE ... USING fmt LOCATION path``) and read back with
``spark.read.table("db.name")`` — the `demo_db.*` access pattern. External
tables keep the path as the source of truth: dropping the table never
deletes data, and re-registering is idempotent.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    """SQL-identifier guard: these names are interpolated into DDL, so only
    plain identifiers are allowed (no backticks to smuggle expressions)."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid catalog identifier: {name!r}")
    return name


def _check_path(path: str) -> str:
    """DDL-literal guard: paths are interpolated into single-quoted SQL
    literals, so quotes and backslashes are rejected rather than escaped
    (no legitimate layer root contains them)."""
    if "'" in path or "\\" in path:
        raise ValueError(f"catalog path may not contain quotes or backslashes: {path!r}")
    return path


def _norm_location(loc: str) -> str:
    """Normalize a storage location for comparison (scheme-stripped local
    paths; trailing-slash-insensitive)."""
    for prefix in ("file://", "file:"):
        if loc.startswith(prefix):
            loc = loc[len(prefix):]
            break
    return os.path.abspath(loc.rstrip("/"))


def table_location(spark: SparkSession, qualified: str) -> str | None:
    """The registered location of a catalog table, or ``None`` for
    location-less relations (temp views)."""
    try:
        rows = spark.sql(f"DESCRIBE FORMATTED {qualified}").collect()
    except Exception:
        return None
    for r in rows:
        if (r.col_name or "").strip() == "Location":
            return (r.data_type or "").strip() or None
    return None

try:  # Delta is optional — not present in the v1 image.
    from delta.tables import DeltaTable  # noqa: F401

    HAS_DELTA = True
except Exception:  # pragma: no cover
    HAS_DELTA = False

LAYERS = ("source", "ingestion", "preprocessing", "feature")
DEFAULT_FORMAT = "delta" if HAS_DELTA else "parquet"


@dataclass
class Catalog:
    """Resolves (dataset, layer) → storage path and reads/writes through it.

    ``database=None`` keeps the catalog purely path-based; setting it
    enables the named-table surface (``register_table`` / ``drop_table`` /
    qualified reads) backed by the Spark session catalog.
    """

    root: str
    layer_roots: dict[str, str] = field(default_factory=dict)
    database: str | None = None

    def path(self, name: str, layer: str = "source") -> str:
        if layer not in LAYERS:
            raise ValueError(f"Unknown layer {layer!r}; expected one of {LAYERS}")
        base = self.layer_roots.get(layer, os.path.join(self.root, layer))
        return os.path.join(base, name)

    def qualified(self, name: str) -> str:
        """``db.name`` when a database is configured, else bare ``name``."""
        _check_ident(name)
        if self.database is None:
            return name
        return f"{_check_ident(self.database)}.{name}"

    def ensure_database(self, spark: SparkSession) -> None:
        """``CREATE DATABASE IF NOT EXISTS`` (reference
        ``notebooks/utils.py:1896``). The database location is pinned under
        the catalog root so nothing lands in the session's default
        ``spark-warehouse`` (the driver may run from any cwd)."""
        if self.database is None:
            raise ValueError("Catalog has no database configured")
        db = _check_ident(self.database)
        loc = _check_path(os.path.join(self.root, f"_{db}.db"))
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")

    def register_table(
        self,
        spark: SparkSession,
        name: str,
        layer: str = "source",
        fmt: str | None = None,
        partitioned: bool = False,
    ) -> str:
        """Register the dataset's layer path as an EXTERNAL named table
        (reference ``CREATE TABLE ... USING DELTA LOCATION`` at
        ``notebooks/utils.py:1906-1911``) and return the qualified name.

        Idempotent per (name, layer): re-registering the same binding is a
        no-op, but if the name is already bound to a DIFFERENT location
        (e.g. the same dataset registered earlier from another layer) the
        stale entry is dropped and re-created — a catalog hit never
        silently serves another layer's data.

        ``partitioned=True`` recovers partition metadata after
        (re-)registration — metastore-backed datasource tables track
        partitions in the catalog, so partitions written directly to the
        path after registration need ``MSCK REPAIR`` to become visible.
        """
        if self.database is not None:
            self.ensure_database(spark)
        q = self.qualified(name)
        fmt = fmt or DEFAULT_FORMAT
        want = _check_path(self.path(name, layer))
        if spark.catalog.tableExists(q):
            have = table_location(spark, q)
            if have is not None and _norm_location(have) != _norm_location(want):
                spark.sql(f"DROP TABLE IF EXISTS {q}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {q} USING {_check_ident(fmt)} "
            f"LOCATION '{want}'"
        )
        if partitioned:
            spark.sql(f"MSCK REPAIR TABLE {q}")
        else:
            spark.catalog.refreshTable(q)
        return q

    def drop_table(self, spark: SparkSession, name: str) -> None:
        """``DROP TABLE IF EXISTS`` (reference ``notebooks/utils.py:1897``).
        External table: catalog entry only, data at the path survives."""
        spark.sql(f"DROP TABLE IF EXISTS {self.qualified(name)}")

    def table_exists(self, spark: SparkSession, name: str) -> bool:
        return spark.catalog.tableExists(self.qualified(name))

    def get_table(
        self,
        spark: SparkSession,
        name: str,
        layer: str = "source",
        fmt: str | None = None,
    ) -> DataFrame:
        """Layered read (reference ``storage_operations.py:19-57``).

        Catalog tables are tried first — the qualified ``db.name`` when a
        database is configured, then the bare session-catalog name — and
        the layer path with the given format is the fallback. A catalog hit
        whose registered location points at a DIFFERENT layer's path than
        the one requested is skipped (the path read wins), so a stale
        registration can't silently serve another layer's data;
        location-less relations (temp views) always win.
        """
        want = _norm_location(self.path(name, layer))
        for candidate in ([self.qualified(name)] if self.database is not None else []) + [name]:
            if spark.catalog.tableExists(candidate):
                have = table_location(spark, candidate)
                if have is None or _norm_location(have) == want:
                    return spark.read.table(candidate)
        fmt = fmt or DEFAULT_FORMAT
        return spark.read.format(fmt).load(self.path(name, layer))

    def exists(self, spark: SparkSession, name: str, layer: str = "source") -> bool:
        """Existence probe (reference uses ``dbutils.fs.ls`` /
        ``DeltaTable.isDeltaTable`` — ``storage_operations.py:59-73``)."""
        if self.database is not None and spark.catalog.tableExists(self.qualified(name)):
            return True
        if spark.catalog.tableExists(name):
            return True
        path = self.path(name, layer)
        # local filesystem check; on cloud storage this becomes a FileSystem call
        return os.path.exists(path)
