"""Feature-table writer + registry with schema evolution.

Parity targets in the reference (``notebooks/utils.py``):

- ``FeatureStoreManager._validate_schema`` — :1510-1599 (NEW_COLUMNS /
  MISSING_COLUMNS / DATA_TYPE_CHANGED via ``dataType.simpleString()``)
- ``save_in_datalake`` — :1601-1775 (overwriteSchema full overwrite;
  mergeSchema append; ADD COLUMNS + MERGE keyed on PKs restricted to the
  new columns; OPTIMIZE after save)
- ``_update_metadata`` / ``_get_metadata`` — :1490-1508 / :1440-1456
  (description, primary_keys, timestamp_keys, tags, source_tables persisted
  as table properties; we persist the same dict as a JSON sidecar because
  parquet has no TBLPROPERTIES — with Delta available it would be
  ``ALTER TABLE ... SET TBLPROPERTIES``)
- the interactive ``TimedInput`` missing-columns gate — :732-761,1991-2014
  — replaced by a non-interactive :class:`EvolutionPolicy`
  (``fail | evolve | overwrite``) per SURVEY §4.3.

Feature tables are deliberately **unpartitioned** (reference
:1656-1663 — time-series feature tables forbid partition columns so PIT
lookups scan a compact unfragmented table).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession

from databricks_demo_feature_store_spark.featurestore.training import StateCache
from databricks_demo_feature_store_spark.sources.writers import (
    METADATA_FILE,
    READ_SCHEMA_KEY,
    merge_upsert,
    pin_and_enforce,
    pinned_schema,
    read_sidecar,
    read_table,
    rewrite_table,
    stage_and_swap,
    table_generation,
)


#: ``save_many``'s saves in flight; 2-3 back-fill the cores one save's
#: write tail leaves idle
_SAVE_WORKERS = 3


class EvolutionPolicy(str, Enum):
    FAIL = "fail"
    EVOLVE = "evolve"
    OVERWRITE = "overwrite"


@dataclass(frozen=True)
class FeatureTableSpec:
    name: str
    primary_keys: tuple[str, ...]
    timestamp_keys: tuple[str, ...] = ()
    description: str = ""
    tags: dict = field(default_factory=dict)
    source_tables: tuple[str, ...] = ()
    # Hive-style layout columns. Feature tables default to unpartitioned
    # (reference time-series-table rule, :1656-1663); opt in for tables
    # whose read path is partition-prunable by construction (e.g. the
    # vector index's inverted lists keyed by cluster). Both the overwrite
    # and the merge write path honor it, so the layout survives upserts.
    partition_by: tuple[str, ...] = ()
    # Table-level CHECK constraints (SQL boolean expressions, the Delta
    # ``ADD CONSTRAINT CHECK`` twin at the feature-store tier): EVERY
    # save — overwrite and merge alike — validates the incoming frame in
    # one aggregation pass BEFORE any byte lands, and the registry
    # metadata records the contract so readers/auditors can see what the
    # table guarantees. NULL passes (SQL CHECK semantics).
    check_constraints: tuple[str, ...] = ()


@dataclass
class SchemaDiff:
    new_columns: list[str]
    missing_columns: list[str]
    type_changed: list[tuple[str, str, str]]  # (col, old, new)

    @property
    def unchanged(self) -> bool:
        return not (self.new_columns or self.missing_columns or self.type_changed)


def _registry(spec: FeatureTableSpec) -> dict:
    """The registry entry of ``spec`` — reference ``_update_metadata``
    (:1490-1508). Every save writes it into the staging directory it
    promotes, so the table and its registry change in one swap."""
    return {
        "name": spec.name,
        "description": spec.description,
        "primary_keys": list(spec.primary_keys),
        "timestamp_keys": list(spec.timestamp_keys),
        "tags": dict(spec.tags),
        "source_tables": list(spec.source_tables),
        "check_constraints": list(spec.check_constraints),
    }


class FeatureStoreManager:
    """Persist + register feature tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root
        self.fmt = fmt
        # create_training_set's as-of feature state per lookup group
        self._training_states = StateCache()

    def release_training_states(self) -> None:
        """Drop ``create_training_set``'s cached as-of feature states and
        unpersist their blocks: frames built on them raise afterwards, and
        each lookup group's next two builds read the feature tables again."""
        self._training_states.clear()

    # -- paths / registry ---------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        """True only when the table has READABLE data. A bare directory —
        registry metadata written before first data, or debris from a
        crashed/raced writer — is treated as absent, so a subsequent save
        recreates it instead of failing schema validation on an empty
        parquet footerless dir. Walks the tree because a hive-partitioned
        table (``FeatureTableSpec.partition_by``) keeps its data files in
        ``k=v`` subdirectories — a top-level-only probe would misread a
        populated partitioned table as absent and silently OVERWRITE it
        on the next merge."""
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for root, dirs, files in os.walk(p):
            if any(
                f.endswith((".parquet", ".orc")) or f == "_delta_log"
                or f.startswith("part-")
                for f in files + dirs
            ):
                return True
        return False

    def read(self, name: str) -> DataFrame:
        return self.read_registered(name)[0]

    def read_registered(self, name: str) -> tuple[DataFrame, dict]:
        """The table's live rows (``writers.read_table``: deletion
        vectors folded out) and its registry metadata from ONE sidecar
        load. The scan uses the schema the last rewrite pinned in the
        sidecar while the table's file listing still matches it, so
        planning it runs no footer-inference job; tables the pin does not
        describe (written outside a rewrite, partitioned, non-parquet)
        fall back to inference."""
        meta = self._sidecar(name)
        df = read_table(self.spark, self.path(name), self.fmt, meta)
        meta.pop(READ_SCHEMA_KEY, None)
        return df, meta

    def _sidecar(self, name: str) -> dict:
        return read_sidecar(self.path(name))

    def get_metadata(self, name: str) -> dict:
        """Registry read — reference ``_get_metadata`` (:1440-1456). The
        read-schema pin is storage detail and not part of the registry."""
        meta = self._sidecar(name)
        meta.pop(READ_SCHEMA_KEY, None)
        return meta

    def _is_writer_debris(self, name: str, siblings: set[str]) -> bool:
        """Precise writer-internal match (ADVICE r12: a bare endswith hid a
        legitimately-registered table named e.g. ``prices__old``): strip the
        writer suffix chain (``_swap_dirs`` can stack them, e.g.
        ``tbl__staging__old``) plus an optional random tail (every
        staging directory has one), and call it debris only when a
        suffix WAS stripped and either (a) the remaining
        base is an existing sibling table — the exact name every writer
        derives staging/old dirs from — or (b) the dir carries no registry
        metadata file, so it was never a registered table at all."""
        import re

        base, stripped = name, False
        while True:
            m = re.match(r"^(.+?)(?:__old|__staging)(?:-\w+)?$", base)
            if not m:
                break
            base, stripped = m.group(1), True
        if not stripped:
            return False
        if base in siblings:
            return True
        return not os.path.exists(os.path.join(self.root, name, METADATA_FILE))

    def list_tables(self) -> list[str]:
        if not os.path.exists(self.root):
            return []
        dirs = {
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        }
        return sorted(d for d in dirs if not self._is_writer_debris(d, dirs))

    # -- schema validation --------------------------------------------------
    def validate_schema(self, name: str, df: DataFrame) -> SchemaDiff:
        """Structural diff against the stored table — reference :1510-1599.
        While the sidecar's read-schema pin is current
        (``writers.pinned_schema``) the diff is taken against it and no
        DataFrame is built; otherwise against the table's read."""
        if not self.exists(name):
            return SchemaDiff([], [], [])
        existing = pinned_schema(self.path(name), self.fmt) or self.read(name).schema
        old = {f.name: f.dataType.simpleString() for f in existing.fields}
        new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        return SchemaDiff(
            new_columns=[c for c in new if c not in old],
            missing_columns=[c for c in old if c not in new],
            type_changed=[
                (c, old[c], new[c]) for c in new if c in old and old[c] != new[c]
            ],
        )

    # -- save ---------------------------------------------------------------
    def save(
        self,
        df: DataFrame,
        spec: FeatureTableSpec,
        mode: str = "merge",
        policy: EvolutionPolicy = EvolutionPolicy.EVOLVE,
    ) -> SchemaDiff:
        """Write a feature table with policy-driven schema evolution.

        ``mode="overwrite"`` replaces the table (reference overwriteSchema
        path :1707-1711): the frame is written to a staging directory
        together with its registry sidecar and promoted by directory
        rename, so a failed job leaves the old table and registry in
        place, and ``df`` may read the table it replaces. The write is
        sized like every rewrite (``writers.stage_and_swap``): one file per
        scan split of ``df``'s Catalyst estimate; a frame without one
        (e.g. ``createDataFrame`` over driver-side rows) keeps its own
        partitioning. ``mode="merge"``
        upserts on the PKs; new columns are added to matched rows and full
        rows inserted for new keys (reference ADD COLUMNS + MERGE
        :1727-1758); a merge at recent times rewrites only the table's hot
        tier (``writers.merge_upsert``). Both paths swap under the
        generation token taken before the schema diff, so another
        writer's commit after the diff fails the save with
        ``ConcurrentWriteError``. Type changes or missing columns under
        ``policy=fail`` raise; under ``evolve``/``overwrite``
        they force a full overwrite (the reference asks interactively —
        :1991-2014 — which a batch engine must not do).
        """
        path = self.path(spec.name)
        # taken before any read of the table, df's own and the constraint
        # check's included
        generation = table_generation(path)
        df = pin_and_enforce(df, spec.check_constraints)
        diff = self.validate_schema(spec.name, df)

        needs_overwrite = mode == "overwrite"
        if diff.missing_columns or diff.type_changed:
            if policy == EvolutionPolicy.FAIL:
                raise ValueError(
                    f"Schema evolution blocked by policy=fail: missing={diff.missing_columns} "
                    f"type_changed={diff.type_changed}"
                )
            needs_overwrite = True

        # Unpartitioned by default (reference :1656-1663); spec can opt
        # into a hive layout (see FeatureTableSpec.partition_by).
        partition_by = list(spec.partition_by) or None
        if needs_overwrite or not self.exists(spec.name):
            stage_and_swap(
                df, path, self.fmt, generation, partition_by, registry=_registry(spec)
            )
            return diff
        merge_upsert(
            df,
            path,
            list(spec.primary_keys),
            fmt=self.fmt,
            partition_by=partition_by,
            update_columns=diff.new_columns or None,
            registry=_registry(spec),
            _generation=generation,
        )
        return diff

    def save_many(
        self,
        items,
        mode: str = "merge",
        policy: EvolutionPolicy = EvolutionPolicy.EVOLVE,
    ) -> dict:
        """Save several INDEPENDENT feature tables with overlapped jobs
        (guide §2.6: Spark happily runs several jobs at once inside one
        application — actions are only sequential because driver code
        calls them sequentially). Each save's write tail leaves most of
        the cluster idle; submitting the next table's job from a small
        thread pool of ``_SAVE_WORKERS`` back-fills those cores.

        ``items`` is an iterable of ``(df, spec)`` pairs targeting
        DISTINCT tables (validated — two writers on one table would
        conflict, and one of them raise ``ConcurrentWriteError``). Per-table writes and registry
        sidecars are filesystem-independent, so concurrency cannot
        change any table's content; result is the same per-name
        :class:`SchemaDiff` map the sequential loop would produce.

        Failure semantics differ from a sequential loop: if one save
        raises, saves already IN FLIGHT on other threads run to
        completion (their tables and metadata land) before the exception
        propagates — callers must treat a raised ``save_many`` as
        partially applied, exactly like a crash mid-sequential-loop. The
        failed table itself keeps its previous rows and registry (every
        save is staged and promoted by rename), so retrying just the
        failed items is safe."""
        from concurrent.futures import ThreadPoolExecutor

        items = list(items)
        names = [spec.name for _, spec in items]
        if len(set(names)) != len(names):
            dupes = sorted({n for n in names if names.count(n) > 1})
            raise ValueError(f"save_many targets must be distinct tables: {dupes}")

        def _one(item):
            df, spec = item
            return spec.name, self.save(df, spec, mode=mode, policy=policy)

        if len(items) <= 1:
            return dict(map(_one, items))
        with ThreadPoolExecutor(max_workers=min(_SAVE_WORKERS, len(items))) as pool:
            return dict(pool.map(_one, items))


def store_lineage(manager: "FeatureStoreManager"):
    """Lineage edges of a feature store from its registry metadata: one
    row per ``(source_table, feature_table)`` dependency declared via
    ``FeatureTableSpec.source_tables``. Feed the result to
    ``operators.graph.transitive_closure`` for impact analysis ("which
    feature tables move if `orders` changes?"). Metadata-scale: one row
    per declared edge, no data scan."""
    rows = []
    for name in manager.list_tables():
        meta = manager.get_metadata(name)
        for src in meta.get("source_tables") or []:
            rows.append((src, name))
    schema = "src string, dst string"
    if not rows:
        return manager.spark.createDataFrame([], schema)
    return manager.spark.createDataFrame(rows, schema)


def store_doctor(manager: "FeatureStoreManager"):
    """Store-wide integrity audit, driven by the registry: one row per
    registered table — ``(table, n_rows, n_pk_violations, n_null_pk,
    max_ts)`` where ``n_pk_violations`` counts primary-key groups with
    MORE than one row (the uniqueness contract every PIT lookup and
    merge-upsert silently assumes — a violated PK makes as-of matches
    and upserts nondeterministic, which is exactly why it must be a
    monitored invariant, not an assumption), ``n_null_pk`` counts rows
    with any NULL key component, and ``max_ts`` is the freshness
    watermark (NULL when the table declares no timestamp key).

    Scale shape: per table ONE hash aggregation keyed by the PK
    (map-side combined; the violation count is a count over the
    aggregated group frame) — no window, no sort; results union into a
    table-count-sized frame.
    """
    from pyspark.sql import functions as F

    out = None
    for name in manager.list_tables():
        df, meta = manager.read_registered(name)
        pks = meta.get("primary_keys") or []
        ts_keys = meta.get("timestamp_keys") or []
        if not pks:
            continue
        null_pk = None
        for k in pks:
            cond = F.col(k).isNull()
            null_pk = cond if null_pk is None else (null_pk | cond)
        groups = df.groupBy(*pks).agg(F.count(F.lit(1)).alias("__n"))
        gstats = groups.agg(
            F.sum("__n").alias("__rows"),
            F.sum((F.col("__n") > 1).cast("long")).alias("__viol"),
        )
        extras = df.agg(
            F.sum(null_pk.cast("long")).alias("__nullpk"),
            (
                F.max(F.col(ts_keys[0]).cast("timestamp"))
                if ts_keys
                else F.lit(None).cast("timestamp")
            ).alias("__maxts"),
        )
        row = gstats.crossJoin(extras).select(
            F.lit(name).alias("table"),
            F.col("__rows").cast("long").alias("n_rows"),
            F.col("__viol").cast("long").alias("n_pk_violations"),
            F.col("__nullpk").cast("long").alias("n_null_pk"),
            F.col("__maxts").alias("max_ts"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        return manager.spark.createDataFrame(
            [], "table string, n_rows long, n_pk_violations long, "
                "n_null_pk long, max_ts timestamp"
        )
    return out


def forget_entities(
    manager: "FeatureStoreManager",
    keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Right-to-be-forgotten propagation: delete every row whose
    ``key_col`` appears in ``keys`` from EVERY registered feature table
    that carries that column among its primary keys, and return a
    deletion audit (one row per affected table).

    Shape per table: ONE broadcast left-anti join (the forget set is
    small by nature — a deletion request batch, never corpus-sized) in a
    ``rewrite_table``, so a crash never leaves a half-deleted live table,
    a concurrent reader sees either the old or the new version, rows a
    deletion vector already removed stay removed, and the registry
    promotes with the data. Tables whose primary keys don't include
    ``key_col`` are reported untouched rather than silently skipped, so
    the audit is the compliance record: every table accounted for.

    At real scale the rewrite cost is the known parquet trade (Delta
    would use deletion vectors / MERGE DELETE); the anti-join shape —
    broadcast the forget keys, never shuffle the table — is the part
    that must and does survive 100×.
    """
    from pyspark.sql import functions as F

    forget = keys.select(F.col(key_col)).distinct()
    n_forget = forget.count()
    rows = []
    for name in manager.list_tables():
        df, meta = manager.read_registered(name)
        pks = meta.get("primary_keys", [])
        if key_col not in pks or key_col not in df.columns:
            rows.append((name, False, df.count(), 0))
            continue
        before = df.count()
        rewrite_table(
            manager.spark, manager.path(name), manager.fmt,
            lambda cur: cur.join(F.broadcast(forget), on=key_col, how="left_anti"),
        )
        after = manager.read(name).count()
        rows.append((name, True, after, before - after))
    out = manager.spark.createDataFrame(
        rows, "table string, key_matched boolean, rows_after long, rows_deleted long"
    )
    return out.withColumn("n_forget_keys", F.lit(n_forget).cast("long"))
