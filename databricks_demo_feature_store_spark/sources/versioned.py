"""Versioned tables: Delta-style time travel on plain parquet.

Parity target: the reference's validators read the PREVIOUS version of a
table with Delta time travel (``SELECT ... VERSION AS OF n`` picked from
``DeltaTable.history()`` — ``src/packages/data_validation/monitor.py:57-71``)
to cross-check month counts between loads. Delta isn't on this image's
classpath, so this module reproduces the minimal contract on parquet:
every save writes an immutable ``v=N`` directory plus a JSON manifest
(version, timestamp, operation, row count); reads resolve a version (or a
timestamp) through the manifest. With delta-spark installed the same API
maps 1:1 onto Delta's log.

Scale notes: version directories are immutable — a read never races a
write; old versions are pruned with ``vacuum(keep_last=N)`` exactly like
Delta VACUUM. Data files are parquet with the caller's partitioning, so
partition pruning still applies within a version.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from databricks_demo_feature_store_spark.sources.writers import atomic_open, link_or_copy

MANIFEST = "_versions.json"
COMMITS_DIR = "_commits"


def _link_tree(src: str, dst: str) -> int:
    """Mirror ``src`` into ``dst`` with hardlinks (copy on EXDEV) —
    zero-data-copy promotion of an immutable version directory. Returns
    the number of data files linked. Hardlinks are safe here precisely
    because version directories are immutable: nothing ever writes
    through either name."""
    n = 0
    for root, _dirs, names in os.walk(src):
        rel = os.path.relpath(root, src)
        out_dir = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            s = os.path.join(root, name)
            d = os.path.join(out_dir, name)
            link_or_copy(s, d)
            if not name.startswith(("_", ".")):
                n += 1
    return n


def _parse_utc(ts: str) -> _dt.datetime:
    """ISO-8601 → aware UTC datetime; naive inputs are assumed UTC."""
    parsed = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if parsed.tzinfo is None:
        return parsed.replace(tzinfo=_dt.timezone.utc)
    return parsed.astimezone(_dt.timezone.utc)


@dataclass(frozen=True)
class VersionInfo:
    version: int
    timestamp: str  # ISO-8601
    operation: str
    num_rows: int | None = None


class VersionedTable:
    """An append-only sequence of immutable table versions."""

    def __init__(self, spark: SparkSession, path: str, fmt: str = "parquet"):
        self.spark = spark
        self.path = path
        self.fmt = fmt

    # -- manifest -----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def history(self) -> list[VersionInfo]:
        """Newest-first version log (Delta ``history()`` contract)."""
        if not os.path.exists(self._manifest_path()):
            return []
        with open(self._manifest_path()) as fh:
            raw = json.load(fh)
        infos = [VersionInfo(**v) for v in raw]
        return sorted(infos, key=lambda v: v.version, reverse=True)

    def latest_version(self) -> int | None:
        h = self.history()
        return h[0].version if h else None

    def _write_manifest(self, infos: list[VersionInfo]) -> None:
        """Replace ``_versions.json`` with ``infos`` (oldest first)
        atomically: a failed write leaves the previous history."""
        with atomic_open(self._manifest_path()) as fh:
            json.dump([vars(v) for v in infos], fh, indent=2)

    def _write_commit_marker(self, info: VersionInfo) -> None:
        """One tiny JSON per commit under ``_commits/`` — the streamable
        commit log (the Delta ``_delta_log`` twin at marker granularity).
        A Structured Streaming file source over this directory turns
        version commits into a micro-batch trigger
        (``streaming/ops.py`` ``stream_cdf_ivm``). Written through
        ``atomic_open``, whose tmp name is invisible to Hadoop file
        listings, so a reader can never observe a half-written marker."""
        path = os.path.join(self.commits_path(), f"commit-{info.version}.json")
        with atomic_open(path) as fh:
            json.dump(
                {
                    "version": info.version,
                    "timestamp": info.timestamp,
                    "operation": info.operation,
                },
                fh,
            )

    def commits_path(self) -> str:
        return os.path.join(self.path, COMMITS_DIR)

    # -- write --------------------------------------------------------------
    def save(
        self,
        df: DataFrame,
        operation: str = "WRITE",
        partition_by: Sequence[str] | None = None,
        count_rows: bool = False,
    ) -> VersionInfo:
        """Write the next version. ``count_rows=True`` opts into a
        read-back ``count()`` for the manifest's ``num_rows`` — off by
        default: it is a second full scan of what was just written, wanted
        for audited validation tables, wrong as a general write tax."""
        latest = self.latest_version()
        version = 0 if latest is None else latest + 1
        vdir = os.path.join(self.path, f"v={version}")
        writer = df.write.format(self.fmt).mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.save(vdir)
        info = VersionInfo(
            version=version,
            timestamp=_dt.datetime.now(_dt.timezone.utc).isoformat(),
            operation=operation,
            num_rows=(
                self.spark.read.format(self.fmt).load(vdir).count()
                if count_rows
                else None
            ),
        )
        self._write_manifest([*reversed(self.history()), info])
        self._write_commit_marker(info)
        return info

    # -- read ---------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Read a version (default: latest) — ``VERSION AS OF`` semantics."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"No versions at {self.path}")
        if not any(v.version == version for v in self.history()):
            raise ValueError(f"Version {version} not found at {self.path}")
        return self.spark.read.format(self.fmt).load(
            os.path.join(self.path, f"v={version}")
        )

    def read_all_versions(self, merge_schema: bool = True) -> DataFrame:
        """Union every version's rows with a ``_version`` column — the
        cross-version audit read (Delta's ``mergeSchema`` history scan).

        With ``merge_schema=True`` the union is by NAME with missing
        columns null-filled (``unionByName(allowMissingColumns=True)``),
        so a table whose schema evolved across versions — the exact
        situation the manager's policy evolution produces
        (``featurestore/manager.py``) — reads as one frame under the
        newest schema. With ``merge_schema=False`` a schema drift raises,
        the strict-audit mode.

        Scale shape: one scan per version stitched with zero-cost unions;
        no shuffle is introduced — downstream filters on ``_version``
        prune whole version directories at the scan.
        """
        versions = sorted(v.version for v in self.history())
        if not versions:
            raise FileNotFoundError(f"No versions at {self.path}")
        out: DataFrame | None = None
        for ver in versions:
            cur = self.read(ver).withColumn("_version", F.lit(ver))
            if out is None:
                out = cur
            elif merge_schema:
                out = out.unionByName(cur, allowMissingColumns=True)
            else:
                if set(out.columns) != set(cur.columns):
                    raise ValueError(
                        f"schema drift at version {ver}: "
                        f"{sorted(set(out.columns) ^ set(cur.columns))} "
                        "(read_all_versions(merge_schema=True) to null-fill)"
                    )
                out = out.unionByName(cur)
        return out

    def read_before(self, timestamp: str) -> DataFrame:
        """Latest version strictly before an ISO timestamp — the
        reference's pick of 'the version before the current month'
        (``monitor.py:61-64``).

        Timestamps are parsed (not string-compared) and normalized to UTC;
        a naive argument is taken as UTC, matching the manifest's stamps.
        """
        cutoff = _parse_utc(timestamp)
        older = [v for v in self.history() if _parse_utc(v.timestamp) < cutoff]
        if not older:
            raise ValueError(f"No version before {timestamp} at {self.path}")
        return self.read(older[0].version)

    def changes_between(
        self, v_from: int, v_to: int, keys: Sequence[str]
    ) -> DataFrame:
        """Row-level change feed between two versions — the Delta Change
        Data Feed (``table_changes``) twin. Delta materializes the feed at
        write time; on immutable parquet versions the diff is computed on
        read, exactly once per consumer, with no extra storage:

        * ``insert`` — key present only in ``v_to`` (post-image row)
        * ``delete`` — key present only in ``v_from`` (pre-image row)
        * ``update_preimage`` / ``update_postimage`` — key in both with
          any non-key column changed (null-safe struct compare)

        plus ``_change_type`` and ``_commit_version`` columns, matching
        Delta's CDF schema. Unchanged keys drop out. The compared (and
        emitted) payload is the SHARED non-key column set of the two
        versions — a column added or dropped between versions is a
        schema change, not row change data.

        Shape: ONE full-outer shuffle join on the keys; the non-key
        payloads ride as single structs so the change test is one
        null-safe struct comparison per row (codegen), not a column-wise
        expression explosion. At 100 TB this is the standard
        snapshot-diff; the streaming path for continuous consumption is
        ``streaming/ops.py``'s CDC apply.
        """
        from pyspark.sql import functions as F

        keys = list(keys)
        old = self.read(v_from)
        new = self.read(v_to)
        shared = [c for c in new.columns if c not in keys and c in old.columns]
        # keys-only tables still get insert/delete semantics: the payload
        # degenerates to a constant (never NULL on a present row, so the
        # full-outer null test still detects the missing side)
        payload = F.struct(*shared) if shared else F.lit(0)
        o = old.select(*keys, payload.alias("__o"))
        n = new.select(*keys, payload.alias("__n"))
        j = o.join(n, on=keys, how="full_outer")
        typed = j.select(
            *keys,
            "__o",
            "__n",
            F.when(F.col("__o").isNull(), F.array(F.lit("insert")))
            .when(F.col("__n").isNull(), F.array(F.lit("delete")))
            .when(
                ~F.col("__o").eqNullSafe(F.col("__n")),
                F.array(F.lit("update_preimage"), F.lit("update_postimage")),
            )
            .alias("__types"),
        ).where(F.col("__types").isNotNull())
        exploded = typed.select(
            *keys, "__o", "__n", F.explode("__types").alias("_change_type")
        )
        use_new = F.col("_change_type").isin("insert", "update_postimage")
        return exploded.select(
            *keys,
            *[
                F.when(use_new, F.col(f"__n.{c}"))
                .otherwise(F.col(f"__o.{c}"))
                .alias(c)
                for c in shared
            ],
            "_change_type",
            F.lit(int(v_to)).cast("long").alias("_commit_version"),
        )

    # -- recovery / cloning --------------------------------------------------
    def restore(self, version: int) -> VersionInfo:
        """RESTORE the table to ``version`` by promoting its pinned file
        set to a NEW head version — the Delta ``RESTORE TABLE ... VERSION
        AS OF`` twin (the recovery op after a bad write; the reference's
        own recovery story is Delta time travel,
        ``src/packages/data_validation/monitor.py:57-71``).

        History is PRESERVED: restore appends a version, it never erases
        one — the bad write stays inspectable, and a restore can itself
        be restored away. Zero data rewrite: version directories are
        immutable, so the new head is built from hardlinks to the
        restored version's files (O(files) metadata, no bytes copied —
        the parquet-emulation equivalent of Delta's RESTORE commit that
        just re-references old file paths in the log; copy-fallback for
        cross-device links). Post-restore appends diverge normally.
        """
        history = self.history()
        if not any(v.version == version for v in history):
            raise ValueError(f"Version {version} not found at {self.path}")
        new_version = history[0].version + 1
        src = os.path.join(self.path, f"v={version}")
        dst = os.path.join(self.path, f"v={new_version}")
        n_linked = _link_tree(src, dst)
        restored = next(v for v in history if v.version == version)
        info = VersionInfo(
            version=new_version,
            timestamp=_dt.datetime.now(_dt.timezone.utc).isoformat(),
            operation=f"RESTORE(v{version})",
            num_rows=restored.num_rows,
        )
        self._write_manifest([*reversed(history), info])
        self._write_commit_marker(info)
        assert n_linked > 0 or restored.num_rows in (0, None)
        return info

    def clone(self, target_path: str) -> "VersionedTable":
        """Shallow clone: a NEW versioned table at ``target_path`` whose
        v=0 is the source's latest version — the Delta ``CREATE TABLE ...
        SHALLOW CLONE`` twin (cheap dev/test copies).

        Zero data-file copies: the clone's v=0 is hardlinks to the
        source's files (metadata-only, O(files) — the emulation of
        Delta's clone commit that points at the source's data files;
        hardlinks additionally keep the files alive if the source
        vacuums, which Delta shallow clones do NOT survive). The clone
        has its OWN manifest starting at v=0, so post-clone writes to
        either table never affect the other.
        """
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"No versions to clone at {self.path}")
        if os.path.exists(os.path.join(target_path, MANIFEST)):
            raise FileExistsError(f"Target {target_path} is already a table")
        src_info = self.history()[0]
        src = os.path.join(self.path, f"v={latest}")
        dst = os.path.join(target_path, "v=0")
        _link_tree(src, dst)
        info = VersionInfo(
            version=0,
            timestamp=_dt.datetime.now(_dt.timezone.utc).isoformat(),
            operation=f"CLONE({self.path}@v{latest})",
            num_rows=src_info.num_rows,
        )
        out = VersionedTable(self.spark, target_path, fmt=self.fmt)
        out._write_manifest([info])
        out._write_commit_marker(info)
        return out

    # -- maintenance --------------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (Delta VACUUM)."""
        history = self.history()
        keep = {v.version for v in history[:keep_last]}
        dropped = []
        for v in history[keep_last:]:
            shutil.rmtree(os.path.join(self.path, f"v={v.version}"), ignore_errors=True)
            try:
                os.remove(
                    os.path.join(self.commits_path(), f"commit-{v.version}.json")
                )
            except FileNotFoundError:
                pass
            dropped.append(v.version)
        self._write_manifest([v for v in reversed(history) if v.version in keep])
        return dropped


def cross_check_previous_version(
    table: VersionedTable, date_column: str, threshold_pct: float = 5.0
) -> DataFrame:
    """The reference's CROSS_CHECKING against the previous load
    (``monitor.py:328-436`` with time travel :57-71): month counts of the
    latest version vs the version before it."""
    from databricks_demo_feature_store_spark.validation.monitor import cross_check

    latest = table.latest_version()
    if latest is None or latest == 0:
        raise ValueError("cross_check_previous_version needs >= 2 versions")
    current = table.read(latest)
    previous = table.read(latest - 1)
    return cross_check(current, previous, date_column, date_column, threshold_pct)
