"""File-level min/max data skipping over parquet tables — the Delta-style
scan-pruning layer for the engine's parquet lakehouse tier (companion to
``sources/versioned.py``'s time travel and ``sources/writers.py``'s MERGE).

The reference stack gets this from Delta's per-file statistics
(``add.stats`` in the transaction log); plain parquet directories have the
SAME information in every file's footer, just not collected. This module
harvests it once — a distributed FOOTER-ONLY pass (pyarrow over
``mapInPandas``; no data pages are read) — and uses it to prune the file
list before a scan.

Why this matters at 100 TB: Spark's own parquet reader already does
row-group skipping per file, but it still has to OPEN every file (footer
round-trip per file per query). A persisted stats table turns a
100k-file range query into "read the 200 files whose [min,max] overlap",
decided from one tiny table — the difference between 100k S3 HEAD+footer
requests and 200. Partition-directory values (``k=v`` path segments) are
harvested into the same stats rows, so hive-partition pruning and
min/max skipping go through one mechanism.

Scale notes:
- The harvest is one mapInPandas over the FILE LIST (one row per file),
  embarrassingly parallel, footer-only. Re-harvest is incremental by
  nature: stats rows key on file_path, and immutable files never change
  (MERGE-maintain the stats table with the same writers used elsewhere).
- Pruning evaluates the predicate against the stats DataFrame with plain
  column expressions and collects only the SURVIVING file paths — the
  driver materializes exactly the list every file-source planner
  materializes anyway, never the stats themselves.
- Correctness: skipping is an OPTIMIZATION only. Files lacking a stat
  for the predicate column are KEPT, stats-missing columns disable
  pruning for their conjunct, and the FULL predicate is re-applied as a
  residual filter after the read — so a harvest bug can cost speed,
  never rows, except for a file missing entirely from the stats table
  (guarded: ``read_with_skipping`` refuses stats tables that don't
  cover the directory's current file set).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "harvest_file_stats",
    "prune_files",
    "read_with_skipping",
    "SkippingReport",
    "write_stats_sidecar",
    "load_file_stats",
    "stats_sidecar_path",
    "write_bloom_sidecar",
    "load_bloom_stats",
    "bloom_sidecar_path",
]

# stats long-form schema: one row per (file, column). Numeric-ish columns
# (ints, floats, decimals, dates, timestamps) land in min_num/max_num as
# doubles (timestamps as epoch seconds); strings land in min_str/max_str.
STATS_SCHEMA = (
    "file_path string, column string, min_num double, max_num double, "
    "min_str string, max_str string, null_count long, n_rows long, "
    "has_stats boolean"
)


def _list_part_files(table_path: str) -> list[str]:
    """Recursive listing of data files under a parquet table directory —
    the same listing any file-source planner performs. Metadata
    directories (``_stats``, ``_delta_log``-style underscore/dot names)
    are pruned exactly like Spark's reader prunes them."""
    if os.path.isfile(table_path):
        return [table_path]
    out: list[str] = []
    for root, dirs, names in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                out.append(os.path.join(root, name))
    return sorted(out)


#: footers one harvest slice reads (see :func:`_files_df`)
_HARVEST_FILES_PER_SLICE = 8


def _files_df(spark: SparkSession, files: Sequence[str]) -> DataFrame:
    """File-list frame with a slice count derived from the LIST size, not
    the core count: a handful of footers spread over defaultParallelism
    slices pays one Python-worker round trip per slice for near-empty
    batches (measured: a warm 32-slice mapInPandas job costs ~0.74 s vs
    ~0.36 s at 8 slices for the same 20-row list). A floor of a few
    slices keeps cold-start worker imports concurrent — coalescing to 1
    slice serializes every footer read through one worker and loses 2×
    (the round-14 item-9 measured negative). Large lists keep
    defaultParallelism slices, so cluster-scale harvests are unchanged."""
    n = len(files)
    if n == 0:
        # parallelize(..., 0) raises; an empty list can reach here when a
        # table's data files have all vanished while its sidecar remains
        return spark.createDataFrame([], "file_path string")
    slices = max(
        min(n, 4),
        min(
            spark.sparkContext.defaultParallelism,
            -(-n // _HARVEST_FILES_PER_SLICE),
        ),
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(f,) for f in files], slices),
        "file_path string",
    )


def harvest_file_stats(
    spark: SparkSession,
    table_path: str,
    columns: Sequence[str] | None = None,
    files: Sequence[str] | None = None,
) -> DataFrame:
    """Distributed footer-only stats harvest: one output row per
    (file, column) with min/max/null_count, plus hive-partition values
    parsed from the path. ``columns=None`` harvests every leaf column
    that has footer statistics. ``files`` restricts the harvest to an
    explicit subset (the incremental-refresh path: parquet files are
    immutable, so only NEW files ever need harvesting)."""
    files = list(files) if files is not None else _list_part_files(table_path)
    if not files:
        raise ValueError(f"no parquet data files under {table_path!r}")
    wanted = set(columns) if columns is not None else None
    files_df = _files_df(spark, files)
    root = table_path

    # Nested closure (repo convention, see textops/multimodal.py): cloudpickle
    # ships it BY VALUE, so Python workers need not have this package
    # importable. Anything it calls must be local too — a reference to a
    # module-level helper would be pickled by module path and break on
    # workers without the package on PYTHONPATH.
    def _footers(batches: Iterator) -> Iterator:
        import datetime as _dt
        import decimal as _dec
        import os as _os

        import pandas as pd
        import pyarrow.parquet as pq

        def _part_values(table_root: str, file_path: str) -> dict[str, str]:
            rel = _os.path.relpath(_os.path.dirname(file_path), table_root)
            vals: dict[str, str] = {}
            for seg in rel.split(_os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    vals[k] = v
            return vals

        def _norm(v):
            """(min_num, min_str) encoding of one stat value."""
            if isinstance(v, bool):
                return float(v), None
            if isinstance(v, (int, float)):
                return float(v), None
            if isinstance(v, _dec.Decimal):
                return float(v), None
            if isinstance(v, _dt.datetime):
                return v.timestamp() if v.tzinfo else v.replace(
                    tzinfo=_dt.timezone.utc
                ).timestamp(), None
            if isinstance(v, _dt.date):
                return (
                    _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc)
                ).timestamp(), None
            if isinstance(v, bytes):
                try:
                    return None, v.decode("utf-8")
                except UnicodeDecodeError:
                    return None, None
            return None, str(v)

        for pdf in batches:
            rows = []
            for fp in pdf["file_path"]:
                md = pq.ParquetFile(fp).metadata
                n_rows = md.num_rows
                # fold row-group stats to per-file stats
                acc: dict[str, dict] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        name = col.path_in_schema
                        if "." in name:  # nested leaves: not prunable here
                            continue
                        if wanted is not None and name not in wanted:
                            continue
                        st = col.statistics
                        a = acc.setdefault(
                            name,
                            {"mn": None, "mx": None, "mns": None, "mxs": None,
                             "nulls": 0, "nulls_ok": True, "ok": True},
                        )
                        if st is None:
                            # no statistics at all: neither range nor
                            # null-count pruning may trust this file
                            a["ok"] = False
                            a["nulls_ok"] = False
                            continue
                        # null_count is valid even when min/max are absent
                        # (an all-NULL row group has no min/max) — keep it
                        # so IS NOT NULL pruning still works there
                        if st.null_count is None:
                            a["nulls_ok"] = False
                        else:
                            a["nulls"] += st.null_count
                        if not st.has_min_max:
                            a["ok"] = False
                            continue
                        mn_n, mn_s = _norm(st.min)
                        mx_n, mx_s = _norm(st.max)
                        if mn_n is None and mn_s is None:
                            a["ok"] = False
                            continue
                        if mn_n is not None:
                            a["mn"] = mn_n if a["mn"] is None else min(a["mn"], mn_n)
                            a["mx"] = mx_n if a["mx"] is None else max(a["mx"], mx_n)
                        else:
                            a["mns"] = mn_s if a["mns"] is None else min(a["mns"], mn_s)
                            a["mxs"] = mx_s if a["mxs"] is None else max(a["mxs"], mx_s)
                for name, a in acc.items():
                    rows.append(
                        (fp, name, a["mn"], a["mx"], a["mns"], a["mxs"],
                         a["nulls"] if a["nulls_ok"] else None, n_rows, a["ok"])
                    )
                for k, v in _part_values(root, fp).items():
                    if wanted is not None and k not in wanted:
                        continue
                    try:
                        num = float(v)
                        rows.append((fp, k, num, num, None, None, 0, n_rows, True))
                    except ValueError:
                        rows.append((fp, k, None, None, v, v, 0, n_rows, True))
            yield pd.DataFrame(
                rows,
                columns=["file_path", "column", "min_num", "max_num",
                         "min_str", "max_str", "null_count", "n_rows", "has_stats"],
            )

    return files_df.mapInPandas(_footers, schema=STATS_SCHEMA)


@dataclass(frozen=True)
class SkippingReport:
    files_total: int
    files_kept: int

    @property
    def pruned(self) -> int:
        return self.files_total - self.files_kept


# predicate spec: (column, op, value) conjuncts; value is a float for
# numeric/timestamp columns (timestamps as epoch seconds), a str, a
# list of either for "in", or None for "is_not_null".
_OPS = {">=", ">", "<=", "<", "=", "in", "is_not_null"}


def _survives(op: str, lo, hi, v):
    """Column expression: can a file with [lo, hi] contain a row matching
    ``col <op> v``? NULL stats (missing min or max) ⇒ keep."""
    if op == ">=":
        cond = hi >= v
    elif op == ">":
        cond = hi > v
    elif op == "<=":
        cond = lo <= v
    elif op == "<":
        cond = lo < v
    elif op == "in":
        if not v:
            # an empty IN list matches no row anywhere — disproved for
            # every file, stats or not (handled before coalesce so the
            # NULL-stats keep-rule can't resurrect it)
            return F.lit(False)
        # survives iff ANY listed value can be inside [lo, hi]
        parts = [(lo <= x) & (hi >= x) for x in v]
        cond = parts[0]
        for px in parts[1:]:
            cond = cond | px
    else:  # "="
        cond = (lo <= v) & (hi >= v)
    return F.coalesce(cond, F.lit(True))


def _score_files(
    stats: DataFrame, predicates: Sequence[tuple[str, str, object]]
) -> DataFrame:
    """Per-file disproved-conjunct counts: (file_path, __n) — __n = 0
    means the file MIGHT satisfy every conjunct. ONE aggregation job."""
    for col, op, _v in predicates:
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r} for column {col!r}")
    if not predicates:
        return stats.groupBy("file_path").agg(F.lit(0).alias("__n"))
    # one pass: for each file, count conjuncts DISPROVED by a usable row
    checks = []
    for col, op, v in predicates:
        if op == "is_not_null":
            # null_count is exact in parquet footers even when min/max are
            # unusable, so this prune doesn't need has_stats: a file whose
            # every value is NULL can never satisfy a null-rejecting read
            disproved = (
                (F.col("column") == col)
                & F.col("null_count").isNotNull()
                & (F.col("null_count") >= F.col("n_rows"))
            )
            checks.append(F.when(disproved, 1).otherwise(0))
            continue
        if op == "in" and not v:
            # empty IN: provably empty result — disprove every stats row
            # (no has_stats gate needed; this is predicate algebra, not a
            # min/max judgment). The residual filter is F.lit(False) too.
            checks.append(F.lit(1))
            continue
        sample = v[0] if op == "in" else v
        if isinstance(sample, str):
            lo, hi = F.col("min_str"), F.col("max_str")
            vv = [F.lit(x) for x in v] if op == "in" else F.lit(v)
        else:
            lo, hi = F.col("min_num"), F.col("max_num")
            vv = [F.lit(float(x)) for x in v] if op == "in" else F.lit(float(v))
        disproved = (
            (F.col("column") == col)
            & F.col("has_stats")
            & ~_survives(op, lo, hi, vv)
        )
        checks.append(F.when(disproved, 1).otherwise(0))
    scored = stats.select(
        "file_path", sum(checks[1:], checks[0]).alias("__disproved")
    )
    return scored.groupBy("file_path").agg(F.sum("__disproved").alias("__n"))


def prune_files(
    stats: DataFrame, predicates: Sequence[tuple[str, str, object]]
) -> DataFrame:
    """Distinct ``file_path`` rows that MIGHT satisfy every conjunct.

    Each conjunct keeps a file iff its stats row for that column proves
    possible overlap — or iff the file has no usable stats row for the
    column (``has_stats`` false or row absent: never prune blind). The
    conjuncts AND together via per-file counts, not a self-join per
    predicate.
    """
    return _score_files(stats, predicates).filter(F.col("__n") == 0).select("file_path")


def read_with_skipping(
    spark: SparkSession,
    table_path: str,
    stats: DataFrame,
    predicates: Sequence[tuple[str, str, object]],
    residual: str | None = None,
    bloom: DataFrame | None = None,
) -> tuple[DataFrame, SkippingReport]:
    """Scan only the files ``prune_files`` keeps, then re-apply the full
    predicate as a residual filter (skipping can only be an optimization).

    ``residual`` overrides the auto-built residual (needed when the
    predicate spec encodes timestamps as epoch seconds — pass the real
    SQL condition). Raises if the stats table doesn't cover the
    directory's CURRENT file set: stale stats could silently drop data.

    ``bloom`` (a :func:`write_bloom_sidecar` frame) additionally prunes
    files whose Bloom bitset disproves every equality/IN probe — the
    point-lookup case min/max can't touch on hash-distributed columns.
    Files without a Bloom row for a probed column are always kept.
    """
    current = set(_list_part_files(table_path))
    # ONE job serves both the coverage check and the pruning decision —
    # a lazy (non-persisted) stats frame re-runs the footer harvest per
    # action, so never collect from it twice
    scored = {r["file_path"]: r["__n"] for r in _score_files(stats, predicates).collect()}
    missing = current - scored.keys()
    if missing:
        raise ValueError(
            f"stats table misses {len(missing)} current file(s) under "
            f"{table_path!r} (e.g. {sorted(missing)[:2]}); re-harvest first"
        )
    kept = sorted(fp for fp, n in scored.items() if n == 0 and fp in current)
    if bloom is not None and kept:
        bad = _bloom_disproved(bloom, predicates)
        kept = [fp for fp in kept if fp not in bad]
    report = SkippingReport(files_total=len(current), files_kept=len(kept))
    if not kept:
        # preserve schema with an empty frame over the full table
        df = spark.read.option("basePath", table_path).parquet(table_path).limit(0)
    else:
        df = spark.read.option("basePath", table_path).parquet(*kept)
    if residual is not None:
        df = df.filter(residual)
    else:
        # Column expressions, never interpolated SQL: a string value
        # containing a quote must survive the residual verbatim, and an
        # empty IN must evaluate to FALSE rather than crash
        for col, op, v in predicates:
            c = F.col(col)
            if op == "is_not_null":
                df = df.filter(c.isNotNull())
            elif op == "in":
                df = df.filter(c.isin(list(v)) if v else F.lit(False))
            elif op == "=":
                df = df.filter(c == F.lit(v))
            elif op == ">=":
                df = df.filter(c >= F.lit(v))
            elif op == ">":
                df = df.filter(c > F.lit(v))
            elif op == "<=":
                df = df.filter(c <= F.lit(v))
            else:  # "<"
                df = df.filter(c < F.lit(v))
    return df, report


# ---------------------------------------------------------------------------
# Stats sidecar: persisted per-table stats, refreshed at write time
# ---------------------------------------------------------------------------

STATS_DIR = "_stats"  # underscore prefix: invisible to Spark's parquet reader


def stats_sidecar_path(table_path: str) -> str:
    # data nested one level below the hidden dir: Spark reads an
    # explicitly-given underscore-prefixed path but logs a scary
    # "All paths were ignored" WARN for it — reading the inner "data"
    # directory keeps the sidecar hidden from table scans AND warn-free
    return os.path.join(table_path, STATS_DIR, "data")


def _keep_present_rows(
    spark: SparkSession, sidecar: DataFrame, current: set[str]
) -> tuple[DataFrame, set[str]]:
    """Split an existing sidecar against the CURRENT file set: rows of
    still-present files are kept verbatim (immutable files never change),
    rows of vanished files drop. The membership test is a broadcast semi
    join against the file-list frame — the same driver-side listing every
    file-source planner materializes — never a giant IN literal."""
    files_df = _files_df(spark, sorted(current))
    kept = sidecar.join(F.broadcast(files_df), on="file_path", how="left_semi")
    have = {
        r["file_path"]
        for r in sidecar.select("file_path").distinct().collect()
    }
    return kept, have


def write_stats_sidecar(
    spark: SparkSession,
    table_path: str,
    columns: Sequence[str] | None = None,
    incremental: bool = False,
) -> DataFrame:
    """Harvest the table's CURRENT file stats and persist them inside the
    table directory (``<table>/_stats`` — underscore-prefixed, so plain
    parquet reads of the table never see it; the repo's own file listing
    prunes it the same way). The Delta ``add.stats`` twin: stats travel
    with the table, every writer refresh keeps them coverage-complete.

    The harvest is footer-only (O(files), zero data pages); a re-write
    after every table mutation is the simple default policy that keeps
    the ``read_with_skipping`` coverage guard always satisfiable.
    ``incremental=True`` exploits file immutability: rows of
    still-present files carry over verbatim, only NEW files' footers are
    read, vanished files' rows drop — value-identical to the full
    re-harvest (pinned in tests/test_skipping.py), O(new files) instead
    of O(files). The right policy for append-mode writes.
    """
    sidecar_dir = stats_sidecar_path(table_path)
    if incremental and os.path.isdir(sidecar_dir):
        current = set(_list_part_files(table_path))
        kept, have = _keep_present_rows(
            spark, load_file_stats(spark, table_path), current
        )
        new_files = sorted(current - have)
        stats = kept
        if new_files:
            stats = kept.unionByName(
                harvest_file_stats(spark, table_path, columns, files=new_files)
            )
    else:
        stats = harvest_file_stats(spark, table_path, columns)
    # the swap is scoped to the inner `data` dir so a sibling bloom
    # sidecar under the same `_stats` survives a min/max-stats refresh
    _stage_sidecar(sidecar_dir, stats)
    return load_file_stats(spark, table_path)


def _stage_sidecar(out: str, rows: DataFrame) -> None:
    """Replace the sidecar directory ``out`` with ``rows`` in one staged
    swap (``writers._stage``): a failed write leaves the old sidecar and
    no staging debris, and a crash mid-swap leaves the old sidecar
    recoverable in ``__old``."""
    from databricks_demo_feature_store_spark.sources.writers import _stage, _write

    _stage(out, lambda staging: _write(rows, staging, "parquet", "overwrite", None))


def load_file_stats(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the persisted sidecar (raises a clear error when absent)."""
    out = stats_sidecar_path(table_path)
    if not os.path.isdir(out):
        raise FileNotFoundError(
            f"no stats sidecar at {out!r} — write with stats_columns=... or "
            "call write_stats_sidecar first"
        )
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# Per-file Bloom sidecar: point-predicate skipping where min/max can't
# ---------------------------------------------------------------------------
#
# Min/max stats prune RANGE predicates on range-clustered layouts; they are
# useless for equality/IN lookups on hash-distributed high-cardinality
# columns (every file's [min, max] spans the whole domain). Delta solves
# this with per-file Bloom filter indexes; this is that twin: one Bloom
# bitset per (file, column), built in ONE data pass, persisted under the
# same `_stats` hidden directory. Pruning stays an optimization — a file
# without a Bloom row for the probed column is always kept, and the full
# predicate re-applies as the residual.

BLOOM_N_BITS = 1 << 17  # 16 KiB of bit words per (file, column)
BLOOM_N_HASHES = 5


def bloom_sidecar_path(table_path: str) -> str:
    return os.path.join(table_path, STATS_DIR, "bloom")


def _bloom_hash(key):
    """Non-negative long hash of a canonical string key (pmod keeps every
    derived bit position non-negative)."""
    from databricks_demo_feature_store_spark.textops.dedup import MINHASH_P

    return F.pmod(F.xxhash64(key), F.lit(MINHASH_P))


def _bloom_key_build(col, dtype: str):
    """Canonical string key for a column value. Numeric-ish types route
    through double FIRST so the build matches the probe side, where the
    predicate spec encodes every number (and timestamps, as epoch
    seconds) as a Python float — xxhash64 is type- and
    representation-sensitive, so '300' (long→string) would never match
    '300.0' (double→string)."""
    base = dtype.split("(")[0]
    if base in ("double", "float", "decimal", "bigint", "int", "smallint",
                "tinyint", "boolean"):
        return col.cast("double").cast("string")
    if base in ("timestamp", "timestamp_ntz"):
        return col.cast("double").cast("string")
    if base == "date":
        return col.cast("timestamp").cast("double").cast("string")
    return col.cast("string")


def _bloom_key_probe(v):
    """Probe-side canonical key for one predicate value: floats for
    anything numeric (mirroring the stats predicate spec), strings as-is."""
    if isinstance(v, str):
        return F.lit(v)
    return F.lit(float(v)).cast("string")


def write_bloom_sidecar(
    spark: SparkSession,
    table_path: str,
    columns: Sequence[str],
    n_bits: int = BLOOM_N_BITS,
    n_hashes: int = BLOOM_N_HASHES,
    incremental: bool = False,
) -> DataFrame:
    """Build and persist per-(file, column) Bloom bitsets — ONE scan of
    the table no matter how many columns (the per-column values unpivot
    through a single projection), fully map-side-combinable aggregation
    (``bit_or`` of shifted bits per 64-bit word).

    Unlike the footer-only min/max harvest this READS data pages — the
    same trade Delta's bloom-filter index makes; the default refresh
    policy follows the stats sidecar (rewrite after table mutation).
    ``incremental=True`` matters MUCH more here than for footer stats:
    per-file bitsets of immutable files carry over verbatim and only NEW
    files' data pages are scanned — O(new data) instead of a full-table
    re-read, value-identical to the rebuild (pinned in
    tests/test_skipping.py)."""
    if not columns:
        raise ValueError("bloom sidecar needs at least one column")
    new_files: list[str] | None = None
    kept = None
    if incremental and os.path.isdir(bloom_sidecar_path(table_path)):
        stored = load_bloom_stats(spark, table_path)
        # param mismatch would poison probes: refuse to mix geometries
        head = stored.select("n_bits", "n_hashes").first()
        if head is not None and (
            int(head["n_bits"]) != n_bits or int(head["n_hashes"]) != n_hashes
        ):
            raise ValueError(
                "incremental bloom refresh with different n_bits/n_hashes "
                "than the stored sidecar — rebuild with incremental=False"
            )
        current = set(_list_part_files(table_path))
        kept, have = _keep_present_rows(spark, stored, current)
        new_files = sorted(current - have)
        if not new_files:
            if have <= current:
                # nothing new, nothing vanished: the sidecar is already
                # exact — skip the pointless rewrite-and-swap cycle
                return stored
            return _promote_bloom(spark, table_path, kept)
    from databricks_demo_feature_store_spark.operators.sketches import (
        _bloom_positions,
    )

    if new_files is not None:
        df = spark.read.option("basePath", table_path).parquet(*new_files)
    else:
        df = spark.read.parquet(table_path)
    dtypes = dict(df.dtypes)
    missing_cols = [c for c in columns if c not in dtypes]
    if missing_cols:
        raise ValueError(f"bloom columns not in table: {missing_cols}")
    fp = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.when(
                    F.col(c).isNotNull(),
                    _bloom_hash(_bloom_key_build(F.col(c), dtypes[c])),
                ).alias("__v"),
            )
            for c in columns
        ]
    )
    vals = (
        df.select(fp.alias("file_path"), F.explode(pairs).alias("p"))
        .select("file_path", "p.column", "p.__v")
        .where(F.col("__v").isNotNull())
    )
    pos = vals.select(
        "file_path",
        "column",
        F.explode(
            F.array(*_bloom_positions(F.col("__v"), n_bits, n_hashes))
        ).alias("__pos"),
    )
    words = (
        pos.select(
            "file_path",
            "column",
            (F.col("__pos") / 64).cast("int").alias("__w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("__pos") % 64).cast("int")
            ).alias("__bit"),
        )
        .groupBy("file_path", "column", "__w")
        .agg(F.bit_or("__bit").alias("__word"))
    )
    blooms = (
        words.groupBy("file_path", "column")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("__w", "__word")))
            ).alias("bloom")
        )
        .withColumn("n_bits", F.lit(n_bits))
        .withColumn("n_hashes", F.lit(n_hashes))
    )
    # One marker row per HARVESTED file (column=NULL, bloom=NULL): a file
    # whose bloom columns are entirely NULL emits no bitset rows, so
    # without a marker it would read as never-harvested and incremental
    # refreshes would rescan its data pages forever (and the nothing-new
    # early-exit above could never fire). Markers never prune — probes
    # match on `column`, which is NULL here — they only record coverage.
    harvested = new_files if new_files is not None else _list_part_files(table_path)
    markers = _files_df(spark, sorted(harvested)).select(
        "file_path",
        F.lit(None).cast("string").alias("column"),
        F.lit(None).cast("map<int,bigint>").alias("bloom"),
        F.lit(n_bits).alias("n_bits"),
        F.lit(n_hashes).alias("n_hashes"),
    )
    blooms = blooms.unionByName(markers)
    if kept is not None:
        # carried-over rows of immutable files + fresh rows of new ones
        blooms = kept.unionByName(blooms)
    return _promote_bloom(spark, table_path, blooms)


def _promote_bloom(
    spark: SparkSession, table_path: str, blooms: DataFrame
) -> DataFrame:
    """Stage-and-swap the bloom sidecar (the staging write may READ the
    old sidecar — the swap happens only after it materializes)."""
    _stage_sidecar(bloom_sidecar_path(table_path), blooms)
    return load_bloom_stats(spark, table_path)


def load_bloom_stats(spark: SparkSession, table_path: str) -> DataFrame:
    out = bloom_sidecar_path(table_path)
    if not os.path.isdir(out):
        raise FileNotFoundError(
            f"no bloom sidecar at {out!r} — call write_bloom_sidecar first"
        )
    return spark.read.parquet(out)


def _bloom_disproved(
    bloom: DataFrame, predicates: Sequence[tuple[str, str, object]]
) -> set[str]:
    """File paths DISPROVED by a Bloom row: the file has a bitset for the
    predicate column and NO probed value might be contained. Only files
    WITH a row can land here — absent rows never prune (blind-keep)."""
    from databricks_demo_feature_store_spark.operators.sketches import (
        bloom_might_contain_col,
    )

    probes: list[tuple[str, list]] = []
    for col, op, v in predicates:
        if op == "=":
            probes.append((col, [v]))
        elif op == "in" and v:
            probes.append((col, list(v)))
    if not probes:
        return set()
    head = bloom.select("n_bits", "n_hashes").first()
    if head is None:
        return set()
    n_bits, n_hashes = int(head["n_bits"]), int(head["n_hashes"])
    conds = None
    for col, vals in probes:
        might = None
        for x in vals:
            m = bloom_might_contain_col(
                F.col("bloom"), _bloom_hash(_bloom_key_probe(x)), n_bits, n_hashes
            )
            might = m if might is None else (might | m)
        c = (F.col("column") == col) & ~might
        conds = c if conds is None else (conds | c)
    return {
        r["file_path"]
        for r in bloom.where(conds).select("file_path").distinct().collect()
    }
