"""Sinks: layer writer with overwrite/append/merge + partition-overwrite.

Parity target: ``save_table`` — reference
``src/packages/storage/storage_operations.py:75-211``: delta/parquet
formats; modes overwrite/append/merge; ``partitionBy(historical_key)``;
``replaceWhere``-style partition overwrite derived from the incoming data's
distinct partition values (:161-176); Delta MERGE upsert (:178-188);
parquet dynamic partition overwrite (:194-199).

Without Delta on the classpath, MERGE is emulated exactly with
**anti-join + unionByName + dynamic partition overwrite**: existing rows
whose keys collide are replaced by the incoming rows, everything else is
kept.

Every stored table has ONE read and ONE rewrite:

- :func:`read_table` is what a table's live rows are: pending
  deletion-vector deletes folded out, otherwise a scan with the read
  schema pinned in the registry sidecar (no footer-inference job).
- :func:`rewrite_table` is what survives a rewrite. Merge, entity
  replacement, forget, deletion-vector purge, column-mapping
  materialization and compaction are each a ``build`` function over the
  live rows; the rewrite takes the generation token, reads through
  :func:`read_table` (so deletes are baked in, never resurrected),
  writes ``build(current)`` to a uniquely named staging sibling together
  with the registry sidecar, and promotes both with one directory swap.
  That is the parquet stand-in for the reference keeping its registry in
  Delta table properties (``notebooks/utils.py:1490-1508``), which every
  MERGE and OPTIMIZE commits along with the data.

Every commit that is not an append is one :func:`_stage`: the new
version is filled into a uniquely named staging sibling, which
:func:`_swap_dirs` (its only caller) promotes under the generation check.
That covers rewrites, ``save_table`` overwrites, the bootstrap of a
missing table and the skipping sidecars (``sources/skipping.py``). A
failed fill removes the staging directory and leaves the live table as
it was. Delta's own writes and dynamic partition overwrite are the
exceptions.

The staged write is sized to the rewrite's bytes: one write task and
file per split the next scan would read (:func:`split_partitions`),
instead of one per input partition of the rewrite plan — the stand-in for
the reference's Delta ``OPTIMIZE`` after every save
(``notebooks/utils.py:1762-1765``); below ``openCostInBytes ×
defaultParallelism`` a table is one file. A partitioned layout keeps one
file per partition directory, so there the rewrite cost is bounded by
partitioning on the historical key.

A merge into a table with a time key is file-scoped, like Delta's
copy-on-write MERGE, which rewrites only the files holding a matched
key. The table keeps two tiers in one flat directory: **cold** files
hold the rows with time < ``hot_from`` and **hot** files hold the rest
(the time is the registry's first ``timestamp_keys`` column). The tier
record — column, ``hot_from``, hot file names — lives in the read-schema
pin, so it is trusted exactly while the pin's file listing is current,
and every other rewrite drops it. When the merge keys include the time
and every batch row is at or after ``hot_from``, no batch key can match
a cold row: the merge rewrites the hot files alone and hardlinks the
cold ones into the new version (:func:`merge_upsert`).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import threading
import uuid
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    IntegerType,
    LongType,
    StructType,
    TimestampType,
)

from databricks_demo_feature_store_spark.sources.catalog import HAS_DELTA

if HAS_DELTA:  # pragma: no cover - delta not in the test image
    from delta.tables import DeltaTable


# No reader looks for a write job's ``_SUCCESS`` marker (a staged write
# commits by its swap), so no job writes one: that saves a file create,
# and its forked ``chmod``s, per write job.
_NO_SUCCESS_MARKER = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


def _write(df: DataFrame, path: str, fmt: str, mode: str, partition_by: Sequence[str] | None) -> None:
    writer_df = df
    if partition_by:
        # co-locate each hive-partition value's rows BEFORE the split:
        # without this every task writes a sliver into every partition
        # directory — tasks × partitions small files (the classic
        # partitioned-write mistake; measured as the dominant cost of the
        # partitioned index build in the round-12 100× run). One shuffle
        # on the layout columns → one well-sized file per directory.
        writer_df = df.repartition(*[F.col(c) for c in partition_by])
    writer = writer_df.write.format(fmt).mode(mode).options(**_NO_SUCCESS_MARKER)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


class CheckConstraintViolation(ValueError):
    """Raised by :func:`enforce_check_constraints`; carries per-constraint
    violation counts in ``.counts``."""

    def __init__(self, counts: dict):
        self.counts = counts
        super().__init__(
            "check constraint(s) violated: "
            + ", ".join(f"{k!r} ({v} rows)" for k, v in counts.items())
        )


def enforce_check_constraints(df: DataFrame, constraints: Sequence[str]) -> None:
    """Validate every constraint in ONE aggregation job (conditional
    counts — map-side combinable); raise :class:`CheckConstraintViolation`
    with the per-constraint violation counts if any row fails. NULL
    results PASS (SQL CHECK semantics), so ``x > 0`` does not reject
    NULL x — add ``x IS NOT NULL`` explicitly for that."""
    constraints = list(constraints)
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(c), F.lit(True)), 1).otherwise(0)
        ).alias(f"__c{i}")
        for i, c in enumerate(constraints)
    ]
    row = df.agg(*aggs).first()
    counts = {
        c: int(row[f"__c{i}"] or 0)
        for i, c in enumerate(constraints)
        if (row[f"__c{i}"] or 0) > 0
    }
    if counts:
        raise CheckConstraintViolation(counts)


def pin_and_enforce(df: DataFrame, constraints: Sequence[str]) -> DataFrame:
    """``df`` pinned by an eager local checkpoint and validated against
    ``constraints`` (:func:`enforce_check_constraints`); ``df`` itself
    when there are none. Write the returned frame: validating one
    evaluation and writing a re-evaluation would let a non-deterministic
    plan write rows that were never checked."""
    if not constraints:
        return df
    df = df.localCheckpoint(eager=True)
    enforce_check_constraints(df, constraints)
    return df


class ConcurrentWriteError(RuntimeError):
    """A staged-swap rewrite detected another writer's commit between its
    read and its swap — the rewrite was computed from a stale snapshot,
    and promoting it would silently erase the other writer's commit (the
    lost update). The loser's staging directory is discarded; retry the
    whole operation against the new table state."""


def table_generation(path: str) -> tuple[int, int] | None:
    """Generation token for optimistic concurrency over a staged-swap
    table: ``(top-dir inode, max mtime_ns across the tree)``. Every
    ``_swap_dirs`` promotion replaces the top directory (new inode) and
    every append lands a newer-mtime file somewhere in the tree, so any
    commit by another writer changes the token. Driver-side metadata,
    O(files) — the same cost class as ``maybe_compact``'s listing.
    ``None`` when the table does not exist yet."""
    p = path.removeprefix("file:").rstrip("/")
    try:
        top = os.stat(p)
    except FileNotFoundError:
        return None
    newest = top.st_mtime_ns
    for root, _dirs, names in os.walk(p):
        newest = max(newest, os.stat(root).st_mtime_ns)
        for n in names:
            try:
                newest = max(newest, os.stat(os.path.join(root, n)).st_mtime_ns)
            except FileNotFoundError:
                # a concurrent writer removing files mid-walk is itself a
                # generation change; the mtime of its rename target wins
                continue
    return (top.st_ino, newest)


def retry_on_conflict(fn, attempts: int = 3):
    """Run a staged-swap write, retrying on :class:`ConcurrentWriteError`
    — the optimistic-concurrency loop every caller wants: each retry
    re-reads the table (the writers capture a fresh generation token per
    call), so the winning state is always built on the latest commit.
    Linear backoff is deliberately absent: the conflict window is the
    rewrite's own runtime, so an immediate retry cannot livelock two
    writers the way lock-free counters can — one of them always
    committed. Raises the last conflict after ``attempts`` tries."""
    last: ConcurrentWriteError | None = None
    for _ in range(max(1, attempts)):
        try:
            return fn()
        except ConcurrentWriteError as exc:
            last = exc
    raise last


_UNCHECKED = object()
#: "take the generation token now" (a caller that read the table first
#: passes the token it took before that read instead)
_FRESH = object()
#: serializes the generation check and the renames of every swap in this
#: process, so threads committing to one table cannot both pass the check
_SWAP_LOCK = threading.Lock()


def _swap_dirs(live: str, staging: str, expected_generation=_UNCHECKED) -> None:
    """Promote ``staging`` to ``live`` via directory renames, never a
    delete-then-rewrite of the live table.

    A crash between the two renames leaves EITHER the old table (rename #1
    done, #2 pending — recoverable from ``__old``) or the new table, never a
    partially-deleted live directory. On POSIX/HDFS a directory rename is a
    single metadata op; on object stores the real fix is the Delta path
    (atomic log commit), which this fallback stands in for.

    ``expected_generation`` (from :func:`table_generation`, captured when
    the rewrite STARTED reading) arms the optimistic-concurrency check:
    if the live table's generation changed between read and swap, another
    writer committed in the window — the swap raises
    :class:`ConcurrentWriteError` and discards ``staging`` instead of
    silently clobbering that commit. A bootstrap passes ``None``, the
    token of a missing table, so a concurrent creator fails it; sidecar
    refreshes omit it. Within one process the check and the renames run
    under one lock; across processes the check→rename
    race is microseconds wide and loses only to a writer that slipped a
    full commit inside it. The zero-window fix is an atomic log commit
    (Delta), which this emulation stands in for.
    """
    live = live.removeprefix("file:")
    staging = staging.removeprefix("file:")
    with _SWAP_LOCK:
        if expected_generation is not _UNCHECKED:
            current = table_generation(live)
            if current != expected_generation:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"table {live!r} changed while this rewrite was running "
                    f"(generation {expected_generation} -> {current}); "
                    "its snapshot is stale — retry against the new state"
                )
        old = live.rstrip("/") + "__old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(staging, live)
        shutil.rmtree(old, ignore_errors=True)


#: Catalyst's "statistics unknown" sentinel is Long.MaxValue-ish; any
#: estimate that large means "no idea", not "8 EiB of data".
_STATS_UNKNOWN = 1 << 62


def plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan ``sizeInBytes`` — file-source scans report
    the exact sum of file lengths (metadata the reader already listed),
    derived frames report a propagated estimate (a union sums its inputs,
    an anti join keeps its left side's). Launches no job. Returns None
    when the estimate is missing/sentinel or the JVM plan is unreachable
    (Connect)."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    return size if 0 < size < _STATS_UNKNOWN else None


def scan_splits(spark: SparkSession, size: int) -> int:
    """How many splits Spark's file scan would cut ``size`` bytes into:
    ``ceil(size / split)`` with ``split = min(maxPartitionBytes,
    max(openCostInBytes, size / defaultParallelism))`` —
    ``FilePartition.maxSplitBytes`` over the session's own
    ``spark.sql.files.*`` settings. One split whenever ``size <=
    openCostInBytes``; with more than one core, only then."""
    conf = spark._jsparkSession.sessionState().conf()
    split = min(
        conf.filesMaxPartitionBytes(),
        max(conf.filesOpenCostInBytes(), size // spark.sparkContext.defaultParallelism),
    )
    return -(-size // split)


def split_partitions(df: DataFrame) -> int | None:
    """:func:`scan_splits` of ``df``'s estimated bytes; ``None`` when
    Catalyst has no estimate."""
    size = plan_size_estimate(df)
    return None if size is None else scan_splits(df.sparkSession, size)


def stage_and_swap(
    df: DataFrame,
    path: str,
    fmt: str,
    generation: tuple[int, int] | None,
    partition_by: Sequence[str] | None = None,
    sized: bool = True,
    registry: dict | None = None,
    split: tuple | None = None,
) -> None:
    """Replace the table at ``path`` with ``df``: write it, and the
    ``registry`` sidecar when one is given (:func:`_write_sidecar`), to a
    uniquely named sibling directory, then promote both with
    :func:`_swap_dirs` under the ``generation`` check
    (:func:`table_generation`, captured before ``df``'s read of the
    table). A failed write removes the staging directory and leaves the
    live table untouched.

    ``sized`` (whole-table rewrites) coalesces ``df`` to
    :func:`split_partitions` — one write task, and at most one file
    (a task that gets no rows writes none), per split the next scan of
    the table would read. Each write task pays a fixed
    cost (deserializing the job's Hadoop configuration, building a
    Parquet writer and committer) that a small table's rewrite plan,
    partitioned by its inputs, would otherwise pay once per input
    partition. Coalesce only ever lowers the count, and a rewrite bigger
    than ``openCostInBytes × defaultParallelism`` keeps full write
    parallelism. An unknown estimate and a ``partition_by`` layout (one
    file per partition directory already) write as planned.

    ``split`` — ``(column, bound)``, a parquet table only — writes the
    rows with ``column < bound`` as cold files and the rest as hot
    files, and records the tiers in the sidecar's pin."""
    if sized and not partition_by:
        df = _sized(df)

    def fill(staging: str) -> None:
        tier = None
        if split:
            tier = _write_tiers(df, staging, *split)
        else:
            _write(df, staging, fmt, "overwrite", partition_by)
        if registry is not None:
            _write_sidecar(staging, registry, df.schema, tier)

    _stage(path, fill, generation)


def _sized(df: DataFrame) -> DataFrame:
    n = split_partitions(df)
    return df if n is None else df.coalesce(n)


def _stage(path: str, fill: Callable[[str], None], generation=_UNCHECKED) -> None:
    """Run ``fill`` on a new uniquely named staging sibling of ``path``,
    then promote it with :func:`_swap_dirs` under ``generation`` (no
    check when omitted). If ``fill`` raises, the staging directory is
    removed and the live table is untouched."""
    staging = f"{path.rstrip('/')}__staging-{uuid.uuid4().hex[:12]}"
    try:
        fill(staging)
    except BaseException:
        shutil.rmtree(staging.removeprefix("file:"), ignore_errors=True)
        raise
    _swap_dirs(path, staging, expected_generation=generation)


@contextlib.contextmanager
def atomic_open(path: str) -> Iterator:
    """Open ``path`` for text writing through a hidden (dot-prefixed,
    so invisible to Hadoop listings) tmp file in the same directory that
    ``os.replace`` installs on a clean exit: readers see the old file or
    the new one, never a torn write, and an exception mid-write leaves
    the old file as it was."""
    directory, name = os.path.split(path.removeprefix("file:"))
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            yield fh
        os.replace(tmp, os.path.join(directory, name))
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


#: a table's registry sidecar (the feature-store manager's metadata,
#: ``featurestore/manager.py``). Next to the registry it holds the
#: table's read-schema pin under ``READ_SCHEMA_KEY``: the schema the last
#: rewrite wrote and the data-file listing that schema describes.
METADATA_FILE = "_feature_metadata.json"
READ_SCHEMA_KEY = "read_schema"


def data_file_listing(path: str) -> list[list] | None:
    """Sorted ``[name, size]`` of every entry Spark's file index scans
    directly under ``path`` (``_``/``.`` names are hidden from it too).
    ``None`` when the table is missing or keeps data in subdirectories:
    hive ``k=v`` layouts are never pinned."""
    try:
        entries = list(os.scandir(path.removeprefix("file:")))
    except (FileNotFoundError, NotADirectoryError):
        return None
    out = []
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if e.is_dir():
            return None
        out.append([e.name, e.stat().st_size])
    return sorted(out)


def read_sidecar(path: str) -> dict:
    """The sidecar under ``path``; ``{}`` when absent or unreadable."""
    try:
        with open(os.path.join(path.removeprefix("file:"), METADATA_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_sidecar(
    directory: str, registry: dict, schema: StructType, tier: dict | None = None
) -> None:
    """Write ``registry`` as ``directory``'s sidecar, with the read-schema
    pin of ``schema`` over the data files now in it (no pin for layouts
    :func:`data_file_listing` skips). The pin carries ``tier``, the tier
    record of those files, when one is given; any other write drops it."""
    meta = {k: v for k, v in registry.items() if k != READ_SCHEMA_KEY}
    files = data_file_listing(directory)
    if files is not None:
        meta[READ_SCHEMA_KEY] = {"schema": schema.jsonValue(), "files": files}
        if tier is not None:
            meta[READ_SCHEMA_KEY]["tier"] = tier
    with atomic_open(os.path.join(directory, METADATA_FILE)) as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)


def pinned_schema(path: str, fmt: str, meta: dict | None = None) -> StructType | None:
    """The read schema pinned in the sidecar (``meta``, or the file under
    ``path`` when omitted) while the pin still describes the table: a
    parquet table with no pending deletion vectors whose listing equals
    the recorded one. Any write outside a rewrite changes the listing
    (data files carry unique names), so a stale pin is never returned.
    ``None`` otherwise."""
    from databricks_demo_feature_store_spark.sources.deletion_vectors import dv_path

    p = path.removeprefix("file:")
    if fmt != "parquet" or os.path.isdir(dv_path(p)):  # Delta rejects a read schema
        return None
    pin = (read_sidecar(p) if meta is None else meta).get(READ_SCHEMA_KEY)
    if pin and data_file_listing(p) == pin["files"]:
        return StructType.fromJson(pin["schema"])
    return None


def read_table(spark: SparkSession, path: str, fmt: str, meta: dict | None = None) -> DataFrame:
    """The live rows of the table at ``path``. Pending deletion-vector
    deletes are folded out (``deletion_vectors.read_with_deletes``).
    Without them the scan uses :func:`pinned_schema` — no
    footer-inference job — while the pin still describes the table;
    otherwise the schema is inferred."""
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        dv_path,
        read_with_deletes,
    )

    if fmt == "parquet" and os.path.isdir(dv_path(path.removeprefix("file:"))):
        return read_with_deletes(spark, path)
    reader = spark.read.format(fmt)
    schema = pinned_schema(path, fmt, meta)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def rewrite_table(
    spark: SparkSession,
    path: str,
    fmt: str,
    build: Callable[[DataFrame], DataFrame],
    *,
    partition_by: Sequence[str] | None = None,
    sized: bool = True,
    registry: dict | None = None,
    split: tuple | None = None,
    _generation=_FRESH,
) -> bool:
    """Replace the table at ``path`` with ``build(current)``, where
    ``current`` is its live rows (:func:`read_table`). In order: take the
    generation token, read, write ``build(current)`` and the sidecar to a
    staging sibling, swap under the token (:func:`stage_and_swap`). The
    sidecar is ``registry``, or the live one when ``registry`` is None
    (none when the table has none); its read-schema pin is always
    recomputed for the written files, with a tier record only when
    ``split`` (:func:`stage_and_swap`) writes tiers. Deletion vectors and
    stats sidecars do not survive: the deletes are baked into the
    rewrite. ``_generation`` is a token the caller took before its own
    read of the table.

    Returns False, writing nothing, when the table does not exist — the
    read's path-miss ``AnalysisException``; callers with a bootstrap
    stage it with :func:`stage_and_swap` under their token. Errors from
    ``build`` propagate."""
    from pyspark.errors import AnalysisException

    generation = table_generation(path) if _generation is _FRESH else _generation
    live = read_sidecar(path)
    try:
        current = read_table(spark, path, fmt, live)
    except AnalysisException:
        return False
    if registry is None and live:
        registry = live
    stage_and_swap(
        build(current), path, fmt, generation, partition_by, sized, registry, split
    )
    return True


def link_or_copy(src: str, dst: str) -> None:
    """Hardlink ``src`` to ``dst``; copy it (keeping its mtime) where a
    link cannot be made, e.g. across devices. Safe for immutable data
    files only: nothing ever writes through either name."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _move_file(src_dir: str, name: str, dst_dir: str, new_name: str, link: bool = False) -> None:
    """Move (or with ``link``, hardlink) data file ``name`` and its Hadoop
    ``.crc`` checksum, when it has one, to ``dst_dir/new_name``."""
    move = link_or_copy if link else os.rename
    move(os.path.join(src_dir, name), os.path.join(dst_dir, new_name))
    crc = os.path.join(src_dir, f".{name}.crc")
    if os.path.exists(crc):
        move(crc, os.path.join(dst_dir, f".{new_name}.crc"))


# the bound of a tier split as the tier record stores it: epoch
# microseconds for an instant, so no session time zone can shift it;
# the value's string form for every other type
def _to_bound(c: Column, dtype: DataType) -> Column:
    return F.unix_micros(c) if isinstance(dtype, TimestampType) else c.cast("string")


def _from_bound(bound, dtype: DataType) -> Column:
    if isinstance(dtype, TimestampType):
        return F.timestamp_micros(F.lit(bound))
    return F.lit(bound).cast(dtype)


_HOT_COLUMN = "__tier_hot"


def _write_tiers(df: DataFrame, staging: str, column: str, bound) -> dict:
    """Write ``df`` to ``staging`` in one job: rows with ``column <
    bound`` as cold files, the rest (NULL times too) as hot files. The
    job writes the two tiers to partition directories, whose files then
    move up into the flat table directory. Returns the tier record."""
    below = F.col(column) < _from_bound(bound, df.schema[column].dataType)
    df.withColumn(_HOT_COLUMN, ~F.coalesce(below, F.lit(False))).write.mode(
        "overwrite"
    ).options(**_NO_SUCCESS_MARKER).partitionBy(_HOT_COLUMN).parquet(staging)
    staging = staging.removeprefix("file:")
    hot = []
    for value in ("false", "true"):
        part = os.path.join(staging, f"{_HOT_COLUMN}={value}")
        for name in os.listdir(part) if os.path.isdir(part) else ():
            if name.startswith(("_", ".")):
                continue
            # both tiers of one write task carry the same file name
            new_name = f"hot-{name}" if value == "true" else name
            _move_file(part, name, staging, new_name)
            if value == "true":
                hot.append(new_name)
        shutil.rmtree(part, ignore_errors=True)
    return {"column": column, "hot_from": bound, "hot": sorted(hot)}


class _BelowHotTier(Exception):
    """A batch row is older than the hot tier; ``bound`` is the batch's
    lowest time, where the whole-table rewrite re-splits."""

    def __init__(self, bound):
        super().__init__(bound)
        self.bound = bound


_EPOCH = dt.date(1970, 1, 1)
# Spark writes this footer key when it rebases dates and timestamps to
# the hybrid Julian calendar: the raw values are then not the bound's
_LEGACY_DATETIME = b"org.apache.spark.legacyDateTime"


def _footer_codec(dtype: DataType):
    """How a parquet footer's raw integer minimum of a ``dtype`` column
    maps onto :func:`_to_bound`'s encoding: ``(scales, to_bound,
    from_bound)``, where ``scales`` maps each exactly readable
    ``(physical type, converted type)`` to its factor onto the bound's
    number (epoch microseconds, days since the epoch, the integer), and
    the two functions turn that number into the bound and back. None for
    any other type."""
    if isinstance(dtype, TimestampType):
        return {("INT64", "TIMESTAMP_MICROS"): 1, ("INT64", "TIMESTAMP_MILLIS"): 1000}, int, int
    if isinstance(dtype, DateType):
        return (
            {("INT32", "DATE"): 1},
            lambda days: (_EPOCH + dt.timedelta(days=days)).isoformat(),
            lambda bound: (dt.date.fromisoformat(bound) - _EPOCH).days,
        )
    if isinstance(dtype, (IntegerType, LongType)):
        return {("INT32", "NONE"): 1, ("INT64", "NONE"): 1}, str, int
    return None


_UNREAD = object()


def _footer_min(files: list[str], column: str, scales: dict):
    """The lowest non-NULL ``column`` value in the footers of the parquet
    ``files``, as the bound's number (None when every value is NULL), or
    ``_UNREAD`` when a footer cannot tell it exactly: a row group with
    non-NULL values but no min/max (INT96 timestamps carry none), a
    column type outside ``scales``, or calendar-rebased values."""
    import pyarrow.parquet as pq

    low = None
    for path in files:
        md = pq.read_metadata(path)
        if md.metadata and _LEGACY_DATETIME in md.metadata:
            return _UNREAD
        leaves = [md.schema.column(i) for i in range(md.num_columns)]
        i = next((i for i, leaf in enumerate(leaves) if leaf.path == column), None)
        if i is None:
            return _UNREAD
        scale = scales.get((leaves[i].physical_type, leaves[i].converted_type))
        if scale is None:
            return _UNREAD
        for r in range(md.num_row_groups):
            group = md.row_group(r)
            st = group.column(i).statistics
            if st is not None and st.has_min_max:
                value = st.min_raw * scale
                low = value if low is None else min(low, value)
            elif not (st is not None and st.has_null_count and st.null_count == group.num_rows):
                return _UNREAD
    return low


def _hot_tier_low(spark: SparkSession, files: list[str], schema: StructType, tier: dict):
    """The lowest time in the newly written hot ``files`` when it is
    below ``tier["hot_from"]``, as a :func:`_to_bound` value; else None.
    Every trusted hot row has a time at or after ``hot_from`` or a NULL
    one, so that minimum is below ``hot_from`` exactly when a batch row
    is, and it is then the batch's lowest time. Read from the footers on
    the driver; where they cannot tell it exactly (:func:`_footer_min`),
    one ``min`` aggregation over ``files`` does."""
    column = tier["column"]
    dtype = schema[column].dataType
    codec = _footer_codec(dtype)
    if codec is not None:
        scales, to_bound, from_bound = codec
        low = _footer_min(files, column, scales)
        if low is not _UNREAD:
            try:
                below = low is not None and low < from_bound(tier["hot_from"])
                return to_bound(low) if below else None
            except (OverflowError, ValueError):  # outside Python's date range
                pass
    c = F.col(column)
    row = (
        spark.read.schema(schema)
        .parquet(*files)
        .agg(
            (F.min(c) < _from_bound(tier["hot_from"], dtype)).alias("below"),
            F.min(_to_bound(c, dtype)).alias("low"),
        )
        .first()
    )
    return row["low"] if row["below"] else None


def _merge_hot_tier(
    df: DataFrame,
    path: str,
    keys: list[str],
    pin: dict,
    registry: dict,
    generation,
) -> None:
    """Merge ``df`` into the hot files of the table at ``path`` (tier
    record ``pin["tier"]``): the new hot file is ``(hot ⟕anti df) ∪ df``,
    the cold files are hardlinked beside it, and the staging directory is
    promoted under ``generation``. The batch's time bound is read from
    the staged hot files' footers (:func:`_hot_tier_low`); a row below
    ``hot_from`` discards the staging directory and raises
    :class:`_BelowHotTier`."""
    spark = df.sparkSession
    tier = pin["tier"]
    schema = StructType.fromJson(pin["schema"])
    if tier["hot"]:
        hot = spark.read.schema(schema).parquet(*[os.path.join(path, f) for f in tier["hot"]])
    else:
        hot = spark.createDataFrame([], schema)
    merged = hot.join(df.select(*keys), on=keys, how="left_anti").unionByName(
        df, allowMissingColumns=True
    )
    # sized from the hot files' pinned bytes and the batch's estimate, so
    # Catalyst plans the merge once, in the write
    batch_bytes = plan_size_estimate(df)
    if batch_bytes is not None:
        sizes = dict(pin["files"])
        hot_bytes = sum(sizes[name] for name in tier["hot"])
        merged = merged.coalesce(scan_splits(spark, hot_bytes + batch_bytes))
    live = path.removeprefix("file:")

    def fill(staging: str) -> None:
        # write first: the write's overwrite mode would remove the links
        _write(merged, staging, "parquet", "overwrite", None)
        local = staging.removeprefix("file:")
        new_hot = [name for name, _size in data_file_listing(staging)]
        low = _hot_tier_low(
            spark, [os.path.join(local, name) for name in new_hot], merged.schema, tier
        )
        if low is not None:
            raise _BelowHotTier(low)
        for name, _size in pin["files"]:
            if name not in tier["hot"]:
                _move_file(live, name, local, name, link=True)
        _write_sidecar(staging, registry, merged.schema, {**tier, "hot": new_hot})

    _stage(path, fill, generation)


def save_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    merge_keys: Sequence[str] | None = None,
    partition_overwrite: bool = False,
    stats_columns: Sequence[str] | None = None,
    bloom_columns: Sequence[str] | None = None,
    check_constraints: Sequence[str] | None = None,
    auto_compact: "CompactionPolicy | None" = None,
    generated_columns: dict[str, str] | None = None,
) -> None:
    """Write a layer table.

    - ``mode="overwrite"`` replaces the table through one staged swap
      (:func:`stage_and_swap`, unsized: ``df``'s own file boundaries are
      kept, which clustered and z-ordered layouts prune by). A failed job
      leaves the old table and its sidecars as they were, ``df`` may read
      the table it replaces, and another writer's commit after the call
      began fails it with :class:`ConcurrentWriteError`. Delta tables
      overwrite through Delta.
    - ``mode="overwrite"`` with ``partition_overwrite=True`` replaces only
      the partitions present in ``df`` (the reference's ``replaceWhere`` /
      dynamic ``partitionOverwriteMode``, ``storage_operations.py:161-199``).
      Spark's committer writes it in place, outside the staged swap.
    - ``mode="merge"`` upserts on ``merge_keys`` (Delta MERGE when
      available, anti-join emulation otherwise).
    - ``check_constraints`` — SQL boolean expressions enforced BEFORE any
      byte lands (the Delta ``ALTER TABLE ADD CONSTRAINT CHECK`` twin):
      a row violates a constraint iff the expression is FALSE (NULL
      passes, SQL CHECK semantics). All constraints validate in ONE
      aggregation pass; any violation raises with per-constraint counts
      and the write never starts — a constrained table can't be
      half-poisoned.
    - ``auto_compact`` — a :class:`CompactionPolicy` makes append-mode
      writes self-maintaining: after the append (and its incremental
      sidecar refresh), the policy inspects the file listing and
      triggers :func:`maybe_compact` when the small-file threshold
      trips — the Delta auto-compaction twin. No-op below threshold.
    - ``generated_columns`` — ``{name: sql_expr}`` computed columns (the
      Delta ``GENERATED ALWAYS AS`` twin): a missing column is computed
      from its expression at write time; a PRESENT column is instead
      VALIDATED against the expression through the same one-pass CHECK
      machinery (null-safe equality, so a hand-supplied wrong value —
      including a wrong NULL — rejects the write). The canonical use is
      a derived partition column (``{"o_year": "year(o_orderdate)"}``,
      ``partition_by=["o_year"]``), which buys partition pruning without
      trusting callers to derive the column consistently.
    """
    spark = df.sparkSession
    # taken before any read of the table, the constraint check's included
    generation = table_generation(path)
    if generated_columns:
        extra_checks: list[str] = []
        for name, expr in generated_columns.items():
            if name in df.columns:
                # caller supplied the column: every row must MATCH the
                # generation expression (Delta rejects mismatches too)
                extra_checks.append(f"{name} <=> ({expr})")
            else:
                df = df.withColumn(name, F.expr(expr))
        if extra_checks:
            check_constraints = list(check_constraints or []) + extra_checks
    df = pin_and_enforce(df, check_constraints)
    if mode == "merge":
        if not merge_keys:
            raise ValueError("merge mode requires merge_keys")
        merge_upsert(
            df, path, list(merge_keys), fmt=fmt, partition_by=partition_by,
            _generation=generation,
        )
        _refresh_stats(spark, path, fmt, stats_columns, bloom_columns)
        return
    if mode == "overwrite" and partition_overwrite and partition_by:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            _write(df, path, fmt, "overwrite", partition_by)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        _refresh_stats(spark, path, fmt, stats_columns, bloom_columns)
        return
    if mode == "overwrite" and fmt != "delta":
        stage_and_swap(df, path, fmt, generation, partition_by, sized=False)
    else:
        _write(df, path, fmt, mode, partition_by)
    # one listing decides the append's compaction
    sizes = (
        _tripped_sizes(path, auto_compact)
        if mode == "append" and auto_compact is not None
        else None
    )
    if sizes is None:
        # append adds immutable files — refresh the sidecars incrementally
        # (only new files' footers/pages are read). When the compaction
        # policy trips, this pass is skipped outright: the rewrite
        # replaces every file and re-harvests full sidecars itself, so an
        # incremental refresh here (including the bloom data-page read of
        # the new files) would be pure waste.
        _refresh_stats(
            spark, path, fmt, stats_columns, bloom_columns,
            incremental=(mode == "append"),
        )
    else:
        _compact_by_policy(
            spark, path, fmt, auto_compact, sizes, stats_columns, bloom_columns
        )


def _refresh_stats(
    spark: SparkSession,
    path: str,
    fmt: str,
    stats_columns: Sequence[str] | None,
    bloom_columns: Sequence[str] | None = None,
    incremental: bool = False,
) -> None:
    """Write-time stats collection (the Delta ``add.stats`` twin): when a
    caller opts in via ``stats_columns``, every table mutation refreshes
    the ``_stats`` sidecar so `read_with_skipping`'s coverage guard stays
    satisfied. Footer-only — O(files), no data pages. ``bloom_columns``
    additionally refreshes the per-file Bloom sidecar (the Delta
    bloom-filter-index twin; this one DOES read data pages)."""
    if fmt != "parquet":
        return
    if stats_columns is not None:
        from databricks_demo_feature_store_spark.sources.skipping import (
            write_stats_sidecar,
        )

        write_stats_sidecar(
            spark, path.removeprefix("file:"), list(stats_columns),
            incremental=incremental,
        )
    if bloom_columns is not None:
        from databricks_demo_feature_store_spark.sources.skipping import (
            write_bloom_sidecar,
        )

        write_bloom_sidecar(
            spark, path.removeprefix("file:"), list(bloom_columns),
            incremental=incremental,
        )


def merge_upsert(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
    update_columns: Sequence[str] | None = None,
    registry: dict | None = None,
    _generation=_FRESH,
) -> None:
    """Upsert ``df`` into the table at ``path`` keyed on ``keys``. The
    table keeps its sidecar, or takes ``registry`` when given (the
    feature-store manager's metadata). ``_generation`` is the
    :func:`table_generation` token of a caller that read the table before
    the merge (the manager's schema diff): a commit after it fails the
    merge with :class:`ConcurrentWriteError`.

    Delta path: ``DeltaTable.merge`` with ``whenMatchedUpdate`` (restricted
    to ``update_columns`` when given, matching the reference's
    new-columns-only merge at ``notebooks/utils.py:1748-1758``) +
    ``whenNotMatchedInsertAll``.

    Parquet fallback, a :func:`rewrite_table` whose build is keep =
    existing ⟕anti df; out = keep ∪ df. When ``update_columns`` is given,
    matched rows keep their old values except the listed columns
    (reference semantics for schema-evolution merges). A missing table is
    bootstrapped with ``df`` through one staged swap under the token taken
    before the read (``None``), so a concurrent creator fails it with
    :class:`ConcurrentWriteError`.

    Tiers (see the module docstring). When the registry's first
    ``timestamp_keys`` column ``t`` is a merge key, the merge touches only
    the hot tier: the new hot file is ``(hot ⟕anti df) ∪ df``, read from
    the hot files with the pinned schema, and the cold files are
    hardlinked into the staging directory. The batch's lowest ``t`` is
    read from the staged hot files' parquet footers after the write (one
    ``min`` aggregation over them when a footer has no exact minimum,
    e.g. INT96 timestamps); if a batch row is older than ``hot_from``,
    the staging directory is discarded and the whole table is
    rewritten, re-split at that time. The whole table is
    also rewritten, split at the batch's lowest ``t`` (one aggregation
    job over the batch), when there is no trusted tier record (the first
    merge after an overwrite, or an outside write), when deletion vectors
    are pending, when ``update_columns`` is set or the batch's columns do
    not match the pinned ones (one schema for every file), and when the
    hot files hold more bytes than the cold ones, which keeps a lagging
    ``hot_from`` from growing the hot tier without bound. Without such a
    ``t``, with ``partition_by``, or for another format, the merge is the
    plain whole-table rewrite with no tiers.
    """
    spark = df.sparkSession
    keys = list(keys)

    if HAS_DELTA:  # pragma: no cover
        if DeltaTable.isDeltaTable(spark, path):
            target = DeltaTable.forPath(spark, path)
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            merge = target.alias("t").merge(df.alias("s"), cond)
            if update_columns:
                merge = merge.whenMatchedUpdate(
                    set={c: f"s.{c}" for c in update_columns}
                )
            else:
                merge = merge.whenMatchedUpdateAll()
            merge.whenNotMatchedInsertAll().execute()
        else:
            _write(df, path, "delta", "overwrite", partition_by)
        if registry is not None:
            _write_sidecar(path, registry, df.schema)
        return

    def build(existing: DataFrame) -> DataFrame:
        incoming = df
        kept = existing.join(incoming.select(*keys), on=keys, how="left_anti")
        if not update_columns:
            return kept.unionByName(incoming, allowMissingColumns=True)
        # Matched rows: existing values except update_columns, which come
        # from the incoming side; unmatched incoming rows insert whole.
        upd = list(update_columns)
        matched = (
            existing.alias("t")
            .join(incoming.alias("s"), on=keys, how="inner")
            .select(
                *[F.col(f"t.{c}").alias(c) for c in existing.columns if c not in keys and c not in upd],
                *[F.col(f"s.{c}").alias(c) for c in upd],
                *[F.col(f"t.{k}").alias(k) for k in keys],
            )
        )
        unmatched_new = incoming.join(existing.select(*keys), on=keys, how="left_anti")
        return kept.unionByName(matched, allowMissingColumns=True).unionByName(
            unmatched_new, allowMissingColumns=True
        )

    generation = table_generation(path) if _generation is _FRESH else _generation
    live = read_sidecar(path)
    meta = live if registry is None else registry
    column = (meta.get("timestamp_keys") or [None])[0]
    split = None
    exists = os.path.isdir(path.removeprefix("file:"))
    if column in keys and fmt == "parquet" and not partition_by and exists:
        pin = live.get(READ_SCHEMA_KEY) or {}
        if not update_columns and _hot_tier_fits(path, pin, column, df.schema):
            try:
                _merge_hot_tier(df, path, keys, pin, meta, generation)
                return
            except _BelowHotTier as below:
                low = below.bound
        else:
            dtype = df.schema[column].dataType
            low = df.agg(F.min(_to_bound(F.col(column), dtype))).first()[0]
        if low is not None:  # None: no batch row has a time
            split = (column, low)

    if not rewrite_table(
        spark, path, fmt, build, partition_by=partition_by, registry=registry,
        split=split, _generation=generation,
    ):
        stage_and_swap(
            df, path, fmt, generation, partition_by, sized=False, registry=registry
        )


def _hot_tier_fits(path: str, pin: dict, column: str, schema: StructType) -> bool:
    """May a merge of a batch with ``schema`` rewrite only the hot tier of
    the table at ``path``? Only while the pin's tier record on ``column``
    describes the live files, no deletion vector is pending, every batch
    column has its pinned type, and the hot files are no bigger than the
    cold ones."""
    from databricks_demo_feature_store_spark.sources.deletion_vectors import dv_path

    tier, p = pin.get("tier"), path.removeprefix("file:")
    if not tier or tier["column"] != column or os.path.isdir(dv_path(p)):
        return False
    if data_file_listing(p) != pin["files"]:
        return False
    pinned = {f.name: f.dataType for f in StructType.fromJson(pin["schema"]).fields}
    if any(pinned.get(f.name) != f.dataType for f in schema.fields):
        return False
    sizes = dict(map(tuple, pin["files"]))
    hot = sum(sizes[name] for name in tier["hot"])
    return hot <= sum(sizes.values()) - hot


def compact(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_partitions: int | None = None,
    stats_columns: Sequence[str] | None = None,
    bloom_columns: Sequence[str] | None = None,
) -> None:
    """Post-write compaction (the reference runs Delta ``OPTIMIZE`` after
    every save — ``notebooks/utils.py:1762-1765``). For parquet, a
    :func:`rewrite_table` that coalesces to ``target_partitions`` files,
    by default to one file per scan split (the :func:`stage_and_swap`
    sizing rule). A missing table is left alone.

    The directory swap drops any ``_stats`` sidecar with the old files
    (stale stats can never survive a compaction); pass ``stats_columns``
    to re-harvest for the new layout in the same call.
    """
    if HAS_DELTA:  # pragma: no cover
        DeltaTable.forPath(spark, path).optimize().executeCompaction()
        return
    rewrite_table(
        spark, path, fmt,
        lambda df: df.coalesce(target_partitions) if target_partitions else df,
        sized=not target_partitions,
    )
    _refresh_stats(spark, path, fmt, stats_columns, bloom_columns)


@dataclass(frozen=True)
class CompactionPolicy:
    """Auto-compaction thresholds (the Delta auto-compaction /
    ``optimizeWrite`` policy twin, driven like the round-12
    drift-triggered index rebuild: measure → threshold → act).

    A table qualifies when at least ``min_small_files`` data files are
    smaller than ``small_file_bytes`` — the steady-state failure mode of
    append-heavy ingestion (every micro-batch lands a sliver; at 100 TB
    the file count, not the byte count, kills scan planning). The
    rewrite targets ``target_file_bytes`` per output file, and
    ``zorder_by`` additionally re-clusters along the Z-curve so the
    compaction that has to rewrite everything anyway also restores
    multi-column min/max pruning.
    """

    small_file_bytes: int = 32 << 20
    min_small_files: int = 8
    target_file_bytes: int = 128 << 20
    zorder_by: tuple[str, ...] | None = None
    zorder_bits: int = 16


def _tripped_sizes(path: str, policy: CompactionPolicy) -> list[int] | None:
    """Driver-side compaction pre-flight: the live data-file sizes when
    the policy's small-file trigger trips, else None. O(files) metadata,
    no Spark job."""
    from databricks_demo_feature_store_spark.sources.skipping import (
        _list_part_files,
    )

    sizes = [os.path.getsize(f) for f in _list_part_files(path.removeprefix("file:"))]
    small = sum(1 for s in sizes if s < policy.small_file_bytes)
    return sizes if sizes and small >= policy.min_small_files else None


def maybe_compact(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    policy: CompactionPolicy = CompactionPolicy(),
    stats_columns: Sequence[str] | None = None,
    bloom_columns: Sequence[str] | None = None,
) -> bool:
    """Policy-gated compaction: inspect the live file listing (driver-side
    metadata, O(files), no Spark job) and rewrite only when the policy
    trips. Returns whether a compaction ran.

    The decision is size-based, not sidecar-based, so it works on tables
    that never opted into stats. The rewrite is a :func:`rewrite_table`
    like :func:`compact`'s; with ``zorder_by`` it is a
    :func:`cluster_by_zorder` rewrite (one range exchange + local sort)
    instead of a plain coalesce."""
    sizes = _tripped_sizes(path, policy)
    if sizes is None:
        return False
    _compact_by_policy(spark, path, fmt, policy, sizes, stats_columns, bloom_columns)
    return True


def _compact_by_policy(
    spark: SparkSession,
    path: str,
    fmt: str,
    policy: CompactionPolicy,
    sizes: list[int],
    stats_columns: Sequence[str] | None,
    bloom_columns: Sequence[str] | None,
) -> None:
    """The policy's rewrite of a table whose live files have ``sizes``:
    ``ceil(total / target_file_bytes)`` output files."""
    import math

    n = max(1, math.ceil(sum(sizes) / policy.target_file_bytes))
    if policy.zorder_by:
        from databricks_demo_feature_store_spark.operators.layout import (
            cluster_by_zorder,
        )

        rewrite_table(
            spark, path, fmt,
            lambda df: cluster_by_zorder(
                df, list(policy.zorder_by), bits=policy.zorder_bits, num_partitions=n
            ),
            sized=False,
        )
        _refresh_stats(spark, path, fmt, stats_columns, bloom_columns)
    else:
        compact(
            spark, path, fmt, target_partitions=n,
            stats_columns=stats_columns, bloom_columns=bloom_columns,
        )
