"""Streaming operators over the events stream.

The reference has **no** streaming surface (SURVEY §2.9) — this module is
the engine's net-new scale path for event data: the same monthly-snapshot
semantics the reference computes in batch can be maintained incrementally,
and at 100 TB/day an incremental pipeline is the only affordable shape.

Design:

- **File source** (``readStream.parquet``) replays the testdata events
  table; in production the source becomes Kafka/Delta — the plan below the
  source is identical.
- **Watermarks** bound state: ``hourly_counts`` keeps at most
  ``watermark`` of open windows per key; late events beyond it are dropped
  (documented, late-data handling).
- **session_window** implements gap-based sessionization natively
  (the batch twin is ``q_ext_sessionize``'s lag+cumsum).
- **availableNow** trigger processes the whole backlog in bounded
  micro-batches then stops — this is how the driver (and tests) replay a
  static directory through the streaming engine deterministically.

State-store note: aggregations shuffle by grouping key into the state
store, so key skew maps to state skew; the session/user keys used here
are high-cardinality and uniform.

Micro-batch folds: every ``foreachBatch`` operator here (and
``textops/index_store.py upsert_stream``) drains through
:func:`drain_batches` — empty batches skipped, ``availableNow`` trigger,
an optional after-batch hook that runs before the checkpoint commit
(the fault-injection seam of the crash-replay tests).

Versioned state: the folds that keep their own state on disk (the
count-min sketch, the CDC table, the trailing moment state, the CDF join
and aggregate views) share ONE commit protocol. State lives in ``v<N>``
subdirectories, where N counts commits; each carries an ``_APPLIED``
marker (a ``_``-prefixed file, invisible to parquet readers) holding the
last stream position folded into it — the micro-batch id, or the source
version for CDF folds (−1 / the bootstrap version for an initial
snapshot). A commit (:func:`_commit_state`) writes ``_tmp_v<N>`` plus the
marker, publishes both with ONE ``os.rename`` to ``v<N>`` and then drops
``v<N-1>``: readers (:func:`_read_state`, always the newest ``v<N>``)
see the old version or the new one, never a partial write, and a
``_tmp_v<N>`` left by a crash is ignored and overwritten by the next
commit. Every fold skips a batch whose position is at or below the
marker, so a batch replayed after a crash between the state commit and
the checkpoint commit is a no-op instead of a double fold; maintenance
commits (:func:`vacuum_cdc_table`) carry the marker forward. Batch-id
state shares its checkpoint's lifetime: a FRESH checkpoint (batch ids
restart at 0) against old state would wrongly skip, so start both empty
together.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import itertools
import math
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, TimestampNTZType

_MEMORY_QUERY_IDS = itertools.count()

# ---------------------------------------------------------------------------
# Scale-adaptive streaming shuffle/state partitioning
# ---------------------------------------------------------------------------
# Streaming has no AQE: every stateful operator shuffles into exactly
# ``spark.sql.shuffle.partitions`` state partitions, and every micro-batch
# pays one task + one state-store commit (delta file + metadata) PER
# PARTITION regardless of how little data the batch carries. A constant
# sized for either local mode or the cluster is wrong at the other end
# (guide §2: derive partitioning from input size, don't hard-code), so the
# partition count is derived from the source's size: ~one partition per
# _STREAM_PARTITION_BYTES of input (32 MB), clamped to
# [1, 4 × defaultParallelism] so huge inputs still spread over the cluster
# without creating millions of state files. Correctness is unaffected —
# state partitioning never changes query results, and a fresh checkpoint is
# created per run (re-partitioning an EXISTING checkpoint is invalid).
_STREAM_PARTITION_BYTES = 32 << 20


def _source_bytes(*paths: str) -> int:
    """Total bytes under the given files/dirs/globs (0 for missing)."""
    total = 0
    for p in paths:
        matches = _glob.glob(p) if any(ch in p for ch in "*?[") else [p]
        for m in matches:
            if os.path.isdir(m):
                for root, _dirs, files in os.walk(m):
                    for f in files:
                        try:
                            total += os.path.getsize(os.path.join(root, f))
                        except OSError:
                            pass
            else:
                try:
                    total += os.path.getsize(m)
                except OSError:
                    pass
    return total


def stream_partitions(spark: SparkSession, nbytes: int) -> int:
    """Shuffle/state partition count for a stream fed by ``nbytes`` of
    source data: ceil(nbytes / target-bytes-per-partition), clamped to
    [1, 4 × defaultParallelism]."""
    cap = 4 * spark.sparkContext.defaultParallelism
    return max(1, min(math.ceil(nbytes / _STREAM_PARTITION_BYTES), cap))


@contextlib.contextmanager
def scaled_stream_partitions(spark: SparkSession, *paths: str, nbytes: int | None = None):
    """Set ``spark.sql.shuffle.partitions`` from the stream's source size
    for the duration of a bounded (availableNow) drain; restore after.

    Must wrap the WHOLE start → awaitTermination span: the streaming
    engine captures the partition count into the checkpoint's offset
    metadata asynchronously after ``start()`` returns."""
    if nbytes is None and not paths:
        # unknown source size (e.g. a non-file source whose plan text we
        # could not parse): leave the session's partitioning alone rather
        # than guessing small
        yield None
        return
    n = stream_partitions(spark, _source_bytes(*paths) if nbytes is None else nbytes)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _streaming_source_paths(result: DataFrame) -> list[str]:
    """Best-effort extraction of file-source paths from a streaming
    DataFrame's logical plan text (``FileSource[...]`` / ``FileStreamSource
    [...]``); empty when the plan has no parsable file source."""
    try:
        text = result._jdf.queryExecution().logical().toString()
    except Exception:
        return []
    # an un-started StreamingRelation prints its options as
    # ``Map(path -> <path>)``; the path may itself contain glob brackets
    # (our single-file sources read ``events.parque[t]``), so match up to
    # the Map entry's terminating ``,`` or ``)``
    return re.findall(r"path -> ([^,)\n]+)", text)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    Handles the TIMESTAMP(NANOS) parquet type the same way the batch
    ``queries.load`` does: read as epoch-nanos long, floor-divide to
    micros (Spark has no nanos timestamp type).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # The file stream source requires a directory basePath; a glob that
    # matches exactly the one file keeps basePath = sf_dir.
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parque[t]")
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # TIMESTAMP(NANOS) as epoch-nanos long → floor-divide to micros
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # TIMESTAMP(MICROS, no-UTC-adjust) → pure relabel under UTC session
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def hourly_counts(
    stream: DataFrame,
    watermark: str = "7 days",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts + exact value sums per window.

    The sum goes through DECIMAL so replaying the same data in any
    micro-batch order produces bit-identical doubles.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "7 days",
) -> DataFrame:
    """Native gap-based session windows per user.

    ``session_window`` merges events whose gaps are < ``gap``; the window
    end is last-event-time + gap (so downstream consumers read
    ``session_end - gap`` as the last activity)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_distinct_sketch(
    stream: DataFrame,
    key_col: str = "user_id",
    watermark: str = "7 days",
    window: str = "1 hour",
    rsd: float = 0.02,
) -> DataFrame:
    """Watermarked tumbling-window APPROXIMATE distinct count of
    ``key_col`` (HLL++, relative error ``rsd``) — the streaming cardinality
    profile. Exact ``COUNT(DISTINCT)`` is unsupported in streaming
    aggregations (it would need unbounded per-window value state);
    the sketch is the standard answer: fixed-size register state per
    window, merged across micro-batches, bounded by the watermark exactly
    like any windowed agg.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct(key_col, rsd).alias("approx_distinct"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "n_events",
            "approx_distinct",
        )
    )


def run_available_now(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Replay the stream's backlog with the availableNow trigger into an
    in-memory sink; block until done; return the sink as a batch frame.

    ``complete`` mode emits every window on the final micro-batch, so a
    bounded replay yields exactly the batch answer (append mode would hold
    back windows newer than the watermark — correct for unbounded streams,
    lossy for a finite replay).

    State partitioning is derived from the source's size (see
    ``scaled_stream_partitions``): a bounded replay of a small backlog
    must not pay a per-micro-batch state commit on every one of the
    session's batch shuffle partitions."""
    spark = result.sparkSession
    name = f"stream_result_{next(_MEMORY_QUERY_IDS)}"
    with scaled_stream_partitions(spark, *_streaming_source_paths(result)):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def stream_to_sink(
    result: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    fmt: str = "parquet",
):
    """Continuous sink: exactly-once parquet/delta append with checkpoint.
    Returns the StreamingQuery (caller owns its lifecycle)."""
    return (
        result.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def drain_batches(stream: DataFrame, checkpoint: str, fold, after_batch_hook=None):
    """Run ``fold(batch_df, batch_id)`` on every non-empty micro-batch of
    ``stream`` (foreachBatch — the streaming↔batch bridge, so the batch
    frame supports the full batch API), then ``after_batch_hook(batch_id)``
    when given, before the checkpoint commit. availableNow: drains the
    backlog and stops; returns the StreamingQuery (caller owns its
    lifecycle)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fold(batch_df, batch_id)
        if after_batch_hook is not None:
            after_batch_hook(batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_features_to_store(
    result: DataFrame,
    manager,
    spec,
    checkpoint: str,
):
    """Streaming feature materialization: every micro-batch MERGE-upserts
    into a feature table through the FeatureStoreManager (inside
    foreachBatch the batch frame supports the full writer surface, incl.
    schema-evolution policy).

    Exactly-once: the checkpoint tracks committed batches; the upsert is
    idempotent on the table's primary keys, so replays converge. Returns
    the StreamingQuery (caller owns its lifecycle)."""
    return drain_batches(
        result, checkpoint, lambda batch_df, _: manager.save(batch_df, spec, mode="merge")
    )


def windowed_category_counts(
    stream: DataFrame,
    column: str,
    watermark: str = "7 days",
    window: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming distribution monitor: per tumbling window, the count of
    each category of ``column`` — the state a live drift dashboard
    maintains. Feed completed windows into
    `validation.drift.psi_by_group` (batch, via `run_available_now` or a
    foreachBatch sink) to turn each window into a PSI point against a
    reference distribution. Chained streaming aggregations are
    unsupported in Spark, so the PSI fold itself is deliberately a
    batch finisher — the stream maintains only the (window, category)
    counts, whose state the watermark bounds exactly like any windowed
    agg. NULL categories count under '__null__' (a NULL-rate shift IS
    drift)."""
    cat = F.coalesce(F.col(column).cast("string"), F.lit("__null__"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), cat.alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "category",
            "n",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys,
    watermark: str = "7 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming deduplication with watermark-bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the event-time watermark passes — the only dedup shape
    that survives an unbounded stream (plain ``dropDuplicates`` grows
    state forever). First row per key is emitted immediately; later
    duplicates inside the watermark horizon are dropped. This is the
    streaming twin of ``textops.dedup.exact_dedup`` for ingestion-time
    dedup (at-least-once sources deliver repeats by design).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    lower_seconds: float = 0.0,
    upper_seconds: float = 3600.0,
    watermark: str = "7 days",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right events landing within
    ``[left_ts + lower, left_ts + upper]`` of a left event, per key.

    Both sides carry watermarks and the join condition bounds event time
    on BOTH columns, so the state store can evict rows once they can no
    longer match (the range condition is what makes stream-stream join
    state finite). The streaming twin of ``operators.joins.interval_join``;
    ``left_ts``/``right_ts`` must be distinct names so the output is
    unambiguous.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (rw[right_ts] >= lw[left_ts]
         + F.expr(f"INTERVAL {int(lower_seconds * 1000)} MILLISECOND"))
        & (rw[right_ts] <= lw[left_ts]
           + F.expr(f"INTERVAL {int(upper_seconds * 1000)} MILLISECOND"))
    )
    for k in on:
        cond = cond & (lw[k] == rw[k])
    out = lw.join(rw, on=cond, how=how)
    for k in on:
        out = out.drop(rw[k])
    return out


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    (batch) dimension table. No watermark or state store is involved —
    the static side is re-planned per micro-batch, so a slowly-changing
    dimension backed by a table picks up updates between batches. The
    broadcast hint keeps it a map-side hash join (no shuffle of the
    stream); drop it only if the dimension is too big to broadcast, in
    which case pre-bucket both sides on the key instead.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=list(on), how=how)


def sliding_counts(
    stream: DataFrame,
    watermark: str = "7 days",
    window: str = "2 hours",
    slide: str = "1 hour",
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Watermarked SLIDING-window counts: each event lands in
    window/slide overlapping windows (2h/1h → 2), giving smoothed
    trailing aggregates with updates each slide period — the third
    window family next to tumbling (:func:`hourly_counts`) and session
    (:func:`sessionize`). ``key_cols`` adds grouping keys next to the
    window (per-user sliding counts, etc.); empty → global windows only.
    State per (key, window) is bounded by the watermark exactly as for
    tumbling windows; the fan-out factor is window/slide, fixed at plan
    time."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), *list(key_cols))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *list(key_cols),
            "n_events",
            "sum_value",
        )
    )


def stream_ingest_corpus_dedup(
    spark: SparkSession,
    input_path: str,
    corpus_path: str,
    checkpoint: str,
    schema: str = "text string",
    text_field: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_witnesses: int | None = 64,
    after_append_hook=None,
):
    """Continuous-crawl ingestion with INCREMENTAL dedup: a file stream
    of newly arrived JSONL documents where each micro-batch is deduplicated
    (a) against itself and (b) against the STANDING corpus — without the
    corpus ever self-joining — and only the survivors append to the
    corpus. The composition every large-scale crawl pipeline needs:
    dedup cost per batch is O(batch × matched buckets), never
    O(corpus²) or a corpus re-pair.

    Per micro-batch (foreachBatch — the streaming↔batch bridge, so the
    full dedup library applies):

    1. ``doc_id`` = portable 60-bit content hash → exact duplicates
       (within the batch AND vs re-arrivals) collapse deterministically.
    2. Batch-internal near-dups: :func:`minhash_dedup_pairs` on the
       batch alone; any doc with a smaller-id near-dup partner drops
       (greedy min-id representative — transitive chains collapse to
       the smallest member kept in step order).
    3. Cross-corpus: :func:`cross_corpus_dedup_pairs` flags batch docs
       near-duplicating the standing corpus (banded equi-join with the
       deterministic per-bucket witness cap); flagged docs drop.
    4. Survivors append to ``corpus_path`` (parquet).

    Exactly-once UNDER CRASH, not just under replay: the checkpoint
    tracks processed input files, and a batch replayed after a crash
    between the corpus append and the checkpoint commit is neutralized
    by an EXPLICIT exact ``doc_id`` anti-join against the standing
    corpus (step 3a below) — the near-dup banding alone would usually
    catch the re-arrival too, but its deterministic per-bucket witness
    cap can exclude the exact twin on a hot bucket, so idempotence must
    not depend on it. ``after_append_hook`` is :func:`drain_batches`'
    after-batch hook (runs after the corpus append, before the
    checkpoint commit). At warehouse scale, persist the corpus MinHash
    band table alongside the corpus and feed it to the cross step
    instead of re-deriving signatures from text (the operator reads the
    corpus per batch here for self-containedness). Returns the
    StreamingQuery.
    """
    from databricks_demo_feature_store_spark.textops.dedup import (
        cross_corpus_dedup_pairs,
        minhash_dedup_pairs,
        portable_hash_col,
        with_shingle_hashes,
    )

    stream = spark.readStream.schema(schema).json(input_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        # hash the batch text ONCE into the checkpointed frame: batch-side
        # signatures, LSH verification and the cross-corpus step all reuse
        # __hs (previously three separate md5 passes over the same text)
        batch = with_shingle_hashes(
            batch_df.filter(F.col(text_field).isNotNull())
            .select(
                portable_hash_col(F.col(text_field), seed="corpus").alias("doc_id"),
                F.col(text_field).alias("text"),
            )
            .dropDuplicates(["doc_id"]),
            "text",
            3,
            "__hs",
        ).localCheckpoint(eager=True)  # several consumers below
        pairs = minhash_dedup_pairs(
            batch,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            hashes_col="__hs",
        )
        # greedy min-id representative: drop the larger side of each pair
        drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        batch = batch.join(drop, on="doc_id", how="left_anti")
        from pyspark.errors import AnalysisException

        try:
            corpus = spark_b.read.parquet(corpus_path)
            have_corpus = True
        except AnalysisException:
            # first batch only: the corpus path does not exist yet. ONLY
            # the analysis-time miss is caught — a transient read error
            # must FAIL the batch (and replay), not silently skip the
            # cross-corpus dedup and admit duplicates forever
            have_corpus = False
        if have_corpus:
            # 3a: exact re-arrivals (incl. a crash-replayed batch's own
            # earlier append) drop by id — idempotence never rides on the
            # witness-capped near-dup path
            batch = batch.join(
                corpus.select("doc_id"), on="doc_id", how="left_anti"
            )
            flagged = cross_corpus_dedup_pairs(
                batch,
                corpus,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                max_bucket_witnesses=max_bucket_witnesses,
                batch_hashes_col="__hs",
            ).select(F.col("id_batch").alias("doc_id")).distinct()
            batch = batch.join(flagged, on="doc_id", how="left_anti")
        batch.drop("__hs").write.mode("append").parquet(corpus_path)

    return drain_batches(stream, checkpoint, ingest, after_append_hook)


_APPLIED = "_APPLIED"


def _state_head(path: str) -> tuple[int, int] | None:
    """``(version, applied)`` of the newest committed ``v<N>`` under
    ``path`` (see "Versioned state" in the module docstring), or ``None``
    when nothing has committed yet. A ``v<N>`` without its marker raises:
    no commit leaves one."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return None
    versions = [int(n[1:]) for n in names if re.fullmatch(r"v\d+", n)]
    if not versions:
        return None
    version = max(versions)
    with open(os.path.join(path, f"v{version}", _APPLIED)) as fh:
        return version, int(fh.read())


def _read_state(
    spark: SparkSession, path: str, head: tuple[int, int] | None = None
) -> DataFrame:
    """The committed state at ``head`` (default: the newest version)."""
    head = head or _state_head(path)
    if head is None:
        raise FileNotFoundError(f"state at {path} not initialized: no committed version")
    return spark.read.parquet(os.path.join(path, f"v{head[0]}"))


def _commit_state(
    df: DataFrame, path: str, applied: int, head: tuple[int, int] | None
) -> None:
    """Commit ``df`` as the version after ``head`` with marker ``applied``:
    staging write, one rename, then drop the superseded version."""
    version = 0 if head is None else head[0] + 1
    staging = os.path.join(path, f"_tmp_v{version}")
    df.write.mode("overwrite").parquet(staging)  # clears a crashed staging dir
    with open(os.path.join(staging, _APPLIED), "w") as fh:
        fh.write(str(int(applied)))
    os.rename(staging, os.path.join(path, f"v{version}"))
    if head is not None:
        shutil.rmtree(os.path.join(path, f"v{head[0]}"), ignore_errors=True)


def read_count_min_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The latest committed sketch maintained by :func:`stream_count_min`."""
    return _read_state(spark, sketch_path)


def _merge_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    sketch_path: str,
    col: str,
    depth: int,
    width: int,
    seed: int | str,
) -> bool:
    """Merge one micro-batch's cell counts into the standing sketch and
    commit it (versioned state, module docstring). Returns ``False`` when
    the batch was already applied — the crash-replay case."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        merge_aggregate_state,
    )
    from databricks_demo_feature_store_spark.operators.sketches import (
        count_min_sketch,
    )

    head = _state_head(sketch_path)
    if head and head[1] >= batch_id:
        return False
    cells = count_min_sketch(batch_df, col, depth=depth, width=width, seed=seed)
    if head:
        standing = _read_state(batch_df.sparkSession, sketch_path, head)
        cells = merge_aggregate_state(standing, cells, ["row_idx", "bucket"])
    # the sketch is tiny (<= depth*width rows): one file
    _commit_state(cells.coalesce(1), sketch_path, batch_id, head)
    return True


def stream_count_min(
    spark: SparkSession,
    input_path: str,
    sketch_path: str,
    checkpoint: str,
    col: str = "text",
    schema: str = "text string",
    depth: int = 4,
    width: int = 256,
    seed: int | str = 0,
):
    """Continuously maintain a Count–Min frequency sketch over a file
    stream of arriving records: per micro-batch, the batch's cell counts
    MERGE into the standing sketch by cell-sum (the CMS mergeability
    property — `operators/sketches.py count_min_sketch`), so the state
    on disk stays ≤ depth·width rows forever while summarizing an
    unbounded stream. The always-overestimate point-query guarantee
    holds at every instant.

    foreachBatch read-merge-commit on a ≤ depth·width-row parquet — the
    rewrite cost is CONSTANT per batch regardless of history (this is
    the smallest possible streaming state: the sketch IS the aggregate).
    Exactly-once under crash through the versioned-state protocol (module
    docstring); read the standing sketch with
    :func:`read_count_min_sketch`. Returns the StreamingQuery.
    """
    return drain_batches(
        spark.readStream.schema(schema).json(input_path),
        checkpoint,
        lambda batch_df, batch_id: _merge_cms_batch(
            batch_df, batch_id, sketch_path, col, depth, width, seed
        ),
    )


def init_cdc_table(snapshot: DataFrame, table_path: str) -> None:
    """Bootstrap a CDC-maintained table from an initial snapshot: version
    ``v0`` with applied marker −1 (versioned state, module docstring).
    Initial rows get sequence −1 — every real change (sequences must be
    ≥ 0) supersedes them."""
    _commit_state(
        snapshot.select(
            "*",
            F.lit(-1).cast("long").alias("__seq"),
            F.lit(False).alias("__deleted"),
        ),
        table_path,
        -1,
        None,
    )


def read_cdc_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the latest committed state of a CDC-maintained table (live
    rows only — tombstones and the sequence watermark are internal)."""
    state = _read_state(spark, table_path)
    return state.filter(~F.col("__deleted")).drop("__seq", "__deleted")


def stream_apply_changes(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint: str,
    keys: Sequence[str],
    sequence_col: str,
    schema: str,
    op_col: str = "op",
    delete_op: str = "D",
    after_commit_hook=None,
):
    """Streaming MERGE INTO: a file stream of CDC change records
    (upserts + deletes with a per-key monotone ``sequence_col``)
    continuously maintained into a snapshot table — the streaming twin
    of ``operators/cdc.py apply_changes`` and of the reference's Delta
    MERGE loop (``notebooks/utils.py:1748-1758``), with two guarantees
    that loop does not have:

    - **Exactly-once under crash**: each post-batch state is a versioned
      commit (module docstring); a batch replayed after a crash between
      the state commit and the checkpoint commit SKIPS instead of
      re-applying.
    - **Out-of-order safety ACROSS batches**: every stored row carries
      its winning ``__seq``; per batch, stored rows and the batch's
      per-key max_by finals union into ONE hash aggregation whose
      max_by-by-sequence winner is kept — a late-arriving batch with
      older sequences can never overwrite newer state. Deletes persist
      as TOMBSTONES (``__deleted`` rows holding the delete's sequence),
      so a stale update arriving after a delete stays dead; at warehouse
      scale tombstones are vacuumed once the source's out-of-order
      horizon passes.

    ``after_commit_hook`` is :func:`drain_batches`' after-batch hook
    (after the state commit, before the checkpoint commit).

    Sequences must be ≥ 0 (init rows use −1) and unique per key across
    the whole stream. The per-batch rewrite here is whole-table (like
    the reference's MERGE on a small feature table); a 100 TB target
    pairs the same winner-aggregation with a partition-pruned writer so
    only partitions holding touched keys rewrite. Read the maintained
    table with :func:`read_cdc_table`. Returns the StreamingQuery.
    """
    keys = list(keys)
    stream = spark.readStream.schema(schema).json(input_path)
    payload = [
        c for c in stream.columns
        if c not in keys and c not in (sequence_col, op_col)
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        head = _state_head(table_path)
        if head and head[1] >= batch_id:
            return  # replay after a post-commit crash: already applied
        cand = F.struct(
            F.col(op_col).alias("__op"),
            F.col(sequence_col).cast("long").alias("__seq"),
            *[F.col(c) for c in payload],
        )
        finals = batch_df.groupBy(*keys).agg(
            F.max_by(cand, F.col(sequence_col)).alias("__cand"),
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.col(sequence_col)).alias("__nseq"),
            F.count(F.col(op_col)).alias("__nop"),
        )
        # same two contract guards as batch apply_changes: a NULL op
        # would make the later `__op == delete_op` comparison NULL and
        # silently tombstone the key, so raise in the same aggregation
        unioned = finals.select(
            *keys,
            F.when(
                F.col("__n") != F.col("__nseq"),
                F.raise_error(
                    F.lit("stream_apply_changes: duplicate (keys, sequence) in batch")
                ),
            ).when(
                F.col("__nop") != F.col("__n"),
                F.raise_error(
                    F.lit(f"stream_apply_changes: NULL {op_col} in batch")
                ),
            ).otherwise(F.col("__cand")).alias("__cand"),
        )
        if head:
            stored = _read_state(batch_df.sparkSession, table_path, head)
            missing = [c for c in payload if c not in stored.columns]
            if missing:
                raise ValueError(
                    "stream_apply_changes: stored table is missing payload "
                    f"columns {missing} — the stream schema and the table "
                    "bootstrapped by init_cdc_table must agree"
                )
            unioned = unioned.unionByName(
                stored.select(
                    *keys,
                    F.struct(
                        F.when(F.col("__deleted"), F.lit(delete_op))
                        .otherwise(F.lit("U")).alias("__op"),
                        F.col("__seq"),
                        *[F.col(c) for c in payload],
                    ).alias("__cand"),
                )
            )
        winners = unioned.groupBy(*keys).agg(
            F.max_by(F.col("__cand"), F.col("__cand.__seq")).alias("__w")
        )
        new_state = winners.select(
            *keys,
            *[F.col("__w").getField(c).alias(c) for c in payload],
            F.col("__w.__seq").alias("__seq"),
            (F.col("__w.__op") == F.lit(delete_op)).alias("__deleted"),
        )
        _commit_state(new_state, table_path, batch_id, head)

    return drain_batches(stream, checkpoint, apply_batch, after_commit_hook)


def vacuum_cdc_table(spark: SparkSession, table_path: str, horizon_seq: int) -> int:
    """Tombstone GC for a :func:`stream_apply_changes` table: drop delete
    tombstones whose sequence is ≤ ``horizon_seq`` — the caller's promise
    that no change with a sequence at or below the horizon can still
    arrive (the source's out-of-order horizon, e.g. the CDC log's oldest
    retained LSN). Tombstones ABOVE the horizon are kept: they are still
    guarding against reorderable stale updates. Returns the number of
    tombstones removed.

    The vacuum is a versioned commit (module docstring) that carries the
    applied marker forward, so the stream's replay-skip check is
    untouched by interleaved maintenance commits.
    """
    head = _state_head(table_path)
    cur = _read_state(spark, table_path, head)
    dead = F.col("__deleted") & (F.col("__seq") <= F.lit(int(horizon_seq)))
    n_dead = cur.filter(dead).count()
    if n_dead:
        _commit_state(cur.filter(~dead), table_path, head[1], head)
    return n_dead


def read_trailing_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Latest committed per-(keys, bucket) moment state maintained by
    :func:`stream_trailing_state`."""
    return _read_state(spark, state_path)


def stream_trailing_state(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    checkpoint: str,
    keys: Sequence[str],
    event_time: str,
    value_col: str,
    schema: str,
    bucket: str = "day",
    scale: int = 2,
    after_commit_hook=None,
    hist: tuple[float, float, int] | None = None,
):
    """Continuously maintain the per-(keys, time-bucket) moment state
    that serves trailing-window aggregate features ONLINE — the
    Feast/Tecton freshness story: each arriving micro-batch folds into
    per-bucket (count, exact DECIMAL sum, sum-of-squares) state via the
    ``featurestore/incremental.py`` monoid merge, so maintenance is
    O(batch) + one state rewrite, never a rescan of event history, and
    serving a trailing window is a bucket-range sum
    (:func:`trailing_features_from_state`) instead of an event scan.
    ``hist=(lo, hi, nbins)`` additionally maintains per-bucket fixed-bin
    histogram counts next to the moments, the mergeable state
    :func:`trailing_quantile_from_state` serves from.

    Because each bucket's state is a commutative monoid, the streamed
    state is BIT-IDENTICAL to a single batch aggregation of all events —
    which makes features served from it value-identical to the batch
    ``trailing_window_features`` recompute over raw events (the
    ``q_stream_trailing_features`` oracle proves exactly this).

    Exactly-once under crash through the versioned-state protocol
    (module docstring); ``after_commit_hook`` is :func:`drain_batches`'
    after-batch hook. State size is O(keys × active buckets); at real
    scale the state table is partitioned by bucket so the rewrite
    touches only buckets present in the batch. Returns the
    StreamingQuery.
    """
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        merge_aggregate_state,
    )

    gcols = [*keys, "bucket_start"]
    stream = spark.readStream.schema(schema).json(input_path)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        head = _state_head(state_path)
        if head and head[1] >= batch_id:
            return  # replay after a post-commit crash: already merged
        b = batch_df.withColumn(
            "bucket_start", F.date_trunc(bucket, F.col(event_time).cast("timestamp"))
        )
        # moments and bin counts in ONE hash aggregation
        state = aggregate_state(b, gcols, value_col, scale, hist=hist)
        if head:
            standing = _read_state(batch_df.sparkSession, state_path, head)
            state = merge_aggregate_state(standing, state, gcols)
        _commit_state(state, state_path, batch_id, head)

    return drain_batches(stream, checkpoint, merge, after_commit_hook)


def trailing_features_from_state(
    state: DataFrame,
    spine: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    window_expr: str | None = None,
    sum_col: str = "spend",
    count_col: str = "n_events",
    bucket: str = "day",
    scale: int = 2,
    windows: Sequence[tuple[str, str]] | None = None,
) -> DataFrame:
    """Serve trailing-window features from the streamed bucket state:
    per spine row, the sum/count of events in ``[t - window, t)`` — the
    half-open leakage-safe convention of ``trailing_window_features`` —
    computed by summing bucket states instead of scanning events. Rides
    the same one-shuffle prefix-sum anchor-carry core (buckets ARE
    pre-aggregated events at their bucket-start instants).

    Pass ``window_expr`` for one window (unsuffixed outputs), or
    ``windows`` as ``(suffix, interval)`` pairs to serve N horizons
    (7d/28d/90d…) from the SAME state in the SAME single shuffle —
    outputs ``{sum_col}_{suffix}`` / ``{count_col}_{suffix}`` (the
    ``trailing_multi_window_features`` cost model: each extra window
    adds one spine-sized anchor row, never another pass).

    Exact ONLY for bucket-aligned spine timestamps and windows (a spine
    instant inside a bucket would need a partial-bucket split the state
    no longer holds); misaligned spine rows raise at execution rather
    than silently over-counting.
    """
    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_multi_window_features,
        trailing_window_features,
    )

    if (window_expr is None) == (windows is None):
        raise ValueError(
            "trailing_features_from_state: pass exactly one of window_expr "
            "(single window) or windows ((suffix, interval) pairs)"
        )
    keys = list(keys)
    ts = F.col(spine_time).cast("timestamp")
    aligned_spine = spine.withColumn(
        spine_time,
        F.when(F.date_trunc(bucket, ts) == ts, ts).otherwise(
            F.raise_error(
                F.lit(
                    "trailing_features_from_state: spine timestamps must be "
                    f"{bucket}-aligned to serve exactly from {bucket} buckets"
                )
            )
        ),
    )
    ev = state.select(*keys, "bucket_start", "s", F.col("n").cast("double").alias("__nd"))
    common = dict(
        keys=keys,
        spine_time=spine_time,
        event_time="bucket_start",
        sum_cols=[(sum_col, "s"), (f"__{count_col}", "__nd")],
        scale=scale,
    )
    if windows is None:
        out = trailing_window_features(
            aligned_spine, ev, window_expr=window_expr, **common
        )
        count_names = [f"__{count_col}"]
        renames = {f"__{count_col}": count_col}
    else:
        windows = list(windows)
        out = trailing_multi_window_features(
            aligned_spine, ev, windows=windows, **common
        )
        count_names = [f"__{count_col}_{sfx}" for sfx, _ in windows]
        renames = {
            f"__{count_col}_{sfx}": f"{count_col}_{sfx}" for sfx, _ in windows
        }
    return out.select(
        *[c for c in out.columns if c not in count_names],
        *[F.col(old).cast("long").alias(new) for old, new in renames.items()],
    )


def trailing_quantile_from_state(
    state: DataFrame,
    spine: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    window_expr: str,
    probs: dict[str, float],
    lo: float,
    hi: float,
    nbins: int,
    bucket: str = "day",
    round_to: int = 6,
) -> DataFrame:
    """Quantile-type trailing features from the streamed HISTOGRAM
    state (``stream_trailing_state(..., hist=(lo, hi, nbins))``): per
    spine row, the histogram-quantile estimate of each requested prob
    over events in ``[t - window, t)`` — trailing p50/p90 spend/latency,
    the aggregation feature type moment state cannot serve. The nbins
    bin counts ride the ONE anchor-carry shuffle as N conditional
    measures (the multi-measure path built for exactly this); the
    estimator (`quantile_from_hist`) is exact GIVEN the bins, so it is
    oracle-checkable end-to-end; estimation error vs the true quantile
    is bounded by one bin width. Empty windows give NULL quantiles (an
    empty window has no distribution — unlike sums, 0 would be a lie).
    Same bucket-alignment contract as :func:`trailing_features_from_state`.
    """
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        quantile_from_hist,
    )
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_window_features,
    )

    keys = list(keys)
    nbins = int(nbins)
    ts = F.col(spine_time).cast("timestamp")
    aligned_spine = spine.withColumn(
        spine_time,
        F.when(F.date_trunc(bucket, ts) == ts, ts).otherwise(
            F.raise_error(
                F.lit(
                    "trailing_quantile_from_state: spine timestamps must be "
                    f"{bucket}-aligned to serve exactly from {bucket} buckets"
                )
            )
        ),
    )
    ev = state.select(
        *keys,
        "bucket_start",
        *[F.col(f"hist_{i}").cast("double").alias(f"__h{i}") for i in range(nbins)],
    )
    served = trailing_window_features(
        aligned_spine,
        ev,
        keys=keys,
        spine_time=spine_time,
        event_time="bucket_start",
        window_expr=window_expr,
        sum_cols=[(f"__hb_{i}", f"__h{i}") for i in range(nbins)],
        scale=0,
    )
    out_cols = [c for c in served.columns if not c.startswith("__hb_")]
    qcols = [
        dround(
            quantile_from_hist(p, lo, hi, nbins, prefix="__hb"), round_to
        ).alias(name)
        for name, p in probs.items()
    ]
    return served.select(*out_cols, *qcols)


def watermark_progress_metrics(query) -> list[dict]:
    """Per-batch watermark / late-data observability harvested from a
    finished run's ``StreamingQueryProgress`` — the numbers Spark already
    tracks but availableNow replays normally discard: rows the stateful
    operator DROPPED because their window closed behind the watermark
    (``numRowsDroppedByWatermark``), the watermark the batch was planned
    with (drops are decided against the watermark at batch START; the
    post-batch advance shows up in the trailing zero-input batch), and
    the batch's max observed event time.

    Returns one dict per batch of THIS run (a fresh query object's
    ``recentProgress`` covers exactly its own batches):
    ``batch_id / input_rows / late_dropped / watermark / max_event``
    (timestamps as Spark's ISO-ms strings, or None before any data).
    Drop semantics (verified empirically, round 13) depend on what the
    stateful operator's input rows ARE: a per-event operator
    (``dropDuplicatesWithinWatermark``) drops and counts EVENTS with
    event time < the batch-start watermark; a windowed aggregation
    receives partially-aggregated rows, so it drops rows whose WINDOW
    END <= the watermark and the count is in post-partial-agg units
    (≈ windows × input partitions), not events. For event-exact late
    accounting, meter through a per-event operator. The watermark
    itself advances to ``ms_trunc(max event time seen) - delay``.
    """
    rows = []
    for p in query.recentProgress:
        et = p.get("eventTime") or {}
        so = p.get("stateOperators") or []
        rows.append(
            {
                "batch_id": int(p["batchId"]),
                "input_rows": int(p.get("numInputRows", 0) or 0),
                "late_dropped": int(
                    (so[0].get("numRowsDroppedByWatermark", 0) or 0) if so else 0
                ),
                "watermark": et.get("watermark"),
                "max_event": et.get("max"),
            }
        )
    return rows


# ---------------------------------------------------------------------------
# Streaming CDF source → incremental materialized view (the DLT pattern)
# ---------------------------------------------------------------------------


def init_cdf_view(view_df: DataFrame, view_path: str, source_version: int) -> None:
    """Bootstrap the materialized view: the FULL join computed at
    ``source_version`` of the fact table, committed with that version as
    its applied marker. The stream then folds only commits newer than
    this version."""
    if _state_head(view_path) is not None:
        raise FileExistsError(f"CDF view already initialized at {view_path}")
    _commit_state(view_df, view_path, source_version, None)


def read_cdf_view(spark: SparkSession, view_path: str) -> DataFrame:
    return _read_state(spark, view_path)


_COMMITS_SCHEMA = "version long, timestamp string, operation string"


def stream_cdf_ivm(
    spark: SparkSession,
    versioned,
    view_path: str,
    checkpoint: str,
    key: str,
    other: DataFrame,
    on,
):
    """Continuously maintain a materialized join view from a versioned
    table's change feed — the full Delta Live Tables pattern (CDF →
    incremental MV) as a STREAM, upgrading the batch
    ``featurestore/incremental.py refresh_join_view_from_cdf`` to
    continuous operation.

    Source: a Structured Streaming FILE SOURCE over the table's commit
    log (``VersionedTable`` writes one tiny atomic marker per commit
    under ``_commits/`` — the Delta ``_delta_log`` twin), so a version
    commit IS the micro-batch trigger; no polling loop, checkpointed
    offsets, availableNow drains the backlog and stops.

    Per micro-batch the fold is SPAN-SHAPED: whatever backlog of commit
    markers the batch carries, the view refresh computes ONE
    ``changes_between(applied, max_version)`` diff (one full-outer key
    join) and ONE keyed view refresh (broadcast anti-join +
    delta-sized re-join) — a 10-commit backlog costs the same jobs as a
    1-commit backlog, and the view's history is never rescanned.

    Exactly-once: the view is versioned state (module docstring) whose
    applied marker is the source version, so a batch replayed after a
    crash between view commit and checkpoint commit — or re-delivered by
    a fresh checkpoint — sees ``max_version <= applied`` and skips. Only
    the max commit version is collected to the driver (the data path
    stays distributed). Vacuum interplay: the fact table must retain at
    least the last applied version (``vacuum(keep_last=...)`` deeper
    than the stream's worst lag), or the span diff loses its base
    snapshot.
    """
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        cdf_deltas,
        refresh_join_view,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        v_max = batch_df.agg(F.max("version")).first()[0]
        head = _state_head(view_path)
        if head and head[1] >= v_max:
            return  # replay after post-commit crash, or bootstrap marker
        view = _read_state(batch_df.sparkSession, view_path, head)
        # pin the span diff once: cdf_deltas fans it out to three plan
        # consumers, each of which would re-run the full-outer version
        # join (see refresh_join_view_from_cdf); the feed is delta-sized.
        # Reliability trade (ADVICE r14): localCheckpoint truncates
        # lineage into executor-local blocks, so on executor loss the
        # batch cannot be recomputed and the stream fails — fine for
        # local/demo scale; a long-running cluster stream should prefer
        # reliable checkpointing or recompute.
        changes = versioned.changes_between(head[1], v_max, [key]).localCheckpoint(
            eager=True
        )
        delta, deletes = cdf_deltas(changes, key)
        refreshed = refresh_join_view(
            view, delta, other, on=on, replace_key=key, deletes=deletes
        )
        _commit_state(refreshed, view_path, v_max, head)

    stream = spark.readStream.schema(_COMMITS_SCHEMA).json(versioned.commits_path())
    return drain_batches(stream, checkpoint, fold)


def stream_cdf_agg_ivm(
    spark: SparkSession,
    versioned,
    state_path: str,
    checkpoint: str,
    id_keys: Sequence[str],
    agg_keys: Sequence[str],
    value_col: str,
    scale: int = 2,
):
    """The AGGREGATE-state twin of :func:`stream_cdf_ivm`: continuously
    fold a versioned fact table's change feed into persisted per-key
    moment state (n / exact-DECIMAL s / s2), completing the streamed DLT
    pattern for both materialized-view kinds (join views AND aggregate
    views). Same commit-marker file source, same span-shaped fold (one
    ``changes_between(applied, max)`` however deep the backlog), same
    versioned state; deletes subtract and updates re-price because
    pre-images fold with negated cells (``cdf_aggregate_delta`` — the
    invertible-monoid half of aggregate IVM). State is ≤ one row per
    key, so each commit is O(changed rows + keys), never O(fact
    history). Bootstrap with :func:`init_cdf_view` over
    ``aggregate_state(fact@v0)``; read with :func:`read_cdf_view`;
    finalize with ``finalize_aggregates``.
    """
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        refresh_aggregate_state_from_cdf,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        v_max = batch_df.agg(F.max("version")).first()[0]
        head = _state_head(state_path)
        if head and head[1] >= v_max:
            return  # replay after post-commit crash, or bootstrap marker
        refreshed = refresh_aggregate_state_from_cdf(
            _read_state(batch_df.sparkSession, state_path, head), versioned,
            id_keys=id_keys, agg_keys=agg_keys,
            value_col=value_col, scale=scale, v_from=head[1], v_to=v_max,
        )
        _commit_state(refreshed, state_path, v_max, head)

    stream = spark.readStream.schema(_COMMITS_SCHEMA).json(versioned.commits_path())
    return drain_batches(stream, checkpoint, fold)


def ohlc_bars_stream(
    stream: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tie_col: str = "event_id",
    bucket: str = "1 day",
    watermark: str = "7 days",
) -> DataFrame:
    """Streaming OHLC bars: the continuous twin of
    ``operators/timeseries.py ohlc_bars`` — the same ONE watermarked
    windowed aggregation (min_by/max_by open/close on the (ts, tie)
    total order, DECIMAL volume), so replaying the ticks in any
    micro-batch order produces bit-identical bars to the batch
    operator. State is one partial bar per (entity, window), evicted by
    the watermark; late ticks inside the watermark fold into their bar
    exactly like on-time ones.
    """
    key = F.struct(F.col(ts_col), F.col(tie_col))
    return (
        stream.filter(F.col(value_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.col(entity_col),
            F.window(F.col(ts_col), bucket).alias("w"),
        )
        .agg(
            F.min_by(F.col(value_col), key).alias("open_value"),
            F.max(F.col(value_col)).alias("high_value"),
            F.min(F.col(value_col)).alias("low_value"),
            F.max_by(F.col(value_col), key).alias("close_value"),
            F.count(F.col(value_col)).alias("n_ticks"),
            F.sum(F.col(value_col).cast("decimal(38,6)")).alias("__sum_dec"),
        )
        .select(
            entity_col,
            F.col("w.start").alias("bar_start"),
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_ticks",
            F.col("__sum_dec").cast("double").alias("sum_value"),
            (F.col("__sum_dec").cast("double") / F.col("n_ticks")).alias(
                "mean_value"
            ),
        )
    )
