"""Tests for the Structured Streaming surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.streaming import (
    hourly_counts,
    read_events_stream,
    run_available_now,
    sessionize_stream,
    stream_to_sink,
)

SF = "/root/testdata/sf0.001"


def test_stream_matches_batch_hourly(spark):
    from databricks_demo_feature_store_spark.queries import load

    streamed = run_available_now(hourly_counts(read_events_stream(spark, SF)))
    batch = (
        load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_stream_sessionize_gap_semantics(spark):
    out = run_available_now(sessionize_stream(read_events_stream(spark, SF)))
    assert out.columns == ["user_id", "session_start", "session_end", "n_events"]
    # session end is last-event + gap → every session spans >= 30 minutes
    spans = out.select(
        (F.unix_micros("session_end") - F.unix_micros("session_start")).alias("us")
    )
    assert spans.filter(F.col("us") < 30 * 60 * 1_000_000).count() == 0
    # no user has two overlapping sessions
    other = out.select([F.col(c).alias(f"b_{c}") for c in out.columns])
    overlap = out.join(
        other,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("session_start") < F.col("b_session_start"))
        & (F.col("b_session_start") < F.col("session_end")),
    )
    assert overlap.count() == 0


def test_stream_file_sink_roundtrip(spark, tmp_path):
    result = hourly_counts(read_events_stream(spark, SF))
    q = stream_to_sink(
        result.withColumn("sum_value", F.col("sum_value")),
        path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    # append mode only emits watermark-closed windows; for a bounded replay
    # we just assert the query runs and terminates cleanly
    q.processAllAvailable()
    q.stop()
    assert (tmp_path / "ckpt").exists()


def test_stateful_user_stats_matches_batch(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming.stateful import (
        finalize_user_stats,
        stateful_user_stats,
    )

    emissions = run_available_now(
        stateful_user_stats(read_events_stream(spark, SF)), output_mode="update"
    )
    final = finalize_user_stats(emissions)
    batch = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("ts").alias("last_ts"),
        )
    )
    assert {tuple(r) for r in final.collect()} == {tuple(r) for r in batch.collect()}


def test_stream_features_to_store_upsert(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_features_to_store,
    )

    manager = FeatureStoreManager(spark, str(tmp_path / "store"))
    spec = FeatureTableSpec(
        name="user_hourly",
        primary_keys=("user_id", "hour_start"),
        timestamp_keys=("hour_start",),
    )
    stream = read_events_stream(spark, SF)
    per_user_hour = (
        stream.withWatermark("ts", "7 days")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = stream_features_to_store(
        per_user_hour, manager, spec, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    stored = manager.read("user_hourly")
    batch = (
        load(spark, SF, "events")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert {tuple(r) for r in stored.collect()} == {tuple(r) for r in batch.collect()}
    # registry metadata persisted alongside the data
    meta = manager.get_metadata("user_hourly")
    assert meta["primary_keys"] == ["user_id", "hour_start"]


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data handling: with a tight watermark, an event arriving a
    whole micro-batch after much-newer events is dropped from its (closed)
    window; the same replay with a wide watermark keeps it."""
    import pyspark.sql.functions as F

    early = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 10:00:00")], ["id", "ts_str"]
    ).select("id", F.col("ts_str").cast("timestamp").alias("ts"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 10:30:00")], ["id", "ts_str"]
    ).select("id", F.col("ts_str").cast("timestamp").alias("ts"))
    src = str(tmp_path / "src")
    early.coalesce(1).write.mode("overwrite").parquet(src)

    def run(watermark, name):
        stream = (
            spark.readStream.schema(early.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("h"), "n")
        )
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .start()
        )
        q.processAllAvailable()
        # the late file arrives in a later micro-batch
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.stop()
        return {(r["h"], r["n"]) for r in spark.table(name).collect()}

    tight = run("10 minutes", "wm_tight")
    # watermark advanced to Jan-2 minus 10min -> the Jan-1 10:00 window is
    # closed; the late event was dropped, count stays 1
    import datetime as dt

    assert (dt.datetime(2024, 1, 1, 10, 0), 1) in tight
    assert all(not (h == dt.datetime(2024, 1, 1, 10, 0) and n == 2) for h, n in tight)


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    from databricks_demo_feature_store_spark.streaming import dedup_stream

    rows = [
        (1, "click", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),  # dup key, later ts
        (1, "view", "2024-01-01 10:06:00"),
        (2, "click", "2024-01-01 11:00:00"),
        (2, "click", "2024-01-01 11:00:00"),  # exact dup row
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts_str"]).select(
        "user_id", "event_type", F.col("ts_str").cast("timestamp").alias("ts")
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = run_available_now(
        dedup_stream(stream, ["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        output_mode="append",
    )
    got = {(r["user_id"], r["event_type"]) for r in out.collect()}
    assert out.count() == 3
    assert got == {(1, "click"), (1, "view"), (2, "click")}


def test_interval_join_matches_naive_theta_join(spark):
    import random

    from databricks_demo_feature_store_spark.operators import interval_join

    rng = random.Random(7)
    base = 1_700_000_000
    lefts = [(rng.randrange(5), base + rng.randrange(20_000)) for _ in range(200)]
    rights = [(rng.randrange(5), base + rng.randrange(20_000)) for _ in range(200)]
    l = spark.createDataFrame(lefts, ["k", "lsec"]).select(
        "k", F.timestamp_seconds("lsec").alias("lts")
    )
    r = spark.createDataFrame(rights, ["k", "rsec"]).select(
        "k", F.timestamp_seconds("rsec").alias("rts")
    )
    # window NOT starting at zero (lower=-300) exercises bucket offsets
    got = interval_join(l, r, ["k"], "lts", "rts", -300.0, 900.0)
    naive = l.join(
        r,
        (l["k"] == r["k"])
        & (r["rts"] >= l["lts"] - F.expr("INTERVAL 300 SECOND"))
        & (r["rts"] <= l["lts"] + F.expr("INTERVAL 900 SECOND")),
    ).select(l["k"], "lts", "rts")
    assert got.count() == naive.count() > 0
    assert got.exceptAll(naive).count() == 0 and naive.exceptAll(got).count() == 0


def test_interval_join_stream_matches_batch(spark):
    from databricks_demo_feature_store_spark.operators import interval_join
    from databricks_demo_feature_store_spark.streaming import interval_join_stream

    SF = "/root/testdata/sf0.001"
    ev = read_events_stream(spark, SF)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts")
    )
    streamed = run_available_now(
        interval_join_stream(
            clicks, views, ["user_id"], "a_ts", "b_ts", 0.0, 7200.0
        ).select("user_id", "a_id", "b_id"),
        output_mode="append",
    )
    from databricks_demo_feature_store_spark.queries import load

    bev = load(spark, SF, "events")
    bl = bev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    br = bev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts")
    )
    batch = interval_join(bl, br, ["user_id"], "a_ts", "b_ts", 0.0, 7200.0).select(
        "user_id", "a_id", "b_id"
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_enrich_stream_is_broadcast_join(spark):
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming import enrich_stream

    SF = "/root/testdata/sf0.001"
    # enrich_stream is plain join algebra — drive it with batch frames to
    # inspect the physical plan (the streaming twin plans identically per
    # micro-batch)
    ev = load(spark, SF, "events")
    dim = load(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    out = enrich_stream(ev, dim, on=["user_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.count() == ev.count()  # every event matches a customer


def test_dedup_stream_watermark_boundary(spark, tmp_path):
    """Pins the state-expiry contract of dedup_stream: a duplicate
    re-delivered AFTER the watermark passed its event time is dropped as
    late data (not re-emitted as new). Within-watermark re-deliveries
    are deduped by state; so every key is emitted at most once as long
    as re-deliveries land within the watermark OR after it — there is no
    window where a duplicate sneaks through."""
    from databricks_demo_feature_store_spark.streaming import dedup_stream

    src = str(tmp_path / "src")

    def mk(rows):
        return spark.createDataFrame(rows, ["k", "ts_str"]).select(
            "k", F.col("ts_str").cast("timestamp").alias("ts")
        )

    mk([(1, "2024-01-01 10:00:00")]).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        dedup_stream(stream, ["k"], watermark="10 minutes")
        .select("k", "ts")
        .writeStream.format("memory")
        .queryName("wm_dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # a much newer event advances the watermark past k=1's state
    mk([(2, "2024-01-02 10:00:00")]).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    # re-delivered duplicate of k=1, now older than the watermark
    mk([(1, "2024-01-01 10:00:00")]).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r) for r in spark.table("wm_dedup_t").collect()]
    assert len(rows) == 2  # the late duplicate was dropped, not re-emitted
    assert sorted(k for k, _ in rows) == [1, 2]


def test_sliding_counts_keyed_matches_batch(spark):
    """key_cols adds grouping keys next to the sliding window; the keyed
    streamed answer must equal the batch overlapping-window GROUP BY."""
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming.ops import sliding_counts

    streamed = run_available_now(
        sliding_counts(
            read_events_stream(spark, SF), window="2 hours", slide="1 hour",
            key_cols=["user_id"],
        )
    )
    ev = load(spark, SF, "events")
    batch = (
        ev.select("user_id", "value", F.explode(
            F.array(
                F.date_trunc("hour", "ts"),
                F.date_trunc("hour", "ts") - F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("window_start"))
        .groupBy("window_start", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
    )
    s = {(r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
         for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_windowed_distinct_sketch_matches_batch(spark):
    """The streamed HLL merged across micro-batches must equal the batch
    single-pass sketch exactly (register merge is associative), and
    window row counts must match the batch GROUP BY."""
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming.ops import (
        windowed_distinct_sketch,
    )

    streamed = run_available_now(
        windowed_distinct_sketch(read_events_stream(spark, SF))
    )
    batch = (
        load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_distinct"),
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_stream_ingest_corpus_dedup(spark, tmp_path):
    """Continuous ingestion with incremental dedup: arrivals dedupe
    against themselves and the standing corpus; only novel documents
    append; re-arrivals and near-dups are dropped; exactly-once across
    restarts via the checkpoint."""
    import json as _json

    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_ingest_corpus_dedup,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def arrive(name, texts):
        (inbox / name).write_text("\n".join(_json.dumps({"text": t}) for t in texts))

    a = "the quick brown fox jumps over the lazy dog tonight again ok"
    a_near = "the quick brown fox jumps over the lazy dog tonight again now"
    b = "completely different content about spark engines and data processing"

    # wave 1: A, exact dup of A, near-dup of A, and B
    arrive("w1.jsonl", [a, a, a_near, b])
    q = stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt)
    q.awaitTermination(120)
    got1 = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert b in got1 and len(got1) == 2  # one of {a, a_near} + b
    assert (a in got1) != (a_near in got1)

    # wave 2: A re-arrives (exact + near) plus one novel doc
    novel = "an entirely new never seen piece of content right here today"
    arrive("w2.jsonl", [a, a_near, novel])
    q2 = stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt)
    q2.awaitTermination(120)
    got2 = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert got2 == got1 | {novel}  # exactly one new doc, no duplicates

    # replay with the same checkpoint: nothing new to process
    q3 = stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 3


def test_multibatch_ingest_stability(spark, tmp_path):
    """Cluster stability across 3+ ingestion rounds: the corpus grows
    MONOTONICALLY (survivors are never mutated or removed by later
    rounds), near/exact re-arrivals of ROUND-1 survivors are still
    rejected in round 3, and a full re-simulation into a fresh corpus
    reproduces the identical (doc_id, text) set — the determinism that
    makes a failed crawl day safely re-runnable."""
    import json as _json

    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_ingest_corpus_dedup,
    )

    a = "the quick brown fox jumps over the lazy dog tonight again ok"
    a_near = "the quick brown fox jumps over the lazy dog tonight again now"
    b = "completely different content about spark engines and data processing"
    c = "feature stores serve point in time correct training data at scale"
    c_near = "feature stores serve point in time correct training data at speed"
    d = "streaming ingestion keeps the corpus fresh without quadratic cost"
    waves = [
        [a, a, b],           # round 0: exact dup inside the batch
        [a_near, c],         # round 1: near-dup of a ROUND-0 survivor
        [a, c_near, d],      # round 2: exact re-arrival of round 0 + near of round 1
    ]

    def simulate(tag):
        inbox = tmp_path / f"inbox_{tag}"
        inbox.mkdir()
        corpus = str(tmp_path / f"corpus_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        snapshots = []
        for i, texts in enumerate(waves):
            (inbox / f"w{i}.jsonl").write_text(
                "\n".join(_json.dumps({"text": t}) for t in texts)
            )
            q = stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt)
            q.awaitTermination(120)
            snapshots.append(
                {(r["doc_id"], r["text"])
                 for r in spark.read.parquet(corpus).collect()}
            )
        return snapshots

    s = simulate("one")
    # monotone growth: every round's corpus contains the previous one
    assert s[0] < s[1] < s[2]
    texts2 = {t for _, t in s[2]}
    # round-0 survivors stand; their re-arrivals never re-enter
    assert a in texts2 and b in texts2
    assert a_near not in texts2
    # round-1 novel doc stands; its round-2 near-dup was rejected
    assert c in texts2 and c_near not in texts2
    # round-2 novel doc entered
    assert d in texts2
    assert len(s[2]) == 4  # a, b, c, d — nothing else
    # determinism: a full re-simulation reproduces ids and texts exactly
    assert simulate("two")[2] == s[2]


def test_ingest_crash_recovery_exactly_once(spark, tmp_path):
    """Kill the ingestion stream MID-BATCH — after the corpus append,
    before the checkpoint commit — restart from the same checkpoint, and
    assert the final corpus is identical to an uninterrupted run. This is
    exactly-once under CRASH, not just under replay: the replayed batch's
    own pre-crash append must not double-count (the exact doc_id
    anti-join neutralizes it), and nothing the crashed batch legitimately
    admitted may be lost."""
    import json as _json

    import pytest

    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_ingest_corpus_dedup,
    )

    a = "the quick brown fox jumps over the lazy dog tonight again ok"
    a_near = "the quick brown fox jumps over the lazy dog tonight again now"
    b = "completely different content about spark engines and data processing"
    c = "feature stores serve point in time correct training data at scale"
    waves = [[a, b], [a, a_near, c]]  # wave 2: exact + near re-arrival + novel

    def arrive(inbox, i, texts):
        (inbox / f"w{i}.jsonl").write_text(
            "\n".join(_json.dumps({"text": t}) for t in texts)
        )

    def corpus_rows(path):
        return sorted(
            (r["doc_id"], r["text"]) for r in spark.read.parquet(path).collect()
        )

    # reference: uninterrupted two-wave run
    ref_inbox = tmp_path / "inbox_ref"
    ref_inbox.mkdir()
    ref_corpus = str(tmp_path / "corpus_ref")
    ref_ckpt = str(tmp_path / "ckpt_ref")
    for i, texts in enumerate(waves):
        arrive(ref_inbox, i, texts)
        stream_ingest_corpus_dedup(
            spark, str(ref_inbox), ref_corpus, ref_ckpt
        ).awaitTermination(120)
    ref = corpus_rows(ref_corpus)

    # crashed run: wave 1 clean, wave 2 dies AFTER the corpus append
    inbox = tmp_path / "inbox_crash"
    inbox.mkdir()
    corpus = str(tmp_path / "corpus_crash")
    ckpt = str(tmp_path / "ckpt_crash")
    arrive(inbox, 0, waves[0])
    stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt).awaitTermination(120)

    def die_after_append(batch_id):
        raise RuntimeError("injected crash between append and checkpoint commit")

    arrive(inbox, 1, waves[1])
    q = stream_ingest_corpus_dedup(
        spark, str(inbox), corpus, ckpt, after_append_hook=die_after_append
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # the run PROVABLY died mid-batch: the wave-2 survivor is already on
    # disk even though the checkpoint never committed the batch
    mid = corpus_rows(corpus)
    assert c in {t for _, t in mid}, "crash landed before the append — not mid-batch"

    # restart from the same checkpoint, no fault: the batch replays
    stream_ingest_corpus_dedup(spark, str(inbox), corpus, ckpt).awaitTermination(120)
    got = corpus_rows(corpus)
    assert got == ref  # identical content, no double-counted survivor
    # and the replay really was a second processing of wave 2, not a no-op
    assert len(got) == len(set(got)) == 3


def test_stream_cms_merge_idempotent_and_atomic(spark, tmp_path):
    """The CMS merge skips already-committed batch ids (crash between the
    sketch commit and the checkpoint commit must not double-count), lands
    each version by one atomic rename, and survives a staging dir left by
    a pre-rename crash."""
    import os

    from databricks_demo_feature_store_spark.operators.sketches import (
        count_min_sketch,
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        _merge_cms_batch,
        read_count_min_sketch,
    )

    sketch = str(tmp_path / "sketch")
    b0 = spark.createDataFrame([("x",), ("y",), ("x",)], "k string")
    b1 = spark.createDataFrame([("x",), ("z",)], "k string")

    def cells(path):
        return {
            (r["row_idx"], r["bucket"]): r["n"]
            for r in read_count_min_sketch(spark, path).collect()
        }

    assert _merge_cms_batch(b0, 0, sketch, "k", 4, 8, 0) is True
    after0 = cells(sketch)
    # replayed batch 0: skipped, sketch unchanged
    assert _merge_cms_batch(b0, 0, sketch, "k", 4, 8, 0) is False
    assert cells(sketch) == after0

    # a staging dir left by a pre-rename crash does not block the retry
    os.makedirs(os.path.join(sketch, "_tmp_v1"), exist_ok=True)
    assert _merge_cms_batch(b1, 1, sketch, "k", 4, 8, 0) is True

    # merged state == one batch sketch over ALL the data (mergeability)
    batch_all = {
        (r["row_idx"], r["bucket"]): r["n"]
        for r in count_min_sketch(
            b0.unionByName(b1), "k", depth=4, width=8, seed=0
        ).collect()
    }
    assert cells(sketch) == batch_all
    # superseded version cleaned up; reader resolves the latest commit
    assert not os.path.exists(os.path.join(sketch, "v0"))
    assert os.path.exists(os.path.join(sketch, "v1"))
    # late replay of batch 0 against the newer sketch: still a no-op
    assert _merge_cms_batch(b0, 0, sketch, "k", 4, 8, 0) is False
    assert cells(sketch) == batch_all


def test_stream_cdc_apply_out_of_order_and_tombstones(spark, tmp_path):
    """Cross-batch out-of-order safety: a later batch carrying OLDER
    sequences never overwrites newer state, a delete tombstone holds
    against a stale update arriving after it, and replaying committed
    batches (fresh checkpoint against the committed table — the
    post-commit-crash shape) is a no-op."""
    import json as _json

    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdc_table,
        read_cdc_table,
        stream_apply_changes,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, seq long, op string, name string"

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, name string"
    )
    init_cdc_table(snap, table)

    def drop(fname, rows):
        (inbox / fname).write_text(
            "\n".join(
                _json.dumps({"k": k, "seq": s, "op": o, "name": n})
                for k, s, o, n in rows
            )
        )

    def run():
        stream_apply_changes(
            spark, str(inbox), table, ckpt,
            keys=["k"], sequence_col="seq", schema=schema,
        ).awaitTermination(120)

    def state():
        return {r.k: r.name for r in read_cdc_table(spark, table).collect()}

    # batch 0: NEWER changes first (k=1 updated at seq 10; k=2 DELETED at
    # seq 20; k=4 inserted at seq 5)
    drop("w0.jsonl", [(1, 10, "U", "a10"), (2, 20, "D", None), (4, 5, "U", "d5")])
    run()
    assert state() == {1: "a10", 3: "c", 4: "d5"}

    # batch 1: OLDER sequences arrive late — a stale update to k=1
    # (seq 7 < 10), a stale update to the DELETED k=2 (seq 15 < 20,
    # must stay dead), and a genuinely newer update to k=4
    drop("w1.jsonl", [(1, 7, "U", "a7"), (2, 15, "U", "zombie"), (4, 9, "U", "d9")])
    run()
    assert state() == {1: "a10", 3: "c", 4: "d9"}

    # post-commit-crash replay shape: fresh checkpoint re-delivers every
    # file as already-committed batch ids -> version skip, state unchanged
    import shutil

    shutil.rmtree(ckpt)
    run()
    assert state() == {1: "a10", 3: "c", 4: "d9"}


def test_cdc_vacuum_tombstones_and_marker(spark, tmp_path):
    """Vacuum drops only tombstones at-or-below the out-of-order horizon,
    commits atomically as a NEW version carrying the applied-batch marker
    forward — so a real batch arriving AFTER a vacuum still applies (the
    replay-skip check is batch-id-based, not version-count-based)."""
    import json as _json

    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdc_table,
        read_cdc_table,
        stream_apply_changes,
        vacuum_cdc_table,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, seq long, op string, name string"
    init_cdc_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"), table
    )

    def drop(fname, rows):
        (inbox / fname).write_text(
            "\n".join(
                _json.dumps({"k": k, "seq": s, "op": o, "name": n})
                for k, s, o, n in rows
            )
        )

    def run():
        stream_apply_changes(
            spark, str(inbox), table, ckpt,
            keys=["k"], sequence_col="seq", schema=schema,
        ).awaitTermination(120)

    def raw(path):
        from databricks_demo_feature_store_spark.streaming.ops import _read_state

        return _read_state(spark, path)

    # batch 0: delete k=1 (seq 10), delete k=2 (seq 50)
    drop("w0.jsonl", [(1, 10, "D", None), (2, 50, "D", None)])
    run()
    assert {r.k for r in raw(table).filter("__deleted").collect()} == {1, 2}

    # vacuum with horizon 20: only k=1's tombstone (seq 10) is eligible
    assert vacuum_cdc_table(spark, table, horizon_seq=20) == 1
    tombs = {r.k for r in raw(table).filter("__deleted").collect()}
    assert tombs == {2}
    # idempotent: nothing left at this horizon
    assert vacuum_cdc_table(spark, table, horizon_seq=20) == 0

    # a REAL batch after the vacuum must still apply (marker carried):
    # k=3 inserted, and a stale update to k=2 (seq 30 < 50) stays dead
    drop("w1.jsonl", [(3, 60, "U", "c"), (2, 30, "U", "zombie")])
    run()
    got = {r.k: r.name for r in read_cdc_table(spark, table).collect()}
    assert got == {3: "c"}


def test_cdc_apply_crash_between_commits_is_exactly_once(spark, tmp_path):
    """Kill the CDC stream in the exactly-once danger window — AFTER the
    state commit, BEFORE the checkpoint commit — restart from the same
    checkpoint, and assert the final table equals an uninterrupted run:
    the replayed batch must SKIP (already-committed marker), not
    re-apply, and nothing the crashed batch committed may be lost."""
    import json as _json

    import pytest

    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdc_table,
        read_cdc_table,
        stream_apply_changes,
    )

    schema = "k long, seq long, op string, name string"
    waves = [
        [(1, 10, "U", "a10"), (2, 20, "U", "b20")],
        [(1, 30, "U", "a30"), (3, 40, "U", "c40"), (2, 25, "D", None)],
    ]

    def build(tag, hook_on_wave=None):
        inbox = tmp_path / f"inbox_{tag}"
        inbox.mkdir()
        table = str(tmp_path / f"table_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        init_cdc_table(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"),
            table,
        )

        def die(batch_id):
            raise RuntimeError("injected crash after state commit")

        for i, rows in enumerate(waves):
            (inbox / f"w{i}.jsonl").write_text(
                "\n".join(
                    _json.dumps({"k": k, "seq": s, "op": o, "name": n})
                    for k, s, o, n in rows
                )
            )
            hook = die if hook_on_wave == i else None
            q = stream_apply_changes(
                spark, str(inbox), table, ckpt,
                keys=["k"], sequence_col="seq", schema=schema,
                after_commit_hook=hook,
            )
            if hook is not None:
                with pytest.raises(Exception, match="injected crash"):
                    q.awaitTermination(120)
                # PROVABLY died in the danger window: the wave's state is
                # already committed even though the checkpoint is not
                assert {r.k: r.name for r in read_cdc_table(spark, table).collect()} \
                    == {1: "a30", 3: "c40"}
                # restart clean from the same checkpoint: batch replays, skips
                stream_apply_changes(
                    spark, str(inbox), table, ckpt,
                    keys=["k"], sequence_col="seq", schema=schema,
                ).awaitTermination(120)
            else:
                q.awaitTermination(120)
        return {r.k: r.name for r in read_cdc_table(spark, table).collect()}

    ref = build("ref")
    crashed = build("crash", hook_on_wave=1)
    assert crashed == ref == {1: "a30", 3: "c40"}


def test_stream_trailing_state_crash_replay_exactly_once(spark, tmp_path):
    """Kill the trailing-state stream AFTER the state commit but BEFORE
    the checkpoint commit, restart, and assert the served trailing
    features equal the batch recompute over raw events — the replayed
    batch must be skipped (its id is at the applied marker), not
    double-merged."""
    import datetime as dt
    import json as _json

    import pytest

    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_window_features,
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_features_from_state,
    )

    def day(d):
        return dt.datetime(2024, 1, d)

    waves = [
        [(1, day(1), 10.0), (1, day(3), 5.0), (2, day(2), 7.0)],
        [(1, day(5), 2.0), (1, day(3), 1.0), (2, day(9), 4.0)],
    ]

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def arrive(i, rows):
        (inbox / f"w{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": t.isoformat(), "value": v})
                for u, t, v in rows
            )
        )

    def run(hook=None):
        return stream_trailing_state(
            spark, str(inbox), state, ckpt,
            keys=["user_id"], event_time="ts", value_col="value",
            schema="user_id bigint, ts timestamp, value double",
            after_commit_hook=hook,
        )

    arrive(0, waves[0])
    run().awaitTermination(120)

    def die(batch_id):
        raise RuntimeError("injected crash between state and checkpoint commit")

    arrive(1, waves[1])
    q = run(hook=die)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # provably mid-batch: wave 2 is already merged into committed state
    assert read_trailing_state(spark, state).count() == 5  # 5 (user, day) buckets
    run().awaitTermination(120)  # replay: must skip, not double-merge

    all_events = spark.createDataFrame(
        [r for w in waves for r in w], "user_id bigint, ts timestamp, value double"
    )
    spine = all_events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    served = trailing_features_from_state(
        read_trailing_state(spark, state), spine,
        keys=["user_id"], spine_time="day", window_expr="INTERVAL 7 DAYS",
        sum_col="spend_7d", count_col="n_7d",
    )
    batch = trailing_window_features(
        spine, all_events, keys=["user_id"], spine_time="day",
        event_time="ts", window_expr="INTERVAL 7 DAYS",
        sum_cols=[("spend_7d", "value")], count_col="n_7d",
    )
    key = lambda r: (r.user_id, r.day)  # noqa: E731
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, batch.collect()))
    # spot value: user 1 at day 5 sees day1+day3 events = 10+5+1, 3 events
    got = {key(r): (r.spend_7d, r.n_7d) for r in served.collect()}
    assert got[(1, day(5))] == (16.0, 3)


def _versioned_fold(spark, kind, root):
    """(arrive(wave), run(), state_path, read()) for one versioned-state
    fold over two input waves, rooted at ``root``."""
    import json as _json

    from databricks_demo_feature_store_spark.streaming import ops

    inbox, state, ckpt = root / "inbox", str(root / "state"), str(root / "ckpt")
    inbox.mkdir(parents=True)

    def drop(i, records):
        (inbox / f"w{i}.jsonl").write_text("\n".join(map(_json.dumps, records)))

    if kind == "count_min":
        waves = [["a", "b", "a"], ["b", "c"]]

        def arrive(i):
            drop(i, [{"text": t} for t in waves[i]])

        def run():
            return ops.stream_count_min(spark, str(inbox), state, ckpt, depth=4, width=8)

        read = lambda: ops.read_count_min_sketch(spark, state)  # noqa: E731
    elif kind == "cdc_apply":
        waves = [[(1, 10, "U", "a10"), (2, 20, "D", None)], [(1, 7, "U", "a7"), (3, 30, "U", "c")]]
        ops.init_cdc_table(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"), state
        )

        def arrive(i):
            drop(i, [dict(zip(("k", "seq", "op", "name"), r)) for r in waves[i]])

        def run():
            return ops.stream_apply_changes(
                spark, str(inbox), state, ckpt, keys=["k"], sequence_col="seq",
                schema="k long, seq long, op string, name string",
            )

        read = lambda: ops.read_cdc_table(spark, state)  # noqa: E731
    elif kind == "trailing_state":
        waves = [[(1, "2024-01-01", 10.0), (2, "2024-01-02", 7.0)],
                 [(1, "2024-01-01", 1.0), (1, "2024-01-05", 2.0)]]

        def arrive(i):
            drop(i, [dict(zip(("user_id", "ts", "value"), r)) for r in waves[i]])

        def run():
            return ops.stream_trailing_state(
                spark, str(inbox), state, ckpt, keys=["user_id"], event_time="ts",
                value_col="value", schema="user_id bigint, ts timestamp, value double",
                hist=(0.0, 16.0, 4),
            )

        read = lambda: ops.read_trailing_state(spark, state)  # noqa: E731
    else:  # cdf_agg_view
        from databricks_demo_feature_store_spark.featurestore.incremental import (
            aggregate_state,
        )
        from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

        fact = lambda rows: spark.createDataFrame(rows, "k int, grp int, amt double")  # noqa: E731
        vt = VersionedTable(spark, str(root / "fact"))
        vt.save(fact([(1, 0, 10.0), (2, 0, 20.0), (3, 1, 30.0)]))
        ops.init_cdf_view(aggregate_state(vt.read(0), ["grp"], "amt"), state, 0)
        waves = [[(1, 0, 15.0), (3, 1, 30.0)], [(3, 1, 31.0), (4, 1, 5.0)]]

        def arrive(i):
            vt.save(fact(waves[i]))

        def run():
            return ops.stream_cdf_agg_ivm(
                spark, vt, state, ckpt, id_keys=["k"], agg_keys=["grp"], value_col="amt"
            )

        read = lambda: ops.read_cdf_view(spark, state)  # noqa: E731
    return arrive, run, state, lambda: {tuple(r) for r in read().collect()}


@pytest.mark.parametrize("kind", ["count_min", "cdc_apply", "trailing_state", "cdf_agg_view"])
def test_versioned_state_ignores_staging_and_survives_post_commit_crash(
    spark, tmp_path, monkeypatch, kind
):
    """The one versioned-state protocol every stateful fold commits
    through: a leftover ``_tmp_v<N>`` is invisible to readers and
    overwritten by the next commit, and a crash right after a state
    commit (before the checkpoint commit) followed by a restart on the
    same checkpoint skips the replayed batch and lands the same state
    as an uninterrupted run."""
    import os

    from databricks_demo_feature_store_spark.streaming import ops

    arrive, run, _, read = _versioned_fold(spark, kind, tmp_path / "ref")
    for i in range(2):
        arrive(i)
        run().awaitTermination(120)
    want = read()

    arrive, run, state, read = _versioned_fold(spark, kind, tmp_path / "crash")
    arrive(0)
    run().awaitTermination(120)
    after0 = read()
    version, _ = ops._state_head(state)
    debris = os.path.join(state, f"_tmp_v{version + 1}")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert read() == after0  # staging debris is never read

    real_commit = ops._commit_state

    def commit_then_crash(*args):
        real_commit(*args)
        raise RuntimeError("injected crash after state commit")

    arrive(1)
    monkeypatch.setattr(ops, "_commit_state", commit_then_crash)
    with pytest.raises(Exception, match="injected crash"):
        run().awaitTermination(120)
    monkeypatch.setattr(ops, "_commit_state", real_commit)
    head = ops._state_head(state)
    assert head[0] == version + 1  # the crashed batch's state did commit
    run().awaitTermination(120)  # same checkpoint: the batch replays
    assert ops._state_head(state) == head  # ... and is skipped
    assert read() == want
    assert sorted(os.listdir(state)) == [f"v{version + 1}"]


def test_trailing_features_from_state_rejects_misaligned_spine(spark, tmp_path):
    """A spine timestamp inside a bucket cannot be served exactly from
    day buckets — it must raise, not silently over/under-count."""
    import datetime as dt

    import pytest

    from databricks_demo_feature_store_spark.streaming.ops import (
        trailing_features_from_state,
    )

    state = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 2, 15.0, 125.0)],
        "user_id bigint, bucket_start timestamp, n long, s double, s2 double",
    ).select("user_id", "bucket_start", "n",
             F.col("s").cast("decimal(38,2)").alias("s"),
             F.col("s2").cast("decimal(38,2)").alias("s2"))
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 12, 30))], "user_id bigint, day timestamp"
    )
    with pytest.raises(Exception, match="aligned"):
        trailing_features_from_state(
            state, spine, keys=["user_id"], spine_time="day",
            window_expr="INTERVAL 7 DAYS",
        ).collect()


def test_trailing_multi_window_from_state_matches_single_serves(spark, tmp_path):
    """N horizons served from ONE bucket state in one shuffle are
    value-identical to N single-window serves (and the arg contract
    rejects ambiguous calls)."""
    import datetime as dt
    import json as _json

    import pytest

    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_features_from_state,
    )

    rows = [
        (1, dt.datetime(2024, 1, d), float(d)) for d in (1, 3, 5, 9, 20, 28)
    ] + [(2, dt.datetime(2024, 1, 10), 7.0)]
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "w0.jsonl").write_text(
        "\n".join(
            _json.dumps({"user_id": u, "ts": t.isoformat(), "value": v})
            for u, t, v in rows
        )
    )
    state_path = str(tmp_path / "state")
    stream_trailing_state(
        spark, str(inbox), state_path, str(tmp_path / "ckpt"),
        keys=["user_id"], event_time="ts", value_col="value",
        schema="user_id bigint, ts timestamp, value double",
    ).awaitTermination(120)
    state = read_trailing_state(spark, state_path)
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 29)), (2, dt.datetime(2024, 1, 29))],
        "user_id bigint, day timestamp",
    )
    multi = trailing_features_from_state(
        state, spine, keys=["user_id"], spine_time="day",
        windows=[("7d", "INTERVAL 7 DAYS"), ("28d", "INTERVAL 28 DAYS")],
    )
    got = {r.user_id: (r.spend_7d, r.n_events_7d, r.spend_28d, r.n_events_28d)
           for r in multi.collect()}
    for sfx, expr in (("7d", "INTERVAL 7 DAYS"), ("28d", "INTERVAL 28 DAYS")):
        single = trailing_features_from_state(
            state, spine, keys=["user_id"], spine_time="day",
            window_expr=expr,
        )
        for r in single.collect():
            g = got[r.user_id]
            if sfx == "7d":
                assert (r.spend, r.n_events) == (g[0], g[1])
            else:
                assert (r.spend, r.n_events) == (g[2], g[3])
    # hand values: user 1 day 29, 28d window [Jan 1, Jan 29) = all six
    assert got[1][2:] == (1.0 + 3 + 5 + 9 + 20 + 28, 6)
    assert got[1][:2] == (28.0, 1)  # 7d window [Jan 22, Jan 29): day 28 only
    with pytest.raises(ValueError, match="exactly one"):
        trailing_features_from_state(state, spine, keys=["user_id"], spine_time="day")


def test_stream_trailing_state_accepts_arbitrarily_late_events(spark, tmp_path):
    """Unlike a watermark-bounded streaming agg, the bucket-state fold
    accepts events of ANY lateness: a second batch carrying an event for
    a week-old bucket merges into that bucket (monoid cell-sum), and
    serves correctly afterwards."""
    import datetime as dt
    import json as _json

    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_features_from_state,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    state = str(tmp_path / "state")

    def arrive(i, rows):
        (inbox / f"w{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": t.isoformat(), "value": v})
                for u, t, v in rows
            )
        )

    def run():
        stream_trailing_state(
            spark, str(inbox), state, str(tmp_path / "ckpt"),
            keys=["user_id"], event_time="ts", value_col="value",
            schema="user_id bigint, ts timestamp, value double",
        ).awaitTermination(120)

    arrive(0, [(1, dt.datetime(2024, 1, 10), 5.0)])
    run()
    # a week-LATE event for Jan 3 arrives in batch 2
    arrive(1, [(1, dt.datetime(2024, 1, 3), 7.0)])
    run()
    st = {(r.user_id, r.bucket_start): (r.n, float(r.s))
          for r in read_trailing_state(spark, state).collect()}
    assert st[(1, dt.datetime(2024, 1, 3))] == (1, 7.0)
    assert st[(1, dt.datetime(2024, 1, 10))] == (1, 5.0)
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 8))], "user_id bigint, day timestamp"
    )
    served = trailing_features_from_state(
        read_trailing_state(spark, state), spine, keys=["user_id"],
        spine_time="day", window_expr="INTERVAL 7 DAYS",
    ).collect()
    assert (served[0].spend, served[0].n_events) == (7.0, 1)  # late event counted


def test_stream_trailing_quantile_from_hist_state(spark, tmp_path):
    """Histogram bin counts maintained next to the moments across two
    stream waves serve trailing p50/p90 exactly equal to the estimator
    computed from a batch histogram of the raw in-window events; empty
    windows give NULL quantiles."""
    import datetime as dt
    import json as _json

    from databricks_demo_feature_store_spark.featurestore.incremental import (
        histogram_state,
        quantile_from_hist,
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_quantile_from_state,
    )

    t = dt.datetime
    waves = [
        [(1, t(2024, 1, 2), 1.0), (1, t(2024, 1, 3), 3.0), (2, t(2024, 1, 2), 5.0)],
        [(1, t(2024, 1, 4), 5.0), (1, t(2024, 1, 5), 7.0), (1, t(2024, 1, 5), 7.5)],
    ]
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    state_path = str(tmp_path / "state")
    for i, rows in enumerate(waves):
        (inbox / f"w{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": ts.isoformat(), "value": v})
                for u, ts, v in rows
            )
        )
        stream_trailing_state(
            spark, str(inbox), state_path, str(tmp_path / "ckpt"),
            keys=["user_id"], event_time="ts", value_col="value",
            schema="user_id bigint, ts timestamp, value double",
            hist=(0.0, 8.0, 4),
        ).awaitTermination(120)

    spine = spark.createDataFrame(
        [(1, t(2024, 1, 6)), (2, t(2024, 1, 6)), (3, t(2024, 1, 6))],
        "user_id bigint, day timestamp",
    )
    served = trailing_quantile_from_state(
        read_trailing_state(spark, state_path), spine,
        keys=["user_id"], spine_time="day", window_expr="INTERVAL 7 DAYS",
        probs={"p50": 0.5, "p90": 0.9}, lo=0.0, hi=8.0, nbins=4,
    )
    got = {r.user_id: (r.p50, r.p90) for r in served.collect()}
    # batch twin over raw in-window events (all are in [Dec 30, Jan 6))
    all_ev = spark.createDataFrame(
        [r for w in waves for r in w], "user_id bigint, ts timestamp, value double"
    )
    batch = histogram_state(all_ev, ["user_id"], "value", 0.0, 8.0, 4).select(
        "user_id",
        F.round(quantile_from_hist(0.5, 0.0, 8.0, 4), 6).alias("p50"),
        F.round(quantile_from_hist(0.9, 0.0, 8.0, 4), 6).alias("p90"),
    )
    expect = {r.user_id: (r.p50, r.p90) for r in batch.collect()}
    assert got[1] == expect[1] and got[2] == expect[2]
    assert got[3] == (None, None)  # empty window: no distribution
    # hand value, user 1 (values 1,3,5,7,7.5): bins [1|1|1|2], n=5:
    # p50 target ceil(2.5)=3 -> bin 2 (cum 2->3): 4 + (3-2)/1*2 = 6.0
    assert got[1][0] == 6.0


def test_watermark_progress_metrics_counts_late_events(spark, tmp_path):
    """Per-batch late-data observability: the dedup state operator counts
    dropped EVENTS (ts < batch-start watermark), the watermark advances to
    ms-truncated max event time - delay, and the sink holds exactly
    input - dropped rows."""
    import datetime as dt

    from databricks_demo_feature_store_spark.streaming.ops import (
        watermark_progress_metrics,
    )

    inbox = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "id long, ts timestamp")
    r0 = [(d, dt.datetime(2024, 1, d, 12, 0, 0, 500000)) for d in range(1, 13)]
    # round 1: fresh days 13-22 plus a late tail for days 1-12
    r1 = [(100 + d, dt.datetime(2024, 1, d, 18, 0, 0, 500000)) for d in range(13, 23)]
    r1 += [(200 + d, dt.datetime(2024, 1, d, 3, 0, 0, 500000)) for d in range(1, 13)]

    stream = spark.readStream.schema("id long, ts timestamp").parquet(
        inbox + "/*.parquet"
    )
    res = stream.withWatermark("ts", "2 days").dropDuplicatesWithinWatermark(["id"])

    def run(rows):
        mk(rows).repartition(3).write.mode("append").parquet(inbox)
        q = (
            res.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [b for b in watermark_progress_metrics(q) if b["input_rows"] > 0]

    b0 = run(r0)
    assert sum(b["input_rows"] for b in b0) == 12
    assert sum(b["late_dropped"] for b in b0) == 0
    assert b0[0]["watermark"] == "1970-01-01T00:00:00.000Z"

    b1 = run(r1)
    # wm at batch start = max ts(r0) - 2d = Jan 10 12:00:00.500; late tail
    # rows at 03:00 are < wm for days 1..10 → 10 dropped, days 11-12 kept
    assert b1[0]["watermark"] == "2024-01-10T12:00:00.500Z"
    assert sum(b["input_rows"] for b in b1) == 22
    assert sum(b["late_dropped"] for b in b1) == 10
    assert spark.read.parquet(out).count() == 12 + 22 - 10
