"""Tests for file-level min/max data skipping (sources/skipping.py) and
Bloom semi-join reduction (operators/joins.py bloom_filtered_join)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.operators import bloom_filtered_join
from databricks_demo_feature_store_spark.sources.skipping import (
    SkippingReport,
    harvest_file_stats,
    prune_files,
    read_with_skipping,
)


def _write_clustered(spark, path, n_files=6):
    df = spark.range(0, 600).select(
        F.col("id"),
        (F.col("id") * 10).cast("double").alias("val"),
        F.concat(F.lit("g"), (F.col("id") / 100).cast("int")).alias("grp"),
    )
    df.repartitionByRange(n_files, "id").write.mode("overwrite").parquet(path)
    return df


def test_harvest_and_prune_numeric(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_clustered(spark, path)
    stats = harvest_file_stats(spark, path, ["id", "val"])
    got, report = read_with_skipping(
        spark, path, stats, [("id", ">=", 500.0)], residual="id >= 500"
    )
    assert report.pruned > 0, "range-clustered files must actually prune"
    assert report.files_kept >= 1
    # exactness: same rows as a full-scan filter
    full = spark.read.parquet(path).filter("id >= 500")
    assert sorted(r.id for r in got.collect()) == sorted(r.id for r in full.collect())


def test_harvest_string_and_partition_values(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(0, 200).select(
        F.col("id"), F.concat(F.lit("k"), (F.col("id") % 4)).alias("part")
    )
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    stats = harvest_file_stats(spark, path)
    # partition-dir values become min=max stats rows
    pvals = {
        (r.min_str, r.max_str)
        for r in stats.filter(F.col("column") == "part").collect()
    }
    assert pvals == {(f"k{i}", f"k{i}") for i in range(4)}
    got, report = read_with_skipping(
        spark, path, stats, [("part", "=", "k2")], residual="part = 'k2'"
    )
    assert report.files_kept < report.files_total
    assert got.count() == 50
    assert {r.part for r in got.collect()} == {"k2"}


def test_prune_keeps_files_without_usable_stats(spark):
    stats = spark.createDataFrame(
        [
            ("f1", "x", 0.0, 10.0, None, None, 0, 5, True),
            ("f2", "x", None, None, None, None, 0, 5, False),  # no usable stats
            ("f3", "y", 0.0, 1.0, None, None, 0, 5, True),  # no row for x at all
        ],
        "file_path string, column string, min_num double, max_num double, "
        "min_str string, max_str string, null_count long, n_rows long, has_stats boolean",
    )
    kept = {r.file_path for r in prune_files(stats, [("x", ">", 100.0)]).collect()}
    # f1 disproved (max 10 < 100); f2/f3 must be KEPT — never prune blind
    assert kept == {"f2", "f3"}


def test_stale_stats_guard_raises(spark, tmp_path):
    path = str(tmp_path / "s")
    _write_clustered(spark, path, n_files=3)
    stats = harvest_file_stats(spark, path, ["id"]).cache()
    stats.count()
    # a file written AFTER the harvest must be detected
    spark.range(1000, 1010).select(
        F.col("id"), F.lit(0.0).alias("val"), F.lit("gX").alias("grp")
    ).coalesce(1).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="re-harvest"):
        read_with_skipping(spark, path, stats, [("id", ">=", 0.0)], residual="id >= 0")


def test_empty_prune_preserves_schema(spark, tmp_path):
    path = str(tmp_path / "e")
    base = _write_clustered(spark, path, n_files=3)
    stats = harvest_file_stats(spark, path, ["id"])
    got, report = read_with_skipping(
        spark, path, stats, [("id", ">", 10_000.0)], residual="id > 10000"
    )
    assert report.files_kept == 0
    assert got.count() == 0
    assert set(got.columns) == set(base.columns)


def test_skipping_report_pruned():
    assert SkippingReport(files_total=8, files_kept=2).pruned == 6


def test_bloom_filtered_join_equals_plain_join(spark):
    left = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    right = (
        spark.range(0, 5000)
        .filter(F.col("id") % 50 == 0)
        .select(F.col("id").alias("rk"), F.lit("dim").alias("attr"))
    )
    got = bloom_filtered_join(left, right, "k", "rk", n_bits=1 << 14)
    plain = left.join(right, F.col("k") == F.col("rk"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_bloom_filtered_join_actually_reduces(spark):
    left = spark.range(0, 5000).select(F.col("id").alias("k"))
    right = spark.range(0, 10).select(F.col("id").alias("rk"))
    # probe the REDUCED side before the exact join: the bloom must kill
    # (nearly) all non-matching rows; allow a small false-positive band
    got = bloom_filtered_join(left, right, "k", "rk", how="left_semi", n_bits=1 << 14)
    n = got.count()
    assert 10 <= n <= 10 + 5000 * 0.01
    assert {r.k for r in got.collect()} >= set(range(10)) or n == 10


def test_bloom_filtered_join_string_keys_and_how_guard(spark):
    left = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    right = spark.createDataFrame([("b",), ("c",), ("d",)], "rk string")
    got = bloom_filtered_join(left, right, "k", "rk", n_bits=1 << 12)
    assert sorted(r.k for r in got.collect()) == ["b", "c"]
    with pytest.raises(ValueError, match="inner/left_semi"):
        bloom_filtered_join(left, right, "k", "rk", how="left_outer")


def test_stats_sidecar_roundtrip_and_hidden_from_scans(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        write_stats_sidecar,
    )

    path = str(tmp_path / "sc")
    _write_clustered(spark, path, n_files=4)
    write_stats_sidecar(spark, path, ["id"])
    stats = load_file_stats(spark, path)
    assert stats.filter(F.col("column") == "id").count() == 4
    # the sidecar must be invisible to a plain table scan
    assert spark.read.parquet(path).count() == 600
    # and invisible to a re-harvest (no stats-of-stats rows)
    stats2 = harvest_file_stats(spark, path, ["id"])
    assert stats2.count() == 4


def test_save_table_refreshes_sidecar_on_merge(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        read_with_skipping,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    path = str(tmp_path / "m")
    base = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    save_table(base, path, stats_columns=["id"])
    # merge-mutate the table: the sidecar must cover the NEW file set
    incoming = spark.range(90, 120).select(F.col("id"), F.lit(-1.0).alias("v"))
    save_table(incoming, path, mode="merge", merge_keys=["id"], stats_columns=["id"])
    stats = load_file_stats(spark, path)
    got, report = read_with_skipping(
        spark, path, stats, [("id", ">=", 0.0)], residual="id >= 0"
    )
    assert got.count() == 120  # upsert result intact, coverage guard satisfied
    assert report.files_total == report.files_kept  # full-range predicate keeps all


def test_load_file_stats_missing_raises(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import load_file_stats

    path = str(tmp_path / "none")
    _write_clustered(spark, path, n_files=2)
    with pytest.raises(FileNotFoundError, match="stats sidecar"):
        load_file_stats(spark, path)


def test_zorder_multi_column_pruning_beats_single_column(spark, tmp_path):
    """The q_skipping_zorder claim: Z-ordering makes BOTH columns
    selective — a 2-D box predicate prunes files that single-column
    range clustering could never prune on the second column."""
    from databricks_demo_feature_store_spark.operators import cluster_by_zorder
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        read_with_skipping,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    preds = [("x", ">=", 0.0), ("x", "<=", 15.0), ("y", ">=", 0.0), ("y", "<=", 15.0)]
    resid = "x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15"

    zpath = str(tmp_path / "z")
    save_table(
        cluster_by_zorder(df, ["x", "y"], bits=6, num_partitions=16),
        zpath,
        stats_columns=["x", "y"],
    )
    zgot, zrep = read_with_skipping(
        spark, zpath, load_file_stats(spark, zpath), preds, residual=resid
    )

    xpath = str(tmp_path / "x")
    save_table(
        df.repartitionByRange(16, "x").sortWithinPartitions("x"),
        xpath,
        stats_columns=["x", "y"],
    )
    xgot, xrep = read_with_skipping(
        spark, xpath, load_file_stats(spark, xpath), preds, residual=resid
    )

    assert zgot.count() == xgot.count() == 256  # same exact answer
    # z-order: the 16x16 box touches ~1/16 of the curve; x-clustering
    # keeps every file that overlaps x<=15 but spans all y
    assert zrep.files_kept < xrep.files_kept
    assert zrep.pruned > 0


def test_in_list_and_not_null_pruning(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    path = str(tmp_path / "inl")
    df = spark.range(0, 400).select(
        F.col("id"),
        # last file's worth of values all NULL
        F.when(F.col("id") < 300, F.col("id") * 1.0).alias("v"),
    )
    save_table(
        df.repartitionByRange(4, "id").sortWithinPartitions("id"),
        path,
        stats_columns=["id", "v"],
    )
    stats = load_file_stats(spark, path)
    got, report = read_with_skipping(spark, path, stats, [("id", "in", [5.0, 350.0])])
    assert report.files_kept == 2  # only the files whose range covers 5 or 350
    assert sorted(r.id for r in got.collect()) == [5, 350]
    got2, report2 = read_with_skipping(spark, path, stats, [("v", "is_not_null", None)])
    assert report2.pruned >= 1  # the all-NULL file drops
    assert got2.count() == 300


def test_compact_refreshes_stats(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        read_with_skipping,
    )
    from databricks_demo_feature_store_spark.sources.writers import compact, save_table

    path = str(tmp_path / "cp")
    df = spark.range(0, 200).select(F.col("id"))
    save_table(df.repartition(8), path, stats_columns=["id"])
    compact(spark, path, target_partitions=2, stats_columns=["id"])
    stats = load_file_stats(spark, path)
    got, report = read_with_skipping(spark, path, stats, [("id", ">=", 0.0)])
    assert report.files_total <= 2  # compaction took effect
    assert got.count() == 200  # stats cover the compacted layout


def test_randomized_skipping_always_matches_full_scan(spark, tmp_path):
    """Seeded randomized property: for random layouts and random
    conjunctive predicates, the pruned read must equal the full-scan
    filter EXACTLY (files may always be kept unnecessarily, never
    dropped wrongly)."""
    import random

    rng = random.Random(411)
    for case in range(4):
        path = str(tmp_path / f"r{case}")
        n = rng.randrange(200, 800)
        df = spark.range(0, n).select(
            F.col("id"),
            (F.col("id") % rng.randrange(3, 40)).cast("double").alias("a"),
            F.when(F.col("id") % 7 != 0, (F.col("id") * 3) % 101).alias("b"),
            F.concat(F.lit("s"), (F.col("id") % 5)).alias("c"),
        )
        layout = rng.choice(["id", "a", "b"])
        nf = rng.randrange(2, 9)
        df.repartitionByRange(nf, layout).write.mode("overwrite").parquet(path)
        stats = harvest_file_stats(spark, path).cache()
        stats.count()
        preds, clauses = [], []
        for col, lo, hi in (("id", 0, n), ("a", 0, 40), ("b", 0, 101)):
            op = rng.choice([">=", "<", "=", None])
            if op is None:
                continue
            v = float(rng.randrange(lo, hi + 1))
            preds.append((col, op, v))
            clauses.append(f"{col} {'==' if op == '=' else op} {v}")
        if rng.random() < 0.5:
            preds.append(("b", "is_not_null", None))
            clauses.append("b IS NOT NULL")
        if rng.random() < 0.5:
            vals = [f"s{rng.randrange(0, 7)}" for _ in range(2)]
            preds.append(("c", "in", vals))
            clauses.append(f"c IN ({', '.join(repr(v) for v in vals)})")
        residual = " AND ".join(clauses) if clauses else "TRUE"
        got, report = read_with_skipping(spark, path, stats, preds, residual=residual)
        want = spark.read.parquet(path).filter(residual)
        g = sorted(tuple(r) for r in got.collect())
        w = sorted(tuple(r) for r in want.collect())
        assert g == w, (case, preds, report)


def test_bloom_filtered_join_same_key_name(spark):
    left = spark.range(0, 100).select(F.col("id").alias("k"))
    right = spark.range(0, 10).select(F.col("id").alias("k"))
    got = bloom_filtered_join(left, right, "k", "k", how="left_semi", n_bits=1 << 12)
    assert got.count() == 10


def test_timestamp_column_pruning(spark, tmp_path):
    """Spark-written timestamp columns must carry footer min/max (ADVICE
    r11: the INT96 default writes NO statistics, silently disabling every
    timestamp skipping path — session.py now pins TIMESTAMP_MICROS)."""
    path = str(tmp_path / "ts")
    df = spark.range(0, 400).select(
        F.col("id"),
        F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id*3600)").alias("ts"),
    )
    df.repartitionByRange(4, "id").write.mode("overwrite").parquet(path)
    stats = harvest_file_stats(spark, path, ["ts"])
    # every file must have usable stats for the timestamp column
    assert stats.filter("column = 'ts' AND NOT has_stats").count() == 0
    import datetime as dt

    cut = dt.datetime(2024, 1, 14, tzinfo=dt.timezone.utc).timestamp()
    got, report = read_with_skipping(
        spark, path, stats, [("ts", ">=", cut)], residual="ts >= timestamp'2024-01-14'"
    )
    assert report.pruned > 0, "timestamp range predicate must actually prune files"
    full = spark.read.parquet(path).filter("ts >= timestamp'2024-01-14'")
    assert got.count() == full.count() > 0


def test_empty_in_list_prunes_all(spark, tmp_path):
    path = str(tmp_path / "emptyin")
    _write_clustered(spark, path)
    stats = harvest_file_stats(spark, path, ["id"])
    # empty IN is provably empty: every file pruned, zero rows, no crash
    assert prune_files(stats, [("id", "in", [])]).count() == 0
    got, report = read_with_skipping(spark, path, stats, [("id", "in", [])])
    assert report.files_kept == 0
    assert got.count() == 0
    # schema preserved for downstream unions
    assert "id" in got.columns


def test_residual_quote_safe_strings(spark, tmp_path):
    path = str(tmp_path / "quotes")
    df = spark.createDataFrame(
        [(1, "o'brien"), (2, 'say "hi"'), (3, "plain")], "id long, s string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stats = harvest_file_stats(spark, path, ["id", "s"])
    got, _ = read_with_skipping(spark, path, stats, [("s", "=", "o'brien")])
    assert [r.id for r in got.collect()] == [1]
    got2, _ = read_with_skipping(spark, path, stats, [("s", "in", ['say "hi"'])])
    assert [r.id for r in got2.collect()] == [2]


def test_sidecar_rewrite_leaves_no_debris(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        write_stats_sidecar,
    )

    path = str(tmp_path / "debris")
    _write_clustered(spark, path)
    write_stats_sidecar(spark, path, ["id"])
    write_stats_sidecar(spark, path, ["id"])  # rewrite over an existing sidecar
    leftovers = [
        d
        for _root, dirs, _files in os.walk(path)
        for d in dirs
        if "staging" in d or d.endswith("__old")
    ]
    assert leftovers == []
    assert load_file_stats(spark, path).count() > 0


def test_failed_sidecar_write_leaves_old_sidecar(spark, tmp_path):
    """A sidecar write whose job fails leaves the old sidecars as they
    were and no staging directory beside them."""
    from databricks_demo_feature_store_spark.sources.skipping import (
        STATS_DIR,
        _promote_bloom,
        load_file_stats,
        write_stats_sidecar,
    )

    path = str(tmp_path / "tbl")
    _write_clustered(spark, path)
    before = sorted(map(tuple, write_stats_sidecar(spark, path, ["id"]).collect()))
    failing = spark.range(2).select(
        F.when(F.col("id") == 1, F.raise_error(F.lit("boom"))).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        _promote_bloom(spark, path, failing)
    assert os.listdir(os.path.join(path, STATS_DIR)) == ["data"]
    assert sorted(map(tuple, load_file_stats(spark, path).collect())) == before


def _bloom_setup(spark, tmp_path, n=2000, files=8):
    from databricks_demo_feature_store_spark.sources.skipping import (
        harvest_file_stats,
        write_bloom_sidecar,
    )

    path = str(tmp_path / "bl")
    df = spark.range(0, n).select(
        F.col("id"), (F.col("id") * 3).alias("k"),
        F.concat(F.lit("d"), F.col("id")).alias("s"),
    )
    # hash layout: min/max can never prune a point predicate here
    df.repartition(files, "k").write.mode("overwrite").parquet(path)
    stats = harvest_file_stats(spark, path, ["k", "s"])
    bloom = write_bloom_sidecar(spark, path, ["k", "s"])
    return path, stats, bloom


def test_bloom_sidecar_prunes_point_lookup(spark, tmp_path):
    path, stats, bloom = _bloom_setup(spark, tmp_path)
    # min/max alone keeps everything on a hash layout
    _, rep0 = read_with_skipping(spark, path, stats, [("k", "=", 300.0)])
    assert rep0.pruned == 0
    got, rep = read_with_skipping(
        spark, path, stats, [("k", "=", 300.0)], bloom=bloom
    )
    assert rep.pruned > 0, "bloom must prune a hash-distributed point lookup"
    assert [r.k for r in got.collect()] == [300]
    # string equality too
    got2, rep2 = read_with_skipping(
        spark, path, stats, [("s", "=", "d77")], bloom=bloom
    )
    assert rep2.pruned > 0
    assert [r.s for r in got2.collect()] == ["d77"]
    # IN with an absent value: exact rows, no false negatives
    got3, _ = read_with_skipping(
        spark, path, stats, [("k", "in", [3.0, 9.0, 10.0**9])], bloom=bloom
    )
    assert sorted(r.k for r in got3.collect()) == [3, 9]


def test_bloom_never_prunes_blind(spark, tmp_path):
    """Files without a Bloom row (or columns never bloomed) must be kept."""
    path, stats, bloom = _bloom_setup(spark, tmp_path)
    # probe a column with NO bloom rows: nothing pruned, rows exact
    got, rep = read_with_skipping(
        spark, path, stats, [("id", "=", 5.0)], bloom=bloom
    )
    assert rep.pruned == 0
    assert [r.id for r in got.collect()] == [5]
    # drop the bloom row of the ONE file holding k=300: that file must be
    # kept blind and the row still returned (no false negatives, ever)
    holder = (
        spark.read.parquet(path)
        .filter("k = 300")
        .select(F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias("f"))
        .first()["f"]
    )
    partial = bloom.filter(F.col("file_path") != holder)
    got2, rep2 = read_with_skipping(
        spark, path, stats, [("k", "=", 300.0)], bloom=partial
    )
    assert [r.k for r in got2.collect()] == [300]
    assert rep2.files_kept >= 1


def test_bloom_range_predicates_ignored(spark, tmp_path):
    """Bloom applies only to =/IN conjuncts; ranges go through min/max."""
    path, stats, bloom = _bloom_setup(spark, tmp_path)
    got, _ = read_with_skipping(
        spark, path, stats, [("k", ">=", 5900.0)], bloom=bloom
    )
    full = spark.read.parquet(path).filter("k >= 5900").count()
    assert got.count() == full > 0


def test_save_table_refreshes_bloom_and_stats_coexist(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_bloom_stats,
        load_file_stats,
        write_stats_sidecar,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    path = str(tmp_path / "co")
    df = spark.range(0, 500).select(F.col("id"), (F.col("id") % 7).alias("g"))
    save_table(
        df.repartition(4, "id"), path, stats_columns=["id"], bloom_columns=["id"]
    )
    assert load_file_stats(spark, path).count() > 0
    assert load_bloom_stats(spark, path).count() > 0
    # a stats-only refresh must NOT destroy the bloom sidecar (sibling
    # dirs under _stats; the swap is scoped to _stats/data)
    write_stats_sidecar(spark, path, ["id"])
    assert load_bloom_stats(spark, path).count() > 0
    # and the bloom prunes after a merge-mode mutation refreshes both
    upd = spark.range(500, 600).select(F.col("id"), (F.col("id") % 7).alias("g"))
    save_table(upd, path, mode="merge", merge_keys=["id"],
               stats_columns=["id"], bloom_columns=["id"])
    stats = load_file_stats(spark, path)
    bloom = load_bloom_stats(spark, path)
    got, rep = read_with_skipping(spark, path, stats, [("id", "=", 550.0)], bloom=bloom)
    assert [r.id for r in got.collect()] == [550]


def test_incremental_stats_refresh_equals_rebuild(spark, tmp_path):
    """Append-mode sidecar maintenance: carried-over rows + new-file
    harvest must be value-identical to a full re-harvest."""
    from databricks_demo_feature_store_spark.sources.skipping import (
        load_file_stats,
        write_stats_sidecar,
    )

    path = str(tmp_path / "incs")
    spark.range(0, 200).select(F.col("id")).coalesce(2).write.parquet(path)
    write_stats_sidecar(spark, path, ["id"])
    # append new immutable files
    spark.range(200, 300).select(F.col("id")).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    inc_rows = key(write_stats_sidecar(spark, path, ["id"], incremental=True))
    full_rows = key(write_stats_sidecar(spark, path, ["id"]))  # rebuild
    assert inc_rows == full_rows
    # and the maintained sidecar satisfies the coverage guard
    got, rep = read_with_skipping(
        spark, path, load_file_stats(spark, path), [("id", ">=", 250.0)]
    )
    assert got.count() == 50 and rep.pruned > 0


def test_incremental_bloom_refresh_equals_rebuild(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        harvest_file_stats,
        load_bloom_stats,
        write_bloom_sidecar,
    )

    path = str(tmp_path / "incb")
    spark.range(0, 400).select((F.col("id") * 3).alias("k")).repartition(
        4, "k"
    ).write.parquet(path)
    write_bloom_sidecar(spark, path, ["k"])
    spark.range(400, 500).select((F.col("id") * 3).alias("k")).coalesce(
        1
    ).write.mode("append").parquet(path)
    key = lambda df: sorted(
        (
            r.file_path,
            r.column or "",
            tuple(sorted(r.bloom.items())) if r.bloom is not None else None,
            r.n_bits,
            r.n_hashes,
        )
        for r in df.collect()
    )
    inc_rows = key(write_bloom_sidecar(spark, path, ["k"], incremental=True))
    # maintained ≡ rebuilt, bit for bit
    full_rows = key(write_bloom_sidecar(spark, path, ["k"]))
    assert inc_rows == full_rows
    # probes through the maintained sidecar: value in a NEW file found
    stats = harvest_file_stats(spark, path, ["k"])
    got, rep = read_with_skipping(
        spark, path, stats, [("k", "=", 1305.0)],
        bloom=load_bloom_stats(spark, path),
    )
    assert [r.k for r in got.collect()] == [1305]
    # param-mismatch guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_bits"):
        write_bloom_sidecar(spark, path, ["k"], n_bits=1 << 10, incremental=True)


def test_incremental_noop_when_no_new_files(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.skipping import (
        write_bloom_sidecar,
        write_stats_sidecar,
    )

    path = str(tmp_path / "incn")
    spark.range(0, 100).select(F.col("id")).coalesce(1).write.parquet(path)
    s1 = sorted(tuple(r) for r in write_stats_sidecar(spark, path, ["id"]).collect())
    s2 = sorted(tuple(r) for r in write_stats_sidecar(spark, path, ["id"], incremental=True).collect())
    assert s1 == s2
    b1 = write_bloom_sidecar(spark, path, ["id"]).count()
    b2 = write_bloom_sidecar(spark, path, ["id"], incremental=True).count()
    assert b1 == b2


def test_bloom_marker_rows_cover_all_null_files(spark, tmp_path):
    """ADVICE r12: a file whose bloom columns are entirely NULL emits no
    bitset rows — the marker row (column IS NULL) must still record it as
    harvested, so incremental refreshes early-exit instead of rescanning
    its data pages forever, and markers must never prune."""
    from databricks_demo_feature_store_spark.sources.skipping import (
        _list_part_files,
        harvest_file_stats,
        load_bloom_stats,
        write_bloom_sidecar,
    )

    path = str(tmp_path / "blnull")
    # file 0: real keys; file 1: k entirely NULL
    spark.range(0, 100).select((F.col("id") * 3).alias("k")).coalesce(
        1
    ).write.parquet(path)
    spark.range(0, 50).select(
        F.lit(None).cast("bigint").alias("k")
    ).coalesce(1).write.mode("append").parquet(path)

    bloom = write_bloom_sidecar(spark, path, ["k"])
    files = set(_list_part_files(path))
    covered = {r.file_path for r in bloom.select("file_path").distinct().collect()}
    assert covered == files  # the all-NULL file is recorded via its marker

    # no new files → the refresh is a pure no-op (returns the stored rows)
    again = write_bloom_sidecar(spark, path, ["k"], incremental=True)
    k = lambda df: sorted(
        (r.file_path, r.column or "", r.n_bits) for r in df.collect()
    )
    assert k(again) == k(bloom)

    # markers never prune: a probe for a key that exists is still found
    stats = harvest_file_stats(spark, path, ["k"])
    got, rep = read_with_skipping(
        spark, path, stats, [("k", "=", 150.0)],
        bloom=load_bloom_stats(spark, path),
    )
    assert [r.k for r in got.collect()] == [150]
