"""Named-catalog surface: CREATE DATABASE / external table registration /
qualified reads / drop (reference notebooks/utils.py:1896-1969)."""

from __future__ import annotations

import pytest

from databricks_demo_feature_store_spark.sources.catalog import Catalog, _check_ident


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(root=str(tmp_path), database="testdb_cat")
    yield c
    spark.sql("DROP DATABASE IF EXISTS testdb_cat CASCADE")


def test_register_and_named_read(spark, cat):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, tag string")
    df.write.parquet(cat.path("t1", "ingestion"))

    q = cat.register_table(spark, "t1", "ingestion", fmt="parquet")
    assert q == "testdb_cat.t1"
    assert cat.table_exists(spark, "t1")
    assert spark.read.table("testdb_cat.t1").count() == 2
    # get_table resolves through the named table, not the path
    assert cat.get_table(spark, "t1", "ingestion").count() == 2
    # idempotent re-registration
    assert cat.register_table(spark, "t1", "ingestion", fmt="parquet") == q


def test_partitioned_register_recovers_partitions(spark, cat):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "y")], "id int, p string")
    df.write.partitionBy("p").parquet(cat.path("t2", "feature"))
    cat.register_table(spark, "t2", "feature", fmt="parquet", partitioned=True)
    got = spark.read.table("testdb_cat.t2")
    assert got.count() == 3
    assert set(got.columns) == {"id", "p"}


def test_drop_table_keeps_data(spark, cat):
    df = spark.createDataFrame([(1,)], "id int")
    df.write.parquet(cat.path("t3", "source"))
    cat.register_table(spark, "t3", "source", fmt="parquet")
    cat.drop_table(spark, "t3")
    assert not cat.table_exists(spark, "t3")
    # external table: path survives the drop, path-based read still works
    assert cat.get_table(spark, "t3", "source", fmt="parquet").count() == 1


def test_exists_probe_prefers_catalog(spark, cat):
    assert not cat.exists(spark, "nope", "source")
    df = spark.createDataFrame([(1,)], "id int")
    df.write.parquet(cat.path("t4", "source"))
    assert cat.exists(spark, "t4", "source")  # path-based
    cat.register_table(spark, "t4", "source", fmt="parquet")
    assert cat.exists(spark, "t4", "source")  # catalog-based


def test_identifier_guard():
    with pytest.raises(ValueError):
        _check_ident("bad-name")
    with pytest.raises(ValueError):
        _check_ident("x; DROP TABLE y")
    assert _check_ident("ok_name_1") == "ok_name_1"


def test_pathless_catalog_unqualified(spark, tmp_path):
    c = Catalog(root=str(tmp_path))  # no database
    assert c.qualified("t") == "t"
    with pytest.raises(ValueError):
        c.ensure_database(spark)


def test_register_rebind_on_layer_change(spark, cat):
    """A name bound to layer A must not silently serve layer B's data
    (ADVICE r2): re-registering from another layer drops and re-creates."""
    a = spark.createDataFrame([(1,), (2,)], "id int")
    b = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    a.write.parquet(cat.path("t5", "ingestion"))
    b.write.parquet(cat.path("t5", "preprocessing"))

    cat.register_table(spark, "t5", "ingestion", fmt="parquet")
    assert cat.get_table(spark, "t5", "ingestion").count() == 2
    # stale-binding guard inside get_table: requesting the OTHER layer
    # skips the catalog hit and reads the path
    assert cat.get_table(spark, "t5", "preprocessing", fmt="parquet").count() == 3
    # re-registration re-binds to the new location
    cat.register_table(spark, "t5", "preprocessing", fmt="parquet")
    assert spark.read.table("testdb_cat.t5").count() == 3


def test_path_quote_guard(spark, tmp_path):
    c = Catalog(root=str(tmp_path) + "/it's", database="testdb_quote")
    with pytest.raises(ValueError, match="quote"):
        c.register_table(spark, "t", "source", fmt="parquet")


def test_read_corpus_jsonl_csv_text(spark, tmp_path):
    import gzip
    import json

    from databricks_demo_feature_store_spark.sources.corpus import read_corpus

    # jsonl.gz with metadata
    jl = tmp_path / "docs.jsonl.gz"
    with gzip.open(jl, "wt") as f:
        for i, t in enumerate(["hello world", "guten tag welt", ""]):
            f.write(json.dumps({"body": t, "url": f"https://x/{i}", "crawl_id": i}) + "\n")
    out = read_corpus(spark, str(jl), fmt="jsonl", text_field="body", id_field="crawl_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(out.columns) == {"doc_id", "text", "url"}
    assert rows[0]["text"] == "hello world" and rows[1]["url"] == "https://x/1"

    # csv, hash-derived ids: deterministic across two reads
    cv = tmp_path / "docs.csv"
    cv.write_text("text,source\nfoo bar,web\nbaz qux,code\n")
    a = read_corpus(spark, str(cv), fmt="csv")
    b = read_corpus(spark, str(cv), fmt="csv")
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )
    assert {r["source"] for r in a.collect()} == {"web", "code"}

    # raw text: one doc per line
    tx = tmp_path / "docs.txt"
    tx.write_text("line one\nline two\n")
    t = read_corpus(spark, str(tx), fmt="text")
    assert {r["text"] for r in t.collect()} == {"line one", "line two"}

    # downstream operators run unchanged on the normalized schema
    from databricks_demo_feature_store_spark.textops.analysis import bigram_lm_scores

    assert bigram_lm_scores(t).count() == 2


def test_read_corpus_hash_ids_salted_and_relocatable(spark, tmp_path):
    """Hash-derived doc_ids must (a) distinguish identical texts that
    arrive in different files, and (b) survive relocating the corpus to
    another directory (salt = file basename, never the absolute URI)."""
    import shutil

    from databricks_demo_feature_store_spark.sources.corpus import read_corpus

    root = tmp_path / "corpus"
    root.mkdir()
    (root / "shard-000.jsonl").write_text('{"text": "same text"}\n')
    (root / "shard-001.jsonl").write_text('{"text": "same text"}\n')
    out = read_corpus(spark, str(root), fmt="jsonl")
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 2 and len(set(ids)) == 2  # per-file salt splits them

    moved = tmp_path / "elsewhere" / "corpus2"
    shutil.copytree(root, moved)
    ids2 = [r["doc_id"] for r in read_corpus(spark, str(moved), fmt="jsonl").collect()]
    assert sorted(ids) == sorted(ids2)  # relocation preserves ids


def test_read_corpus_basename_collision_warns_and_dirname_salt(spark, tmp_path):
    """Same-named files in different subdirectories: the basename salt
    collides (identical texts collapse to one id) but is no longer
    silent — a metadata-only listing warns; salt='dirname' (last two
    path components) keeps the ids distinct."""
    import warnings

    from databricks_demo_feature_store_spark.sources.corpus import (
        list_basename_collisions,
        read_corpus,
    )

    root = tmp_path / "byDomain"
    for dom in ("domainA", "domainB"):
        (root / dom).mkdir(parents=True)
        (root / dom / "data.jsonl").write_text('{"text": "same text"}\n')

    assert list_basename_collisions(spark, str(root)) == {"data.jsonl": 2}

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = read_corpus(spark, str(root) + "/*", fmt="jsonl")
        ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 2 and len(set(ids)) == 1  # documented collision
    assert any("basename" in str(w.message) for w in caught)

    dsalted = read_corpus(spark, str(root) + "/*", fmt="jsonl", salt="dirname")
    ids_d = [r["doc_id"] for r in dsalted.collect()]
    assert len(ids_d) == 2 and len(set(ids_d)) == 2  # parent dir splits them

    # dirname salt is itself deterministic across reruns
    again = [r["doc_id"] for r in
             read_corpus(spark, str(root) + "/*", fmt="jsonl", salt="dirname").collect()]
    assert sorted(ids_d) == sorted(again)


def test_scratch_dir_process_isolated():
    """Two calls get distinct subdirs; a separate interpreter gets a
    DIFFERENT unpredictable root (mode 0700), so concurrent suite runs
    on one host can never collide."""
    import os
    import stat
    import subprocess
    import sys

    from databricks_demo_feature_store_spark.queries import scratch_dir

    a, b = scratch_dir("iso"), scratch_dir("iso")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700

    other = subprocess.check_output(
        [
            sys.executable,
            "-c",
            "from databricks_demo_feature_store_spark.queries import scratch_dir;"
            "import os; print(os.path.dirname(scratch_dir('iso')))",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        text=True,
    ).strip()
    assert other != root  # per-process mkdtemp root


def test_check_constraints_enforced_before_write(spark, tmp_path):
    import os

    import pytest as _pytest

    from databricks_demo_feature_store_spark.sources.writers import (
        CheckConstraintViolation,
        save_table,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "cc")
    good = spark.createDataFrame([(1, 5.0), (2, None)], "id int, bal double")
    # NULL passes (SQL CHECK semantics)
    save_table(good, path, check_constraints=["bal > 0", "id IS NOT NULL"])
    assert spark.read.parquet(path).count() == 2

    bad = spark.createDataFrame(
        [(3, -1.0), (4, 2.0), (None, 3.0)], "id int, bal double"
    )
    with _pytest.raises(CheckConstraintViolation) as exc:
        save_table(bad, path, mode="append",
                   check_constraints=["bal > 0", "id IS NOT NULL"])
    assert exc.value.counts == {"bal > 0": 1, "id IS NOT NULL": 1}
    # the write never started: table unchanged
    assert spark.read.parquet(path).count() == 2


def test_compaction_policy_thresholds_and_zorder(spark, tmp_path):
    """maybe_compact: below-threshold no-op, triggered rewrite reduces the
    file count to the byte-derived target, z-order path preserves rows,
    and pending DV deletes fold into the policy rewrite."""
    import os

    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
        dv_path,
    )
    from databricks_demo_feature_store_spark.sources.skipping import (
        _list_part_files,
    )
    from databricks_demo_feature_store_spark.sources.writers import (
        CompactionPolicy,
        maybe_compact,
        save_table,
    )

    path = str(tmp_path / "ac")
    df = spark.range(0, 2000).select(
        F.col("id").alias("a"), (F.col("id") % 97).alias("b")
    )
    df.repartition(6).write.parquet(path)
    assert len(_list_part_files(path)) == 6

    # 6 small files < min_small_files=8 → no-op, nothing rewritten
    policy = CompactionPolicy(
        small_file_bytes=1 << 30, min_small_files=8, target_file_bytes=1 << 30
    )
    assert maybe_compact(spark, path, policy=policy) is False
    assert len(_list_part_files(path)) == 6

    # append two more slivers + a pending DV delete → trips the threshold;
    # the rewrite must bake the delete in and coalesce to ONE file
    df.limit(500).repartition(2).write.mode("append").parquet(path)
    assert delete_rows(spark, path, "a < 10") > 0
    assert maybe_compact(spark, path, policy=policy) is True
    assert len(_list_part_files(path)) == 1
    assert not os.path.isdir(dv_path(path))
    got = spark.read.parquet(path)
    assert got.filter("a < 10").count() == 0

    # z-order variant via save_table(auto_compact=...): values preserved
    zpath = str(tmp_path / "acz")
    zpolicy = CompactionPolicy(
        small_file_bytes=1 << 30, min_small_files=8,
        target_file_bytes=1 << 30, zorder_by=("a", "b"),
    )
    save_table(df.repartition(6), zpath, auto_compact=zpolicy)
    assert len(_list_part_files(zpath)) == 6  # overwrite mode: policy idle
    save_table(
        df.repartition(6), zpath, mode="append", auto_compact=zpolicy
    )
    assert len(_list_part_files(zpath)) == 1  # 12 slivers → tripped
    both = df.unionByName(df)
    assert spark.read.parquet(zpath).count() == both.count()
    assert (
        spark.read.parquet(zpath).agg(F.sum("a")).first()[0]
        == both.agg(F.sum("a")).first()[0]
    )


def test_column_mapping_rename_chain_and_materialize(spark, tmp_path):
    """Column mapping: chained renames fold to one physical→logical hop,
    collisions and unknown names raise, appends through the mapping
    writer line up, and materialize bakes names in + drops the sidecar."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.column_mapping import (
        load_mapping,
        mapping_path,
        materialize_mapping,
        read_with_mapping,
        rename_column,
        write_with_mapping,
    )

    path = str(tmp_path / "cm")
    spark.range(0, 10).select(F.col("id"), (F.col("id") * 2.0).alias("v")).write.parquet(path)

    rename_column(spark, path, "v", "value")
    rename_column(spark, path, "value", "amount")  # chain a→b→c
    assert load_mapping(path) == {"v": "amount"}
    assert set(read_with_mapping(spark, path).columns) == {"id", "amount"}

    with pytest.raises(ValueError, match="no column"):
        rename_column(spark, path, "v", "x")  # 'v' is physical, not logical
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, path, "amount", "id")

    write_with_mapping(
        spark.range(10, 15).select(F.col("id"), (F.col("id") * 2.0).alias("amount")),
        path,
    )
    got = read_with_mapping(spark, path)
    assert got.count() == 15
    assert got.agg(F.sum("amount")).first()[0] == sum(i * 2.0 for i in range(15))

    assert materialize_mapping(spark, path) == 1
    assert not os.path.exists(mapping_path(path))
    assert set(spark.read.parquet(path).columns) == {"id", "amount"}
    assert materialize_mapping(spark, path) == 0


def test_manifest_guards_and_snapshot(spark, tmp_path):
    """Manifest: DV / column-mapping refusal guards, snapshot pinning,
    missing-manifest error, atomicity artifact absent."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.column_mapping import (
        materialize_mapping,
        rename_column,
    )
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        apply_deletes,
        delete_rows,
    )
    from databricks_demo_feature_store_spark.sources.manifest import (
        manifest_file,
        read_manifest,
        write_manifest,
    )

    path = str(tmp_path / "mf")
    spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("g")).coalesce(
        2
    ).write.parquet(path)

    with pytest.raises(FileNotFoundError, match="no manifest"):
        read_manifest(spark, path)

    # pending DVs refuse (Delta's symlink-manifest restriction)
    delete_rows(spark, path, "g = 0")
    with pytest.raises(ValueError, match="deletion vectors"):
        write_manifest(spark, path)
    apply_deletes(spark, path)

    # live column mapping refuses until materialized
    rename_column(spark, path, "g", "grp")
    with pytest.raises(ValueError, match="column mapping"):
        write_manifest(spark, path)
    materialize_mapping(spark, path)

    files = write_manifest(spark, path)
    assert files and not os.path.exists(manifest_file(path) + ".tmp")
    pinned = read_manifest(spark, path).count()
    spark.range(100, 150).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    ).coalesce(1).write.mode("append").parquet(path)
    assert read_manifest(spark, path).count() == pinned == 80
    assert spark.read.parquet(path).count() == 130


def test_generated_columns_compute_and_validate(spark, tmp_path):
    """generated_columns: missing column computed at write time; a
    caller-supplied column is validated row-for-row (wrong values and
    wrong NULLs reject through CheckConstraintViolation)."""
    import pytest
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.writers import (
        CheckConstraintViolation,
        save_table,
    )

    df = spark.createDataFrame(
        [(1, "2024-03-05"), (2, "2023-07-01")], "id int, d string"
    ).select("id", F.col("d").cast("date").alias("d"))

    # computed when missing
    path = str(tmp_path / "gen1")
    save_table(df, path, generated_columns={"y": "year(d)"})
    got = {(r.id, r.y) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 2024), (2, 2023)}

    # validated when present — correct values pass
    path2 = str(tmp_path / "gen2")
    save_table(
        df.withColumn("y", F.year("d")), path2, generated_columns={"y": "year(d)"}
    )
    assert spark.read.parquet(path2).count() == 2

    # wrong value rejects, nothing lands
    bad = df.withColumn("y", F.lit(1999))
    path3 = str(tmp_path / "gen3")
    with pytest.raises(CheckConstraintViolation):
        save_table(bad, path3, generated_columns={"y": "year(d)"})
    import os
    assert not os.path.exists(path3)

    # wrong NULL rejects too (null-safe equality, unlike plain CHECK)
    badnull = df.withColumn("y", F.lit(None).cast("int"))
    with pytest.raises(CheckConstraintViolation):
        save_table(badnull, path3, generated_columns={"y": "year(d)"})


def test_materialize_mapping_folds_pending_deletion_vectors(spark, tmp_path):
    """ADVICE r13 (high): materialize_mapping is a staged-swap full
    rewrite, and the swap drops the _dv sidecar — so the rewrite MUST
    read with pending row-level deletes folded out, or deleted rows
    silently resurrect under the new (logical) column names."""
    import os

    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.column_mapping import (
        materialize_mapping,
        rename_column,
    )
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
        dv_path,
    )

    path = str(tmp_path / "cmdv")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    ).coalesce(2).write.parquet(path)

    rename_column(spark, path, "g", "grp")
    deleted = delete_rows(spark, path, "g = 0")  # physical names at the scan
    assert deleted == 20

    assert materialize_mapping(spark, path) == 1
    got = spark.read.parquet(path)
    assert set(got.columns) == {"id", "grp"}
    assert got.count() == 80  # deletes baked in, NOT resurrected
    assert got.filter(F.col("grp") == 0).count() == 0
    assert not os.path.isdir(dv_path(path))  # sidecar gone with the swap


def test_write_with_mapping_rejects_mapped_physical_name(spark, tmp_path):
    """ADVICE r13 (medium): after rename a→b, appending a frame with a
    genuinely NEW logical column named 'a' must raise — writing it
    through would land it under physical 'a', which every read aliases
    to 'b', silently merging two logical columns."""
    import pytest
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.column_mapping import (
        read_with_mapping,
        rename_column,
        write_with_mapping,
    )

    path = str(tmp_path / "cmcol")
    spark.range(0, 5).select(
        F.col("id"), (F.col("id") * 2.0).alias("a")
    ).write.parquet(path)
    rename_column(spark, path, "a", "b")

    clash = spark.range(5, 8).select(
        F.col("id"),
        (F.col("id") * 2.0).alias("b"),
        F.lit("new").alias("a"),  # new logical column reusing old name
    )
    with pytest.raises(ValueError, match="physical names already mapped"):
        write_with_mapping(clash, path)

    # the legitimate append still works
    write_with_mapping(
        spark.range(5, 8).select(F.col("id"), (F.col("id") * 2.0).alias("b")),
        path,
    )
    assert read_with_mapping(spark, path).count() == 8


def test_append_skips_incremental_refresh_when_compaction_trips(spark, tmp_path, monkeypatch):
    """ADVICE r13 (low): when the auto-compaction policy is about to
    trip, save_table must NOT run the incremental sidecar refresh first
    — the compaction rewrites every file and re-harvests full sidecars
    itself, so the incremental pass (incl. bloom data-page reads of the
    new files) is pure waste."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources import writers

    calls: list[bool] = []
    real = writers._refresh_stats

    def spy(spark_, path_, fmt_, stats_columns_, bloom_columns=None, incremental=False):
        calls.append(incremental)
        return real(spark_, path_, fmt_, stats_columns_, bloom_columns, incremental)

    monkeypatch.setattr(writers, "_refresh_stats", spy)

    df = spark.range(0, 200).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    path = str(tmp_path / "skipinc")
    policy = writers.CompactionPolicy(
        small_file_bytes=1 << 30, min_small_files=8, target_file_bytes=1 << 30
    )
    writers.save_table(df.repartition(4), path, stats_columns=["a"])
    calls.clear()

    # below threshold (4+4=8 needs min 8... use 3 files → 7 total): the
    # incremental pass RUNS
    below = writers.CompactionPolicy(
        small_file_bytes=1 << 30, min_small_files=99, target_file_bytes=1 << 30
    )
    writers.save_table(
        df.repartition(3), path, mode="append",
        stats_columns=["a"], auto_compact=below,
    )
    assert True in calls  # incremental refresh ran
    calls.clear()

    # policy trips: NO incremental call; only the compaction's own full
    # refresh (incremental=False) happens
    writers.save_table(
        df.repartition(4), path, mode="append",
        stats_columns=["a"], auto_compact=policy,
    )
    assert True not in calls
    assert False in calls  # compaction re-harvested full sidecars

    # table contents intact after the skip-then-compact path
    assert spark.read.parquet(path).count() == 600


def test_concurrent_staged_swap_raises_no_lost_update(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency guard (VERDICT r13 task 4): writer B slips
    a full commit inside writer A's read→swap window; A's swap must
    raise ConcurrentWriteError and discard its staging — B's commit
    survives, nothing is silently clobbered."""
    import os

    import pytest

    from databricks_demo_feature_store_spark.sources import writers

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(path)

    state = {"b_done": False}
    real_read = writers.read_table

    def interleave(spark_, path_, fmt_, meta_=None):
        # pin A's snapshot BEFORE B commits (a real concurrent writer's
        # plan would already have scanned the old files)
        df = real_read(spark_, path_, fmt_, meta_).localCheckpoint(eager=True)
        if not state["b_done"]:
            state["b_done"] = True
            writers.merge_upsert(
                spark.createDataFrame([(3, "c")], "k int, v string"),
                path_,
                ["k"],
            )
        return df

    monkeypatch.setattr(writers, "read_table", interleave)
    with pytest.raises(writers.ConcurrentWriteError, match="changed while"):
        writers.merge_upsert(
            spark.createDataFrame([(2, "A2")], "k int, v string"), path, ["k"]
        )

    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # B intact, A not applied
    # loser's staging discarded
    assert not [n for n in os.listdir(tmp_path) if n.startswith("tbl__staging")]

    # A retried against the new state commits cleanly
    monkeypatch.setattr(writers, "read_table", real_read)
    writers.merge_upsert(
        spark.createDataFrame([(2, "A2")], "k int, v string"), path, ["k"]
    )
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "A2"), (3, "c")}


def test_concurrent_merges_one_winner(spark, tmp_path, monkeypatch):
    """Two threads merge into one table and both finish their staging
    writes before either swaps. Each has its own staging directory, so
    the caller that returns is the one whose rows the table holds; the
    other raises ConcurrentWriteError, and no staging is left behind."""
    import os
    import threading

    from databricks_demo_feature_store_spark.sources import writers

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.parquet(path)
    barrier = threading.Barrier(2, timeout=60)
    real_swap = writers._swap_dirs

    def swap_after_barrier(live, staging, expected_generation=writers._UNCHECKED):
        barrier.wait()
        real_swap(live, staging, expected_generation)

    monkeypatch.setattr(writers, "_swap_dirs", swap_after_barrier)
    outcome: dict = {}

    def merge(tag):
        batch = spark.createDataFrame([(2, tag)], "k int, v string")
        try:
            writers.merge_upsert(batch, path, ["k"])
            outcome[tag] = "ok"
        except writers.ConcurrentWriteError:
            outcome[tag] = "conflict"
        except Exception as exc:  # reported by the assertion below
            outcome[tag] = repr(exc)

    threads = [threading.Thread(target=merge, args=(t,)) for t in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(outcome.values()) == ["conflict", "ok"], outcome
    winner = next(t for t, o in outcome.items() if o == "ok")
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, winner)}
    assert sorted(os.listdir(tmp_path)) == ["tbl"]


def test_table_generation_token_tracks_commits(spark, tmp_path):
    """The generation token changes on every commit shape: staged swap
    (new inode), plain append (new file mtime), hive-partitioned append
    into an EXISTING partition directory (deep-tree mtime — the case a
    top-dir-only token would miss)."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources import writers

    path = str(tmp_path / "gen")
    assert writers.table_generation(path) is None

    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 2).alias("p")
    )
    df.write.partitionBy("p").parquet(path)
    g0 = writers.table_generation(path)
    assert g0 is not None
    assert writers.table_generation(path) == g0  # stable when idle

    # append into the SAME partition dirs
    df.write.mode("append").partitionBy("p").parquet(path)
    g1 = writers.table_generation(path)
    assert g1 != g0

    writers.compact(spark, path)
    g2 = writers.table_generation(path)
    assert g2 != g1


def test_retry_on_conflict_wins_second_attempt(spark, tmp_path, monkeypatch):
    """retry_on_conflict: the losing writer's retry re-reads the winner's
    commit and lands BOTH changes (no lost update either way)."""
    from databricks_demo_feature_store_spark.sources import writers

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(path)

    state = {"b_done": False}
    real_read = writers.read_table

    def interleave(spark_, path_, fmt_, meta_=None):
        df = real_read(spark_, path_, fmt_, meta_).localCheckpoint(eager=True)
        if not state["b_done"]:
            state["b_done"] = True
            writers.merge_upsert(
                spark.createDataFrame([(3, "c")], "k int, v string"),
                path_,
                ["k"],
            )
        return df

    monkeypatch.setattr(writers, "read_table", interleave)
    writers.retry_on_conflict(
        lambda: writers.merge_upsert(
            spark.createDataFrame([(2, "b")], "k int, v string"), path, ["k"]
        )
    )
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # both writers' rows landed


def _data_files(path: str) -> list[str]:
    import os

    return [n for n in os.listdir(path) if n.startswith("part-")]


def _last_job_final_stage_tasks(spark, group: str) -> int:
    """Task count of the final stage of ``group``'s last job."""
    import time

    st = spark.sparkContext.statusTracker()
    for _ in range(50):  # job events reach the status tracker asynchronously
        jobs = st.getJobIdsForGroup(group)
        info = st.getJobInfo(max(jobs)) if jobs else None
        stage = st.getStageInfo(max(info.stageIds)) if info else None
        if stage is not None:
            return stage.numTasks
        time.sleep(0.1)
    raise AssertionError(f"no job recorded for group {group!r}")


def test_merge_rewrite_sized_to_one_split(spark, tmp_path):
    """A small table's merge rewrite writes one file from one task, not
    one per input partition of the rewrite plan (the table's scan splits
    plus the batch's eight partitions)."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.writers import merge_upsert

    path = str(tmp_path / "tbl")
    spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    ).repartition(3).write.parquet(path)
    batch = spark.range(1990, 2030, numPartitions=8).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    sc = spark.sparkContext
    sc.setJobGroup("merge-sizing", "merge")
    try:
        merge_upsert(batch, path, ["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _last_job_final_stage_tasks(spark, "merge-sizing") == 1
    assert len(_data_files(path)) == 1
    got = dict(spark.read.parquet(path).collect())
    assert len(got) == 2030
    assert got[1995] == 1995.0 and got[10] == 15.0


def test_local_session_hadoop_conf_drops_yarn_defaults(spark, tmp_path):
    """A local session's per-query Hadoop configuration holds no key
    from ``yarn-default.xml``, still after a write, a read and a merge
    (a late default-resource registration would reload them), so it
    serializes to under 64 KB (113 KB with them). Streaming checkpoints
    still find their ``AbstractFileSystem``, and a second ``get_spark``
    on the live session does not dump the configuration again."""
    import json
    import os
    import threading

    import py4j.clientserver as cs
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark import get_spark
    from databricks_demo_feature_store_spark.sources.writers import merge_upsert

    path = str(tmp_path / "tbl")
    spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v")).write.parquet(path)
    assert spark.read.parquet(path).count() == 100
    merge_upsert(spark.range(95, 105).select(F.col("id").alias("k"), F.lit(0.0).alias("v")), path, ["k"])
    assert spark.read.parquet(path).count() == 105
    # the staged swap commits a store write; no job writes a marker
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))

    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    out = jvm.java.io.StringWriter()
    jvm.org.apache.hadoop.conf.Configuration.dumpConfiguration(conf, out)
    sources = {prop["resource"] for prop in json.loads(out.toString())["properties"]}
    assert "core-default.xml" in sources and "yarn-default.xml" not in sources
    buf = jvm.java.io.ByteArrayOutputStream()
    conf.write(jvm.java.io.DataOutputStream(buf))
    assert buf.size() < 64 * 1024
    assert conf.get("fs.AbstractFileSystem.file.impl")

    commands = []
    send = cs.ClientServerConnection.send_command
    caller = threading.get_ident()

    def recording(self, command):
        if threading.get_ident() == caller:
            commands.append(command)
        return send(self, command)

    cs.ClientServerConnection.send_command = recording
    try:
        again = get_spark(
            "tests",
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            extra_conf={"spark.sql.codegen.wholeStage": spark.conf.get("spark.sql.codegen.wholeStage")},
        )
    finally:
        cs.ClientServerConnection.send_command = send
    assert again is spark
    assert commands and not any("dumpConfiguration" in c for c in commands)


def test_merge_rewrite_file_count_follows_split_size(spark, tmp_path):
    """With lowered ``spark.sql.files.*`` split settings the rewrite
    writes ceil(bytes / split) files, split = min(maxPartitionBytes,
    max(openCostInBytes, bytes / defaultParallelism)) — the rule is the
    scan's split size, not "always one file". Every input file is
    smaller than ``openCostInBytes``, the least split, so no scan cuts
    one and every input partition carries rows at any core count; a cut
    file's splits without a row group's midpoint read nothing, and the
    coalesced write would lose one file per empty group."""
    import math
    import os

    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.writers import (
        merge_upsert,
        plan_size_estimate,
    )

    path = str(tmp_path / "tbl")
    spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    ).repartition(12).write.parquet(path)
    batch = spark.range(4000, 4040, numPartitions=8).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    settings = {
        "spark.sql.files.maxPartitionBytes": 16384,
        "spark.sql.files.openCostInBytes": 4096,
    }
    saved = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, str(v))
        sizes = [os.path.getsize(os.path.join(path, f)) for f in _data_files(path)]
        assert max(sizes) < 4096
        size = sum(sizes) + plan_size_estimate(batch)
        split = min(16384, max(4096, size // spark.sparkContext.defaultParallelism))
        expected = math.ceil(size / split)
        assert expected > 1
        merge_upsert(batch, path, ["k"])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(_data_files(path)) == expected
    assert spark.read.parquet(path).count() == 4040
