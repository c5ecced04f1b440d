"""Tests for parquet time travel (VersionedTable)."""

from __future__ import annotations

import datetime as dt

import pytest

from databricks_demo_feature_store_spark.sources.versioned import (
    VersionedTable,
    cross_check_previous_version,
)


def test_versioned_save_read_history(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    assert t.history() == [] and t.latest_version() is None

    t.save(spark.range(10), operation="WRITE", count_rows=True)
    t.save(spark.range(25), operation="OVERWRITE", count_rows=True)
    hist = t.history()
    assert [v.version for v in hist] == [1, 0]
    assert hist[0].num_rows == 25 and hist[1].num_rows == 10

    assert t.read().count() == 25          # latest
    assert t.read(0).count() == 10         # VERSION AS OF 0
    with pytest.raises(ValueError, match="not found"):
        t.read(7)


def test_versioned_read_before_and_vacuum(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.save(spark.range(5))
    cutoff = dt.datetime.now(dt.timezone.utc).isoformat()
    t.save(spark.range(8))
    assert t.read_before(cutoff).count() == 5

    t.save(spark.range(9))
    dropped = t.vacuum(keep_last=2)
    assert dropped == [0]
    assert [v.version for v in t.history()] == [2, 1]
    with pytest.raises(ValueError, match="not found"):
        t.read(0)


def test_cross_check_previous_version(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    jan = [(dt.date(2024, 1, 5),)] * 100
    feb = [(dt.date(2024, 2, 5),)] * 50
    t.save(spark.createDataFrame(jan, ["d"]))
    t.save(spark.createDataFrame(jan + feb, ["d"]))
    out = {r["month"]: r for r in cross_check_previous_version(t, "d").collect()}
    assert out[dt.date(2024, 1, 1)]["passed"]          # unchanged month
    assert not out[dt.date(2024, 2, 1)]["passed"]      # brand-new month: 100% diff
    assert out[dt.date(2024, 2, 1)]["target_count"] == 0


def test_read_before_parses_timestamps(spark, tmp_path):
    """Timestamps are parsed and UTC-normalized, not string-compared:
    an equivalent cutoff in another offset picks the same version."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.save(spark.range(5))
    cut = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=1)
    t2 = cut.astimezone(dt.timezone(dt.timedelta(hours=5)))
    assert t.read_before(cut.isoformat()).count() == 5
    assert t.read_before(t2.isoformat()).count() == 5  # same instant, +05:00
    with pytest.raises(ValueError, match="No version"):
        # same instant expressed in a NEGATIVE offset still compares equal
        t.read_before((cut - dt.timedelta(hours=12)).isoformat())


def test_save_triggers_no_readback_job_by_default(spark, tmp_path):
    """save() must run exactly the write job — the manifest row count is
    opt-in (count_rows=True adds a full read-back scan)."""
    sc = spark.sparkContext
    t = VersionedTable(spark, str(tmp_path / "tbl"))

    sc.setJobGroup("vt-save-default", "probe")
    try:
        info = t.save(spark.range(10))
    finally:
        sc.setJobGroup(None, None)
    default_jobs = sc.statusTracker().getJobIdsForGroup("vt-save-default")
    assert len(default_jobs) == 1, f"expected only the write job, got {default_jobs}"
    assert info.num_rows is None

    sc.setJobGroup("vt-save-counted", "probe")
    try:
        info = t.save(spark.range(10), count_rows=True)
    finally:
        sc.setJobGroup(None, None)
    # read-back count adds jobs (scan + AQE stages) on top of the write
    counted_jobs = sc.statusTracker().getJobIdsForGroup("vt-save-counted")
    assert len(counted_jobs) > 1, f"expected write + count jobs, got {counted_jobs}"
    assert info.num_rows == 10


def test_changes_between_cdf_semantics(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable
    from pyspark.sql import functions as F

    vt = VersionedTable(spark, str(tmp_path / "cdf"))
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "id int, seg string, bal double",
    )
    v1 = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
        "id int, seg string, bal double",
    )
    vt.save(v0, operation="overwrite")
    vt.save(v1, operation="overwrite")
    got = {
        (r.id, r._change_type): (r.seg, r.bal, r._commit_version)
        for r in vt.changes_between(0, 1, ["id"]).collect()
    }
    assert got == {
        (1, "delete"): ("a", 10.0, 1),
        (2, "update_preimage"): ("b", 20.0, 1),
        (2, "update_postimage"): ("b", 25.0, 1),
        (4, "insert"): ("d", 40.0, 1),
    }
    # id 3 (unchanged, with a NULL payload) dropped: null-safe compare


def test_changes_between_identical_versions_empty(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cdf2"))
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    vt.save(df, operation="overwrite")
    vt.save(df, operation="overwrite")
    assert vt.changes_between(0, 1, ["id"]).count() == 0


def test_deletion_vectors_lifecycle(spark, tmp_path):
    """DV semantics: accumulate, no-op re-delete, exact fold-out,
    physical apply ≡ logical view, sidecar cleared by apply."""
    import os

    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        apply_deletes,
        delete_rows,
        dv_path,
        read_with_deletes,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "dv")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("g")
    ).coalesce(4).write.parquet(path)

    # no sidecar: plain scan
    assert read_with_deletes(spark, path).count() == 100
    assert apply_deletes(spark, path) == 0

    assert delete_rows(spark, path, "g = 3") == 10
    # overlapping second wave: only NEW coordinates count
    assert delete_rows(spark, path, "g IN (3, 4)") == 10
    logical = read_with_deletes(spark, path)
    assert logical.count() == 80
    assert logical.filter("g IN (3, 4)").count() == 0
    want = sorted(r.id for r in logical.collect())

    # data files untouched so far
    assert spark.read.parquet(path).count() == 100

    # physical apply: rewrite minus deletes, sidecar gone, idempotent
    assert apply_deletes(spark, path) == 20
    assert not os.path.isdir(dv_path(path))
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == want
    assert apply_deletes(spark, path) == 0
    # coordinates of the NEW files start fresh
    assert delete_rows(spark, path, "g = 5") == 10
    assert read_with_deletes(spark, path).count() == 70


def test_staged_rewrites_fold_pending_deletes(spark, tmp_path):
    """ADVICE r12 (medium): compact() and merge_upsert() promote a staged
    rewrite over the live dir, discarding the _dv sidecar — pending
    row-level deletes must fold INTO the rewrite, never resurrect."""
    import os

    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
        dv_path,
    )
    from databricks_demo_feature_store_spark.sources.writers import (
        compact,
        merge_upsert,
    )

    # --- compact() bakes deletes in and the sidecar dies with the swap
    path = str(tmp_path / "dvc")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("g")
    ).coalesce(4).write.parquet(path)
    assert delete_rows(spark, path, "g = 3") == 10
    compact(spark, path, target_partitions=1)
    assert not os.path.isdir(dv_path(path))
    got = spark.read.parquet(path)
    assert got.count() == 90 and got.filter("g = 3").count() == 0

    # --- merge_upsert(): kept rows exclude deleted ones; an incoming row
    # may legitimately re-insert a deleted key (it is a NEW row)
    path2 = str(tmp_path / "dvm")
    spark.range(0, 50).select(
        F.col("id"), F.lit("old").alias("v")
    ).coalesce(2).write.parquet(path2)
    assert delete_rows(spark, path2, "id >= 40") == 10
    upd = spark.range(45, 55).select(F.col("id"), F.lit("new").alias("v"))
    merge_upsert(upd, path2, keys=["id"])
    assert not os.path.isdir(dv_path(path2))
    rows = {r.id: r.v for r in spark.read.parquet(path2).collect()}
    # ids 40-44: deleted, not in incoming → gone for good
    assert all(i not in rows for i in range(40, 45))
    # ids 45-54: re-inserted by the merge
    assert all(rows[i] == "new" for i in range(45, 55))
    # ids 0-39: untouched
    assert sum(1 for i in rows if i < 40) == 40 and rows[0] == "old"


def test_restore_promotes_old_version_preserving_history(spark, tmp_path):
    """RESTORE (Delta RESTORE TABLE ... VERSION AS OF twin): the restored
    content becomes a NEW head version, the bad write stays in history,
    zero data bytes are copied (hardlinks), and post-restore appends
    diverge normally."""
    import os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.save(spark.range(100), operation="WRITE", count_rows=True)      # v0 good
    t.save(spark.range(7), operation="OVERWRITE", count_rows=True)    # v1 bad

    info = t.restore(0)
    assert info.version == 2 and info.operation == "RESTORE(v0)"
    assert t.read().count() == 100                       # head == v0 content
    assert t.read(1).count() == 7                        # bad write inspectable
    assert [v.version for v in t.history()] == [2, 1, 0]

    # zero-copy: every data file in v=2 is a hardlink into v=0's inodes
    v2 = os.path.join(str(tmp_path / "tbl"), "v=2")
    data_files = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(v2)
        for n in ns
        if not n.startswith(("_", "."))
    ]
    assert data_files and all(os.stat(f).st_nlink >= 2 for f in data_files)

    # restore of a missing version raises
    with pytest.raises(ValueError, match="not found"):
        t.restore(99)

    # post-restore writes diverge from the restored source
    t.save(spark.range(150), operation="OVERWRITE")
    assert t.read().count() == 150 and t.read(2).count() == 100

    # a restore can itself be restored away
    t.restore(1)
    assert t.read().count() == 7


def test_shallow_clone_zero_copy_and_independent_writes(spark, tmp_path):
    """Shallow clone (Delta SHALLOW CLONE twin): clone read ≡ source
    latest with ZERO data-file copies (hardlinks asserted by inode),
    own history, and writes to either side never leak to the other."""
    import os

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.save(spark.range(50), count_rows=True)
    src.save(spark.range(80), count_rows=True)

    dst = src.clone(str(tmp_path / "dst"))
    assert dst.read().count() == 80
    assert [v.version for v in dst.history()] == [0]
    assert dst.history()[0].operation.startswith("CLONE(")

    # zero-copy assertion: clone's data files share inodes with source
    src_inodes = {
        os.stat(os.path.join(r, n)).st_ino
        for r, _d, ns in os.walk(os.path.join(str(tmp_path / "src"), "v=1"))
        for n in ns
        if not n.startswith(("_", "."))
    }
    dst_files = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(os.path.join(str(tmp_path / "dst"), "v=0"))
        for n in ns
        if not n.startswith(("_", "."))
    ]
    assert dst_files and all(os.stat(f).st_ino in src_inodes for f in dst_files)

    # independent evolution, both directions
    dst.save(spark.range(99))
    src.save(spark.range(3))
    assert dst.read().count() == 99 and dst.read(0).count() == 80
    assert src.read().count() == 3 and src.read(1).count() == 80

    # clone target must be fresh; empty source refuses
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "dst"))
    with pytest.raises(FileNotFoundError):
        VersionedTable(spark, str(tmp_path / "empty")).clone(
            str(tmp_path / "dst2")
        )

    # clone survives source vacuum (hardlinks keep inodes alive)
    src.vacuum(keep_last=1)
    assert dst.read(0).count() == 80


def test_read_all_versions_merge_schema(spark, tmp_path):
    """Merge-schema history scan: missing columns null-fill under the
    newest schema; strict mode raises on drift."""
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "evo"))
    vt.save(spark.createDataFrame([(1, "x")], "k int, a string"))
    vt.save(
        spark.createDataFrame([(1, "x", 9.0), (2, "y", 4.0)], "k int, a string, b double"),
        operation="OVERWRITE",
    )
    out = vt.read_all_versions(merge_schema=True)
    assert set(out.columns) == {"k", "a", "b", "_version"}
    rows = {(r._version, r.k): r for r in out.collect()}
    assert rows[(0, 1)].b is None  # v0 had no b column
    assert rows[(1, 2)].b == 4.0
    assert len(rows) == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema drift"):
        vt.read_all_versions(merge_schema=False)


def test_read_all_versions_same_schema_strict_ok(spark, tmp_path):
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "same"))
    vt.save(spark.createDataFrame([(1,)], "k int"))
    vt.save(spark.createDataFrame([(2,)], "k int"), operation="OVERWRITE")
    out = vt.read_all_versions(merge_schema=False)
    assert sorted((r._version, r.k) for r in out.collect()) == [(0, 1), (1, 2)]


def test_failed_manifest_write_keeps_history(spark, tmp_path, monkeypatch):
    """A save that fails while writing the version manifest leaves the
    previous manifest whole: the versions before it stay listed."""
    import json

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.save(spark.range(3))
    t.save(spark.range(5))

    def torn_dump(obj, fh, **kw):
        fh.write("[{")
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        t.save(spark.range(7))
    monkeypatch.undo()
    assert [v.version for v in t.history()] == [1, 0]
    assert t.read().count() == 5
