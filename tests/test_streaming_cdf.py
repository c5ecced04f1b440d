"""Streaming CDF source → incremental materialized view (streaming/ops.py
stream_cdf_ivm): streamed refresh ≡ batch refresh_join_view_from_cdf ≡
full recompute, exactly-once under replay, span-shaped backlog folding."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.sources.versioned import VersionedTable
from databricks_demo_feature_store_spark.streaming.ops import (
    _state_head,
    init_cdf_view,
    read_cdf_view,
    stream_cdf_ivm,
)


def _fact(spark, rows):
    return spark.createDataFrame(rows, "k int, grp int, amt double")


def _dim(spark):
    return spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "grp int, name string"
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_cdf_ivm_matches_batch_and_recompute(spark, tmp_path):
    dim = _dim(spark)
    f0 = _fact(spark, [(1, 0, 10.0), (2, 1, 20.0), (3, 2, 30.0)])
    f1 = _fact(spark, [(1, 0, 99.0), (3, 2, 30.0), (4, 1, 40.0)])  # upd/del/ins
    f2 = _fact(spark, [(1, 0, 99.0), (4, 1, 41.0), (5, 0, 50.0)])  # del/upd/ins

    vt = VersionedTable(spark, str(tmp_path / "fact"))
    view_path = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    vt.save(f0)
    init_cdf_view(vt.read(0).join(dim, "grp"), view_path, source_version=0)

    # two commits through two drains (checkpoint resumption between them)
    for commit in (f1, f2):
        vt.save(commit)
        q = stream_cdf_ivm(
            spark, vt, view_path, ckpt, key="k", other=dim, on="grp"
        )
        q.awaitTermination()

    streamed = read_cdf_view(spark, view_path)
    recompute = vt.read().join(dim, "grp")
    assert _rows(streamed) == _rows(recompute.select(*streamed.columns))

    # batch IVM over the same commits lands on the identical view
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        refresh_join_view_from_cdf,
    )

    batch_view = vt.read(0).join(dim, "grp")
    for v in (1, 2):
        batch_view = refresh_join_view_from_cdf(
            batch_view, vt, "k", dim, on="grp", v_from=v - 1, v_to=v
        )
    assert _rows(streamed) == _rows(batch_view.select(*streamed.columns))


def test_stream_cdf_ivm_backlog_folds_as_one_span(spark, tmp_path):
    """THREE commits land before the stream runs once: the single drain
    must fold changes_between(0, 3) in one refresh and reach the same
    state as a full recompute."""
    dim = _dim(spark)
    vt = VersionedTable(spark, str(tmp_path / "fact"))
    view_path = str(tmp_path / "view")

    vt.save(_fact(spark, [(1, 0, 1.0), (2, 1, 2.0)]))
    init_cdf_view(vt.read(0).join(dim, "grp"), view_path, source_version=0)
    vt.save(_fact(spark, [(1, 0, 5.0), (2, 1, 2.0)]))
    vt.save(_fact(spark, [(2, 1, 2.0), (3, 2, 3.0)]))
    vt.save(_fact(spark, [(3, 2, 4.0), (4, 0, 9.0)]))

    q = stream_cdf_ivm(
        spark, vt, view_path, str(tmp_path / "ckpt"),
        key="k", other=dim, on="grp",
    )
    q.awaitTermination()
    # one view commit beyond the bootstrap = the whole backlog in one fold
    assert _state_head(view_path) == (1, 3)  # (version, applied source version)
    got = read_cdf_view(spark, view_path)
    want = vt.read().join(dim, "grp")
    assert _rows(got) == _rows(want.select(*got.columns))


def test_stream_cdf_ivm_replay_skips_applied_versions(spark, tmp_path):
    """Replay after a crash between view commit and checkpoint commit:
    a FRESH checkpoint re-delivers every marker; the applied-version
    guard must skip them all without touching the view."""
    dim = _dim(spark)
    vt = VersionedTable(spark, str(tmp_path / "fact"))
    view_path = str(tmp_path / "view")

    vt.save(_fact(spark, [(1, 0, 1.0)]))
    init_cdf_view(vt.read(0).join(dim, "grp"), view_path, source_version=0)
    vt.save(_fact(spark, [(1, 0, 2.0), (2, 1, 7.0)]))

    q = stream_cdf_ivm(
        spark, vt, view_path, str(tmp_path / "ckpt1"),
        key="k", other=dim, on="grp",
    )
    q.awaitTermination()
    before = _state_head(view_path)
    state_before = _rows(read_cdf_view(spark, view_path))

    # fresh checkpoint = worst-case full replay of all markers
    q = stream_cdf_ivm(
        spark, vt, view_path, str(tmp_path / "ckpt2"),
        key="k", other=dim, on="grp",
    )
    q.awaitTermination()
    assert _state_head(view_path) == before  # no extra commit
    assert _rows(read_cdf_view(spark, view_path)) == state_before


def test_stream_cdf_ivm_requires_bootstrap(spark, tmp_path):
    dim = _dim(spark)
    vt = VersionedTable(spark, str(tmp_path / "fact"))
    vt.save(_fact(spark, [(1, 0, 1.0)]))
    q = stream_cdf_ivm(
        spark, vt, str(tmp_path / "view"), str(tmp_path / "ckpt"),
        key="k", other=dim, on="grp",
    )
    with pytest.raises(Exception, match="not initialized"):
        q.awaitTermination()


def test_commit_markers_written_and_vacuumed(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.save(spark.range(3))
    vt.save(spark.range(4))
    vt.restore(0)
    names = sorted(os.listdir(vt.commits_path()))
    assert names == ["commit-0.json", "commit-1.json", "commit-2.json"]
    vt.vacuum(keep_last=2)
    names = sorted(os.listdir(vt.commits_path()))
    assert names == ["commit-1.json", "commit-2.json"]


def test_stream_cdf_agg_ivm_matches_batch_and_recompute(spark, tmp_path):
    """Aggregate-state twin: streamed fold ≡ batch
    refresh_aggregate_state_from_cdf ≡ full recompute, with deletes
    subtracting and updates re-pricing through exact DECIMAL cells."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        refresh_aggregate_state_from_cdf,
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_cdf_agg_ivm,
    )

    vt = VersionedTable(spark, str(tmp_path / "fact"))
    state_path = str(tmp_path / "state")

    f0 = _fact(spark, [(1, 0, 10.0), (2, 0, 20.0), (3, 1, 30.0)])
    f1 = _fact(spark, [(1, 0, 15.0), (3, 1, 30.0), (4, 1, 5.0)])  # upd/del/ins
    f2 = _fact(spark, [(3, 1, 30.0), (4, 1, 5.0), (5, 0, 2.0)])

    vt.save(f0)
    init_cdf_view(
        aggregate_state(vt.read(0), keys=["grp"], value_col="amt"),
        state_path,
        source_version=0,
    )
    for commit in (f1, f2):
        vt.save(commit)
        q = stream_cdf_agg_ivm(
            spark, vt, state_path, str(tmp_path / "ckpt"),
            id_keys=["k"], agg_keys=["grp"], value_col="amt",
        )
        q.awaitTermination()

    streamed = read_cdf_view(spark, state_path)
    recompute = aggregate_state(vt.read(), keys=["grp"], value_col="amt")
    assert _rows(streamed.select("grp", "n", "s", "s2")) == _rows(
        recompute.select("grp", "n", "s", "s2")
    )

    batch = aggregate_state(vt.read(0), keys=["grp"], value_col="amt")
    for v in (1, 2):
        batch = refresh_aggregate_state_from_cdf(
            batch, vt, id_keys=["k"], agg_keys=["grp"], value_col="amt",
            v_from=v - 1, v_to=v,
        )
    assert _rows(streamed.select("grp", "n", "s", "s2")) == _rows(
        batch.select("grp", "n", "s", "s2")
    )
