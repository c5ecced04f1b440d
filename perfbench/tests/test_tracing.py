"""Unit tests of the benchmark's tracing arithmetic (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import (  # noqa: E402
    Job,
    Span,
    StageMetrics,
    Tracer,
    covered_length,
    exec_metrics,
    list_files,
    self_times,
    written_since,
)


def test_covered_length_merges_overlaps_and_clips():
    assert covered_length([], 0, 10) == 0
    assert covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # clipped to the window, and intervals outside it ignored
    assert covered_length([(-5, 2), (9, 20), (30, 40)], 0, 10) == 3
    # nested intervals count once
    assert covered_length([(1, 9), (2, 3), (4, 5)], 0, 10) == 8


def test_self_time_is_duration_minus_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("store.merge", 1.0, 4.0, parent=0),
        Span("training.exec", 5.0, 9.0, parent=0),
        Span("inner", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 4.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    # children running on pool threads may overlap each other
    spans = [Span("op", 0.0, 10.0), Span("a", 1.0, 6.0, parent=0), Span("b", 4.0, 8.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_times_sum_to_root_duration():
    spans = [Span("op", 0.0, 10.0), Span("a", 1.0, 6.0, parent=0), Span("b", 2.0, 3.0, parent=1)]
    assert sum(self_times(spans)) == pytest.approx(spans[0].duration)


def test_tracer_nesting_and_disabled():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("store.merge"):
            pass
        with tr.span("training.exec"):
            with tr.span("inner"):
                pass
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]
    assert sorted(tr.descendants(0)) == [1, 2, 3]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("op") as sp:
        assert sp is None
    assert off.spans == []


def write(path, data: bytes):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def test_listing_diff_counts_new_rewritten_and_renamed_files(tmp_path):
    root = str(tmp_path / "store")
    write(os.path.join(root, "t1", "part-0.parquet"), b"a" * 10)
    write(os.path.join(root, "t2", "part-0.parquet"), b"b" * 20)
    before = list_files(root)
    assert {p: st[0] for p, st in before.items()} == {
        os.path.join("t1", "part-0.parquet"): 10,
        os.path.join("t2", "part-0.parquet"): 20,
    }
    # t1 is untouched; t2 is replaced by a staged directory renamed into
    # place (same bytes under new inodes); t3 is new
    staging = os.path.join(root, "_staging")
    write(os.path.join(staging, "part-0.parquet"), b"c" * 30)
    write(os.path.join(staging, "part-1.parquet"), b"d" * 5)
    os.rename(os.path.join(root, "t2"), os.path.join(root, "_old"))
    os.rename(staging, os.path.join(root, "t2"))
    for f in os.listdir(os.path.join(root, "_old")):
        os.remove(os.path.join(root, "_old", f))
    os.rmdir(os.path.join(root, "_old"))
    write(os.path.join(root, "t3", "part-0.parquet"), b"e" * 7)
    written = written_since(before, list_files(root))
    assert written == {
        os.path.join("t2", "part-0.parquet"): 30,
        os.path.join("t2", "part-1.parquet"): 5,
        os.path.join("t3", "part-0.parquet"): 7,
    }
    assert sum(written.values()) == 42


def test_listing_diff_of_missing_root_is_empty(tmp_path):
    assert list_files(str(tmp_path / "nope")) == {}
    assert written_since({}, {}) == {}


def test_exec_metrics_attribute_jobs_by_submission_time():
    jobs = [
        Job(0, submit=1.0, end=2.0, stage_ids=[0]),
        Job(1, submit=3.0, end=6.0, stage_ids=[1, 2]),
        # a later job listing an already-run shuffle stage: not counted twice
        Job(2, submit=4.0, end=5.0, stage_ids=[2, 3]),
        Job(3, submit=11.0, end=12.0, stage_ids=[4]),
    ]
    stages = {
        sid: StageMetrics(tasks=2, run_s=1.0, cpu_s=0.5, shuffle_write=100 * (sid + 1))
        for sid in range(5)
    }
    em = exec_metrics(jobs, stages, 2.5, 10.0)
    assert em["jobs"] == 2
    assert em["tasks"] == 6  # stages 1, 2, 3
    assert em["executor_run_s"] == pytest.approx(3.0)
    assert em["shuffle_write_bytes"] == 200 + 300 + 400
    # job wall covers [3, 6]; the rest of the 7.5 s window is driver time
    assert em["driver_gap_s"] == pytest.approx(7.5 - 3.0)
