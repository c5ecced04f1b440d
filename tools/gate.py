"""Single pre-commit gate: one command, non-zero exit on any flag.

Runs, in order (each in its own subprocess so every step gets a clean
JVM/session and one step's config can't mask another's failure):

1. ``tools/check_correctness.py`` — the full differential gate (every registered query) vs
   DuckDB at sf0.01 (mirrors the driver's CORRECTNESS_r{N}.json check).
2. ``tools/explain_audit.py`` — physical-plan scan of every query for
   scale red flags (row-at-a-time PythonUDF, CartesianProduct); fails on
   any ``FLAG``/``ERR`` line.
3. Vanilla-session driver simulation — imports ``__spark_entry__`` by
   file path from a non-repo cwd and runs ``entry()`` plus an
   events-table query on a bare ``local[8]`` session (catches configs
   that only exist in our ``get_spark()``).
4. ``bench.py`` smoke at sf0.001 — asserts exactly one JSON line with
   the driver's contract keys (BENCH_FULL.json is untouched: bench.py
   only persists the standing-record map at sf0.1).
5. ``tools/compat35_audit.py`` — the PySpark-3.5 surface ratchet
   (functions + object methods); fails on any unratcheted usage.
6. Slow-test guards — maps each changed library module (``git diff
   --name-only HEAD`` plus untracked files) to the ``slow`` brute-force
   tests that guard it (``SLOW_GUARDS``) and runs exactly those with
   ``-m slow``; fails unless every mapped test runs and passes.
7. Round-artifact hygiene — fails on untracked or modified
   ``BENCH_r*.json`` / ``CORRECTNESS_r*.json`` / ``BENCH_FULL.json`` /
   ``BENCH_SWEEP.json`` (VERDICT r11/r12/r13 all flagged the same
   drift: an auditor cloning the repo at any commit must see the
   round's evidence).

Usage::

    python tools/gate.py            # full gate (~4 min + guarded slow tests)
    python tools/gate.py --fast     # steps 2-4 only (~1 min)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable

_PIT_SLOW = [
    "tests/test_property_pit.py::test_pit_join_matches_bruteforce",
    "tests/test_property_pit.py::test_multi_pit_matches_bruteforce",
    "tests/test_operators.py::test_point_in_time_join_property_vs_naive",
    "tests/test_operators.py::test_asof_join_directions",
    "tests/test_property_asof.py::test_asof_join_all_directions_match_brute_force",
    "tests/test_property_pit.py::test_cached_training_set_matches_bruteforce",
]
_WRITERS_SLOW = [
    "tests/test_catalog.py::test_concurrent_staged_swap_raises_no_lost_update",
    "tests/test_catalog.py::test_append_skips_incremental_refresh_when_compaction_trips",
    "tests/test_index_store.py::test_partitioned_layout_merged_equals_rebuilt",
    "tests/test_featurestore.py::test_tiered_merge_matches_bruteforce",
]
# the runner dispatches functions/ and pipelines/ steps by name
_PIPELINE_SLOW = [
    "tests/test_pipelines.py::test_pipeline_runs_steps_lazily_with_debug",
    "tests/test_pipelines.py::test_customer_tx_pipeline_schema_and_values",
    "tests/test_pipelines.py::test_reference_native_stack",
    "tests/test_datagen.py::test_golden_pipeline_run",
]
_PKG = "databricks_demo_feature_store_spark/"
# library module -> the slow tests that must pass whenever it changes;
# tests/test_harness.py checks that every SLOW_TESTS entry has a guard
SLOW_GUARDS = {
    _PKG + "operators/joins.py": _PIT_SLOW + [
        "tests/test_streaming.py::test_interval_join_matches_naive_theta_join",
        "tests/test_streaming.py::test_interval_join_stream_matches_batch",
    ],
    _PKG + "featurestore/training.py": _PIT_SLOW,
    _PKG + "featurestore/manager.py": [
        "tests/test_property_pit.py::test_cached_training_set_matches_bruteforce",
        "tests/test_featurestore.py::test_forget_entities_propagates_and_is_idempotent",
        "tests/test_index_store.py::test_partitioned_layout_merged_equals_rebuilt",
        "tests/test_index_store.py::test_index_maintenance_merged_equals_rebuilt",
        "tests/test_featurestore.py::test_tiered_merge_matches_bruteforce",
    ],
    _PKG + "featurestore/incremental.py": [
        "tests/test_featurestore.py::test_refresh_join_view_equals_recompute",
        "tests/test_property_hist_quantile.py::test_quantile_from_hist_matches_python_replay",
    ],
    _PKG + "sources/writers.py": _WRITERS_SLOW,
    _PKG + "sources/deletion_vectors.py": _WRITERS_SLOW,
    _PKG + "sources/column_mapping.py": _WRITERS_SLOW,
    _PKG + "pipelines/incremental.py": _WRITERS_SLOW,
    _PKG + "sources/skipping.py": [
        "tests/test_skipping.py::test_save_table_refreshes_bloom_and_stats_coexist",
        "tests/test_skipping.py::test_harvest_string_and_partition_values",
        "tests/test_skipping.py::test_incremental_bloom_refresh_equals_rebuild",
        "tests/test_skipping.py::test_incremental_stats_refresh_equals_rebuild",
        "tests/test_skipping.py::test_randomized_skipping_always_matches_full_scan",
    ],
    _PKG + "sources/versioned.py": [
        "tests/test_versioned.py::test_restore_promotes_old_version_preserving_history",
        "tests/test_versioned.py::test_shallow_clone_zero_copy_and_independent_writes",
    ],
    _PKG + "sources/datagen.py": [
        "tests/test_datagen.py::test_other_tables_shapes",
        "tests/test_datagen.py::test_golden_pipeline_run",
        "tests/test_pipelines.py::test_reference_native_stack",
    ],
    _PKG + "operators/graph.py": [
        "tests/test_operators.py::test_pagerank_matches_exact_replay",
        "tests/test_operators.py::test_clustering_coefficient_known_graphs",
    ],
    _PKG + "operators/events.py": [
        "tests/test_operators.py::test_funnel_steps_dup_collapse_and_cap",
        "tests/test_property_events.py::test_funnel_fold_matches_sequential_bruteforce",
        "tests/test_property_events.py::test_event_paths_overlap_and_determinism",
    ],
    _PKG + "operators/windows.py": [
        "tests/test_operators.py::test_trailing_multi_window_matches_single_calls",
        "tests/test_operators.py::test_seasonal_anomalies_flags_injected_spike",
        "tests/test_property_windows.py::test_window_family_matches_brute_force",
    ],
    _PKG + "operators/cdc.py": [
        "tests/test_property_windows.py::test_apply_changes_matches_dict_replay",
    ],
    _PKG + "operators/linkage.py": [
        "tests/test_property_pit.py::test_golden_records_matches_bruteforce_union_find",
    ],
    _PKG + "operators/sketches.py": [
        "tests/test_sketches.py::test_count_min_sketch_properties",
    ],
    _PKG + "functions/feature_generation.py": [
        "tests/test_property_rank.py::test_rank_and_ntile_match_bruteforce",
        "tests/test_property_rank.py::test_cumsum_matches_bruteforce",
    ] + _PIPELINE_SLOW,
    _PKG + "functions/quality.py": _PIPELINE_SLOW,
    _PKG + "pipelines/runner.py": _PIPELINE_SLOW,
    _PKG + "pipelines/customer_features.py": [
        "tests/test_pipelines.py::test_customer_tx_pipeline_schema_and_values",
    ],
    _PKG + "pipelines/payment_behavior_features.py": [
        "tests/test_datagen.py::test_golden_pipeline_run",
    ],
    _PKG + "pipelines/reference_sources.py": [
        "tests/test_pipelines.py::test_reference_native_stack",
    ],
    _PKG + "streaming/ops.py": [
        "tests/test_streaming.py::test_ingest_crash_recovery_exactly_once",
        "tests/test_streaming.py::test_stream_trailing_quantile_from_hist_state",
        "tests/test_streaming_cdf.py::test_stream_cdf_agg_ivm_matches_batch_and_recompute",
        "tests/test_streaming.py::test_watermark_drops_late_data",
        "tests/test_streaming.py::test_dedup_stream_watermark_boundary",
        "tests/test_streaming.py::test_sliding_counts_keyed_matches_batch",
        "tests/test_streaming.py::test_stream_ingest_corpus_dedup",
        "tests/test_streaming.py::test_multibatch_ingest_stability",
        "tests/test_streaming.py::test_interval_join_stream_matches_batch",
    ],
    _PKG + "textops/analysis.py": [
        "tests/test_classifier_train.py::test_trainer_matches_sequential_replay",
        "tests/test_classifier_train.py::test_training_separates_the_classes",
    ],
    _PKG + "textops/dedup.py": [
        "tests/test_property_pit.py::test_cc_both_algorithms_match_union_find",
        "tests/test_textops.py::test_two_phase_cc_closes_deep_chains",
        "tests/test_textops.py::test_hot_bucket_cap_near_linear_on_dup_clique",
        "tests/test_textops.py::test_simhash_identical_and_pairs",
    ],
    _PKG + "textops/curation.py": [
        "tests/test_textops.py::test_curation_flags_and_contamination",
    ],
    _PKG + "textops/similarity.py": [
        "tests/test_operators.py::test_mmr_rerank_diversity_greedy",
        "tests/test_sketches.py::test_semantic_dedup_matches_bruteforce",
        "tests/test_textops.py::test_kmeans_refine_converges_and_ivf_works",
        "tests/test_textops.py::test_multiprobe_lsh_recall_not_worse",
        "tests/test_pca.py::test_two_stage_exact_when_candidates_cover_corpus",
        # the shared search kernel backs VectorIndexStore.search
        "tests/test_index_store.py::test_index_store_with_lloyd_refined_quantizers",
        "tests/test_index_store.py::test_index_maintenance_merged_equals_rebuilt",
        "tests/test_index_store.py::test_partitioned_layout_merged_equals_rebuilt",
    ],
    _PKG + "textops/pca.py": [
        "tests/test_pca.py::test_fit_matches_numpy",
        "tests/test_pca.py::test_fit_deterministic_across_partitionings",
        "tests/test_pca.py::test_projection_roundtrip_variance",
        "tests/test_pca.py::test_audit_all_verdicts_true",
        "tests/test_pca.py::test_two_stage_recall_on_anisotropic",
        "tests/test_pca.py::test_two_stage_exact_when_candidates_cover_corpus",
    ],
    _PKG + "textops/index_store.py": [
        "tests/test_index_store.py::test_partitioned_layout_merged_equals_rebuilt",
        "tests/test_index_store.py::test_index_maintenance_merged_equals_rebuilt",
        "tests/test_index_store.py::test_index_upsert_stream_crash_replay_converges",
        "tests/test_index_store.py::test_index_store_with_lloyd_refined_quantizers",
    ],
    _PKG + "textops/multimodal.py": [
        "tests/test_textops.py::test_multimodal_stub_roundtrip",
        "tests/test_textops.py::test_png_decode_real_bytes",
    ],
}

def run(
    name: str, argv: list[str], cwd: str = REPO, env: dict[str, str] | None = None
) -> tuple[bool, str]:
    print(f"== {name} ==", flush=True)
    full_env = dict(os.environ, **(env or {}))
    proc = subprocess.run(argv, cwd=cwd, capture_output=True, text=True, env=full_env)
    out = proc.stdout + proc.stderr
    return proc.returncode == 0, out


def slow_guards_pass() -> bool:
    """Run the ``SLOW_GUARDS`` tests of every changed library module."""
    print("== slow-test guards ==", flush=True)
    changed = []
    for argv in (["git", "diff", "--name-only", "HEAD"],
                 ["git", "ls-files", "--others", "--exclude-standard"]):
        changed += subprocess.run(
            argv, cwd=REPO, capture_output=True, text=True
        ).stdout.split()
    guarded = sorted({t for f in changed for t in SLOW_GUARDS.get(f, ())})
    if not guarded:
        print("no guarded module changed")
        return True
    ok, out = run(
        f"{len(guarded)} slow tests",
        [PY, "-m", "pytest", "-q", "-p", "no:cacheprovider", "-m", "slow", *guarded],
    )
    print(out.strip().splitlines()[-1] if out.strip() else "(no output)")
    # a renamed or unmarked test would silently drop out of the run
    m = re.search(r"(\d+) passed", out)
    return ok and m is not None and int(m.group(1)) == len(guarded)


def main() -> int:
    fast = "--fast" in sys.argv
    failures: list[str] = []

    if not fast:
        ok, out = run(
            "correctness (sf0.01 vs DuckDB)",
            [PY, f"{REPO}/tools/check_correctness.py", "/root/testdata/sf0.01"],
        )
        tail = [l for l in out.splitlines() if l.startswith(("FAIL", "ALL", "   -"))]
        print("\n".join(tail[-12:]) or out[-2000:])
        if not ok or not any(l.startswith("ALL OK") for l in tail):
            failures.append("correctness")

    ok, out = run("plan audit", [PY, f"{REPO}/tools/explain_audit.py"])
    flagged = [l for l in out.splitlines() if l.startswith(("FLAG", "ERR"))]
    m = re.search(r"^(\d+) flagged$", out, re.MULTILINE)
    print("\n".join(flagged) or (m.group(0) if m else out[-2000:]))
    if not ok or m is None or m.group(1) != "0":
        failures.append("plan-audit")

    sim = (
        "import importlib.util\n"
        f"spec = importlib.util.spec_from_file_location('__spark_entry__', '{REPO}/__spark_entry__.py')\n"
        "mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[8]').getOrCreate()\n"
        "assert mod.entry(spark).count() >= 0\n"
        "qs = mod.queries()\n"
        "assert qs['q_pit_join'](spark, '/root/testdata/sf0.001').count() > 0\n"
        "set(qs) >= set(mod.oracle_sql()) or (_ for _ in ()).throw(AssertionError('oracle keys not in queries'))\n"
        "print('DRIVER-SIM-OK')\n"
    )
    ok, out = run("vanilla driver sim", [PY, "-c", sim], cwd="/tmp")
    if not ok or "DRIVER-SIM-OK" not in out:
        print(out[-2000:])
        failures.append("driver-sim")
    else:
        print("DRIVER-SIM-OK")

    ok, out = run(
        "bench smoke (sf0.001)",
        [PY, f"{REPO}/bench.py"],
        # exercise the fresh-JVM chunk orchestration but bound the smoke
        # to 2 chunks × 2 queries — the contract under test is the
        # printed JSON line, not the suite
        env={
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_LIMIT": "4",
            "SPARK_GRAFT_BENCH_CHUNK": "2",
        },
    )
    payload = None
    for line in reversed(out.strip().splitlines()):
        try:
            candidate = json.loads(line)
        except Exception:
            continue
        if isinstance(candidate, dict) and {"metric", "value", "unit", "queries", "sf"} <= set(candidate):
            payload = candidate
            break
    if payload is not None:
        print(f"bench ok: {payload['value']} {payload['unit']}, "
              f"{len(payload['queries'])} queries")
    else:
        print(out.strip().splitlines()[-1][-2000:] if out.strip() else "(no output)")
        failures.append("bench")
    if not ok:
        failures.append("bench-exit")

    ok, out = run("3.5 compat ratchet", [PY, f"{REPO}/tools/compat35_audit.py"])
    last = out.strip().splitlines()[-1] if out.strip() else "(no output)"
    print(last)
    if not ok:
        failures.append("compat35")

    if not fast and not slow_guards_pass():
        failures.append("slow-guards")

    # round-artifact hygiene: the per-round evidence files must be
    # committed, not drifting in the working tree (recurring verdict item
    # r11-r13)
    print("== round-artifact hygiene ==", flush=True)
    proc = subprocess.run(
        ["git", "status", "--porcelain", "--",
         "BENCH_r*.json", "CORRECTNESS_r*.json", "PERF_r*.json",
         "VERIFY_r*.json", "VERDICT.md", "ADVICE.md", "BENCH_PROGRESS.json",
         "BENCH_FULL.json", "BENCH_SWEEP.json", "BASELINE.md", "SCALING.md"],
        cwd=REPO, capture_output=True, text=True,
    )
    drift = [l for l in proc.stdout.splitlines() if l.strip()]
    if drift:
        print("\n".join(drift))
        print("^ commit these round artifacts (driver evidence must live "
              "at every commit)")
        failures.append("artifact-drift")
    else:
        print("clean")

    print(f"\nGATE {'OK' if not failures else 'FAILED: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
