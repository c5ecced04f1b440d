"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion through the noop sink (full plan runs,
nothing is collected to the driver — measures engine throughput, not
toPandas serialization).

A complete sf0.1 sweep at ``RECORD_CPUS`` cores appends its per-query map
to BENCH_SWEEP.json's ``recent_sweeps`` (the last 3 are kept) and rewrites
BENCH_FULL.json as their per-query minimum, the standing record. No other
run writes either file.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

# BENCH_FULL.json / BENCH_SWEEP.json hold sweeps at this core count only:
# a sweep at another count (the scaling arm) is not comparable with them.
RECORD_CPUS = 32

HEADLINE = [
    "q01_pricing_summary",
    "q03_unshipped_revenue",
    "q06_forecast_revenue",
    "q05_region_revenue",
    "q07_volume_shipping",
    "q08_market_share",
    "q09_product_profit",
    "q02_min_cost_supplier",
    "q04_priority_returns",
    "q10_returned_revenue",
    "q11_important_value",
    "q12_priority_lines",
    "q13_order_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q20_dominant_suppliers",
    "q21_sole_return_suppliers",
    "q22_dormant_customers",
    "q_skipping_scan",
    "q_bloom_join_reduce",
    "q_skipping_zorder",
    "q_skipping_bloom",
    "q_version_changes",
    "q_deletion_vectors",
    "q_skipping_incremental",
    "q_fs_forget",
    "q_incr_join_refresh",
    "q_incr_agg_join_refresh",
    "q_incr_cdf_refresh",
    "q_incr_cdf_agg_refresh",
    "q_compact_policy",
    "q_check_constraints",
    "q_column_mapping",
    "q_manifest_snapshot",
    "q_generated_columns",
    "q_stream_late_metrics",
    "q_version_restore",
    "q_version_clone",
    "q_version_schema_evolution",
    "q_stream_cdf_ivm",
    "q_stream_cdf_agg_ivm",
    "q_ohlc_bars",
    "q_ohlc_weekly_rollup",
    "q_stream_ohlc",
    "q_row_policy",
    "q_seasonal_decompose",
    "q_seasonal_anomalies",
    "q_cdc_apply_changes",
    "q_asof_nearest",
    "q_scd2_dim_join",
    "q_trailing_features",
    "q_trailing_multi_window",
    "q_label_window",
    "q_incr_agg_refresh",
    "q_stream_cdc_apply",
    "q_equi_join_left_wins",
    "q_conditional_pivot",
    "q_monthly_lags",
    "q_rolling_stats",
    "q_pit_join",
    "q_interval_join",
    "q_string_normalize",
    "q_ratios_pct",
    "q_pipeline_customer_tx",
    "q_pipeline_demographic",
    "q_pipeline_payment_behavior",
    "q_pipeline_credit_native",
    "q_pipeline_holdings_native",
    "q_training_set",
    "q_training_set_stress",
    "q_training_set_windowed",
    "q_training_set_refresh",
    "q_store_lineage",
    "q_store_doctor",
    "q_negative_samples",
    "q_fs_online_snapshot",
    "q_unpivot_melt",
    "q_fill_gaps_interpolate",
    "q_target_encoding",
    "q_funnel_steps",
    "q_retention_cohorts",
    "q_quantile_bin",
    "q_bin_by_cutpoints",
    "q_feature_correlations",
    "q_train_test_split",
    "q_stream_hourly",
    "q_stream_sessionize",
    "q_stream_distinct_sketch",
    "q_stream_ingest_dedup",
    "q_stream_ingest_multibatch",
    "q_val_crosscheck",
    "q_val_expectations",
    "q_val_psi_drift",
    "q_val_ks_drift",
    "q_event_attribution",
    "q_event_paths",
    "q_event_path_conversion",
    "q_stream_trailing_features",
    "q_stream_index_upserts",
    "q_stream_trailing_quantile",
    "q_position_attribution",
    "q_conversion_lags",
    "q_event_transitions",
    "q_chi2_association",
    "q_mutual_information",
    "q_winsorize",
    "q_event_decay",
    "q_val_count_anomalies",
    "q_stream_psi_drift",
    "q_stream_count_anomalies",
    "q_key_skew_profile",
    "q_cms_frequencies",
    "q_stream_cms",
    "q_name_linkage_multiblock",
    "q_json_extract",
    "q_json_key_profile",
    "q_json_schema_drift",
    "q_val_roc_auc",
    "q_val_pr_curve",
    "q_val_pr_auc",
    "q_val_calibration",
    "q_val_pit_leakage",
    "q_val_feature_screen",
    "q_val_psi_numeric",
    "q_val_threshold_metrics",
    "q_val_decile_lift",
    "q_join_size_estimate",
    "q_table_diff",
    "q_scd2_intervals",
    "q_rank_normalize",
    "q_robust_outliers",
    "q_rsi",
    "q_backtest_folds",
    "q_purged_folds",
    "q_rfm_segments",
    "q_val_cohens_kappa",
    "q_pagerank",
    "q_zorder_key",
    "q_frequent_pairs",
    "q_triangle_count",
    "q_clustering_coeff",
    "q_grouping_sets",
    "q_val_privacy",
    "q_val_benford",
    "q_val_cusum",
    "q_val_serving_skew",
    "q_name_linkage",
    "q_golden_records",
    "q_stream_cusum",
]


def _register_all():
    from databricks_demo_feature_store_spark.queries import QUERIES
    # register every query family (ext/cov/val/pipe) into QUERIES
    import databricks_demo_feature_store_spark.queries_ext  # noqa: F401
    import databricks_demo_feature_store_spark.queries_cov  # noqa: F401
    import databricks_demo_feature_store_spark.queries_val  # noqa: F401
    import databricks_demo_feature_store_spark.queries_pipe  # noqa: F401
    import databricks_demo_feature_store_spark.queries_clean  # noqa: F401
    import databricks_demo_feature_store_spark.queries_tpch  # noqa: F401

    return QUERIES


def _sweep_names(QUERIES) -> list[str]:
    return [n for n in HEADLINE if n in QUERIES] + [
        n for n in QUERIES if n.startswith("q_ext_") and n not in HEADLINE
    ]


def standing_record(
    recent_sweeps: list[dict[str, float]], registered
) -> dict[str, float]:
    """The standing per-query record: the minimum over the last <= 3
    complete sweeps, for names that are still registered."""
    recent = recent_sweeps[-3:]
    return {
        q: min(s[q] for s in recent if q in s)
        for q in sorted({q for s in recent for q in s})
        if q in registered
    }


def _save_sweep(timings: dict[str, float], registered, sf: float, runs: int) -> None:
    """Append a complete record-grade sweep to BENCH_SWEEP.json's
    ``recent_sweeps`` and rewrite BENCH_FULL.json as their
    ``standing_record``."""
    sweep_path = os.path.join(ROOT, "BENCH_SWEEP.json")
    try:
        with open(sweep_path) as fh:
            recent = json.load(fh)["recent_sweeps"]
    except (FileNotFoundError, KeyError, json.JSONDecodeError):
        recent = []
    recent = (recent + [timings])[-3:]
    with open(sweep_path, "w") as fh:
        json.dump(
            {
                "metric": "raw_sweep_wall_sec",
                "value": round(sum(timings.values()), 3),
                "queries": timings,
                "recent_sweeps": recent,
                "sf": sf,
                "runs_per_query": runs,
                "cpus": RECORD_CPUS,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    record = standing_record(recent, registered)
    with open(os.path.join(ROOT, "BENCH_FULL.json"), "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_wall_sec",
                "value": round(sum(record.values()), 3),
                "unit": "sec",
                "queries": record,
                "sf": sf,
                "runs_per_query": runs,
            },
            fh,
            indent=1,
            sort_keys=True,
        )


def _progress_path() -> str:
    return os.path.join(ROOT, "BENCH_PROGRESS.json")


def _orchestrate(sf_dir: str, sf: float | None) -> None:
    """Full-sweep mode: run the suite as SEQUENTIAL fresh-JVM chunks of
    ~CHUNK queries instead of one JVM marathon. Measured round 12: a
    220-query single JVM inflates late-suite rows up to ~3.7x of their
    targeted-idle records (GC/code-cache/scratch accumulation), which
    made the committed BENCH_r{N}.json artifact untrustworthy without
    targeted re-measures. A fresh JVM per chunk costs ~15 s startup each
    but keeps every row within normal noise of its standing record —
    the artifact itself becomes the evidence. Children are sequential
    (parallel JVMs on one host would recreate the contention this
    removes) and write raw timings to a temp file; the parent merges,
    records a complete sweep and prints the single driver line.

    Timeout resilience (round 14 post-mortem: the driver's 32-core run
    hit its wall clock and rc=124 left ZERO evidence because all output
    happened at the very end):
      * children flush per-query timings to their out file as they go;
      * the parent merges + writes BENCH_PROGRESS.json and prints a
        stderr heartbeat after EVERY chunk;
      * SIGTERM/SIGINT make the parent print the driver line over
        whatever has completed (flagged ``"partial": true``) instead of
        dying silently;
      * a wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC; default 1800 s at
        32 cores, scaled by sqrt(32/cpus) at lower core counts since the
        same suite is legitimately slower there) degrades remaining
        chunks to min-of-1 — and, only if even that cannot fit (or the
        sweep already runs min-of-1), skips them — with the degradation
        named in the printed line. On a calm host the 32-core sweep runs
        ~20 min and never triggers this;
      * the signal handler terminates the in-flight chunk child before
        exiting, so no chunk JVM outlives the bench.
    """
    import signal
    import statistics
    import subprocess
    import tempfile

    QUERIES = _register_all()
    names = _sweep_names(QUERIES)
    limit = int(os.environ.get("SPARK_GRAFT_BENCH_LIMIT", "0"))
    if limit:  # smoke-testing the fork machinery itself
        names = names[:limit]
    chunk_size = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "50")))
    timings: dict[str, float] = {}
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    budget_env = os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
    budget = (
        float(budget_env)
        if budget_env
        else 1800.0 * (max(RECORD_CPUS, cpus) / max(1, cpus)) ** 0.5
    )
    t_start = time.time()
    chunks = [names[i : i + chunk_size] for i in range(0, len(names), chunk_size)]
    notes: list[str] = []
    current_out: dict[str, str] = {}
    current_child: dict[str, subprocess.Popen] = {}

    def _emit_partial(signum, frame):  # pragma: no cover - signal path
        # a timeout (SIGTERM from `timeout`) or Ctrl-C must still leave a
        # parseable result line: stop the in-flight chunk child (its JVM
        # exits when the child's gateway pipe closes), merge its partial
        # file and print over everything completed so far, then exit
        child = current_child.get("proc")
        if child is not None and child.poll() is None:
            child.terminate()
            try:
                child.wait(timeout=10)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
        try:
            if current_out.get("path"):
                with open(current_out["path"]) as fh:
                    timings.update(json.load(fh).get("queries", {}))
        except Exception:
            pass
        notes.append(f"interrupted by signal {signum}")
        _print_line(
            timings,
            sf,
            runs,
            partial=True,
            notes=notes,
            n_expected=len(names),
        )
        sys.stdout.flush()
        os._exit(0)

    signal.signal(signal.SIGTERM, _emit_partial)
    signal.signal(signal.SIGINT, _emit_partial)

    chunk_walls: list[tuple[int, float]] = []  # (n queries, wall sec)
    degraded: list[str] = []
    skipped: list[str] = []
    for ci, chunk in enumerate(chunks):
        elapsed = time.time() - t_start
        remaining = budget - elapsed
        child_runs = runs
        if chunk_walls:
            per_q = statistics.median(w / n for n, w in chunk_walls)
            est_full = per_q * len(chunk)
            # ~15 s JVM startup is inside per_q already (amortized)
            if remaining < est_full * 1.15:
                # min-of-1 costs roughly 1/runs of the timed part plus
                # the fixed JVM/registration overhead; estimate half. A
                # min-of-1 sweep has nothing to degrade to: it skips.
                est_one = est_full * (1.0 / runs) + 20.0 * (len(chunk) / 50.0)
                if runs > 1 and remaining >= est_one * 1.15:
                    child_runs = 1
                    degraded.extend(chunk)
                else:
                    skipped.extend(n for c in chunks[ci:] for n in c)
                    notes.append(
                        f"budget {budget:.0f}s exhausted after {elapsed:.0f}s: "
                        f"skipped {len(skipped)} queries"
                    )
                    break
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            out_path = tf.name
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(chunk)
        env["SPARK_GRAFT_BENCH_OUT"] = out_path
        env["SPARK_GRAFT_BENCH_RUNS"] = str(child_runs)
        current_out["path"] = out_path
        t_chunk = time.time()
        # Popen, not run: the signal handler must be able to stop the
        # in-flight child, or its JVM outlives the bench
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        current_child["proc"] = proc
        _, child_err = proc.communicate()
        current_child.pop("proc")
        current_out["path"] = ""
        if proc.returncode != 0:
            # surface the child's actual failure (Spark/py4j traceback) —
            # a bare "chunk N failed" leaves the error unrecoverable
            tail = (child_err or b"").decode(errors="replace").strip()
            tail = "\n".join(tail.splitlines()[-40:])
            raise SystemExit(
                f"bench chunk {ci} failed "
                f"(queries {chunk[:3]}...)\n--- child stderr tail ---\n{tail}"
            )
        with open(out_path) as fh:
            timings.update(json.load(fh)["queries"])
        os.unlink(out_path)
        wall = time.time() - t_chunk
        chunk_walls.append((len(chunk), wall))
        if child_runs != runs:
            # 1-based to match the stderr heartbeat numbering
            notes.append(
                f"chunk {ci + 1} degraded to min-of-{child_runs} (budget)"
            )
        # per-chunk evidence: progress artifact + stderr heartbeat, so an
        # external kill at ANY point leaves per-query numbers on disk
        try:
            with open(_progress_path(), "w") as fh:
                json.dump(
                    {
                        "chunks_done": ci + 1,
                        "chunks_total": len(chunks),
                        "queries": timings,
                        "wall_sec": round(time.time() - t_start, 1),
                        "cpus": cpus,
                        "sf": sf,
                    },
                    fh,
                )
        except Exception:
            pass
        print(
            f"[bench] chunk {ci + 1}/{len(chunks)} done: "
            f"{len(timings)}/{len(names)} queries, "
            f"sum {sum(timings.values()):.1f}s, wall {time.time() - t_start:.0f}s"
            + (f" (min-of-{child_runs})" if child_runs != runs else ""),
            file=sys.stderr,
            flush=True,
        )
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_DFL)
    complete = not skipped
    if complete and not degraded:
        # a degraded or partial sweep keeps BENCH_PROGRESS.json as its
        # raw map — the record skips it by design, so deleting progress
        # too would leave the run with no per-query evidence at all
        try:
            os.unlink(_progress_path())
        except FileNotFoundError:
            pass
    # Only a complete min-of-N sweep at the benchmark scale and the record
    # core count joins the record: a scaling-arm run, a budget-degraded or
    # partial sweep, or a LIMIT smoke is not comparable with it.
    if sf == 0.1 and cpus == RECORD_CPUS and complete and not degraded and not limit:
        _save_sweep(timings, QUERIES, sf, runs)
    _print_line(timings, sf, runs, partial=not complete, notes=notes)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # targeted re-measure: run only the named queries in this process,
    # e.g. SPARK_GRAFT_BENCH_ONLY=q_ext_dsir_weights,q_pagerank. It prints
    # its line and writes no record; full sweeps run as fresh-JVM chunks.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if not only:
        _orchestrate(sf_dir, sf)
        return

    from databricks_demo_feature_store_spark import get_spark

    QUERIES = _register_all()

    names = [n.strip() for n in only.split(",") if n.strip()]
    missing = [n for n in names if n not in QUERIES]
    if missing:
        raise SystemExit(f"unknown bench queries: {missing}")
    spark = get_spark("bench")

    # warm the JVM + parquet footers so per-query numbers measure the
    # query, not first-touch overheads. Two rounds: a fresh chunk JVM's
    # early queries otherwise pay residual C2-compilation of Spark's
    # scan/shuffle/codegen infrastructure (sweep-3 audit: in-chunk
    # positions 0-12 ran a 1.23 median ratio vs 1.06-1.14 later — the
    # small, front-loaded inverse of the old single-JVM tail inflation)
    for _ in range(2):
        QUERIES["q01_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Per-query time = best of N timed runs. The single-JVM environment
    # shows heavy run-to-run drift (shared-host scheduling noise measured
    # at 5x on identical sub-second plans, plus first-run plan/Python
    # worker setup); min-of-N measures the query, not the noise. Override
    # with SPARK_GRAFT_BENCH_RUNS=1 for single-shot behavior.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")

    def _flush_child() -> None:
        # incremental per-query flush (atomic rename so the parent's
        # signal handler never reads a half-written file): an external
        # kill mid-chunk loses at most the query in flight, not the chunk
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"queries": timings, "sf": sf}, fh)
        os.replace(tmp, out_path)

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench: {name}")
        best = None
        for _ in range(runs):
            t0 = time.time()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        if out_path:
            _flush_child()
    spark.sparkContext.setJobDescription(None)

    spark.stop()
    # a chunk child hands its timings to the parent through its out file
    if not out_path:
        _print_line(timings, sf, runs)


def _print_line(
    timings: dict[str, float],
    sf: float | None,
    runs: int,
    partial: bool = False,
    notes: list[str] | None = None,
    n_expected: int | None = None,
) -> None:
    total = round(sum(timings.values()), 3)
    top = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
    line = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": top,
        "n_queries": len(timings),
        "queries_note": "25 slowest shown; full per-query map in BENCH_SWEEP.json",
        "sf": sf,
        "runs_per_query": runs,
    }
    if partial:
        line["partial"] = True
        if n_expected is not None:
            line["n_expected"] = n_expected
    if notes:
        line["notes"] = "; ".join(notes)[:300]
    # never outgrow the driver's ~2000-char capture window: shrink the
    # per-query map until the line fits, down to a totals-only line
    out = json.dumps(line)
    for n_top in (10, 5, 0):
        if len(out) <= 1900:
            break
        line["queries"] = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:n_top]
        )
        line["queries_note"] = (
            f"{n_top} slowest shown; full per-query map in BENCH_SWEEP.json"
            if n_top
            else "totals only; full per-query map in BENCH_SWEEP.json"
        )
        out = json.dumps(line)
    print(out)


if __name__ == "__main__":
    main()
