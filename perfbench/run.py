"""Seeded feature-store benchmark: one workload, one closed loop.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_upsert --seed 1 --seconds 10 --trace 0

One Python process drives a ``local[4]`` Spark session and runs the
workload's ops back to back, one at a time, for ``--seconds``; every op's
output is checked and the first timed op is compared against DuckDB. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A readable report
goes to standard error, and the traced run also writes its spans and
per-op detail to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: customers generated (× 24 months of history); see README.md for why
#: this and not a larger size
CUSTOMERS = 1000
#: fewest timed ops per loop, whatever ``--seconds`` says
MIN_OPS = 4
#: an op is flagged as noisy above either share of host CPU
STEAL_FLAG, OTHER_CPU_FLAG = 0.05, 0.25
WORKLOAD_NAMES = ("training_assembly", "daily_upsert")
LAYERS = ("pipelines", "store", "training", "validation", "bench")
#: layers whose self time a timed op can have (the set-up refresh has the rest)
OP_LAYERS = ("store", "training", "bench")
REFRESH_LAYERS = ("pipelines", "store", "validation", "bench")
#: event-log metrics reported for the set-up refresh
REFRESH_EXEC = ("jobs", "executor_cpu_s", "shuffle_write_bytes", "driver_gap_s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--customers", type=int, default=CUSTOMERS, help="input size; the smoke tests use a tiny one"
    )
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def start_session(work: str, event_dir: str | None = None):
    from databricks_demo_feature_store_spark.session import get_spark

    # Every run starts a cold JVM. With the default tiered JIT, C2 keeps
    # recompiling for dozens of ops (training ops still fell 40% after
    # eight); C1 alone levels off after two, so a short run measures a
    # steady state.
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Xms1g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g "
        f"-XX:+UseCodeCacheFlushing -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    # set either way: a SparkContext restarted in the same JVM would
    # otherwise inherit the first one's event log settings
    conf["spark.eventLog.enabled"] = str(event_dir is not None).lower()
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_dir, "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf)
    return spark, time.perf_counter() - t0


def shutdown_jvm(spark) -> None:
    """Stop Spark, end the JVM it runs in and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_children(timeout: float = 30.0) -> None:
    from tracing import process_tree

    deadline = time.monotonic() + timeout
    while True:
        kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# ops
# ---------------------------------------------------------------------------


def run_op(ctx, wl, i: int, duck, oracle: bool = False) -> dict:
    """Prepare, time, diff and check op ``i``; with ``oracle``, also
    compare its output against DuckDB."""
    from tracing import cpu_sample, host_noise, list_files, written_since

    rec = {"index": i, "ok": True, "span": None}
    try:
        t0 = time.perf_counter()
        wl.prepare(ctx, i)
        if oracle:
            wl.oracle_prepare(ctx, i)
        rec["prepare_s"] = time.perf_counter() - t0
        before = list_files(ctx.store_root)
        cpu0 = cpu_sample(os.getpid())
        with ctx.span("op", workload=wl.name, index=i) as sp:
            rec["span"] = sp
            t0 = time.perf_counter()
            try:
                res = wl.run(ctx, i)
            finally:
                rec["op_s"] = time.perf_counter() - t0
        rec["noise"] = host_noise(cpu0, cpu_sample(os.getpid()))
        rec["cpu_s"] = rec["noise"]["own_cpu_s"]
        written = written_since(before, list_files(ctx.store_root))
        rec.update(
            rows=res.rows,
            new_bytes=res.new_bytes,
            bytes_written=sum(written.values()),
            files_written=len(written),
            rows_written=rows_in(
                [os.path.join(ctx.store_root, p) for p in written if p.endswith(".parquet")], duck
            ),
        )
        t0 = time.perf_counter()
        wl.check(ctx, i, res)
        rec["check_s"] = time.perf_counter() - t0
        rec["extra"] = res.extra
        if oracle:
            wl.oracle(ctx, i, res, duck)
            rec["oracle"] = "pass"
    except Exception as e:  # an op that raises or fails a check is a failed op
        traceback.print_exc()
        rec.update(ok=False, error=f"{type(e).__name__}: {e}")
    return rec


def timed_loop(ctx, wl, seconds: float, first: int, duck, oracle: bool) -> list[dict]:
    ops = []
    deadline = time.monotonic() + seconds
    while len(ops) < MIN_OPS or time.monotonic() < deadline:
        ops.append(run_op(ctx, wl, first + len(ops), duck, oracle and not ops))
    return ops


def op_p50(ops: list[dict], key: str = "op_s") -> float:
    return statistics.median(r[key] for r in ops if key in r)


def end_to_end(ops: list[dict], setup_s: float, peak_rss: int) -> dict:
    """The run's end-to-end metrics. An op's cost is the CPU time of the
    process tree (driver plus JVM), not its wall time: on a shared host,
    steal episodes lasting minutes made whole runs' wall times up to 2x
    slower (quartile spread over ten seeds 0.35-0.40), while the spread
    of their CPU time stayed under 0.1. Wall times are reported too
    (:func:`wall_metrics`)."""
    rows = sum(r.get("rows", 0) for r in ops)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_s": {"value": op_p50(ops, "cpu_s"), "unit": "s"},
        "rows_per_cpu_s": {"value": rows / sum(r.get("cpu_s", 0) for r in ops), "unit": "rows/cpu-s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def wall_metrics(ops: list[dict]) -> dict[str, float]:
    rows = sum(r.get("rows", 0) for r in ops)
    return {"op_p50_s": op_p50(ops), "rows_per_s": rows / sum(r.get("op_s", 0) for r in ops)}


def write_amp(ops: list[dict]) -> float:
    base = sum(r.get("new_bytes", 0) for r in ops)
    return sum(r.get("bytes_written", 0) for r in ops) / base if base else 0.0


def rows_in(parquet_files: list[str], duck) -> int:
    if not parquet_files:
        return 0
    return duck.execute("SELECT count(*) FROM read_parquet(?)", [parquet_files]).fetchone()[0]


# ---------------------------------------------------------------------------
# per-layer metrics of the traced run
# ---------------------------------------------------------------------------


def layer_of(span_name: str) -> str:
    head = span_name.split(".", 1)[0]
    return head if head in LAYERS else "bench"


def layer_self_frac(tracer, selfs: list[float], root: int, layers) -> dict[str, float]:
    """Share of span ``root``'s duration that each layer's spans below it
    (``root`` itself included) spend in their own code."""
    spans = tracer.spans
    out = dict.fromkeys(layers, 0.0)
    for k in [root] + tracer.descendants(root):
        out[layer_of(spans[k].name)] += selfs[k]
    return {layer: t / spans[root].duration for layer, t in out.items()}


def op_layers(tracer, selfs, jobs, stages, ops: list[dict]) -> tuple[dict, dict]:
    """Per-op medians of the timed ops' per-layer metrics, and the
    per-span-name detail."""
    from tracing import exec_metrics

    spans = tracer.spans
    index = {id(s): k for k, s in enumerate(spans)}
    samples = defaultdict(list)
    detail = defaultdict(list)
    for rec in ops:
        if rec["span"] is None or "rows" not in rec:
            continue
        root = index[id(rec["span"])]
        op = spans[root]
        by_name = defaultdict(lambda: [0.0, 0.0])
        store_read = 0
        for k in tracer.descendants(root):
            s = spans[k]
            by_name[s.name][0] += s.duration
            by_name[s.name][1] += selfs[k]
            if s.parent == root and s.name.startswith("store."):
                store_read += exec_metrics(jobs, stages, s.start, s.end)["input_bytes"]
        em = exec_metrics(jobs, stages, op.start, op.end)
        rows = rec["rows"]
        for key, val in em.items():
            if key != "input_bytes":
                samples[f"exec.{key}"].append(val)
        samples["exec.shuffle_bytes_per_output_row"].append(
            (em["shuffle_write_bytes"] + em["shuffle_read_bytes"]) / max(rows, 1)
        )
        for layer, frac in layer_self_frac(tracer, selfs, root, OP_LAYERS).items():
            samples[f"self_frac.{layer}"].append(frac)
        samples["store.bytes_written"].append(rec["bytes_written"])
        samples["store.files_written"].append(rec["files_written"])
        samples["store.bytes_read"].append(store_read)
        # only a merge changes part of a table; elsewhere the ratio is 0
        samples["store.rows_rewritten_per_row_changed"].append(
            rec["rows_written"] / rows if "store.merge" in by_name else 0.0
        )
        samples["store.merge_s"].append(by_name["store.merge"][0] if "store.merge" in by_name else 0.0)
        samples["training.build_s"].append(by_name["training.build"][0] if "training.build" in by_name else 0.0)
        samples["training.exec_s"].append(by_name["training.exec"][0] if "training.exec" in by_name else 0.0)
        spine = rec.get("extra", {}).get("spine_rows")
        samples["training.rows_out_per_spine_row"].append(rows / spine if spine else 0.0)
        for name, (dur, self_s) in by_name.items():
            detail[f"op.{name}_s"].append(dur)
            detail[f"op.{name}.self_s"].append(self_s)
    return (
        {k: statistics.median(v) for k, v in samples.items()},
        {k: statistics.median(v) for k, v in detail.items()},
    )


def refresh_layers(tracer, selfs, jobs, stages) -> dict[str, float]:
    """Per-layer metrics of the set-up's seeding refresh: the one place
    where the kept workloads run the pipelines, overwrite saves and
    validation (a cold, single pass: the first in its JVM)."""
    from workloads import TABLES
    from tracing import exec_metrics

    spans = tracer.spans
    root = next(k for k, s in enumerate(spans) if s.name == "refresh")
    ref = spans[root]
    out = {f"pipelines.{t}.build_s": 0.0 for t in TABLES}
    out.update({f"store.{t}.save_s": 0.0 for t in TABLES})
    out.update({"validation.check_s": 0.0, "validation.jobs": 0})
    for k in tracer.descendants(root):
        s = spans[k]
        out[f"{s.name}_s"] += s.duration
        if s.name == "validation.check":
            out["validation.jobs"] += exec_metrics(jobs, stages, s.start, s.end)["jobs"]
    out["pipelines.build_s"] = sum(out[f"pipelines.{t}.build_s"] for t in TABLES)
    out["store.save_s"] = sum(out[f"store.{t}.save_s"] for t in TABLES)
    out["refresh.s"] = ref.duration
    em = exec_metrics(jobs, stages, ref.start, ref.end)
    out.update({f"refresh.exec.{k}": em[k] for k in REFRESH_EXEC})
    for layer, frac in layer_self_frac(tracer, selfs, root, REFRESH_LAYERS).items():
        out[f"refresh.self_frac.{layer}"] = frac
    return out


def traced_metrics(tracer, event_dir: str, info: dict, traced: list[dict], untraced: list[dict]):
    from tracing import read_event_log, self_times

    jobs, stages = read_event_log(event_dir)
    selfs = self_times(tracer.spans)
    layer, detail = op_layers(tracer, selfs, jobs, stages, traced)
    layer.update(refresh_layers(tracer, selfs, jobs, stages))
    noise = [r["noise"] for r in traced if r.get("noise")]
    layer.update(
        {
            "session.start_s": info["session.start_s"],
            "datagen.s": info["datagen.s"],
            "datagen.rows": info["datagen.rows"],
            "datagen.bytes": info["datagen.bytes"],
            "write_amp": write_amp(traced),
            "failed_frac": info["failed_frac"],
            "host.steal_frac": statistics.mean([n["steal_frac"] for n in noise] or [0.0]),
            "host.other_cpu_frac": statistics.mean([n["other_cpu_frac"] for n in noise] or [0.0]),
            "trace.overhead_frac": op_p50(traced, "cpu_s") / op_p50(untraced, "cpu_s") - 1.0,
            **wall_metrics(untraced),
        }
    )
    return layer, detail


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith("jobs") or name.endswith("tasks") or name.endswith(".rows"):
        return "count"
    return "frac"


UNITS = {
    "exec.shuffle_bytes_per_output_row": "bytes/row",
    "store.bytes_written": "bytes",
    "store.bytes_read": "bytes",
    "store.files_written": "count",
    "store.rows_rewritten_per_row_changed": "ratio",
    "training.rows_out_per_spine_row": "ratio",
    "write_amp": "ratio",
    "rows_per_s": "rows/s",
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import duckdb
        import pyspark  # noqa: F401

        import databricks_demo_feature_store_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    from tracing import RssSampler, Tracer, cpu_sample, host_noise
    from workloads import WORKLOADS, Context, parquet_bytes

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    wl = WORKLOADS[args.workload]()
    spark = None
    duck = duckdb.connect()
    duck.execute("SET threads TO 1")
    info: dict = {"workload": args.workload, "seed": args.seed, "customers": args.customers}
    # the traced run records spans and the event log from the start, so
    # the set-up's seeding refresh (pipelines, saves, validation) is traced
    tracer = Tracer(enabled=bool(args.trace))
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        with RssSampler(os.getpid()) as rss:
            t_setup = time.perf_counter()
            spark, info["session.start_s"] = start_session(work, event_dir)
            ctx = Context(spark, work, args.seed, args.customers, tracer, duck)
            t0 = time.perf_counter()
            info["datagen.rows"] = ctx.generate_sources()
            info["datagen.s"] = time.perf_counter() - t0
            info["datagen.bytes"] = parquet_bytes(ctx.src_root)
            t0 = time.perf_counter()
            with tracer.span("setup"):
                wl.setup(ctx)
            info["workload_setup_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm = [run_op(ctx, wl, i, duck) for i in range(wl.warmup_ops)]
            info["warmup_s"] = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup
            loop0 = cpu_sample(os.getpid())
            ops = timed_loop(ctx, wl, args.seconds, len(warm), duck, oracle=True)
            info["host"] = host_noise(loop0, cpu_sample(os.getpid()))
            traced, untraced = [], ops
            if args.trace:
                # the tracing overhead: the same loop again, same JVM, on a
                # fresh SparkContext without the event log or spans
                traced = ops
                tracer.enabled = False
                spark.stop()
                spark, info["session.restart_s"] = start_session(work)
                ctx.bind(spark, tracer)
                first = len(warm) + len(ops)
                warm.append(run_op(ctx, wl, first, duck))
                untraced = timed_loop(ctx, wl, args.seconds, first + 1, duck, oracle=False)
            shutdown_jvm(spark)
            spark = None
            wait_children()
        all_ops = warm + ops + (untraced if args.trace else [])
        failed = sum(not r["ok"] for r in all_ops)
        correct = failed == 0 and ops[0].get("oracle") == "pass"
        e2e = end_to_end(untraced, setup_s, rss.peak)
        info.update(
            ops=len(untraced),
            op_s=[round(r.get("op_s", 0), 4) for r in untraced],
            op_cpu_s=[round(r.get("cpu_s", 0), 2) for r in untraced],
            **wall_metrics(untraced),
            prepare_s=[round(r.get("prepare_s", 0), 2) for r in untraced],
            check_s=[round(r.get("check_s", 0), 2) for r in untraced],
            warm_op_s=[round(r.get("op_s", 0), 4) for r in warm],
            write_amp=write_amp(untraced),
            failed_frac=failed / len(all_ops),
            noisy_ops=[r["index"] for r in (ops + untraced if args.trace else ops) if is_noisy(r)],
            errors=[r["error"] for r in all_ops if not r["ok"]],
        )
        metrics = e2e
        if args.trace:
            layer, detail = traced_metrics(tracer, event_dir, info, traced, untraced)
            info["traced_op_s"] = [round(r.get("op_s", 0), 4) for r in traced]
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(
                    {
                        **info,
                        "end_to_end": e2e,
                        "per_layer": layer,
                        "detail": detail,
                        "ops": [{k: v for k, v in r.items() if k != "span"} for r in all_ops],
                        "spans": [vars(s) for s in tracer.spans],
                    },
                    fh,
                    indent=1,
                    default=str,
                )
            info["trace_file"] = os.path.relpath(path, ROOT)
            info["detail"] = {**layer, **detail}
        report(info, e2e)
        print(json.dumps({"correct": correct, "attempted": len(all_ops), "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            shutdown_jvm(spark)
            wait_children()
        duck.close()
        shutil.rmtree(work, ignore_errors=True)


def is_noisy(rec: dict) -> bool:
    noise = rec.get("noise")
    return bool(noise) and (noise["steal_frac"] > STEAL_FLAG or noise["other_cpu_frac"] > OTHER_CPU_FLAG)


def report(info: dict, e2e: dict) -> None:
    lines = [f"perfbench {info['workload']} seed={info['seed']} customers={info['customers']}"]
    lines += [f"  {k:<12} {v['value']:.4f} {v['unit']}" for k, v in e2e.items()]
    lines.append(
        f"  setup parts  session {info['session.start_s']:.2f} s, datagen {info['datagen.s']:.2f} s, "
        f"workload set-up {info['workload_setup_s']:.2f} s, warm-up ops {info['warmup_s']:.2f} s"
    )
    lines += [
        f"  write_amp    {info['write_amp']:.4f} ratio",
        f"  failed_frac  {info['failed_frac']:.4f} frac",
        f"  warm-up ops  {info['warm_op_s']}",
        f"  ops          {info['ops']} timed: {info['op_s']}",
        f"  op cpu       {info['op_cpu_s']} s",
        f"  wall         op_p50_s {info['op_p50_s']:.4f} s, rows_per_s {info['rows_per_s']:.4f} rows/s",
        f"  untimed      prepare {info['prepare_s']} s, check {info['check_s']} s",
        f"  host         steal {info['host']['steal_frac']:.4f}, other cpu {info['host']['other_cpu_frac']:.4f}"
        + (f"; noisy ops {info['noisy_ops']}" if info["noisy_ops"] else ""),
    ]
    if "traced_op_s" in info:
        lines.append(f"  traced ops   {info['traced_op_s']}")
    for k, v in sorted(info.get("detail", {}).items()):
        lines.append(f"  {k:<48} {v:.4f}")
    if info.get("trace_file"):
        lines.append(f"  trace written to {info['trace_file']}")
    for err in info["errors"]:
        lines.append(f"  FAILED: {err}")
    print("\n".join(lines), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
