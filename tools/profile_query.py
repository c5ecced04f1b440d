"""Per-job time attribution for a single registered query.

Runs one query through the noop sink in a session with the Spark event
log enabled, then parses the event log to print every job in the timed
window: duration, task count, total task time, and the action call site.
This answers "where inside this 3-second query do the milliseconds go"
(guide §1.1) without the UI (disabled in bench sessions).

Usage:
    python tools/profile_query.py q_ext_index_refresh [sf_dir] [--runs 2]

The FIRST run warms the JVM/plans and is discarded; the LAST run is the
one attributed. Timings here are for attribution only — standing records
come from bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    evdir = tempfile.mkdtemp(prefix="spark_events_")

    from databricks_demo_feature_store_spark import get_spark
    import bench

    QUERIES = bench._register_all()
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )

    fn = QUERIES[name].fn
    t_last0 = t_last1 = 0.0
    for i in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        print(f"run {i}: {t1 - t0:.3f}s", file=sys.stderr)
        t_last0, t_last1 = t0, t1
    spark.stop()

    logs = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(evdir)
        for f in files
        if "appstatus" not in f
    ]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for lf in logs:
        with open(lf) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    ts = ev["Submission Time"] / 1000.0
                    if not (t_last0 <= ts <= t_last1):
                        continue
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ts,
                        "callsite": props.get("callSite.short", ""),
                        "desc": props.get("spark.job.description", ""),
                        "stages": ev.get("Stage IDs", []),
                        "ntasks": sum(
                            s.get("Number of Tasks", 0)
                            for s in ev.get("Stage Infos", [])
                        ),
                    }
                elif et == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    ts = si.get("Submission Time")
                    if ts is None or not (t_last0 <= ts / 1000.0 <= t_last1):
                        continue
                    sid = si["Stage ID"]
                    st = stages.setdefault(sid, {"exec": 0.0, "sread": 0, "swrite": 0, "inrec": 0})
                    st.update(
                        name=si.get("Stage Name", ""),
                        dur=(si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0,
                        ntasks=si.get("Number of Tasks", 0),
                    )
                elif et == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sid = ev.get("Stage ID")
                    st = stages.setdefault(sid, {"exec": 0.0, "sread": 0, "swrite": 0, "inrec": 0})
                    st["exec"] += tm.get("Executor Run Time", 0) / 1000.0
                    st["sread"] += (tm.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0) + (
                        tm.get("Shuffle Read Metrics") or {}
                    ).get("Local Bytes Read", 0)
                    st["swrite"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["inrec"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)

    total = t_last1 - t_last0
    jlist = sorted(jobs.items())
    jsum = 0.0
    print(f"\n=== {name}: timed run {total:.3f}s, {len(jlist)} jobs ===")
    prev_end = t_last0
    for jid, j in jlist:
        dur = j.get("end", j["start"]) - j["start"]
        gap = j["start"] - prev_end
        prev_end = max(prev_end, j.get("end", j["start"]))
        jsum += dur
        snames = {stages[s]["name"] for s in j["stages"] if s in stages}
        label = j["desc"] or j["callsite"]
        print(
            f"job {jid:4d} {dur:7.3f}s (gap {gap:6.3f}s) tasks={j['ntasks']:4d}  {label}"
            + (f"  [{'; '.join(sorted(snames))}]" if snames else "")
        )
    print(f"sum(job durations) = {jsum:.3f}s; driver/planning gap = {total - jsum:.3f}s")
    top = sorted(
        (s for s in stages.values() if "dur" in s), key=lambda s: -s["dur"]
    )[:15]
    print("\nslowest stages:")
    for s in top:
        print(
            f"  {s['dur']:7.3f}s exec={s['exec']:7.3f}s tasks={s['ntasks']:4d} "
            f"in={s['inrec']:>9d}r sr={s['sread']:>10d}B sw={s['swrite']:>10d}B  {s['name'][:80]}"
        )


if __name__ == "__main__":
    main()
