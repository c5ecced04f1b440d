"""Tracing and host-measurement primitives of the feature-store benchmark.

Everything here is plain Python over ``/proc``, the file system and the
Spark event log, so it can be unit-tested without a Spark session:

- :class:`Tracer` records spans (name, start, end, parent) in memory;
  :func:`self_times` turns them into per-span self time (duration minus
  the part of the interval its child spans cover).
- :func:`list_files` / :func:`written_since` diff a directory tree's
  listing to count the bytes and files an operation wrote.
- :func:`cpu_sample` / :func:`host_noise` read ``/proc/stat`` around an
  operation: the steal share and the CPU share used by processes outside
  the benchmark's own process tree.
- :class:`RssSampler` samples the resident memory of the process tree.
- :func:`read_event_log` / :func:`exec_metrics` attribute Spark jobs to a
  time window by job submission time, the way ``tools/profile_query.py``
  reads the event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for the benchmark's main thread.

    Disabled tracers still time nothing and record nothing, so the
    untraced run pays only a context-manager entry per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def descendants(self, index: int) -> list[int]:
        """Indices of every span below ``index`` (children first-order)."""
        out, frontier = [], [index]
        while frontier:
            kids = [i for i, s in enumerate(self.spans) if s.parent in frontier]
            out.extend(kids)
            frontier = kids
        return out


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children count
    once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


# ---------------------------------------------------------------------------
# store listing diff
# ---------------------------------------------------------------------------


def list_files(root: str) -> dict[str, tuple[int, int, int]]:
    """``relative path -> (size, inode, mtime_ns)`` for every file under
    ``root`` (empty when ``root`` does not exist)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> dict[str, int]:
    """``relative path -> size`` of the files in ``after`` that are new or
    rewritten since ``before``. A file promoted by a directory rename
    keeps its inode and mtime but changes its path, so it counts as
    written: the operation wrote those bytes, only under a staging name."""
    return {p: st[0] for p, st in after.items() if before.get(p) != st}


# ---------------------------------------------------------------------------
# /proc: process tree, CPU accounting, resident memory
# ---------------------------------------------------------------------------

def _proc_stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _proc_stat_fields(int(d))
            if f is not None:
                parent_of[int(d)] = int(f[1])
    tree, frontier = [root_pid], [root_pid]
    while frontier:
        frontier = [p for p, pp in parent_of.items() if pp in frontier]
        tree.extend(frontier)
    return tree


@dataclass(frozen=True)
class CpuSample:
    total: int  # all jiffies of all CPUs
    busy: int  # total minus idle, iowait and steal
    steal: int
    own: int  # utime + stime of the benchmark's process tree
    t: float


def cpu_sample(root_pid: int) -> CpuSample:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    vals += [0] * (8 - len(vals))
    idle, iowait, steal = vals[3], vals[4], vals[7]
    total = sum(vals[:8])
    own = 0
    for pid in process_tree(root_pid):
        f = _proc_stat_fields(pid)
        if f is not None:
            own += int(f[11]) + int(f[12])
    return CpuSample(total, total - idle - iowait - steal, steal, own, time.time())


def host_noise(a: CpuSample, b: CpuSample) -> dict[str, float]:
    """Steal share and other-process CPU share of the host between two
    samples, each as a fraction of all CPU time in the interval, and the
    CPU seconds the benchmark's own process tree used."""
    dt = max(b.total - a.total, 1)
    other = (b.busy - a.busy) - (b.own - a.own)
    return {
        "steal_frac": (b.steal - a.steal) / dt,
        "other_cpu_frac": max(other, 0) / dt,
        "own_cpu_s": (b.own - a.own) / os.sysconf("SC_CLK_TCK"),
    }


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory; the
    peak is what :meth:`stop` returns. The tree is re-listed every
    second so a JVM started after the sampler is still counted."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def _run(self) -> None:
        pids, seen, listed = [], set(), 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= 1.0:
                tree = process_tree(self.root_pid)
                # a child counts once two listings have seen it: a child the
                # JVM forks for a shell command reports the JVM's resident
                # pages as its own until it execs, which doubled the peak
                pids = [p for p in tree if p == self.root_pid or p in seen]
                seen, listed = set(tree), now
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self._stop.wait(self.interval)

    def stop(self) -> int:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: object  # (log, id) as read from an event log
    submit: float
    end: float
    stage_ids: list[int]


@dataclass
class StageMetrics:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0


def read_event_log(event_dir: str) -> tuple[list[Job], dict[tuple, StageMetrics]]:
    """Jobs (with submission/completion wall time, epoch seconds) and
    per-stage task metrics from every uncompressed event log under
    ``event_dir``. Each SparkContext numbers its jobs and stages from 0,
    so both are keyed by ``(log, id)``, where the log is the entry
    directly under ``event_dir``: one file, or one directory of rolled
    files."""
    jobs: dict[tuple, Job] = {}
    stages: dict[tuple, StageMetrics] = {}
    for dirpath, _dirs, files in sorted(os.walk(event_dir)):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            log = os.path.relpath(path, event_dir).split(os.sep)[0]
            with open(path) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    et = ev.get("Event")
                    if et == "SparkListenerJobStart":
                        ts = ev["Submission Time"] / 1000.0
                        key = (log, ev["Job ID"])
                        jobs[key] = Job(key, ts, ts, [(log, s) for s in ev.get("Stage IDs", [])])
                    elif et == "SparkListenerJobEnd" and (log, ev["Job ID"]) in jobs:
                        jobs[(log, ev["Job ID"])].end = ev["Completion Time"] / 1000.0
                    elif et == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        st = stages.setdefault((log, ev.get("Stage ID")), StageMetrics())
                        sr = tm.get("Shuffle Read Metrics") or {}
                        st.tasks += 1
                        st.run_s += tm.get("Executor Run Time", 0) / 1e3
                        st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                        st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                        st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id), stages


def exec_metrics(
    jobs: list[Job], stages: dict, start: float, end: float
) -> dict[str, float]:
    """Spark execution metrics of the jobs SUBMITTED inside ``[start,
    end]``. Attribution is by submission time, not job description, so
    jobs submitted from ``save_many``'s pool threads (which do not inherit
    the caller's description) still land in the enclosing window."""
    # a shuffle map stage reused by a later job is listed by both jobs but
    # ran once: it belongs to the first job that lists it
    owner: dict = {}
    for j in jobs:
        for sid in j.stage_ids:
            owner.setdefault(sid, j.job_id)
    mine = [j for j in jobs if start <= j.submit <= end]
    agg = StageMetrics()
    for j in mine:
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or owner[sid] != j.job_id:
                continue
            agg.tasks += st.tasks
            agg.run_s += st.run_s
            agg.cpu_s += st.cpu_s
            agg.gc_s += st.gc_s
            agg.shuffle_write += st.shuffle_write
            agg.shuffle_read += st.shuffle_read
            agg.spill += st.spill
            agg.input_bytes += st.input_bytes
    job_wall = covered_length([(j.submit, j.end) for j in mine], start, end)
    return {
        "jobs": len(mine),
        "tasks": agg.tasks,
        "executor_run_s": agg.run_s,
        "executor_cpu_s": agg.cpu_s,
        "gc_s": agg.gc_s,
        "shuffle_write_bytes": agg.shuffle_write,
        "shuffle_read_bytes": agg.shuffle_read,
        "spill_bytes": agg.spill,
        "input_bytes": agg.input_bytes,
        "driver_gap_s": (end - start) - job_wall,
    }
