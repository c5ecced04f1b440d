"""Harness rules: the driver window, the bench record, the slow-test
guards, the tools' repo root and the package's callers. Pure Python; no
test here starts a Spark session."""

from __future__ import annotations

import ast
import importlib.util
import json
import pathlib
import re
from types import SimpleNamespace

import bench
from databricks_demo_feature_store_spark import driver_window
from databricks_demo_feature_store_spark.driver_window import last_certified, reorder

REPO = pathlib.Path(__file__).resolve().parent.parent


def _load(path: pathlib.Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _registry(*names: str, rows_only: tuple[str, ...] = ()) -> dict:
    return {n: SimpleNamespace(oracle=None if n in rows_only else "SELECT 1") for n in names}


def _report(root: pathlib.Path, n: int, rows: dict[str, tuple[bool, bool, bool]]) -> None:
    (root / f"CORRECTNESS_r{n:02d}.json").write_text(
        json.dumps(
            {
                name: {"rows_match": r, "schema_match": s, "hash_match": h, "err": None}
                for name, (r, s, h) in rows.items()
            }
        )
    )


OK = (True, True, True)


# ---- driver window -------------------------------------------------------


def test_hash_mismatch_does_not_certify(tmp_path):
    _report(tmp_path, 1, {"q_a": OK, "q_b": OK})
    _report(tmp_path, 2, {"q_a": (True, True, False), "q_b": OK})
    _report(tmp_path, 3, {"q_a": (True, False, True)})
    assert last_certified(str(tmp_path)) == {"q_a": 1, "q_b": 2}


def test_never_certified_queries_come_first(tmp_path, monkeypatch):
    monkeypatch.setattr(driver_window, "WINDOW_SIZE", 2)
    _report(tmp_path, 1, {"q_a": OK, "q_b": OK})
    _report(tmp_path, 2, {"q_d": OK})
    order = list(reorder(_registry("q_a", "q_b", "q_c", "q_d", "q_e"), str(tmp_path)))
    assert order == ["q_c", "q_e", "q_a", "q_b", "q_d"]


def test_window_takes_oldest_certification_ties_in_registration_order(tmp_path, monkeypatch):
    monkeypatch.setattr(driver_window, "WINDOW_SIZE", 3)
    _report(tmp_path, 4, {"q_a": OK, "q_b": OK, "q_c": OK, "q_d": OK})
    _report(tmp_path, 7, {"q_a": OK, "q_c": OK})
    order = list(reorder(_registry("q_a", "q_b", "q_c", "q_d", "q_e"), str(tmp_path)))
    # window: never (q_e), then r04 ties in registration order (q_b, q_d);
    # the rest follows in registration order
    assert order == ["q_e", "q_b", "q_d", "q_a", "q_c"]


def test_rows_only_queries_never_enter_the_window(tmp_path, monkeypatch):
    monkeypatch.setattr(driver_window, "WINDOW_SIZE", 2)
    _report(tmp_path, 1, {"q_b": OK, "q_c": OK})
    registry = _registry("q_a", "q_b", "q_c", rows_only=("q_a",))
    assert list(reorder(registry, str(tmp_path))) == ["q_b", "q_c", "q_a"]


def test_no_artifacts_keeps_registration_order(tmp_path):
    names = [f"q_{i:03d}" for i in range(driver_window.WINDOW_SIZE + 7)]
    assert list(reorder(_registry(*names), str(tmp_path))) == names


def test_real_window_follows_the_committed_reports():
    entry = _load(REPO / "__spark_entry__.py", "_entry_for_window_test")
    raw = entry._RAW_QUERIES
    order = list(entry.QUERIES)
    window = order[: driver_window.WINDOW_SIZE]
    assert sorted(order) == sorted(raw)
    assert len(set(window)) == driver_window.WINDOW_SIZE
    assert all(raw[n].oracle is not None for n in window)
    certified = last_certified(str(REPO))
    outside = [n for n in order[driver_window.WINDOW_SIZE :] if raw[n].oracle is not None]
    assert max(certified.get(n, 0) for n in window) <= min(
        certified.get(n, 0) for n in outside
    )


# ---- bench record --------------------------------------------------------


def test_record_is_min_over_the_last_three_sweeps():
    sweeps = [{"q_a": 0.1}, {"q_a": 3.0, "q_b": 2.0}, {"q_a": 2.0}, {"q_a": 2.5, "q_b": 1.5}]
    assert bench.standing_record(sweeps, {"q_a", "q_b"}) == {"q_a": 2.0, "q_b": 1.5}
    assert bench.standing_record(sweeps[:1], {"q_a"}) == {"q_a": 0.1}


def test_record_drops_unregistered_names():
    sweeps = [{"q_a": 1.0, "q_gone": 0.5}, {"q_a": 2.0}]
    assert bench.standing_record(sweeps, {"q_a"}) == {"q_a": 1.0}


def test_saved_sweep_rolls_the_record(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    registered = {"q_a", "q_b"}
    for sweep in ({"q_a": 4.0, "q_b": 1.0}, {"q_a": 3.0, "q_b": 2.0},
                  {"q_a": 5.0, "q_b": 3.0}, {"q_a": 6.0, "q_b": 4.0, "q_old": 0.1}):
        bench._save_sweep(sweep, registered, 0.1, 3)
    sweep_file = json.loads((tmp_path / "BENCH_SWEEP.json").read_text())
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert len(sweep_file["recent_sweeps"]) == 3
    assert sweep_file["queries"] == {"q_a": 6.0, "q_b": 4.0, "q_old": 0.1}
    assert full["queries"] == {"q_a": 3.0, "q_b": 2.0}
    assert full["value"] == 5.0


class _Frame:
    """Stands in for a DataFrame on the noop-sink write path."""

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


def test_only_run_prints_its_line_and_writes_no_record(tmp_path, monkeypatch, capsys):
    import databricks_demo_feature_store_spark as pkg

    for name in ("BENCH_FULL.json", "BENCH_SWEEP.json"):
        (tmp_path / name).write_text(json.dumps({"queries": {"q_a": 9.0}}))
    before = {p.name: p.read_bytes() for p in tmp_path.iterdir()}
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setJobDescription=lambda _: None),
        stop=lambda: None,
    )
    spec = SimpleNamespace(fn=lambda spark, sf_dir: _Frame(), oracle="SELECT 1")
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "_register_all", lambda: {"q01_pricing_summary": spec, "q_a": spec})
    monkeypatch.setattr(pkg, "get_spark", lambda app: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(bench.RECORD_CPUS))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "q_a")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_OUT", raising=False)
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(line["queries"]) == {"q_a"} and line["sf"] == 0.1
    assert {p.name: p.read_bytes() for p in tmp_path.iterdir()} == before


class _Chunk:
    """Stands in for a sweep's chunk child: records the queries it was
    given and writes a timing for each to its out file."""

    chunks: list[list[str]] = []

    def __init__(self, _cmd, env, **_kw):
        names = env["SPARK_GRAFT_BENCH_ONLY"].split(",")
        self.chunks.append(names)
        with open(env["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
            json.dump({"queries": {n: 1.0 for n in names}}, fh)
        self.returncode = 0

    def communicate(self):
        return b"", b""


def test_sweep_set_is_the_registry(tmp_path, monkeypatch, capsys):
    import signal
    import subprocess

    names = ["q_z", "q01_pricing_summary", "q_ext_a", "q_filter_fold", "q_stream_dedup"]
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "_register_all", lambda: {n: None for n in names})
    monkeypatch.setattr(subprocess, "Popen", _Chunk)
    monkeypatch.setattr(signal, "signal", lambda *_: None)
    monkeypatch.setattr(_Chunk, "chunks", [])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.01")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CHUNK", "2")
    for var in ("SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_LIMIT", "SPARK_GRAFT_BENCH_BUDGET_SEC"):
        monkeypatch.delenv(var, raising=False)
    bench.main()
    assert [n for chunk in _Chunk.chunks for n in chunk] == names
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["n_queries"] == len(names) and "partial" not in line
    assert list(tmp_path.iterdir()) == []  # no record below sf0.1


# ---- slow-test guards ----------------------------------------------------


def _slow_tests_and_guards():
    slow = _load(REPO / "tests" / "conftest.py", "_conftest_for_guard_test").SLOW_TESTS
    guards = _load(REPO / "tools" / "gate.py", "_gate_for_guard_test").SLOW_GUARDS
    return slow, guards


def test_every_slow_test_is_guarded():
    slow, guards = _slow_tests_and_guards()
    guarded = {t.split("::", 1)[1] for tests in guards.values() for t in tests}
    unguarded = sorted(slow - guarded)
    assert not unguarded, f"{len(unguarded)} slow tests have no SLOW_GUARDS entry: {unguarded}"


def test_slow_guards_name_real_slow_tests():
    slow, guards = _slow_tests_and_guards()
    for module, tests in guards.items():
        assert (REPO / module).is_file(), module
        for test_id in tests:
            path, name = test_id.split("::")
            source = (REPO / path).read_text()
            assert re.search(rf"^def {name}\(", source, re.M), test_id
            # gate.py runs guards with -m slow: an unmarked test drops out
            assert name in slow, test_id


# ---- repo root -----------------------------------------------------------


def test_tools_and_tests_derive_the_repo_root():
    """Tools and tests find the checkout from ``__file__``. A hard-coded
    absolute path to a checkout makes a copy of the tree import, run and
    certify that other checkout's code instead of its own."""

    def is_checkout(text: str) -> bool:
        path = pathlib.Path(text)
        return any(
            p == REPO or (p / "__spark_entry__.py").is_file()
            for p in (path, *path.parents)
        )

    offenders = sorted(
        f"{src.relative_to(REPO)}:{node.lineno}"
        for folder in ("tools", "tests")
        for src in (REPO / folder).rglob("*.py")
        for node in ast.walk(ast.parse(src.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and re.fullmatch(r"/\S{0,200}", node.value)
        and is_checkout(node.value)
    )
    assert not offenders, offenders


# ---- every public def has a caller ---------------------------------------

# Top-level public defs that nothing outside tests calls, each kept for a
# stated reason. A new caller-less def fails the test below, and so does a
# kept name that gains a caller (drop it from here then).
KEPT_WITHOUT_CALLER = {
    "difference_between_dates": "reference parity: functions/dates.py",
    "subtract_from_date": "reference parity: functions/dates.py",
    "format_date_to_yyyymm": "reference parity: functions/dates.py",
    "yearmonth_from_columns": "reference parity: functions/dates.py",
    "clean_accents": "reference parity: functions/strings.py",
    "standardize_column_names": "reference parity: functions/strings.py",
    "apply_schema": "reference parity: functions/types.py",
    "select_columns": "reference parity: operators/selection.py",
    "outdateness": "reference parity: the monitor's freshness check",
    "ValidationLog": "reference parity (register_validation); the run-log sink candidate",
    "feature_output_standardize": "reference parity: the notebooks' output standardizer",
    "default_orchestrator": "reference parity: the reference orchestrator's DAG",
    "resolve_parameters": "reference parity: the orchestrator's get_actual_date",
    "histogram_state": "join-form reference the fused moment/histogram state is tested against",
    "retry_on_conflict": "user entry point: optimistic-concurrency retry around a commit",
    "maybe_compact": "user entry point: policy-driven compaction after a write",
    "vacuum_cdc_table": "user entry point: drop superseded CDC state versions",
    "decode_image_features": "user entry point: the real PNG decoder",
    "decode_audio_features": "user entry point: the real WAV decoder",
}


def _defs_without_caller() -> set[str]:
    """Public top-level defs of the package that no non-test source
    references outside the def's own body. A reference is a ``Name``, an
    ``Attribute`` or a string constant equal to the name (registries look
    defs up by string); re-exports in ``__init__.py`` do not count, and a
    docstring that mentions a name is never equal to it."""
    pkg = REPO / "databricks_demo_feature_store_spark"
    sources = [
        *pkg.rglob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *(REPO / "perfbench").glob("*.py"),
        *(REPO / "tools").glob("*.py"),
    ]

    def names(node: ast.AST):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                yield n.value

    defs: set[tuple[pathlib.Path, str]] = set()
    owners: dict[str, set] = {}  # name -> the defs (None: module level) it occurs in
    for src in sources:
        for stmt in ast.parse(src.read_text()).body:
            if src.name == "__init__.py" and isinstance(stmt, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in stmt.targets
            ):
                continue
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = (src, stmt.name)
                if src.is_relative_to(pkg) and not stmt.name.startswith("_"):
                    defs.add(owner)
                # a decorator (e.g. a query registration) sits outside the body
                for deco in stmt.decorator_list:
                    for name in names(deco):
                        owners.setdefault(name, set()).add(None)
            for name in names(stmt):
                owners.setdefault(name, set()).add(owner)
    return {name for src, name in defs if not owners.get(name, set()) - {(src, name)}}


def test_every_public_def_has_a_caller():
    found = _defs_without_caller()
    new = sorted(found - KEPT_WITHOUT_CALLER.keys())
    called = sorted(KEPT_WITHOUT_CALLER.keys() - found)
    assert not new, f"public defs with no caller outside tests: {new}"
    assert not called, (
        f"kept names have a caller now; drop them from KEPT_WITHOUT_CALLER: {called}"
    )
