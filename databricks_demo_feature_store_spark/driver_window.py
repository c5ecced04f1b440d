"""Which queries land in the driver's correctness window.

The external driver checks the first ``WINDOW_SIZE`` entries of
``queries()`` against their DuckDB oracles. The window is computed from
the driver's own reports, ``CORRECTNESS_rN.json`` in the artifact root:
the oracle-bearing queries whose last certification is oldest go first,
so every query is re-certified in turn. A query's last-certified round
is the highest N whose report shows its rows, schema and hash all
matching; a query never certified counts as round 0. Ties keep
registration order, and every query outside the window follows in
registration order. With no reports, the window is the first
``WINDOW_SIZE`` oracle-bearing queries in registration order.
"""

from __future__ import annotations

import json
import pathlib
import re

WINDOW_SIZE = 50


def last_certified(artifact_root: str) -> dict[str, int]:
    """Query name -> the newest round whose report matched it fully."""
    rounds: dict[str, int] = {}
    for path in pathlib.Path(artifact_root).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        for name, row in json.loads(path.read_text()).items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


def reorder(queries: dict, artifact_root: str) -> dict:
    """Return ``queries`` with the window first (oldest certification
    first), then every other query in registration order."""
    certified = last_certified(artifact_root)
    candidates = [name for name, spec in queries.items() if spec.oracle is not None]
    # sorted() is stable: equal rounds keep registration order
    window = sorted(candidates, key=lambda name: certified.get(name, 0))[:WINDOW_SIZE]
    ordered = {name: queries[name] for name in window}
    ordered.update((name, spec) for name, spec in queries.items() if name not in ordered)
    return ordered
