"""Property-based check of the PIT (as-of) join — the scale-critical
operator — against a brute-force Python as-of computation on randomized
spine/feature tables (hypothesis drives key overlap, timestamp ties,
duplicate feature times, and empty-history cases)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st

from databricks_demo_feature_store_spark.operators.joins import point_in_time_join

BASE = dt.datetime(2024, 1, 1)

_keys = st.integers(min_value=0, max_value=4)
_hours = st.integers(min_value=0, max_value=40)

_spine_rows = st.lists(st.tuples(_keys, _hours), min_size=1, max_size=25)
_feature_rows = st.lists(
    st.tuples(_keys, _hours, st.integers(min_value=-100, max_value=100)),
    min_size=0,
    max_size=25,
)


def _brute_force(spine, feats):
    out = {}
    for i, (k, h) in enumerate(spine):
        ts = BASE + dt.timedelta(hours=h)
        cands = [
            (BASE + dt.timedelta(hours=fh), v, j)
            for j, (fk, fh, v) in enumerate(feats)
            if fk == k and BASE + dt.timedelta(hours=fh) <= ts
        ]
        if cands:
            # latest feature time; ties among equal times → greatest value
            # (the tiebreak column), matching feature_tiebreak=['v']
            best = max(cands, key=lambda c: (c[0], c[1]))
            out[i] = best[1]
        else:
            out[i] = None
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(spine=_spine_rows, feats=_feature_rows)
def test_pit_join_matches_bruteforce(spark, spine, feats):
    spine_df = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(hours=h)) for i, (k, h) in enumerate(spine)],
        ["row_id", "k", "ts"],
    )
    feat_df = spark.createDataFrame(
        [(k, BASE + dt.timedelta(hours=h), v) for (k, h, v) in feats],
        ["k", "fts", "v"],
    ) if feats else spark.createDataFrame([], "k long, fts timestamp, v long")

    got = {
        r["row_id"]: r["v"]
        for r in point_in_time_join(
            spine_df,
            feat_df,
            keys=["k"],
            spine_time="ts",
            feature_time="fts",
            feature_tiebreak=["v"],
        ).collect()
    }
    assert got == _brute_force(spine, feats)


_edges = st.lists(st.tuples(_keys, _keys), min_size=0, max_size=15)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=_edges, extra_nodes=st.sets(_keys, max_size=5))
def test_cc_both_algorithms_match_union_find(spark, edges, extra_nodes):
    """Both distributed CC algorithms must equal a Python union-find on
    random pair graphs (self-loops, duplicate edges, singleton nodes)."""
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    nodes = sorted({n for e in edges for n in e} | extra_nodes)
    if not nodes:
        return

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical component id = min reachable node
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    expected = {n: min(members) for r, members in comp.items() for n in members}

    docs = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
    pairs = (
        spark.createDataFrame(edges, ["id_a", "id_b"])
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    for algo in ("label-prop", "two-phase"):
        got = {
            r["doc_id"]: r["component_id"]
            for r in dedup_clusters(docs, pairs, algorithm=algo).collect()
        }
        assert got == expected, algo


# each drawn (key, hour) carries 1-3 values: duplicate (k, time) rows
# are the norm, so the per-lookup tiebreaks decide real matches
_feat_dups = st.lists(
    st.tuples(
        _keys,
        _hours,
        st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=3),
    ),
    min_size=0,
    max_size=10,
)


def _brute_force_lookup(spine, feats, tol_hours=None):
    """Per spine row: the value of the latest feature row at-or-before it
    (ties on time -> greatest tiebreak), NULL past ``tol_hours``."""
    out = {}
    for i, (k, h) in enumerate(spine):
        cands = [(fh, tb, v) for fk, fh, tb, v in feats if fk == k and fh <= h]
        best = max(cands) if cands else None
        if best is None or (tol_hours is not None and h - best[0] > tol_hours):
            out[i] = None
        else:
            out[i] = best[2]
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(spine=_spine_rows, fa=_feat_dups, fb=_feat_dups)
def test_multi_pit_matches_bruteforce(spark, spine, fa, fb):
    """point_in_time_multi_join (one shuffle, N struct carries) must equal
    a per-lookup brute-force as-of on randomized spines and two feature
    tables — key overlap, spine/feature timestamp ties, duplicate
    (k, time) rows resolved by each lookup's OWN feature_tiebreak, empty
    histories, and per-lookup tolerance."""
    from databricks_demo_feature_store_spark.operators.joins import (
        point_in_time_multi_join,
    )

    spine_df = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(hours=h)) for i, (k, h) in enumerate(spine)],
        ["row_id", "k", "ts"],
    )
    # table a breaks (k, time) ties on its value, table b on a row
    # sequence number that is unrelated to its value
    rows_a = [(k, h, v, v) for k, h, vs in fa for v in vs]
    flat_b = [(k, h, v) for k, h, vs in fb for v in vs]
    rows_b = [(k, h, j, v) for j, (k, h, v) in enumerate(flat_b)]

    def fdf(rows, col):
        schema = f"k long, fts_{col} timestamp, tb_{col} long, {col} long"
        data = [(k, BASE + dt.timedelta(hours=h), tb, v) for k, h, tb, v in rows]
        return spark.createDataFrame(data, schema)

    lookups = [
        {
            "features": fdf(rows_a, "va"),
            "feature_time": "fts_va",
            "feature_cols": ["va"],
            "feature_tiebreak": ["tb_va"],
        },
        {
            "features": fdf(rows_b, "vb"),
            "feature_time": "fts_vb",
            "feature_cols": ["vb"],
            "feature_tiebreak": ["tb_vb"],
            "tolerance_expr": "INTERVAL 10 HOURS",
        },
    ]
    got = {
        r["row_id"]: (r["va"], r["vb"])
        for r in point_in_time_multi_join(
            spine_df, lookups, keys=["k"], spine_time="ts"
        ).collect()
    }
    want_a = _brute_force_lookup(spine, rows_a)
    want_b = _brute_force_lookup(spine, rows_b, tol_hours=10)
    assert got == {i: (want_a[i], want_b[i]) for i in range(len(spine))}


_surv_rows = st.lists(
    st.tuples(
        st.sampled_from(["ann", "anna", "annb", "bob", "bobb", "carol", ""]),
        st.integers(min_value=-50, max_value=50),        # value field
    ),
    min_size=1,
    max_size=20,
).map(lambda rs: [(i, n, v) for i, (n, v) in enumerate(rs)])  # unique ids


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_surv_rows)
def test_golden_records_matches_bruteforce_union_find(spark, rows):
    """golden_records' name-graph CC + survivorship must match a Python
    union-find over the same blocked-Levenshtein pairs, on randomized
    entity tables with duplicate ids, shared names, near-names and
    empty names (singletons)."""
    import itertools

    from databricks_demo_feature_store_spark.operators.linkage import golden_records

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            curr = [i]
            for j, cb in enumerate(b, 1):
                curr.append(min(prev[j] + 1, curr[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = curr
        return prev[-1]

    # brute force: normalize = lower/strip (inputs are already clean),
    # pairs = same 2-char block and distance <= 2, union-find, then
    # survivorship min(id)/count/longest-name/max(value)
    named = [(i, n, v) for i, n, v in rows if n]
    names = sorted({n for _, n, _ in named})
    parent = {n: n for n in names}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in itertools.combinations(names, 2):
        if a[:2] == b[:2] and abs(len(a) - len(b)) <= 2 and lev(a, b) <= 2:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    clusters = {}
    for i, n, v in named:
        clusters.setdefault(find(n), []).append((i, n, v))
    for members in clusters.values():
        cid = min(i for i, _, _ in members)
        expected[cid] = (
            len(members),
            max((n for _, n, _ in members), key=lambda x: (len(x), x)),
            max(v for _, _, v in members),
        )
    # empty names become singleton clusters keyed by their own (unique) id
    for i, n, v in rows:
        if not n:
            expected[i] = (1, None, v)

    df = spark.createDataFrame(
        [(i, n if n else None, v) for i, n, v in rows],
        "pid long, name string, val int",
    )
    got = {
        r["cluster_id"]: (r["n_members"], r["canonical_name"], r["val"])
        for r in golden_records(
            df, "pid", "name", {"val": "max"}, prefix_len=2, max_distance=2
        ).collect()
    }
    assert got == expected  # ids are unique, so the comparison is total


# a store table's rows: unique (k, hour) primary keys, one value each
_store_rows = st.dictionaries(
    st.tuples(_keys, _hours), st.integers(min_value=-100, max_value=100), max_size=12
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    spine=_spine_rows,
    first=st.tuples(_store_rows, _store_rows),
    commits=st.lists(
        st.tuples(st.sampled_from(["merge", "overwrite"]), st.integers(0, 1), _store_rows),
        min_size=1,
        max_size=3,
    ),
    tolerance=st.sampled_from([None, 10]),
    spine_parquet=st.booleans(),
)
def test_cached_training_set_matches_bruteforce(
    spark, spine, first, commits, tolerance, spine_parquet
):
    """create_training_set over a manager's cached as-of state equals a
    per-lookup brute-force as-of on random two-table stores, with and
    without a tolerance, after each of a random sequence of merges and
    overwrites (three builds per store version: the single-pass kernel,
    then a new state, then the cached one), and for spines with a size
    estimate (one task) and without one (the shuffle plan)."""
    import shutil
    import tempfile

    from databricks_demo_feature_store_spark.featurestore import (
        FeatureStoreManager,
        FeatureTableSpec,
        create_training_set,
    )
    from databricks_demo_feature_store_spark.featurestore.training import FeatureLookup

    root = tempfile.mkdtemp(prefix="cached-pit-")
    try:
        manager = FeatureStoreManager(spark, root)
        cols = ("va", "vb")
        specs = [
            FeatureTableSpec(name=f"t_{c}", primary_keys=("k", "fts"), timestamp_keys=("fts",))
            for c in cols
        ]

        def save(t, rows, mode):
            data = [(k, BASE + dt.timedelta(hours=h), v) for (k, h), v in rows.items()]
            df = spark.createDataFrame(data, f"k long, fts timestamp, {cols[t]} long")
            manager.save(df, specs[t], mode=mode)

        spine_df = spark.createDataFrame(
            [(i, k, BASE + dt.timedelta(hours=h)) for i, (k, h) in enumerate(spine)],
            "row_id long, k long, ts timestamp",
        )
        if spine_parquet:
            spine_df.write.parquet(f"{root}/spine")
            spine_df = spark.read.parquet(f"{root}/spine")
        lookups = [
            FeatureLookup(table="t_va", lookup_keys=("k",)),
            FeatureLookup(
                table="t_vb",
                lookup_keys=("k",),
                tolerance=None if tolerance is None else f"INTERVAL {tolerance} HOURS",
            ),
        ]
        model = [dict(first[0]), dict(first[1])]
        for t in (0, 1):
            save(t, model[t], "overwrite")
        for mode, t, rows in [(None, None, None), *commits]:
            if mode == "merge":
                model[t].update(rows)
                save(t, rows, "merge")
            elif mode == "overwrite":
                model[t] = dict(rows)
                save(t, rows, "overwrite")
            flat = [[(k, h, 0, v) for (k, h), v in m.items()] for m in model]
            want_a = _brute_force_lookup(spine, flat[0])
            want_b = _brute_force_lookup(spine, flat[1], tol_hours=tolerance)
            want = {i: (want_a[i], want_b[i]) for i in range(len(spine))}
            for _ in range(3):  # single-pass, state build, state hit
                got = {
                    r["row_id"]: (r["va"], r["vb"])
                    for r in create_training_set(
                        manager, spine_df, lookups, spine_time="ts"
                    ).collect()
                }
                assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)
