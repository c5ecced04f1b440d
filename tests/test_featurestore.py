"""Feature-store manager: save modes, schema evolution, PIT training set."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.featurestore import (
    EvolutionPolicy,
    FeatureStoreManager,
    FeatureTableSpec,
    create_training_set,
)
from databricks_demo_feature_store_spark.featurestore.training import FeatureLookup


@pytest.fixture()
def manager(spark, tmp_path):
    return FeatureStoreManager(spark, str(tmp_path / "fs"))


SPEC = FeatureTableSpec(
    name="cust_features",
    primary_keys=("pk_customer", "tpk_release_dt"),
    timestamp_keys=("tpk_release_dt",),
    description="test table",
    source_tables=("orders",),
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk_customer int, tpk_release_dt date, f1 double")


def test_save_and_metadata_roundtrip(spark, manager):
    df = _df(spark, [(1, dt.date(2024, 1, 1), 1.0)])
    diff = manager.save(df, SPEC, mode="overwrite")
    assert diff.unchanged
    meta = manager.get_metadata("cust_features")
    assert meta["primary_keys"] == ["pk_customer", "tpk_release_dt"]
    assert meta["timestamp_keys"] == ["tpk_release_dt"]
    assert manager.list_tables() == ["cust_features"]
    assert manager.read("cust_features").count() == 1


def test_merge_upserts_on_pk(spark, manager):
    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0), (2, dt.date(2024, 1, 1), 2.0)]), SPEC, mode="overwrite")
    manager.save(_df(spark, [(2, dt.date(2024, 1, 1), 20.0), (3, dt.date(2024, 1, 1), 3.0)]), SPEC, mode="merge")
    got = {
        (r.pk_customer, r.f1)
        for r in manager.read("cust_features").collect()
    }
    assert got == {(1, 1.0), (2, 20.0), (3, 3.0)}


def test_validate_schema_uses_a_current_pin(spark, manager, monkeypatch):
    """While the sidecar's pin is current the schema diff reads no table;
    after an outside append it reads the table again."""
    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), SPEC, mode="overwrite")
    wide = _df(spark, [(1, dt.date(2024, 1, 1), 9.0)]).withColumn("f2", F.lit(7.0))
    reads, read = [], manager.read
    monkeypatch.setattr(manager, "read", lambda name: reads.append(name) or read(name))
    assert manager.validate_schema("cust_features", wide).new_columns == ["f2"]
    assert reads == []

    _df(spark, [(2, dt.date(2024, 1, 2), 2.0)]).write.mode("append").parquet(
        manager.path("cust_features")
    )
    assert manager.validate_schema("cust_features", wide).new_columns == ["f2"]
    assert reads == ["cust_features"]


def test_merge_new_column_evolution(spark, manager):
    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), SPEC, mode="overwrite")
    wide = _df(spark, [(1, dt.date(2024, 1, 1), 99.0)]).withColumn("f2", F.lit(7.0))
    diff = manager.save(wide, SPEC, mode="merge")
    assert diff.new_columns == ["f2"]
    row = manager.read("cust_features").first()
    # reference semantics (utils.py:1748-1758): merge restricted to the NEW
    # columns for matched rows — f1 keeps its old value, f2 arrives
    assert row.f1 == 1.0 and row.f2 == 7.0


def test_missing_column_policy(spark, manager):
    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), SPEC, mode="overwrite")
    narrow = _df(spark, [(1, dt.date(2024, 1, 1), 5.0)]).drop("f1").withColumn("f1b", F.lit(1.0))
    with pytest.raises(ValueError, match="policy=fail"):
        manager.save(narrow, SPEC, mode="merge", policy=EvolutionPolicy.FAIL)
    diff = manager.save(narrow, SPEC, mode="merge", policy=EvolutionPolicy.EVOLVE)
    assert "f1" in diff.missing_columns
    assert set(manager.read("cust_features").columns) == {"pk_customer", "tpk_release_dt", "f1b"}


def test_create_training_set_pit(spark, manager):
    feats = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1), 10.0),
            (1, dt.date(2024, 2, 1), 20.0),
        ],
        "pk_customer int, tpk_release_dt date, f1 double",
    )
    manager.save(feats, SPEC, mode="overwrite")
    labels = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 15), 1),
            (1, dt.date(2024, 3, 1), 0),
            (2, dt.date(2024, 3, 1), 1),
        ],
        "pk_customer int, label_dt date, y int",
    )
    ts = create_training_set(
        manager,
        labels,
        [FeatureLookup(table="cust_features", lookup_keys=("pk_customer",))],
        spine_time="label_dt",
    )
    got = {(r.pk_customer, r.label_dt, r.y, r.f1) for r in ts.collect()}
    assert got == {
        (1, dt.date(2024, 1, 15), 1, 10.0),
        (1, dt.date(2024, 3, 1), 0, 20.0),
        (2, dt.date(2024, 3, 1), 1, None),
    }


def test_bucketed_join_has_no_exchange(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.sources.bucketing import (
        bucketed_join,
        save_bucketed,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    save_bucketed(orders, "b_orders", ["o_custkey"], num_buckets=8)
    save_bucketed(customer, "b_customer", ["o_custkey"], num_buckets=8)
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", on=["o_custkey"])
        # disable broadcast so the co-located SortMergeJoin is observable
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # both sides pre-bucketed: no shuffle
            n = joined.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        plain = orders.join(customer, on="o_custkey").count()
        assert n == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_manager_recovers_from_empty_table_dir(spark, tmp_path):
    """A bare table directory (crashed writer debris / metadata-before-data)
    must read as absent so the next save recreates it instead of dying in
    schema validation on an unreadable empty dir."""
    import os

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )

    mgr = FeatureStoreManager(spark, str(tmp_path))
    os.makedirs(mgr.path("t"), exist_ok=True)
    assert not mgr.exists("t")
    spec = FeatureTableSpec(name="t", primary_keys=("id",))
    mgr.save(spark.range(3).select("id"), spec, mode="merge")
    assert mgr.exists("t")
    assert mgr.read("t").count() == 3


def test_latest_features_snapshot(spark):
    """latest_features returns one row per entity — the newest at or
    before as_of; entities with no history before the cutoff drop out."""
    import datetime as dt

    from databricks_demo_feature_store_spark.featurestore.training import (
        latest_features,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1), 10.0),
        (1, dt.datetime(2024, 2, 1), 20.0),
        (1, dt.datetime(2024, 3, 1), 30.0),
        (2, dt.datetime(2024, 2, 15), 5.0),
        (3, dt.datetime(2024, 3, 20), 7.0),  # after the cutoff
    ]
    df = spark.createDataFrame(rows, ["custkey", "release_dt", "spend"])

    latest = {
        r["custkey"]: (r["release_dt"], r["spend"])
        for r in latest_features(df, ("custkey", "release_dt"), "release_dt").collect()
    }
    assert latest[1] == (dt.datetime(2024, 3, 1), 30.0)
    assert latest[3] == (dt.datetime(2024, 3, 20), 7.0)

    snap = {
        r["custkey"]: (r["release_dt"], r["spend"])
        for r in latest_features(
            df, ("custkey", "release_dt"), "release_dt", as_of="2024-02-20"
        ).collect()
    }
    assert snap[1] == (dt.datetime(2024, 2, 1), 20.0)
    assert snap[2] == (dt.datetime(2024, 2, 15), 5.0)
    assert 3 not in snap


def test_multi_lookup_pit_semantics(spark, manager):
    """The one-shuffle multi-table PIT join on every edge: ties (feature
    at the spine instant wins), unmatched spine rows (NULL features),
    per-lookup tolerance null-out, and tables with different release
    cadences."""
    f_a = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1), 10.0),
            (1, dt.date(2024, 2, 1), 20.0),
            (2, dt.date(2024, 2, 15), 5.0),  # exactly at a spine instant
        ],
        "pk_customer int, tpk_release_dt date, fa double",
    )
    f_b = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 1), 100),  # stale: killed by tolerance
            (2, dt.date(2024, 2, 10), 200),
        ],
        "pk_customer int, tpk_release_dt date, fb int",
    )
    for name, frame in (("tbl_a", f_a), ("tbl_b", f_b)):
        manager.save(
            frame,
            FeatureTableSpec(
                name=name,
                primary_keys=("pk_customer", "tpk_release_dt"),
                timestamp_keys=("tpk_release_dt",),
            ),
            mode="overwrite",
        )
    labels = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 15), 1),
            (1, dt.date(2024, 3, 1), 0),
            (2, dt.date(2024, 2, 15), 1),  # tie with f_a's release
            (3, dt.date(2024, 3, 1), 0),   # no history anywhere
        ],
        "pk_customer int, label_dt date, y int",
    )
    lookups = [
        FeatureLookup(table="tbl_a", lookup_keys=("pk_customer",)),
        FeatureLookup(
            table="tbl_b",
            lookup_keys=("pk_customer",),
            tolerance="INTERVAL 90 DAYS",
        ),
    ]

    # the semantics directly (fa, fb) per (customer, label_dt)
    by_key = {}
    out = create_training_set(manager, labels, lookups, spine_time="label_dt")
    for r in out.collect():
        by_key[(r["pk_customer"], str(r["label_dt"]))] = (r["fa"], r["fb"])
    assert by_key[(1, "2024-01-15")] == (10.0, None)   # fb stale → tolerance NULL
    assert by_key[(1, "2024-03-01")] == (20.0, None)
    assert by_key[(2, "2024-02-15")] == (5.0, 200)     # tie resolves to feature
    assert by_key[(3, "2024-03-01")] == (None, None)   # unmatched spine survives



def test_training_set_mixed_key_groups(spark, manager):
    """Lookups on two different key sets, interleaved: one kernel call
    per key group, values as-of per group, and the feature columns come
    out in lookup order after the spine's columns."""
    for name, key, rows, col in (
        ("mk_cust_a", "pk_customer",
         [(1, dt.date(2024, 1, 1), 10.0), (1, dt.date(2024, 3, 1), 11.0)], "fa"),
        ("mk_prod", "pk_product",
         [(7, dt.date(2024, 1, 20), 70.0), (8, dt.date(2024, 2, 1), 80.0)], "fp"),
        ("mk_cust_b", "pk_customer",
         [(1, dt.date(2024, 2, 1), 1.5), (2, dt.date(2024, 1, 1), 2.5)], "fb"),
    ):
        manager.save(
            spark.createDataFrame(rows, f"{key} int, tpk_release_dt date, {col} double"),
            FeatureTableSpec(
                name=name,
                primary_keys=(key, "tpk_release_dt"),
                timestamp_keys=("tpk_release_dt",),
            ),
            mode="overwrite",
        )
    labels = spark.createDataFrame(
        [
            (1, dt.date(2024, 2, 1), 7, 1),
            (1, dt.date(2024, 3, 15), 8, 0),
            (2, dt.date(2024, 1, 10), 8, 1),
        ],
        "pk_customer int, label_dt date, pk_product int, y int",
    )
    lookups = [
        FeatureLookup(table="mk_cust_a", lookup_keys=("pk_customer",)),
        FeatureLookup(table="mk_prod", lookup_keys=("pk_product",)),
        FeatureLookup(table="mk_cust_b", lookup_keys=("pk_customer",)),
    ]
    out = create_training_set(manager, labels, lookups, spine_time="label_dt")
    assert out.columns == [
        "pk_customer", "label_dt", "pk_product", "y", "fa", "fp", "fb"
    ]
    got = {
        (r["pk_customer"], str(r["label_dt"])): (r["pk_product"], r["y"], r["fa"], r["fp"], r["fb"])
        for r in out.collect()
    }
    assert got == {
        (1, "2024-02-01"): (7, 1, 10.0, 70.0, 1.5),
        (1, "2024-03-15"): (8, 0, 11.0, 80.0, 1.5),
        (2, "2024-01-10"): (8, 1, None, None, 2.5),
    }

def test_negative_samples_properties(spark):
    """Negatives never collide with positives, at most k per user,
    deterministic across invocations, and a user whose universe is
    mostly positive yields fewer than k rather than looping."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        negative_samples,
    )

    inter = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12), (3, 13)],
        "u long, it long",
    )
    items = spark.createDataFrame([(i,) for i in (10, 11, 12, 13, 14)], "it long")

    def run():
        return {(r["u"], r["it"], r["slot"]) for r in
                negative_samples(inter, "u", "it", items, k=2,
                                 oversample=8).collect()}

    got = run()
    pos = {(1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12), (3, 13)}
    assert not {(u, i) for u, i, _ in got} & pos
    per_user = {}
    for u, i, _ in got:
        per_user.setdefault(u, set()).add(i)
    assert all(len(v) <= 2 for v in per_user.values())
    assert len(per_user[1]) == 2 and len(per_user[2]) == 2
    # user 3 has 4/5 items positive: only item 14 can ever be drawn
    assert per_user[3] == {14}
    assert run() == got  # deterministic replay

    import pytest as _p
    with _p.raises(ValueError, match="k >= 1"):
        negative_samples(inter, "u", "it", items, k=0)


def test_refresh_training_set_touches_only_changed_entities(spark):
    """The refresh must (a) recompute changed entities against v2 and
    (b) pass untouched entities' OLD rows through verbatim — proven by
    planting a sentinel in the old training frame for an unchanged
    entity: a lazy full recompute would 'fix' it, the incremental path
    must preserve it."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        refresh_training_set,
    )

    f_old = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 10.0), (2, dt.datetime(2024, 1, 1), 20.0)],
        "k long, ft timestamp, v double",
    )
    # v2: entity 1's history changes, entity 2 untouched
    f_new = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 99.0), (2, dt.datetime(2024, 1, 1), 20.0)],
        "k long, ft timestamp, v double",
    )
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 2, 1), 100), (2, dt.datetime(2024, 2, 1), 200)],
        "k long, ts timestamp, label int",
    )
    # old training with a SENTINEL for entity 2 (not what a recompute
    # would produce) — must survive the refresh untouched
    old_training = spark.createDataFrame(
        [(1, dt.datetime(2024, 2, 1), 100, 10.0),
         (2, dt.datetime(2024, 2, 1), 200, -777.0)],
        "k long, ts timestamp, label int, v double",
    )
    got = {r["k"]: r["v"] for r in refresh_training_set(
        spine, old_training, f_old, f_new,
        keys=["k"], spine_time="ts", feature_time="ft",
    ).collect()}
    assert got[1] == 99.0    # changed entity recomputed against v2
    assert got[2] == -777.0  # unchanged entity: old row verbatim


def test_store_doctor_flags_pk_violations(spark, manager):
    """One audit row per table: duplicate-PK groups counted (not rows),
    NULL key components counted separately, freshness from the declared
    timestamp key, NULL max_ts when no timestamp key is declared."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        store_doctor,
    )

    good = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 1.0), (2, dt.date(2024, 1, 1), 2.0)],
        "pk_customer int, tpk_release_dt date, f1 double",
    )
    manager.save(good, SPEC, mode="overwrite")
    bad = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (1, 12.0), (2, 20.0), (None, 30.0)],
        "k int, v double",
    )
    manager.save(
        bad,
        FeatureTableSpec(name="dirty", primary_keys=("k",)),
        mode="overwrite",
    )
    got = {r["table"]: r for r in store_doctor(manager).collect()}
    g = got["cust_features"]
    assert (g["n_rows"], g["n_pk_violations"], g["n_null_pk"]) == (2, 0, 0)
    assert g["max_ts"] is not None
    d = got["dirty"]
    # k=1 appears 3x -> ONE violating group; NULL key row counted once
    assert (d["n_rows"], d["n_pk_violations"], d["n_null_pk"]) == (5, 1, 1)
    assert d["max_ts"] is None  # no timestamp key declared


def test_training_set_payload_collisions_raise(spark, manager):
    """A feature column colliding with the spine's columns or with another
    lookup must raise up front — also across key groups, which no single
    kernel call sees."""
    import pytest

    f_a = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 10.0)],
        "pk_customer int, tpk_release_dt date, f1 double",
    )
    f_b = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 7.0)],
        "pk_customer int, tpk_release_dt date, f1 double",  # collides with f_a
    )
    for name, frame in (("coll_a", f_a), ("coll_b", f_b)):
        manager.save(
            frame,
            FeatureTableSpec(
                name=name,
                primary_keys=("pk_customer", "tpk_release_dt"),
                timestamp_keys=("tpk_release_dt",),
            ),
            mode="overwrite",
        )
    labels = spark.createDataFrame(
        [(1, dt.date(2024, 2, 1), 1)], "pk_customer int, label_dt date, y int"
    )
    lookups = [
        FeatureLookup(table="coll_a", lookup_keys=("pk_customer",)),
        FeatureLookup(table="coll_b", lookup_keys=("pk_customer",)),
    ]
    with pytest.raises(ValueError, match="collides"):
        create_training_set(manager, labels, lookups, spine_time="label_dt")
    # collision with a SPINE column (the label itself) raises too
    spine_coll = [
        FeatureLookup(table="coll_a", lookup_keys=("pk_customer",),
                      feature_names=("f1",)),
    ]
    labels_y = labels.withColumnRenamed("y", "f1")
    with pytest.raises(ValueError, match="collides"):
        create_training_set(manager, labels_y, spine_coll, spine_time="label_dt")


def test_multi_join_rejects_spine_column_collision(spark):
    """point_in_time_multi_join validates payload names against the
    spine's own columns and keys, not just across lookups."""
    import pytest

    from databricks_demo_feature_store_spark.operators.joins import (
        point_in_time_multi_join,
    )

    spine = spark.createDataFrame(
        [(1, dt.date(2024, 2, 1), 1)], "k int, ts date, y int"
    )
    feats = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 5.0)], "k int, ft date, y double"
    )
    with pytest.raises(ValueError, match="collide"):
        point_in_time_multi_join(
            spine,
            [{"features": feats, "feature_time": "ft"}],
            keys=["k"],
            spine_time="ts",
        )


def test_aggregate_state_merge_is_exact(spark):
    """merge(state(A), state(B)) == state(A ∪ B) bit-for-bit, in any
    split and association order — the monoid property the incremental
    refresh relies on."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        finalize_aggregates,
        merge_aggregate_state,
    )

    rows = [(i % 7, float(i) * 1.37 + (i % 3) * 0.01) for i in range(200)]
    df = spark.createDataFrame(rows, "k int, v double")
    full = aggregate_state(df, ["k"], "v")

    a = df.where(F.col("v") < 100)
    b = df.where((F.col("v") >= 100) & (F.col("v") < 200))
    c = df.where(F.col("v") >= 200)
    m_ab_c = merge_aggregate_state(
        merge_aggregate_state(
            aggregate_state(a, ["k"], "v"), aggregate_state(b, ["k"], "v"), ["k"]
        ),
        aggregate_state(c, ["k"], "v"),
        ["k"],
    )
    m_a_bc = merge_aggregate_state(
        aggregate_state(a, ["k"], "v"),
        merge_aggregate_state(
            aggregate_state(b, ["k"], "v"), aggregate_state(c, ["k"], "v"), ["k"]
        ),
        ["k"],
    )

    def rows_of(state):
        return sorted((r.k, r.n, r.s, r.s2) for r in state.collect())

    assert rows_of(full) == rows_of(m_ab_c) == rows_of(m_a_bc)

    fin = {
        r.k: (r.spend_count, r.spend_sum, r.spend_mean, r.spend_std)
        for r in finalize_aggregates(m_ab_c, ["k"], "spend").collect()
    }
    fin_full = {
        r.k: (r.spend_count, r.spend_sum, r.spend_mean, r.spend_std)
        for r in finalize_aggregates(full, ["k"], "spend").collect()
    }
    assert fin == fin_full
    # a constant-valued key must finalize to std exactly 0.0, not NaN
    const = aggregate_state(
        spark.createDataFrame([(9, 5.0), (9, 5.0)], "k int, v double"), ["k"], "v"
    )
    out = finalize_aggregates(const, ["k"], "x").collect()[0]
    assert out.x_std == 0.0 and out.x_mean == 5.0


def test_fused_moment_histogram_state_matches_join_form(spark):
    """aggregate_state(hist=...) — one hash aggregation — is value- and
    column-order-identical to the old two-agg-plus-join shape the
    round-14 optimization replaced in stream_trailing_state."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        histogram_state,
    )

    rows = [
        (i % 5, float(i * 7 % 40) - 3.0 if i % 11 else None) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k int, v double")
    lo, hi, nbins = 0.0, 30.0, 8
    fused = aggregate_state(df, ["k"], "v", scale=2, hist=(lo, hi, nbins))
    joined = aggregate_state(df, ["k"], "v", scale=2).join(
        histogram_state(df, ["k"], "v", lo, hi, nbins), on=["k"]
    )
    assert fused.columns == joined.columns
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, joined.collect())
    )


def test_window_lookup_collision_and_mixing(spark, manager):
    """WindowLookup output names join the collision validation, and a
    windowed training set with NO as-of lookups still assembles."""
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10), 10.0),
            (1, dt.datetime(2024, 2, 10), 20.0),
        ],
        "pk_customer int, tpk_event_ts timestamp, amount double",
    )
    manager.save(
        events,
        FeatureTableSpec(
            name="evt",
            primary_keys=("pk_customer", "tpk_event_ts"),
            timestamp_keys=("tpk_event_ts",),
        ),
        mode="overwrite",
    )
    from databricks_demo_feature_store_spark.featurestore.training import (
        WindowLookup,
    )

    labels = spark.createDataFrame(
        [(1, dt.datetime(2024, 2, 15), 1), (2, dt.datetime(2024, 2, 15), 0)],
        "pk_customer int, label_dt timestamp, y int",
    )
    wl = WindowLookup(
        table="evt",
        lookup_keys=("pk_customer",),
        windows=(("30d", "INTERVAL 30 DAYS"),),
        sum_cols=(("spend", "amount"),),
        count_col="n",
    )
    out = create_training_set(manager, labels, [wl], spine_time="label_dt")
    got = {r.pk_customer: (r.spend_30d, r.n_30d) for r in out.collect()}
    assert got == {1: (20.0, 1), 2: (0.0, 0)}

    # a window output name colliding with a spine column raises up front:
    # sum name "y" + suffix "30d" would be fine, but naming the output
    # after the spine's label column collides as "y_30d" vs spine "y_30d"
    labels_coll = labels.withColumn("spend_30d", F.lit(0.0))
    with pytest.raises(ValueError, match="collides"):
        create_training_set(manager, labels_coll, [wl], spine_time="label_dt")


def test_histogram_state_merge_and_quantiles(spark):
    """Bin counts merge exactly (monoid); the histogram-quantile
    estimator is exact given the bins; clamping puts out-of-range
    values in the edge bins; empty keys give NULL quantiles."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        histogram_state,
        merge_aggregate_state,
        quantile_from_hist,
    )
    import pytest as _pytest

    a = spark.createDataFrame(
        [(1, v) for v in (0.0, 1.0, 2.0, 3.0)] + [(2, -5.0)],
        "k int, v double",
    )
    b = spark.createDataFrame(
        [(1, v) for v in (4.0, 5.0, 6.0, 7.0)] + [(2, 99.0), (1, None)],
        "k int, v double",
    )
    # [0, 8) in 4 bins of width 2
    full = histogram_state(a.unionByName(b), ["k"], "v", 0.0, 8.0, 4)
    merged = merge_aggregate_state(
        histogram_state(a, ["k"], "v", 0.0, 8.0, 4),
        histogram_state(b, ["k"], "v", 0.0, 8.0, 4),
        ["k"],
    )
    key = lambda r: (r.k, r.hist_0, r.hist_1, r.hist_2, r.hist_3)  # noqa: E731
    assert sorted(map(key, full.collect())) == sorted(map(key, merged.collect()))
    rows = {r.k: (r.hist_0, r.hist_1, r.hist_2, r.hist_3) for r in full.collect()}
    assert rows[1] == (2, 2, 2, 2)      # NULL value uncounted
    assert rows[2] == (1, 0, 0, 1)      # -5 clamps to bin 0, 99 to last bin
    q = full.select(
        "k",
        quantile_from_hist(0.5, 0.0, 8.0, 4).alias("p50"),
        quantile_from_hist(1.0, 0.0, 8.0, 4).alias("p100"),
    )
    got = {r.k: (r.p50, r.p100) for r in q.collect()}
    # k=1: n=8, target=4 -> bin 1 cum 2->4: 2 + (4-2)/2*2 = 4.0; p100 = 8.0
    assert got[1] == (4.0, 8.0)
    # empty histogram -> NULL
    empty = spark.createDataFrame([(9, 0, 0, 0, 0)],
                                  "k int, hist_0 long, hist_1 long, hist_2 long, hist_3 long")
    r = empty.select(quantile_from_hist(0.5, 0.0, 8.0, 4).alias("p")).collect()[0]
    assert r.p is None
    with _pytest.raises(ValueError):
        quantile_from_hist(1.5, 0.0, 8.0, 4)
    with _pytest.raises(ValueError):
        histogram_state(a, ["k"], "v", 0.0, 8.0, 0)


def test_forget_entities_propagates_and_is_idempotent(spark, tmp_path):
    from databricks_demo_feature_store_spark.featurestore import forget_entities
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )
    from pyspark.sql import functions as F

    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    a = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "uid int, v double")
    b = spark.createDataFrame([(2, "x"), (4, "y")], "uid int, s string")
    other = spark.createDataFrame([(9, 1.0)], "item int, w double")
    mgr.save(a, FeatureTableSpec(name="ta", primary_keys=("uid",)), mode="overwrite")
    mgr.save(b, FeatureTableSpec(name="tb", primary_keys=("uid",)), mode="overwrite")
    mgr.save(other, FeatureTableSpec(name="tc", primary_keys=("item",)), mode="overwrite")

    forget = spark.createDataFrame([(2,), (3,)], "uid int")
    audit = {r["table"]: r for r in forget_entities(mgr, forget, "uid").collect()}
    assert audit["ta"]["rows_deleted"] == 2 and audit["ta"]["rows_after"] == 1
    assert audit["tb"]["rows_deleted"] == 1 and audit["tb"]["rows_after"] == 1
    # table without the key: accounted for, untouched
    assert audit["tc"]["key_matched"] is False and audit["tc"]["rows_deleted"] == 0
    assert sorted(r.uid for r in mgr.read("ta").collect()) == [1]
    assert sorted(r.uid for r in mgr.read("tb").collect()) == [4]
    assert mgr.read("tc").count() == 1
    # registry metadata survives the swap
    assert mgr.get_metadata("ta")["primary_keys"] == ["uid"]
    # idempotent: a second forget deletes nothing
    audit2 = {r["table"]: r for r in forget_entities(mgr, forget, "uid").collect()}
    assert audit2["ta"]["rows_deleted"] == 0
    assert audit2["tb"]["rows_deleted"] == 0


def test_refresh_join_view_equals_recompute(spark):
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        refresh_join_view,
    )
    from pyspark.sql import functions as F

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 1.0), (4, 30, 2.0)],
        "fid int, k int, v double",
    )
    dim = spark.createDataFrame([(10, "a"), (20, "b"), (30, "c")], "k2 int, attr string")
    view = fact.join(dim, fact["k"] == dim["k2"])

    # fact delete + fact upsert (fid 2 changes value, fid 5 arrives)
    f_delta = spark.createDataFrame([(2, 20, 9.0), (5, 30, 4.0)], "fid int, k int, v double")
    view = refresh_join_view(view, f_delta, dim, on=("k", "k2"), replace_key="fid",
                             deletes=spark.createDataFrame([(3,)], "fid int"))
    # dim update: k=30 renamed
    d_delta = spark.createDataFrame([(30, "C!")], "k2 int, attr string")
    f_now = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 9.0), (4, 30, 2.0), (5, 30, 4.0)],
        "fid int, k int, v double",
    )
    view = refresh_join_view(view, d_delta, f_now, on=("k2", "k"), replace_key="k2")

    recomputed = f_now.join(
        spark.createDataFrame([(10, "a"), (20, "b"), (30, "C!")], "k2 int, attr string"),
        F.col("k") == F.col("k2"),
    )
    got = sorted(tuple(r) for r in view.select("fid", "k", "v", "attr").collect())
    want = sorted(tuple(r) for r in recomputed.select("fid", "k", "v", "attr").collect())
    assert got == want
    # no-delta call is the identity
    assert refresh_join_view(view, None, dim, on=("k", "k2"), replace_key="fid") is view


@pytest.mark.parametrize("op", ["forget", "merge", "hot_merge"])
def test_forget_metadata_promoted_atomically(spark, tmp_path, monkeypatch, op):
    """Registry metadata rides in the staging directory, so the _swap_dirs
    rename promotes data + primary_keys atomically, for a forget, a merge
    and a hot-tier merge alike. A crash AT the swap leaves the live table
    and its registry (and tier record) untouched while staging already
    holds the registry; a crash right AFTER the swap leaves the new rows
    with their registry and a pin that describes them."""
    import os

    from databricks_demo_feature_store_spark.featurestore import forget_entities
    from databricks_demo_feature_store_spark.featurestore.manager import (
        METADATA_FILE,
        FeatureStoreManager,
        FeatureTableSpec,
    )
    from databricks_demo_feature_store_spark.sources import writers

    mgr = FeatureStoreManager(spark, str(tmp_path / "store"))
    if op == "hot_merge":
        spec = FeatureTableSpec(name="ta", primary_keys=("uid", "day"), timestamp_keys=("day",))
        schema = "uid int, day int, v double"
        # a cold tier well above the hot files' parquet footers, so the
        # hot tier stays the smaller one
        history = [(u, d, float(d)) for u in (1, 2) for d in range(1, 401)]
        mgr.save(spark.createDataFrame(history, schema), spec, mode="overwrite")
        # the first merge splits the table into a cold and a hot tier
        mgr.save(spark.createDataFrame([(2, 401, 20.0)], schema), spec)
        mgr.save(spark.createDataFrame([(2, 401, 21.0)], schema), spec)
    else:
        spec = FeatureTableSpec(name="ta", primary_keys=("uid",))
        a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "uid int, v double")
        mgr.save(a, spec, mode="overwrite")
    meta = mgr.get_metadata("ta")
    pin = mgr._sidecar("ta")[writers.READ_SCHEMA_KEY]
    assert ("tier" in pin) == (op == "hot_merge")

    def run():
        if op == "forget":
            forget_entities(mgr, spark.createDataFrame([(2,)], "uid int"), "uid")
        elif op == "merge":
            mgr.save(spark.createDataFrame([(3, 30.0)], "uid int, v double"), spec)
        else:
            mgr.save(spark.createDataFrame([(3, 401, 30.0)], "uid int, day int, v double"), spec)

    def uids():
        return {r.uid for r in mgr.read("ta").collect()}

    real_swap = writers._swap_dirs
    staged: dict = {}

    def crash_at_swap(live, staging, expected_generation=None):
        staged["path"] = staging.removeprefix("file:")
        raise RuntimeError("simulated crash at swap")

    def crash_after_swap(live, staging, expected_generation=None):
        real_swap(live, staging, expected_generation)
        raise RuntimeError("simulated crash after swap")

    monkeypatch.setattr(writers, "_swap_dirs", crash_at_swap)
    with pytest.raises(RuntimeError, match="crash at swap"):
        run()
    # staging already carries the registry metadata — the rename alone
    # would have promoted both
    assert os.path.exists(os.path.join(staged["path"], METADATA_FILE))
    assert uids() == {1, 2}
    assert mgr.get_metadata("ta") == meta
    assert mgr._sidecar("ta")[writers.READ_SCHEMA_KEY] == pin

    monkeypatch.setattr(writers, "_swap_dirs", crash_after_swap)
    with pytest.raises(RuntimeError, match="crash after swap"):
        run()
    assert uids() == ({1} if op == "forget" else {1, 2, 3})
    assert mgr.get_metadata("ta") == meta
    new_pin = mgr._sidecar("ta")[writers.READ_SCHEMA_KEY]
    assert new_pin["files"] == writers.data_file_listing(mgr.path("ta"))
    if op == "hot_merge":
        # only the hot file was rewritten; the cold one is the same file
        assert new_pin["tier"]["hot_from"] == pin["tier"]["hot_from"]
        assert new_pin["tier"]["hot"] != pin["tier"]["hot"]
        cold = {n for n, _ in pin["files"]} - set(pin["tier"]["hot"])
        assert cold and cold == {n for n, _ in new_pin["files"]} - set(new_pin["tier"]["hot"])

    # forget keeps propagating — primary_keys never got lost
    monkeypatch.setattr(writers, "_swap_dirs", real_swap)
    forget = spark.createDataFrame([(1,)], "uid int")
    audit = {r["table"]: r for r in forget_entities(mgr, forget, "uid").collect()}
    assert audit["ta"]["key_matched"] is True
    assert audit["ta"]["rows_deleted"] == (400 if op == "hot_merge" else 1)
    assert mgr.get_metadata("ta") == meta


def test_list_tables_debris_vs_legit_suffix_names(spark, manager, tmp_path):
    """ADVICE r12: list_tables must hide writer crash debris precisely —
    a registered table whose NAME merely ends in __old stays listed, while
    `<existing sibling>__staging` (any random tail) and unregistered
    suffix dirs are excluded."""
    import dataclasses
    import os

    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), SPEC, mode="overwrite")
    # a LEGITIMATE table whose name ends with a writer suffix, with no
    # 'prices' sibling: must stay visible
    legit = dataclasses.replace(SPEC, name="prices__old")
    manager.save(_df(spark, [(2, dt.date(2024, 1, 1), 2.0)]), legit, mode="overwrite")
    # crash debris: sibling-derived names, including a random staging tail
    # and a stacked _swap_dirs chain — all must be hidden
    for debris in (
        "cust_features__old",
        "cust_features__staging-ab12cd",
        "cust_features__staging__old",
    ):
        os.makedirs(os.path.join(manager.root, debris), exist_ok=True)
    # an unregistered suffix dir with no sibling base (no metadata file):
    # never a table either
    os.makedirs(os.path.join(manager.root, "ghost__compact"), exist_ok=True)
    assert manager.list_tables() == ["cust_features", "prices__old"]


def test_refresh_join_view_from_cdf(spark, tmp_path):
    """CDF-driven IVM: deltas derived from the change feed, default
    version resolution = last commit, maintained ≡ recomputed."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        cdf_deltas,
        refresh_join_view_from_cdf,
    )
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

    fact0 = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 1.0)], "fk int, dk int, x double"
    )
    # commit: delete fk=3, update fk=2, insert fk=4
    fact1 = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 70.0), (4, 20, 9.0)], "fk int, dk int, x double"
    )
    dim = spark.createDataFrame([(10, "a"), (20, "b")], "dk2 int, attr string")

    vt = VersionedTable(spark, str(tmp_path / "fact_v"))
    with pytest.raises(ValueError, match="no commits"):
        refresh_join_view_from_cdf(fact0, vt, "fk", dim, on=("dk", "dk2"))
    vt.save(fact0)
    with pytest.raises(ValueError, match="no version before"):
        refresh_join_view_from_cdf(fact0, vt, "fk", dim, on=("dk", "dk2"))
    vt.save(fact1)

    delta, dels = cdf_deltas(vt.changes_between(0, 1, ["fk"]), "fk")
    assert {r.fk for r in delta.collect()} == {2, 4}
    assert "_change_type" not in delta.columns
    assert [r.fk for r in dels.collect()] == [3]

    view0 = vt.read(0).join(dim, F.col("dk") == F.col("dk2"))
    got = refresh_join_view_from_cdf(view0, vt, "fk", dim, on=("dk", "dk2"))
    want = fact1.join(dim, F.col("dk") == F.col("dk2"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_refresh_aggregate_state_from_cdf(spark, tmp_path):
    """Aggregate IVM over a change feed: pre-image negation is exact,
    vanished keys drop, maintained state ≡ full recompute bit-for-bit."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        refresh_aggregate_state_from_cdf,
    )
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable

    f0 = spark.createDataFrame(
        [(1, "a", 1.25), (2, "a", 2.50), (3, "b", 4.00), (4, "c", 8.00)],
        "rid int, k string, v double",
    )
    # commit: update rid=2 (a: 2.50 -> 5.00), delete rid=3 (b vanishes
    # entirely), insert rid=5 into c
    f1 = spark.createDataFrame(
        [(1, "a", 1.25), (2, "a", 5.00), (4, "c", 8.00), (5, "c", 0.75)],
        "rid int, k string, v double",
    )
    vt = VersionedTable(spark, str(tmp_path / "f"))
    vt.save(f0)
    vt.save(f1)
    state0 = aggregate_state(f0, ["k"], "v")
    got = refresh_aggregate_state_from_cdf(
        state0, vt, id_keys=["rid"], agg_keys=["k"], value_col="v"
    )
    want = aggregate_state(f1, ["k"], "v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert {r.k for r in got.collect()} == {"a", "c"}  # b dropped


def test_spec_check_constraints_enforced_every_save(spark, manager):
    """FeatureTableSpec.check_constraints: validated on overwrite AND
    merge before any byte lands; recorded in the registry metadata."""
    import dataclasses

    from databricks_demo_feature_store_spark.sources.writers import (
        CheckConstraintViolation,
    )

    spec = dataclasses.replace(
        SPEC, name="checked_features", check_constraints=("f1 >= 0",)
    )
    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), spec, mode="overwrite")
    assert manager.get_metadata("checked_features")["check_constraints"] == ["f1 >= 0"]

    # merge path: a violating batch rejects, table unchanged
    with pytest.raises(CheckConstraintViolation):
        manager.save(
            _df(spark, [(2, dt.date(2024, 1, 1), -5.0)]), spec, mode="merge"
        )
    got = manager.read("checked_features").collect()
    assert len(got) == 1 and got[0].f1 == 1.0

    # passing merge lands
    manager.save(_df(spark, [(2, dt.date(2024, 1, 1), 2.0)]), spec, mode="merge")
    assert manager.read("checked_features").count() == 2


def test_save_many_matches_sequential_saves(spark, tmp_path):
    """save_many (overlapped independent writes) must produce tables and
    registry metadata identical to the sequential loop, and refuse
    duplicate targets (two writers on one table would race)."""
    import datetime as dt

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )

    def spec(name):
        return FeatureTableSpec(
            name=name,
            primary_keys=("pk_customer", "tpk_release_dt"),
            timestamp_keys=("tpk_release_dt",),
            description=f"tbl {name}",
            source_tables=("orders",),
        )

    frames = {
        f"t{i}": _df(
            spark,
            [(j, dt.date(2024, 1, 1 + j), float(i * 10 + j)) for j in range(3)],
        )
        for i in range(3)
    }
    seq = FeatureStoreManager(spark, str(tmp_path / "seq"))
    for name, df in frames.items():
        seq.save(df, spec(name), mode="overwrite")
    par = FeatureStoreManager(spark, str(tmp_path / "par"))
    diffs = par.save_many(
        [(df, spec(name)) for name, df in frames.items()], mode="overwrite"
    )
    assert set(diffs) == set(frames)
    assert par.list_tables() == seq.list_tables()
    for name in frames:
        a = sorted(map(tuple, seq.read(name).collect()))
        b = sorted(map(tuple, par.read(name).collect()))
        assert a == b
        assert par.get_metadata(name) == seq.get_metadata(name)

    with pytest.raises(ValueError, match="distinct"):
        par.save_many(
            [(frames["t0"], spec("dup")), (frames["t1"], spec("dup"))],
            mode="overwrite",
        )


def _jobs(spark) -> set[int]:
    """Ids of the jobs the status tracker has seen so far."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _five_table_store(spark, manager):
    """Five saved feature tables on one key, twelve payload columns each."""
    names = [f"ft{i}" for i in range(5)]
    for i, name in enumerate(names):
        df = spark.range(0, 40).select(
            (F.col("id") % 8).cast("int").alias("pk_customer"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 3600).alias(
                "tpk_release_dt"
            ),
            *[(F.col("id") * (j + 1) + i).cast("double").alias(f"f{i}_{j}") for j in range(12)],
        )
        spec = FeatureTableSpec(
            name=name,
            primary_keys=("pk_customer", "tpk_release_dt"),
            timestamp_keys=("tpk_release_dt",),
        )
        manager.save(df, spec, mode="overwrite")
    spine = spark.range(0, 30).select(
        F.col("id").alias("label_id"),
        (F.col("id") % 8).cast("int").alias("pk_customer"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 5000).alias("label_ts"),
    )
    return names, spine


def test_training_set_build_launches_no_job(spark, manager):
    """Building a training set over registered tables plans every read
    with the registry-pinned schema: no footer-inference job."""
    import time

    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    spine.columns  # the spine's own analysis is not part of the build
    before = _jobs(spark)
    ts = create_training_set(manager, spine, lookups, spine_time="label_ts")
    time.sleep(0.5)  # job events reach the status tracker asynchronously
    assert _jobs(spark) - before == set()
    assert ts.count() == 30
    assert len(ts.columns) == 3 + 5 * 12


def test_training_set_build_py4j_budget(spark, manager):
    """The build's Py4J round trips grow with the lookups, not with
    lookups² or the payload columns: five 12-column tables stay far
    under 1,000 calls (the per-column construction took ~5,800 here).
    Only this thread's commands count: Py4J's finalizer thread sends the
    deletes of every JavaObject freed since it last woke (600-1,600 after
    the store's saves) whenever its one-second sleep ends."""
    import threading

    import py4j.clientserver as cs

    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    spine.columns
    calls = [0]
    send = cs.ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command):
        calls[0] += threading.get_ident() == builder
        return send(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        create_training_set(manager, spine, lookups, spine_time="label_ts")
    finally:
        cs.ClientServerConnection.send_command = send
    assert 0 < calls[0] <= 1000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _task_count(spark, df) -> int:
    """Tasks of every stage of every job that writing ``df`` to the noop
    sink launches."""
    import time
    import uuid

    group = f"tasks-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "task count")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(50):  # job events reach the status tracker asynchronously
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [tracker.getStageInfo(s) for job in jobs if job for s in job.stageIds]
        if jobs and all(jobs) and all(stages):
            return sum(stage.numTasks for stage in stages)
        time.sleep(0.1)
    raise AssertionError(f"no complete job info for group {group}")


def test_small_training_set_runs_as_one_task(spark, manager):
    """Inputs that together fit one scan split assemble with no Exchange,
    in one task."""
    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    ts = create_training_set(manager, spine, lookups, spine_time="label_ts")
    assert "Exchange" not in _plan(ts)
    assert _task_count(spark, ts) == 1


def _asof_inputs(spark):
    """A spine and two feature frames with many rows per key, feature
    times shared within a key (ordered by a tiebreak) and Catalyst size
    estimates (range-based, unlike ``createDataFrame`` frames)."""
    t0 = 1_700_000_000
    spine = spark.range(0, 60).select(
        F.col("id").alias("label_id"),
        (F.col("id") % 7).cast("int").alias("k"),
        F.timestamp_seconds(F.lit(t0) + (F.col("id") * 7919) % 90_000).alias("ts"),
    )
    fa = spark.range(0, 80).select(
        (F.col("id") % 7).cast("int").alias("k"),
        F.timestamp_seconds(F.lit(t0) + ((F.col("id") * 104_729) % 25) * 4000).alias("ft"),
        F.col("id").cast("double").alias("a"),
        F.col("id").alias("a_order"),
    )
    fb = spark.range(0, 50).select(
        (F.col("id") % 5).cast("int").alias("k"),
        F.timestamp_seconds(F.lit(t0) + (F.col("id") * 15_485_863) % 95_000).alias("ft"),
        (F.col("id") * 2).alias("b"),
    )
    return spine, fa, fb


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_one_task_and_shuffle_plans_agree(spark, direction):
    """The one-task plan and the shuffle plan return the same rows, with
    a tiebreak, a tolerance and a matched time. ``openCostInBytes=1``
    makes every input more than one split, which forces the shuffle."""
    from databricks_demo_feature_store_spark.operators.joins import (
        point_in_time_multi_join,
    )

    spine, fa, fb = _asof_inputs(spark)

    def join():
        return point_in_time_multi_join(
            spine,
            [
                {
                    "features": fa,
                    "feature_time": "ft",
                    "feature_cols": ["a"],
                    "feature_tiebreak": ["a_order"],
                    "matched_time_col": "a_ft",
                },
                {"features": fb, "feature_time": "ft", "tolerance_expr": "INTERVAL 2 HOURS"},
            ],
            keys=["k"],
            spine_time="ts",
            direction=direction,
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    one_task = join()
    assert "Exchange" not in _plan(one_task)
    got = rows(one_task)
    key = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        shuffled = join()
        assert "Exchange" in _plan(shuffled)
        want = rows(shuffled)
    finally:
        spark.conf.set(key, saved)
    assert got == want
    assert len(got) == 60
    assert any(r[3] is not None for r in got)  # a matched
    assert {r[5] is None for r in got} == {True, False}  # b matched and missed


def _sorted_rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def test_warm_training_set_reads_the_cached_state(spark, manager, monkeypatch):
    """The first build on a store version runs the single-pass kernel;
    the second and later ones plan no feature-table scan (they read the
    group's cached as-of state), launch no job while being built, run in
    one task and return the first build's rows. From the third on, a
    build reads no registry DataFrame."""
    import time

    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    cold = create_training_set(manager, spine, lookups, spine_time="label_ts")
    assert "FileScan" in _plan(cold)
    want = _sorted_rows(cold)

    reads, read = [], manager.read_registered
    monkeypatch.setattr(manager, "read_registered", lambda n: reads.append(n) or read(n))
    for build in (2, 3):
        reads.clear()
        before = _jobs(spark)
        warm = create_training_set(manager, spine, lookups, spine_time="label_ts")
        time.sleep(0.5)  # job events reach the status tracker asynchronously
        assert _jobs(spark) - before == set()
        assert reads == (names if build == 2 else [])
        assert "FileScan" not in _plan(warm)
        assert _task_count(spark, warm) == 1
        assert warm.columns == cold.columns
        assert _sorted_rows(warm) == want


def test_training_state_survives_other_lookups(spark, manager):
    """Builds of other lookups on the same keys take the group's slot
    without releasing its state: a frame built on that state still
    returns its rows."""
    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    create_training_set(manager, spine, lookups, spine_time="label_ts")
    first = create_training_set(manager, spine, lookups, spine_time="label_ts")
    want = _sorted_rows(first)
    for subset in (lookups[:2], lookups[2:], lookups[1:3]):
        for _ in range(2):
            create_training_set(manager, spine, subset, spine_time="label_ts").collect()
    assert _sorted_rows(first) == want


def test_training_state_rebuilt_after_lost_blocks(spark, manager):
    """A computed state whose blocks are gone (as when the executor
    holding them is lost) is rebuilt by the next build, and
    ``release_training_states`` starts every group cold."""
    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    want = _sorted_rows(create_training_set(manager, spine, lookups, spine_time="label_ts"))
    assert _sorted_rows(create_training_set(manager, spine, lookups, spine_time="label_ts")) == want

    (slot,) = manager._training_states._slots.values()
    master = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    master.removeRdd(slot.rdd.id(), True)
    assert _sorted_rows(create_training_set(manager, spine, lookups, spine_time="label_ts")) == want

    manager.release_training_states()
    assert manager._training_states._slots == {}
    assert _sorted_rows(create_training_set(manager, spine, lookups, spine_time="label_ts")) == want


def test_training_set_sees_commits(spark, manager):
    """A merge through the manager into one table and an outside parquet
    append into another both reach the next build."""
    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    for _ in range(2):  # the second build computes the group's state
        create_training_set(manager, spine, lookups, spine_time="label_ts").collect()

    # every spine row of key 0 is later than this feature time
    late = F.timestamp_seconds(F.lit(1_700_000_000 + 30 * 5000 + 1))
    row = spark.range(1).select(
        F.lit(0).cast("int").alias("pk_customer"),
        late.alias("tpk_release_dt"),
        *[F.lit(-1.0).alias(f"f0_{j}") for j in range(12)],
    )
    spec = FeatureTableSpec(
        name="ft0", primary_keys=("pk_customer", "tpk_release_dt"),
        timestamp_keys=("tpk_release_dt",),
    )
    manager.save(row, spec, mode="merge")
    outside = row.select(
        "pk_customer", "tpk_release_dt", *[F.lit(-2.0).alias(f"f1_{j}") for j in range(12)]
    )
    outside.write.mode("append").parquet(manager.path("ft1"))

    # a spine row at the late time, so both new rows are its matches
    probe = spark.range(1).select(
        F.lit(-1).cast("bigint").alias("label_id"),
        F.lit(0).cast("int").alias("pk_customer"),
        late.alias("label_ts"),
    )
    for _ in range(2):  # the single-pass build, then a new state
        got = create_training_set(manager, probe, lookups, spine_time="label_ts").first()
        assert (got.f0_0, got.f1_0) == (-1.0, -2.0)


def test_training_state_cache_is_bounded(spark, manager):
    """Each commit replaces the group's state and releases the old one:
    the persisted RDDs do not grow over commit-and-build rounds."""
    names, spine = _five_table_store(spark, manager)
    lookups = [FeatureLookup(table=n, lookup_keys=("pk_customer",)) for n in names]
    spec = FeatureTableSpec(
        name="ft0", primary_keys=("pk_customer", "tpk_release_dt"),
        timestamp_keys=("tpk_release_dt",),
    )
    sizes = []
    for r in range(5):
        row = spark.range(1).select(
            F.lit(r).cast("int").alias("pk_customer"),
            F.timestamp_seconds(F.lit(1_800_000_000 + r)).alias("tpk_release_dt"),
            *[F.lit(float(r)).alias(f"f0_{j}") for j in range(12)],
        )
        manager.save(row, spec, mode="merge")
        for _ in range(2):  # the single-pass build, then a new state
            assert create_training_set(manager, spine, lookups, spine_time="label_ts").count() == 30
        sizes.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert max(sizes) <= sizes[0]
    assert len(manager._training_states._slots) == 1


def test_pinned_read_schema_tracks_outside_writes(spark, manager):
    """The pin is used only while the listing it records is current: a
    table rewritten outside the manager with an extra column is read
    with that column, whether or not the writer left the sidecar."""
    import os
    import shutil

    from databricks_demo_feature_store_spark.featurestore.manager import METADATA_FILE

    df = _df(spark, [(1, dt.date(2024, 1, 1), 1.0)])
    manager.save(df, SPEC, mode="overwrite")
    path = manager.path("cust_features")
    # the pinned schema is the one inference would give
    assert manager.read("cust_features").schema == spark.read.parquet(path).schema

    sidecar = os.path.join(path, METADATA_FILE)
    kept = str(os.path.join(os.path.dirname(path), "sidecar.json"))
    shutil.copy(sidecar, kept)
    wider = _df(spark, [(2, dt.date(2024, 1, 2), 2.0)]).withColumn("f2", F.lit(5.0))
    wider.write.mode("overwrite").parquet(path)  # drops the sidecar
    assert manager.read("cust_features").columns[-1] == "f2"

    shutil.copy(kept, sidecar)  # a stale pin beside the new files
    got = manager.read("cust_features")
    assert got.columns[-1] == "f2"
    assert got.first().f2 == 5.0


def test_evolving_merge_updates_pin(spark, manager):
    """A merge that adds a column under EVOLVE re-pins the table: the
    next read sees the column and plans with no inference job."""
    import time

    manager.save(_df(spark, [(1, dt.date(2024, 1, 1), 1.0)]), SPEC, mode="overwrite")
    wide = _df(spark, [(2, dt.date(2024, 1, 1), 2.0)]).withColumn("f2", F.lit(7.0))
    manager.save(wide, SPEC, mode="merge", policy=EvolutionPolicy.EVOLVE)
    before = _jobs(spark)
    got = manager.read("cust_features")
    time.sleep(0.5)
    assert _jobs(spark) - before == set()
    assert got.columns == ["pk_customer", "tpk_release_dt", "f1", "f2"]
    assert {(r.pk_customer, r.f2) for r in got.collect()} == {(1, None), (2, 7.0)}
    assert "read_schema" not in manager.get_metadata("cust_features")


def _failing(df, key: int):
    """``df`` whose job raises ``boom`` on the row with ``pk_customer == key``."""
    return df.withColumn(
        "f1",
        F.when(F.col("pk_customer") == key, F.raise_error(F.lit("boom"))).otherwise(
            F.col("f1")
        ),
    )


def _rows(manager, name: str) -> list:
    return sorted(map(tuple, manager.read(name).collect()))


def test_failed_overwrite_keeps_table_and_registry(spark, manager):
    """An overwrite whose job fails mid-write leaves the old table, its
    registry and its read-schema pin in place, and no staging debris."""
    import os

    day = dt.date(2024, 1, 1)
    manager.save(_df(spark, [(1, day, 1.0), (2, day, 2.0)]), SPEC, mode="overwrite")
    before, meta = _rows(manager, SPEC.name), manager.get_metadata(SPEC.name)
    with pytest.raises(Exception, match="boom"):
        manager.save(
            _failing(_df(spark, [(1, day, 5.0), (2, day, 6.0)]), 2), SPEC, mode="overwrite"
        )
    assert _rows(manager, SPEC.name) == before
    assert manager.get_metadata(SPEC.name) == meta
    assert sorted(os.listdir(manager.root)) == [SPEC.name]


def test_overwrite_is_sized_to_one_file(spark, manager):
    """A small overwrite whose plan has a size estimate lands as one data
    file, not one per input partition."""
    from databricks_demo_feature_store_spark.sources.writers import data_file_listing

    df = spark.range(0, 25, numPartitions=8).select(
        F.col("id").cast("int").alias("pk_customer"),
        F.date_add(F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int")).alias("tpk_release_dt"),
        F.col("id").cast("double").alias("f1"),
    )
    manager.save(df, SPEC, mode="overwrite")
    assert len(data_file_listing(manager.path(SPEC.name))) == 1
    assert manager.read(SPEC.name).count() == 25


def test_self_overwrite_reads_the_table_it_replaces(spark, manager):
    """``save(read(t) ..., mode="overwrite")`` — explicit, or forced by a
    type change under EVOLVE — rewrites the table from its own rows, and
    the registry pin describes the promoted files."""
    from databricks_demo_feature_store_spark.sources.writers import (
        READ_SCHEMA_KEY,
        data_file_listing,
    )

    day = dt.date(2024, 1, 1)
    manager.save(_df(spark, [(1, day, 1.0), (2, day, 2.0)]), SPEC, mode="overwrite")
    doubled = manager.read(SPEC.name).withColumn("f1", F.col("f1") * 2)
    manager.save(doubled, SPEC, mode="overwrite")
    assert _rows(manager, SPEC.name) == [(1, day, 2.0), (2, day, 4.0)]

    as_text = manager.read(SPEC.name).withColumn("f1", F.col("f1").cast("string"))
    diff = manager.save(as_text, SPEC, mode="merge", policy=EvolutionPolicy.EVOLVE)
    assert diff.type_changed == [("f1", "double", "string")]
    assert _rows(manager, SPEC.name) == [(1, day, "2.0"), (2, day, "4.0")]
    pin = manager._sidecar(SPEC.name)[READ_SCHEMA_KEY]
    assert pin["files"] == data_file_listing(manager.path(SPEC.name))
    assert manager.get_metadata(SPEC.name)["primary_keys"] == list(SPEC.primary_keys)


@pytest.mark.parametrize("mode", ["merge", "overwrite"])
def test_save_many_one_failing_item(spark, tmp_path, mode):
    """One ``save_many`` item's job raises mid-write: the other tables
    land, the failed one keeps its rows and registry, no staging debris
    is left, and a retry with a good frame succeeds."""
    import dataclasses
    import os

    mgr = FeatureStoreManager(spark, str(tmp_path / "fs"))
    names = ["t0", "t1", "t2"]
    specs = {n: dataclasses.replace(SPEC, name=n) for n in names}
    day = dt.date(2024, 1, 1)
    for i, n in enumerate(names):
        mgr.save(_df(spark, [(k, day, float(i * 10 + k)) for k in range(3)]), specs[n], mode="overwrite")
    before = {n: (_rows(mgr, n), mgr.get_metadata(n)) for n in names}
    batch = {n: _df(spark, [(k, day, 100.0 + i * 10 + k) for k in (2, 3)]) for i, n in enumerate(names)}
    expected = {
        n: sorted(
            ([r for r in before[n][0] if r[0] != 2] if mode == "merge" else [])
            + [(k, day, 100.0 + i * 10 + k) for k in (2, 3)]
        )
        for i, n in enumerate(names)
    }

    items = [(_failing(batch[n], 3) if n == "t1" else batch[n], specs[n]) for n in names]
    with pytest.raises(Exception, match="boom"):
        mgr.save_many(items, mode=mode)
    for n in ("t0", "t2"):
        assert _rows(mgr, n) == expected[n]
    assert (_rows(mgr, "t1"), mgr.get_metadata("t1")) == before["t1"]
    assert mgr.list_tables() == names
    assert sorted(os.listdir(mgr.root)) == names

    mgr.save_many([(batch["t1"], specs["t1"])], mode=mode)
    assert _rows(mgr, "t1") == expected["t1"]
    assert mgr.get_metadata("t1") == before["t1"][1]


@pytest.mark.parametrize(
    "op",
    [
        "merge",
        "compact",
        "maybe_compact",
        "replace_entities",
        "apply_deletes",
        "materialize_mapping",
    ],
)
def test_rewrites_keep_registry_and_pin(spark, manager, op):
    """Every table rewrite promotes the table's registry with its data
    and re-pins the read schema to the files it wrote, so training and
    forget keep seeing the primary and timestamp keys."""
    from pyspark.sql.types import StructType

    from databricks_demo_feature_store_spark.pipelines.incremental import (
        replace_entities,
    )
    from databricks_demo_feature_store_spark.sources import (
        column_mapping,
        deletion_vectors,
        writers,
    )

    day = dt.date(2024, 1, 1)
    manager.save(_df(spark, [(k, day, float(k)) for k in range(6)]), SPEC, mode="overwrite")
    path = manager.path(SPEC.name)
    meta = manager.get_metadata(SPEC.name)
    batch = _df(spark, [(1, day, 10.0), (9, day, 9.0)])
    if op == "merge":
        writers.merge_upsert(batch, path, list(SPEC.primary_keys))
    elif op == "compact":
        writers.compact(spark, path)
    elif op == "maybe_compact":
        policy = writers.CompactionPolicy(min_small_files=1)
        assert writers.maybe_compact(spark, path, policy=policy)
    elif op == "replace_entities":
        replace_entities(batch, path, "pk_customer")
    elif op == "apply_deletes":
        assert deletion_vectors.delete_rows(spark, path, "pk_customer = 2") == 1
        assert deletion_vectors.apply_deletes(spark, path) == 1
    else:
        column_mapping.rename_column(spark, path, "f1", "f2")
        assert column_mapping.materialize_mapping(spark, path) == 1

    assert manager.get_metadata(SPEC.name) == meta
    pin = manager._sidecar(SPEC.name)[writers.READ_SCHEMA_KEY]
    assert pin["files"] == writers.data_file_listing(path)
    pinned = StructType.fromJson(pin["schema"])
    assert pinned.simpleString() == spark.read.parquet(path).schema.simpleString()


def test_deleted_rows_stay_deleted_through_reads_and_rewrites(spark, manager):
    """A row a deletion vector removed is gone from manager.read (the
    training-set read too) and never comes back through replace_entities
    or forget_entities on other keys."""
    from databricks_demo_feature_store_spark.featurestore import forget_entities
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        replace_entities,
    )
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
    )

    day = dt.date(2024, 1, 1)
    manager.save(_df(spark, [(k, day, float(k)) for k in range(10)]), SPEC, mode="overwrite")
    path = manager.path(SPEC.name)

    def keys():
        return sorted(r.pk_customer for r in manager.read(SPEC.name).collect())

    assert delete_rows(spark, path, "pk_customer = 7") == 1
    assert keys() == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert manager.read_registered(SPEC.name)[0].count() == 9

    replace_entities(_df(spark, [(1, day, 11.0)]), path, "pk_customer")
    assert keys() == [0, 1, 2, 3, 4, 5, 6, 8, 9]

    assert delete_rows(spark, path, "pk_customer = 5") == 1
    forget = spark.createDataFrame([(3,)], "pk_customer int")
    audit = forget_entities(manager, forget, "pk_customer").collect()
    assert [(r["rows_after"], r["rows_deleted"]) for r in audit] == [(7, 1)]
    assert keys() == [0, 1, 2, 4, 6, 8, 9]


def test_merge_detects_commit_after_schema_diff(spark, manager, monkeypatch):
    """``save`` diffs the schema before it merges. Another writer that
    commits in between (here: an overwrite that adds the batch's new
    column) fails the merge with ``ConcurrentWriteError`` instead of
    letting it apply an ``update_columns`` decision made against a schema
    that is gone; the retry diffs the new table and upserts every column."""
    from databricks_demo_feature_store_spark.sources.writers import (
        ConcurrentWriteError,
        retry_on_conflict,
    )

    day = dt.date(2024, 1, 1)
    manager.save(_df(spark, [(1, day, 1.0), (2, day, 2.0)]), SPEC, mode="overwrite")
    batch = _df(spark, [(1, day, 11.0), (3, day, 3.0)]).withColumn("f2", F.col("f1") * 10)
    real = FeatureStoreManager.validate_schema
    committed = []

    def racing(self, name, df):
        diff = real(self, name, df)
        if not committed:
            committed.append(True)
            wider = _df(spark, [(1, day, 1.0), (2, day, 2.0)]).withColumn("f2", F.lit(0.5))
            self.save(wider, SPEC, mode="overwrite")
        return diff

    monkeypatch.setattr(FeatureStoreManager, "validate_schema", racing)
    with pytest.raises(ConcurrentWriteError):
        manager.save(batch, SPEC)
    retry_on_conflict(lambda: manager.save(batch, SPEC))
    got = {r.pk_customer: (r.f1, r.f2) for r in manager.read(SPEC.name).collect()}
    assert got == {1: (11.0, 110.0), 2: (2.0, 0.5), 3: (3.0, 30.0)}


# -- two-tier merges ----------------------------------------------------------

MONTH = [dt.date(2024, m, 1) for m in range(1, 13)]


def _parquet_frame(spark, tmp_path, rows, schema="pk_customer int, tpk_release_dt date, f1 double"):
    """``rows`` read back from parquet: a frame whose size Catalyst knows,
    like a landed batch, so rewrites are sized to one file per tier."""
    import uuid

    path = str(tmp_path / f"frame-{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _tiers(manager, name):
    """``(tier record, cold file names, hot file names)`` of a table."""
    from databricks_demo_feature_store_spark.sources.writers import (
        READ_SCHEMA_KEY,
        data_file_listing,
    )

    pin = manager._sidecar(name)[READ_SCHEMA_KEY]
    assert pin["files"] == data_file_listing(manager.path(name))
    files, hot = {n for n, _ in pin["files"]}, set(pin["tier"]["hot"])
    assert hot <= files
    return pin["tier"], files - hot, hot


def _times(spark, path, names):
    rows = spark.read.parquet(*[f"{path}/{n}" for n in names]).select("tpk_release_dt").collect()
    return {r[0] for r in rows}


def _upsert(model: dict, rows) -> dict:
    """(old ANTI JOIN batch) ∪ batch on (pk_customer, tpk_release_dt)."""
    out = dict(model)
    out.update({(k, t): v for k, t, v in rows})
    return out


def _as_model(manager, name) -> dict:
    rows = manager.read(name).collect()
    assert len(rows) == len({(r[0], r[1]) for r in rows})  # no duplicate key
    return {(r[0], r[1]): r[2] for r in rows}


def _tiered_store(spark, manager, tmp_path):
    """60 customers × ten months, then the first merge (month 10 restated,
    month 11 new), which splits the table at month 10."""
    history = [(k, MONTH[m], float(k * 100 + m)) for k in range(60) for m in range(10)]
    manager.save(_parquet_frame(spark, tmp_path, history), SPEC, mode="overwrite")
    batch = [(k, MONTH[9], -1.0) for k in range(5)] + [(k, MONTH[10], 1.0) for k in range(5)]
    manager.save(_parquet_frame(spark, tmp_path, batch), SPEC)
    return _upsert({(k, t): v for k, t, v in history}, batch)


def test_tiered_merge_rewrites_only_the_hot_file(spark, manager, tmp_path):
    """The first merge after an overwrite leaves one cold and one hot
    file, split at the batch's lowest time. A merge at or after
    ``hot_from`` rewrites the hot file only: every cold file keeps its
    inode and mtime, and the merge launches no more jobs than the
    whole-table merge of the same batch into an untiered table."""
    import dataclasses
    import os
    import time

    model = _tiered_store(spark, manager, tmp_path)
    path = manager.path(SPEC.name)
    tier, cold, hot = _tiers(manager, SPEC.name)
    assert len(cold) == 1 and len(hot) == 1
    assert max(_times(spark, path, cold)) < MONTH[9] <= min(_times(spark, path, hot))
    assert _as_model(manager, SPEC.name) == model

    def stat(names):
        return {n: (os.stat(f"{path}/{n}").st_ino, os.stat(f"{path}/{n}").st_mtime_ns) for n in names}

    cold_before = stat(cold)
    batch = [(k, MONTH[9], -2.0) for k in range(5, 10)] + [(k, MONTH[11], 2.0) for k in range(5)]
    frame = _parquet_frame(spark, tmp_path, batch)
    frame.columns
    before = _jobs(spark)
    manager.save(frame, SPEC)
    time.sleep(0.5)  # job events reach the status tracker asynchronously
    tiered_jobs = len(_jobs(spark) - before)
    new_tier, new_cold, new_hot = _tiers(manager, SPEC.name)
    assert new_tier["hot_from"] == tier["hot_from"]
    assert stat(new_cold) == cold_before
    assert len(new_hot) == 1 and new_hot != hot
    assert _as_model(manager, SPEC.name) == _upsert(model, batch)

    # the same merge through the untiered whole-table rewrite
    plain = dataclasses.replace(SPEC, name="plain", timestamp_keys=())
    manager.save(manager.read(SPEC.name), plain, mode="overwrite")
    manager.save(_parquet_frame(spark, tmp_path, batch[:3]), plain)
    frame = _parquet_frame(spark, tmp_path, batch)
    frame.columns
    before = _jobs(spark)
    manager.save(frame, plain)
    time.sleep(0.5)
    assert tiered_jobs <= len(_jobs(spark) - before)


def test_tiered_merge_below_hot_from_resplits(spark, manager, tmp_path):
    """A batch row older than ``hot_from`` could match a cold row: the
    merge falls back to the whole table and re-splits at that row."""
    model = _tiered_store(spark, manager, tmp_path)
    path = manager.path(SPEC.name)
    _tier, cold, _hot = _tiers(manager, SPEC.name)
    batch = [(3, MONTH[4], -5.0), (70, MONTH[10], 7.0)]
    manager.save(_parquet_frame(spark, tmp_path, batch), SPEC)
    tier, new_cold, new_hot = _tiers(manager, SPEC.name)
    assert new_cold and not new_cold & cold
    assert max(_times(spark, path, new_cold)) < MONTH[4] <= min(_times(spark, path, new_hot))
    assert _as_model(manager, SPEC.name) == _upsert(model, batch)


@pytest.mark.parametrize("outside", ["append", "delete", "new_column"])
def test_tiered_merge_falls_back_after_outside_writes(spark, manager, tmp_path, outside):
    """A write the tier record does not describe — a plain append (the
    listing changes), a pending deletion vector, a merge that adds a
    column — makes the next merge rewrite the whole table, which equals
    ``(old ANTI JOIN batch) ∪ batch`` and leaves a valid tier record."""
    from databricks_demo_feature_store_spark.sources.deletion_vectors import (
        delete_rows,
    )

    model = _tiered_store(spark, manager, tmp_path)
    path = manager.path(SPEC.name)
    _tier, cold, _hot = _tiers(manager, SPEC.name)
    batch = [(k, MONTH[9], -3.0) for k in range(10, 15)] + [(k, MONTH[11], 3.0) for k in range(3)]
    frame = _parquet_frame(spark, tmp_path, batch)
    if outside == "append":
        extra = [(k, MONTH[10], 9.0) for k in range(200, 204)]
        _parquet_frame(spark, tmp_path, extra).write.mode("append").parquet(path)
        model = _upsert(model, extra)
    elif outside == "delete":
        assert delete_rows(spark, path, "pk_customer = 30") == 10
        model = {key: v for key, v in model.items() if key[0] != 30}
    else:
        frame = frame.withColumn("f2", F.col("f1") * 2)
    manager.save(frame, SPEC)
    _tier, new_cold, _new_hot = _tiers(manager, SPEC.name)
    assert new_cold and not new_cold & cold  # the cold tier was rewritten
    if outside == "new_column":
        # matched rows keep their other columns and take the new one
        got = {(r[0], r[1]): (r.f1, r.f2) for r in manager.read(SPEC.name).collect()}
        batch_keys = {(k, t) for k, t, _ in batch}
        expected = {key: (v, None) for key, v in model.items()}
        expected.update({(k, t): (model.get((k, t), v), 2 * v) for k, t, v in batch})
        assert got == expected and batch_keys <= set(got)
    else:
        assert _as_model(manager, SPEC.name) == _upsert(model, batch)


def test_tiered_merge_matches_bruteforce(spark, manager, tmp_path, monkeypatch):
    """Random sequences of merges above, straddling and below ``hot_from``
    with restated and new keys, interleaved with forget_entities,
    compaction and an outside append: after every step Spark's
    ``manager.read``, DuckDB's ``read_parquet('path/*.parquet')`` and a
    dict model hold the same rows."""
    import random

    import duckdb

    from databricks_demo_feature_store_spark.featurestore import forget_entities
    from databricks_demo_feature_store_spark.sources import writers

    rng = random.Random(7)
    path = manager.path(SPEC.name)
    hot_merges = {"committed": 0, "below": 0}
    real = writers._merge_hot_tier

    def counting(*args):
        try:
            real(*args)
        except writers._BelowHotTier:
            hot_merges["below"] += 1
            raise
        hot_merges["committed"] += 1

    monkeypatch.setattr(writers, "_merge_hot_tier", counting)
    day0 = dt.date(2024, 1, 1)

    def day(i):
        return day0 + dt.timedelta(days=i)

    model = {(k, day(d)): float(k * 1000 + d) for k in range(40) for d in range(30)}
    rows = [(k, t, v) for (k, t), v in model.items()]
    manager.save(_parquet_frame(spark, tmp_path, rows), SPEC, mode="overwrite")
    next_key = 40
    ops = ["above"] * 6 + ["straddle"] * 3 + ["below"] * 2 + ["forget", "compact", "append"]

    for step in range(24):
        op = rng.choice(ops)
        tier = manager._sidecar(SPEC.name)[writers.READ_SCHEMA_KEY].get("tier")
        # the first day of the hot tier, or where a first merge would split
        lo_day = (dt.date.fromisoformat(tier["hot_from"]) - day0).days if tier else 25
        if op in ("above", "straddle", "below"):
            lo, hi = {
                "above": (lo_day, lo_day + 6),
                "straddle": (lo_day - 4, lo_day + 4),
                "below": (max(0, lo_day - 12), max(1, lo_day - 1)),
            }[op]
            batch = {}
            for _ in range(rng.randint(1, 8)):
                d = rng.randint(max(0, lo), max(0, hi))
                if rng.random() < 0.3:
                    k, next_key = next_key, next_key + 1
                else:
                    k = rng.randrange(next_key)
                batch[(k, day(d))] = float(step * 10_000 + rng.randint(0, 999))
            manager.save(
                _parquet_frame(spark, tmp_path, [(k, t, v) for (k, t), v in batch.items()]),
                SPEC,
            )
            model.update(batch)
        elif op == "forget":
            k = rng.randrange(next_key)
            forget_entities(manager, spark.createDataFrame([(k,)], "pk_customer int"), "pk_customer")
            model = {key: v for key, v in model.items() if key[0] != k}
        elif op == "compact":
            writers.compact(spark, path)
        else:
            extra = {(next_key, day(rng.randint(0, 40))): float(step)}
            next_key += 1
            _parquet_frame(
                spark, tmp_path, [(k, t, v) for (k, t), v in extra.items()]
            ).write.mode("append").parquet(path)
            model.update(extra)

        got = {(r[0], r[1]): r[2] for r in manager.read(SPEC.name).collect()}
        duck = duckdb.sql(
            f"SELECT pk_customer, tpk_release_dt, f1 FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
        assert len(duck) == len(model), (step, op)
        assert got == model, (step, op)
        assert {(k, t): v for k, t, v in duck} == model, (step, op)
    # both outcomes of a hot-tier attempt were exercised
    assert hot_merges["committed"] >= 3 and hot_merges["below"] >= 1, hot_merges
