"""Unit tests for relational operators on tiny inline DataFrames."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.operators import (
    aggregation_operations,
    conditional_pivot,
    create_lags_ind,
    exclude_ids_anti_join,
    filter_by_fixed_conditions,
    filter_by_max_value,
    generate_lags,
    lag_diff_roc,
    make_join,
    month_spine,
    point_in_time_join,
    relative_strength_index,
    rolling_categorical_stats,
    rolling_numeric_stats,
    select_columns,
    select_distinct,
    union_dataframes,
    window_operations,
)


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in out.collect()])


def test_select_columns_validates(spark):
    df = spark.createDataFrame([(1, "a")], "id int, name string")
    assert select_columns(df, ["id"]).columns == ["id"]
    with pytest.raises(ValueError, match="missing"):
        select_columns(df, ["missing"])


def test_select_distinct(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, name string")
    assert rows(select_distinct(df, ["id", "name"])) == [(1, "a"), (2, "b")]


def test_filter_by_fixed_conditions(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 30.0, "y"), (3, 50.0, "x")], "id int, v double, tag string"
    )
    out = filter_by_fixed_conditions(df, ["v > 15.0", "tag = 'x'"])
    assert rows(out, "id") == [(3,)]
    assert filter_by_fixed_conditions(df, []).count() == 3


def test_filter_dataframes_dict(spark):
    from databricks_demo_feature_store_spark.operators import filter_dataframes

    a = spark.createDataFrame([(1, 10.0), (2, 30.0), (3, 50.0)], "id int, v double")
    b = spark.createDataFrame([(1, "x"), (2, "y")], "id int, tag string")
    c = spark.createDataFrame([(9,)], "id int")
    out = filter_dataframes(
        {
            "a": {"conditions": ["v > 15.0", "id < 3"]},
            "b": {"conditions": None},  # explicit None → pass-through
            # "c" absent from parameters → pass-through
        },
        a=a,
        b=b,
        c=c,
    )
    assert rows(out["a"], "id") == [(2,)]
    assert out["b"].count() == 2
    assert out["c"].count() == 1
    assert set(out) == {"a", "b", "c"}


def test_filter_by_max_value(spark):
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 2, 1)), (3, dt.date(2024, 2, 1))],
        "id int, d date",
    )
    assert rows(filter_by_max_value(df, "d"), "id") == [(2,), (3,)]


def test_make_join_left_wins_and_rename(spark):
    left = spark.createDataFrame(
        [(1, "L1", 10), (2, "L2", 20), (3, "L3", 30)], "k int, shared string, lv int"
    )
    right = spark.createDataFrame(
        [(1, "R1", 100), (2, "R2", 200)], "rk int, shared string, rv int"
    )
    out = make_join(left, right, left_keys=["k"], right_keys=["rk"], how="left")
    # duplicate non-key column 'shared' kept from the LEFT side
    assert rows(out, "k", "shared", "rv") == [
        (1, "L1", 100),
        (2, "L2", 200),
        (3, "L3", None),
    ]


def test_make_join_dropna(spark):
    left = spark.createDataFrame([(1,), (3,)], "k int")
    right = spark.createDataFrame([(1, "a")], "k int, v string")
    out = make_join(left, right, left_keys=["k"], how="left", drop_na=True)
    assert rows(out) == [(1, "a")]


def test_point_in_time_join_basic(spark):
    spine = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10)),
            (1, dt.datetime(2024, 1, 20)),
            (2, dt.datetime(2024, 1, 10)),
        ],
        "uid int, asof timestamp",
    )
    feats = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), 10.0),
            (1, dt.datetime(2024, 1, 10), 20.0),  # tie with first spine row → matched (>=)
            (1, dt.datetime(2024, 1, 15), 30.0),
            (3, dt.datetime(2024, 1, 1), 99.0),
        ],
        "uid int, ft timestamp, v double",
    )
    out = point_in_time_join(spine, feats, ["uid"], "asof", "ft", ["v"])
    assert rows(out, "uid", "asof", "v") == [
        (1, dt.datetime(2024, 1, 10), 20.0),
        (1, dt.datetime(2024, 1, 20), 30.0),
        (2, dt.datetime(2024, 1, 10), None),  # no history → NULL survives
    ]


def test_point_in_time_join_tolerance(spark):
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1))], "uid int, asof timestamp"
    )
    feats = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)], "uid int, ft timestamp, v double"
    )
    ok = point_in_time_join(
        spine, feats, ["uid"], "asof", "ft", ["v"], tolerance_expr="INTERVAL 90 DAYS"
    )
    assert rows(ok, "v") == [(1.0,)]
    stale = point_in_time_join(
        spine, feats, ["uid"], "asof", "ft", ["v"], tolerance_expr="INTERVAL 30 DAYS"
    )
    assert rows(stale, "v") == [(None,)]


def test_exclude_ids_anti_join(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    excl = spark.createDataFrame([(2, "x"), (2, "y")], "ek int, other string")
    out = exclude_ids_anti_join(df, excl, keys=["k"], exclude_keys=["ek"])
    assert rows(out) == [(1,), (3,)]


def test_month_spine(spark):
    ents = spark.createDataFrame(
        [(1, dt.date(2024, 2, 15)), (2, dt.date(2023, 12, 1))], "uid int, opened date"
    )
    out = month_spine(
        ents, ["uid"], "2024-01-01", "2024-03-31", open_date_col="opened"
    )
    got = rows(out, "uid", "release_dt")
    assert (1, dt.date(2024, 1, 1)) not in got  # before account open month
    assert (1, dt.date(2024, 2, 1)) in got
    assert (2, dt.date(2024, 1, 1)) in got
    assert len(got) == 2 + 3


def test_aggregation_operations_dispatch_and_alias(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "g string, v double"
    )
    out = aggregation_operations(
        df,
        ["g"],
        [
            {"column": "v", "operation": "sum", "alias": "v_total"},
            {"column": "v", "operation": "count"},
        ],
    )
    assert rows(out) == [("a", 4.0, 2), ("b", 5.0, 1)]
    with pytest.raises(ValueError, match="allowlist"):
        aggregation_operations(df, ["g"], [{"column": "v", "operation": "expr"}])


def test_aggregation_join_back(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 3.0)], "g string, v double")
    out = aggregation_operations(
        df, ["g"], [{"column": "v", "operation": "max", "alias": "v_max"}], join_back=True
    )
    assert rows(out, "g", "v", "v_max") == [("a", 1.0, 3.0), ("a", 3.0, 3.0)]


def test_window_operations_row_number(spark):
    df = spark.createDataFrame(
        [("a", 2), ("a", 1), ("b", 9)], "g string, t int"
    )
    out = window_operations(
        df,
        partition_by=["g"],
        order_by=["t"],
        operations=[{"operation": "row_number", "alias": "rn"}],
    )
    assert rows(out, "g", "t", "rn") == [("a", 1, 1), ("a", 2, 2), ("b", 9, 1)]


def test_conditional_pivot_indicators(spark):
    df = spark.createDataFrame(
        [(1, "credit card", 10.0), (1, "mortgage", 5.0), (2, "credit card", 7.0)],
        "uid int, product string, amt double",
    )
    out = conditional_pivot(
        df,
        group_by=["uid"],
        pivot_column="product",
        categories=["credit card", "mortgage"],
        value_column="amt",
        prefix="amt_",
        indicators=True,
    )
    assert rows(out, "uid", "amt_credit_card", "amt_mortgage", "ind_credit_card", "ind_mortgage") == [
        (1, 10.0, 5.0, True, True),
        (2, 7.0, 0.0, True, False),
    ]


def test_generate_lags_and_diff_roc(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 15.0)], "uid int, t int, v double"
    )
    lagged = generate_lags(df, ["v"], [1], ["uid"], ["t"])
    assert rows(lagged, "t", "v_lag_1m") == [(1, None), (2, 10.0), (3, 20.0)]
    ldr = lag_diff_roc(df, ["v"], [1], ["uid"], ["t"])
    assert rows(ldr, "t", "v_diff_1m", "v_roc_1m") == [
        (1, None, None),
        (2, 10.0, 1.0),
        (3, -5.0, -0.25),
    ]


def test_rolling_stats(spark):
    df = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 4.0), (1, 3, 6.0)], "uid int, t int, v double"
    )
    out = rolling_numeric_stats(df, ["v"], [3], ["uid"], ["t"])
    got = rows(out, "t", "v_ravg_3m", "v_rstd_3m")
    assert got[0] == (1, 2.0, None)  # stddev of 1 row is NULL
    assert got[2] == (3, 4.0, 2.0)
    cat = rolling_categorical_stats(df, ["v"], [2], ["uid"], ["t"])
    assert rows(cat, "t", "v_rmin_2m", "v_rmax_2m") == [
        (1, 2.0, 2.0),
        (2, 2.0, 4.0),
        (3, 4.0, 6.0),
    ]


def test_rsi_all_gains_is_100(spark):
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(1, 6)], "uid int, t int, v double"
    )
    out = relative_strength_index(df, "v", ["uid"], ["t"], periods=3)
    last = out.filter(F.col("t") == 5).select("v_rsi_3").first()[0]
    assert last == 100.0


def test_rsi_mixed(spark):
    # deltas: +2, -1 → avg_gain=2/3, avg_loss=1/3 over 3-row frame at t=3
    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 3.0), (1, 3, 2.0)], "uid int, t int, v double"
    )
    out = relative_strength_index(df, "v", ["uid"], ["t"], periods=3)
    val = out.filter(F.col("t") == 3).select("v_rsi_3").first()[0]
    assert val == pytest.approx(100 - 100 / (1 + 2.0), abs=1e-4)


def test_create_lags_ind(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (1, 3)], "uid int, t int")
    out = create_lags_ind(df, ["uid"], ["t"])
    assert rows(out, "t", "lag_ind") == [(1, "lag_2"), (2, "lag_1"), (3, "lag_0")]


def test_union_dataframes_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, a string")
    b = spark.createDataFrame([(2, "y")], "id int, b string")
    out = union_dataframes(a, b)
    assert set(out.columns) == {"id", "a", "b"}
    assert out.count() == 2


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.operators.joins import salted_join

    # skewed big side: one hot key
    big = spark.range(0, 10_000).select(
        (F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame([(i, f"dim_{i}") for i in range(50)], ["k", "name"])
    plain = big.join(small, on="k", how="inner").select("k", "payload", "name")
    salted = salted_join(big, small, keys=["k"], salt_buckets=8, salt_source="payload")
    assert salted.count() == plain.count()
    assert (
        salted.exceptAll(plain.select("k", "payload", "name")).count() == 0
        and plain.select("k", "payload", "name").exceptAll(salted).count() == 0
    )


def test_point_in_time_join_latest_row_wins_atomically(spark):
    # a newer feature row with a NULL value must win WHOLE-ROW (the
    # reference's row_number semantics) — per-column carry would stitch
    # v from the older row with w from the newer one
    spine = spark.createDataFrame([(1, "2024-01-10")], ["uid", "asof"]).select(
        "uid", F.col("asof").cast("timestamp").alias("asof")
    )
    feats = spark.createDataFrame(
        [(1, "2024-01-01", 100, "a"), (1, "2024-01-05", None, "b")],
        ["uid", "ft", "v", "w"],
    ).select("uid", F.col("ft").cast("timestamp").alias("ft"), "v", "w")
    out = point_in_time_join(spine, feats, ["uid"], "asof", "ft", ["v", "w"]).collect()
    assert out[0]["v"] is None and out[0]["w"] == "b"


def test_point_in_time_join_property_vs_naive(spark):
    """Randomized equivalence against a brute-force per-row reference:
    ties at spine_time (feature wins), NULL feature values (row-atomic),
    unmatched spine rows (NULL features), multiple keys."""
    import datetime as dt
    import random

    rng = random.Random(1234)
    base = dt.datetime(2024, 1, 1)
    for trial in range(8):
        nkeys = rng.randrange(1, 4)
        feats = []
        used = set()
        for _ in range(rng.randrange(1, 25)):
            k = rng.randrange(nkeys)
            t = rng.randrange(30)
            if (k, t) in used:  # unique (key, time) keeps expectation unambiguous
                continue
            used.add((k, t))
            v = None if rng.random() < 0.3 else rng.randrange(1000)
            feats.append((k, base + dt.timedelta(days=t), v))
        spines = [
            (rng.randrange(nkeys), base + dt.timedelta(days=rng.randrange(35)), i)
            for i in range(rng.randrange(1, 25))
        ]
        fdf = spark.createDataFrame(feats, ["k", "ft", "v"])
        sdf = spark.createDataFrame(spines, ["k", "asof", "sid"])
        got = {
            r["sid"]: r["v"]
            for r in point_in_time_join(sdf, fdf, ["k"], "asof", "ft", ["v"]).collect()
        }
        for k, asof, sid in spines:
            cands = [(ft, v) for fk, ft, v in feats if fk == k and ft <= asof]
            expect = max(cands)[1] if cands else None
            assert got[sid] == expect, (trial, sid, got[sid], expect)


def test_salted_join_rejects_outer(spark):
    from databricks_demo_feature_store_spark.operators.joins import salted_join

    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(df, df, keys=["k"], how="full_outer")


def test_interval_join_rejects_same_ts_name(spark):
    from databricks_demo_feature_store_spark.operators.joins import interval_join

    df = spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], ["k", "ts"])
    with pytest.raises(ValueError, match="distinct timestamp"):
        interval_join(df, df, keys=["k"], left_ts="ts", right_ts="ts")


def test_scan_fanout_noop_when_already_parallel(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.queries import _SCAN_FANOUT, load

    # many-split table (the 100 TB shape): fan-out must NOT kick in
    wide_dir = tmp_path / "sfwide"
    wide_dir.mkdir()
    spark.range(0, 200_000).select(
        F.col("id"), F.concat(F.lit("x"), F.col("id")).alias("text")
    ).repartition(64).write.parquet(str(wide_dir / "documents.parquet"))
    df = load(spark, str(wide_dir), "documents")
    assert _SCAN_FANOUT[(str(wide_dir), "documents")] is False
    # kept its native splits
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    # single-file single-row-group table: fan-out kicks in
    narrow_dir = tmp_path / "sfnarrow"
    narrow_dir.mkdir()
    spark.range(0, 50_000).select(
        F.col("id"), F.concat(F.lit("y"), F.col("id")).alias("text")
    ).coalesce(1).write.parquet(str(narrow_dir / "documents.parquet"))
    df2 = load(spark, str(narrow_dir), "documents")
    assert _SCAN_FANOUT[(str(narrow_dir), "documents")] is True
    assert df2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_rolling_quantile_and_ewma_edges(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.operators.windows import (
        rolling_ewma,
        rolling_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 90.0), ("b", 1, 5.0)],
        ["k", "t", "x"],
    )
    q = {
        (r["k"], r["t"]): r
        for r in rolling_quantiles(
            df, ["x"], [0.5], [3], ["k"], ["t"]
        ).collect()
    }
    # single-row frame: median = the value itself
    assert q[("a", 1)]["x_rq50_3m"] == 10.0 and q[("b", 1)]["x_rq50_3m"] == 5.0
    # 2-row frame: linear interpolation midpoint
    assert q[("a", 2)]["x_rq50_3m"] == 15.0
    # full 3-row frame: middle value (robust to the 90 spike)
    assert q[("a", 3)]["x_rq50_3m"] == 20.0

    e = {
        (r["k"], r["t"]): r
        for r in rolling_ewma(df, ["x"], 0.5, [3], ["k"], ["t"]).collect()
    }
    assert e[("a", 1)]["x_ewma3m"] == 10.0  # single row: itself
    # two rows, alpha=.5 adjusted: (0.5*10 + 1*20) / 1.5
    assert e[("a", 2)]["x_ewma3m"] == round((0.5 * 10 + 20) / 1.5, 4)
    # three rows: (.25*10 + .5*20 + 1*90) / 1.75
    assert e[("a", 3)]["x_ewma3m"] == round((0.25 * 10 + 0.5 * 20 + 90) / 1.75, 4)


def test_rolling_ewma_null_gap_keeps_row_offsets(spark):
    """A NULL mid-frame must keep its slot: neighbors keep their true
    row-offset decay (pandas ewm NaN semantics), instead of being
    compacted together; an all-NULL frame yields NULL."""
    from databricks_demo_feature_store_spark.operators.windows import rolling_ewma

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0), ("c", 1, None)],
        ["k", "t", "x"],
    )
    e = {
        (r["k"], r["t"]): r
        for r in rolling_ewma(df, ["x"], 0.5, [3], ["k"], ["t"]).collect()
    }
    # frame (10, NULL): weight .5 on the 10, the NULL adds no mass
    assert e[("a", 2)]["x_ewma3m"] == round((0.5 * 10) / 0.5, 4)
    # frame (10, NULL, 30): 10 decays TWO steps (.25), not one
    assert e[("a", 3)]["x_ewma3m"] == round((0.25 * 10 + 30) / 1.25, 4)
    assert e[("c", 1)]["x_ewma3m"] is None  # all-NULL frame


def test_unpivot_columns_roundtrip(spark):
    """melt emits one row per (id, value column), keeps NULLs, casts to a
    common type, and inverts a pivot exactly."""
    from databricks_demo_feature_store_spark.operators.aggregation import (
        unpivot_columns,
    )

    df = spark.createDataFrame(
        [("a", 1.0, None), ("b", 2.5, 3.5)], ["k", "x", "y"]
    )
    out = {
        (r["k"], r["variable"], r["value"])
        for r in unpivot_columns(df, ["k"], ["x", "y"]).collect()
    }
    assert out == {("a", "x", 1.0), ("a", "y", None),
                   ("b", "x", 2.5), ("b", "y", 3.5)}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one value column"):
        unpivot_columns(df, ["k"], [])


def test_unpivot_columns_mixed_types_use_least_common(spark):
    """int + double value columns must melt to double (native unpivot's
    least-common-type rule), never truncate doubles to the first
    column's int type."""
    from databricks_demo_feature_store_spark.operators.aggregation import (
        unpivot_columns,
    )

    df = spark.createDataFrame([("a", 2, 2.7)], "k string, i int, d double")
    out = unpivot_columns(df, ["k"], ["i", "d"])
    assert dict(out.dtypes)["value"] == "double"
    vals = {r["variable"]: r["value"] for r in out.collect()}
    assert vals == {"i": 2.0, "d": 2.7}  # 2.7 survives intact
    """Gap months appear with linear interpolation; edges never
    extrapolate; observed months pass through exactly."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.windows import (
        fill_monthly_gaps,
    )

    rows = [
        ("a", dt.date(2024, 1, 1), 10.0),
        ("a", dt.date(2024, 4, 1), 40.0),   # 2 gap months between
        ("a", dt.date(2024, 5, 1), None),   # observed-but-null row
        ("a", dt.date(2024, 6, 1), 60.0),
        ("b", dt.date(2024, 2, 1), 5.0),    # single month, no gaps
    ]
    df = spark.createDataFrame(rows, ["k", "m", "x"])
    out = {
        (r["k"], r["m"]): (r["x"], r["x_filled"])
        for r in fill_monthly_gaps(df, "k", "m", ["x"]).collect()
    }
    assert len(out) == 7  # a: Jan..Jun dense, b: Feb
    assert out[("a", dt.date(2024, 2, 1))] == (None, 20.0)
    assert out[("a", dt.date(2024, 3, 1))] == (None, 30.0)
    assert out[("a", dt.date(2024, 4, 1))] == (40.0, 40.0)
    assert out[("a", dt.date(2024, 5, 1))] == (None, 50.0)  # null row interpolates
    assert out[("b", dt.date(2024, 2, 1))] == (5.0, 5.0)


def test_funnel_steps_ordering(spark):
    """Steps only count when strictly ordered: a purchase BEFORE the
    first view doesn't complete the funnel; out-of-order users stall at
    the last ordered step."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # u2: purchase precedes view → stalls after click
        (2, "purchase", t(0)), (2, "view", t(1)), (2, "click", t(2)),
        # u3: never views → 0 steps even though click exists
        (3, "click", t(0)),
        # u4: repeated views, first one counts
        (4, "view", t(5)), (4, "view", t(1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {r["user_id"]: r for r in
           funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert out[1]["steps_completed"] == 3
    assert out[2]["steps_completed"] == 2 and out[2]["step3_ts"] is None
    assert out[3]["steps_completed"] == 0
    assert out[4]["step1_ts"] == t(1) and out[4]["steps_completed"] == 1


def test_funnel_steps_dup_collapse_and_cap(spark):
    """(ts, type) duplicates collapse in the aggregation buffer without
    changing the funnel (strict ordering means at most one of them can
    ever fill a slot); max_events_per_user caps the fold input to the
    earliest k events and flags the truncated user."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: bot-style replay — 6 identical views, then click, purchase
        *[(1, "view", t(0)) for _ in range(6)],
        (1, "click", t(1)),
        (1, "purchase", t(2)),
        # u2: many distinct-ts views then a late click
        *[(2, "view", t(m)) for m in range(10)],
        (2, "click", t(30)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    exact = {r["user_id"]: r for r in
             funnel_steps(df, ["view", "click", "purchase"]).collect()}
    assert "truncated" not in exact[1].asDict()
    assert exact[1]["steps_completed"] == 3 and exact[1]["step1_ts"] == t(0)
    assert exact[2]["steps_completed"] == 2

    capped = {r["user_id"]: r for r in
              funnel_steps(df, ["view", "click", "purchase"],
                           max_events_per_user=3).collect()}
    # u1's replays collapsed to one view before the cap bit: unaffected
    assert capped[1]["steps_completed"] == 3 and not capped[1]["truncated"]
    # u2 kept only its earliest 3 views → click (after the cap) missed
    assert capped[2]["steps_completed"] == 1 and capped[2]["truncated"]


def test_retention_cohorts_weekly(spark):
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        retention_cohorts,
    )

    # week of Mon 2024-01-01; u1 active weeks 0,1,2; u2 weeks 0,2; u3
    # joins in week 1 (separate cohort), active weeks 1,2
    rows = [
        (1, dt.datetime(2024, 1, 1)), (1, dt.datetime(2024, 1, 8)),
        (1, dt.datetime(2024, 1, 15)),
        (2, dt.datetime(2024, 1, 3)), (2, dt.datetime(2024, 1, 16)),
        (3, dt.datetime(2024, 1, 10)), (3, dt.datetime(2024, 1, 17)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort_period"], r["period_offset"]): (r["n_active"], r["retained_fraction"])
        for r in retention_cohorts(df, grain="week").collect()
    }
    w0, w1 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    assert out[(w0, 0)] == (2, 1.0)
    assert out[(w0, 1)] == (1, 0.5)   # only u1 active in week 1
    assert out[(w0, 2)] == (2, 1.0)   # both back in week 2
    assert out[(w1, 0)] == (1, 1.0) and out[(w1, 1)] == (1, 1.0)


def test_last_touch_attribution(spark):
    """Purchases credit the last strictly-preceding non-purchase type;
    no prior touch → 'direct'; same-ts ties broken by event_id."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        last_touch_attribution,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: view -> click -> purchase  => click credited
        (1, t(1), 1, "view", 0.0),
        (2, t(2), 1, "click", 0.0),
        (3, t(3), 1, "purchase", 10.0),
        # u2: purchase with no prior touch => direct
        (4, t(1), 2, "purchase", 5.0),
        # u2: then view -> purchase => view
        (5, t(2), 2, "view", 0.0),
        (6, t(3), 2, "purchase", 7.0),
        # u3: same-ts view(id=7) and purchase(id=8): view precedes by id
        (7, t(1), 3, "view", 0.0),
        (8, t(1), 3, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r["channel"]: (r["n_conversions"], r["total_value"])
        for r in last_touch_attribution(df, "purchase").collect()
    }
    assert out == {
        "click": (1, 10.0),
        "direct": (1, 5.0),
        "view": (2, 8.0),
    }


def test_last_touch_attribution_null_type_is_a_touch(spark):
    """NULL-typed events are real touches credited to '__null__' (the
    shared event-sequence convention) — NOT silently skipped into
    'direct'."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        last_touch_attribution,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1: only prior touch has a NULL type
        (1, t(1), 1, None, 0.0),
        (2, t(2), 1, "purchase", 3.0),
        # u2: NULL touch then a typed touch — latest wins
        (3, t(1), 2, None, 0.0),
        (4, t(2), 2, "view", 0.0),
        (5, t(3), 2, "purchase", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r["channel"]: (r["n_conversions"], r["total_value"])
        for r in last_touch_attribution(df, "purchase").collect()
    }
    assert out == {"__null__": (1, 3.0), "view": (1, 4.0)}


def test_event_transitions_matrix(spark):
    """Transition counts and row-normalized probabilities, including
    __start__ entry transitions."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        event_transitions,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, t(1), 1, "view"), (2, t(2), 1, "click"), (3, t(3), 1, "view"),
        (4, t(1), 2, "view"), (5, t(2), 2, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["probability"])
        for r in event_transitions(df).collect()
    }
    assert out[("__start__", "view")] == (2, 1.0)
    assert out[("view", "click")] == (2, 1.0)
    assert out[("click", "view")] == (1, 1.0)
    assert len(out) == 3


def test_time_decay_agg_weights(spark):
    """Half-life weighting: an event one half-life old counts 0.5; a
    same-instant event counts 1.0; future events are excluded."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import time_decay_agg

    rows = [
        (1, dt.datetime(2024, 1, 8), 1, 10.0),   # exactly at reference
        (2, dt.datetime(2024, 1, 1), 1, 10.0),   # 7 days = 1 half-life
        (3, dt.datetime(2024, 1, 9), 1, 99.0),   # future: excluded
        (4, dt.datetime(2024, 1, 1), 2, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {r["user_id"]: r for r in
           time_decay_agg(df, "2024-01-08", half_life_days=7.0).collect()}
    assert abs(out[1]["decayed_count"] - 1.5) < 1e-6
    assert abs(out[1]["decayed_value"] - 15.0) < 1e-6
    assert abs(out[2]["decayed_count"] - 0.5) < 1e-6


def test_key_skew_profile_summary(spark):
    """Hot key surfaces with rank 1 and the right share; balance < 1
    for a skewed key and NULLs profile as '__null__'."""
    from databricks_demo_feature_store_spark.operators.diagnostics import (
        key_skew_profile,
    )

    rows = [("hot",)] * 80 + [("a",)] * 10 + [("b",)] * 9 + [(None,)] * 1
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_profile(df, "k", top_n=3).collect()
    assert len(out) == 3
    byrank = {r["rank"]: r for r in out}
    assert byrank[1]["key"] == "hot" and byrank[1]["n_rows"] == 80
    assert abs(byrank[1]["share"] - 0.8) < 1e-9
    assert byrank[1]["total_rows"] == 100 and byrank[1]["distinct_keys"] == 4
    assert byrank[1]["max_share"] == byrank[1]["share"]
    assert 0 < byrank[1]["balance"] < 0.8  # far from uniform


def test_join_size_estimate_exact(spark):
    """Estimate equals the actually-run join's count, including the
    dominant key's contribution; NULL keys never match."""
    from databricks_demo_feature_store_spark.operators.diagnostics import (
        join_size_estimate,
    )

    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [(None,)], ["k"]
    )
    right = spark.createDataFrame([("a",)] * 4 + [("b",)] * 1 + [(None,)], ["k"])
    est = join_size_estimate(left, right, "k").collect()[0]
    real = left.join(right, "k").count()
    assert est["join_rows"] == real == 3 * 4 + 2 * 1
    assert est["matched_keys"] == 2
    assert est["top_key"] == "a" and est["top_key_rows"] == 12
    assert abs(est["top_key_share"] - 12 / 14) < 1e-6
    assert est["left_rows"] == 6 and est["right_rows"] == 6


def test_table_diff_statuses(spark):
    from databricks_demo_feature_store_spark.operators.history import table_diff

    before = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None)], "k int, s string, v double"
    )
    after = spark.createDataFrame(
        [(2, "B", 2.0), (3, "c", None), (4, "d", 4.0)], "k int, s string, v double"
    )
    out = {r["k"]: r["status"] for r in table_diff(before, after, ["k"]).collect()}
    assert out == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_build_scd2_runs_and_bounds(spark):
    """Runs of identical state collapse; a reverted state opens a NEW
    interval (A,A,B,A → three intervals); NULL states compare
    null-safe."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.history import build_scd2

    d = lambda day: dt.date(2024, 1, day)
    rows = [
        (1, d(1), "A"), (1, d(2), "A"), (1, d(3), "B"), (1, d(4), "A"),
        (2, d(1), None), (2, d(2), None), (2, d(3), "X"),
    ]
    df = spark.createDataFrame(rows, "k int, day date, state string")
    out = sorted(
        (r["k"], r["effective_from"], r["effective_to"], r["state"], r["is_current"])
        for r in build_scd2(df, ["k"], ["state"], "day").collect()
    )
    assert out == [
        (1, d(1), d(3), "A", False),
        (1, d(3), d(4), "B", False),
        (1, d(4), None, "A", True),
        (2, d(1), d(3), None, False),
        (2, d(3), None, "X", True),
    ]


def test_event_transitions_null_type_is_category(spark):
    """A NULL-typed predecessor is a real predecessor ('__null__'), not
    a session start."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        event_transitions,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(1), 1, None), (2, t(2), 1, "purchase")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {(r["from_type"], r["to_type"]) for r in event_transitions(df).collect()}
    assert ("__start__", "__null__") in out
    assert ("__null__", "purchase") in out
    assert ("__start__", "purchase") not in out


def test_join_size_estimate_numeric_coercion(spark):
    """DOUBLE 1.0 on one side matches BIGINT 1 on the other — the same
    coercion the real join applies; a stringified compare would miss
    it."""
    from databricks_demo_feature_store_spark.operators.diagnostics import (
        join_size_estimate,
    )

    left = spark.createDataFrame([(1.0,), (1.0,), (2.5,)], "k double")
    right = spark.createDataFrame([(1,), (2,)], "k bigint")
    est = join_size_estimate(left, right, "k").collect()[0]
    real = left.join(right.withColumnRenamed("k", "k2"),
                     F.col("k") == F.col("k2")).count()
    assert est["join_rows"] == real == 2
    assert est["left_rows"] == 3 and est["right_rows"] == 2


def test_rank_normalize_per_group(spark):
    from databricks_demo_feature_store_spark.operators.windows import (
        rank_normalize,
    )

    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 5.0), ("b", None)],
        ["g", "v"],
    )
    out = {(r["g"], r["v"]): r["v_pctrank"]
           for r in rank_normalize(df, ["v"], ["g"]).collect()}
    assert out[("a", 10.0)] == 0.0 and out[("a", 30.0)] == 1.0
    assert out[("a", 20.0)] == 0.5
    assert out[("b", 5.0)] == 0.0  # singleton group
    assert out[("b", None)] is None


def test_pagerank_matches_exact_replay(spark):
    """Ranks match a pure-Python power iteration replaying the identical
    per-term HALF_UP 1e-12 rounding; mass stays ~1; a dangling node's
    mass redistributes instead of leaking; duplicate edges collapse."""
    from decimal import ROUND_HALF_UP, Decimal

    from databricks_demo_feature_store_spark.operators.graph import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("c", "d"), ("a", "b")]  # duplicate a->b; d is dangling
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}

    def r12(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP))

    uniq = sorted(set(edges))
    nodes = sorted({s for s, _ in uniq} | {d for _, d in uniq})
    deg = {}
    for s, _ in uniq:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    rank = {v: r12(1.0 / n) for v in nodes}
    d = 0.85
    for _ in range(5):
        inm = {v: 0.0 for v in nodes}
        for s, t in uniq:
            inm[t] += r12(rank[s] / deg[s])  # decimal sum of rounded terms
        dang = sum(rank[v] for v in nodes if v not in deg)
        rank = {
            v: r12((1.0 - d) / n + d * (inm[v] + dang / n)) for v in nodes
        }
    for v in nodes:
        assert abs(out[v] - round(rank[v], 6)) < 1e-9, (v, out[v], rank[v])
    assert abs(sum(out.values()) - 1.0) < 1e-6  # mass conserved
    assert out["c"] == max(out.values())  # two in-links + feeds the hub


def test_zorder_key_bit_interleave(spark):
    """Hand-checked Morton codes; quadrant ordering; mask of high bits;
    cluster_by_zorder preserves rows and drops the key column."""
    from databricks_demo_feature_store_spark.operators.graph import pagerank  # noqa: F401
    from databricks_demo_feature_store_spark.operators.layout import (
        cluster_by_zorder,
        zorder_key,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(2, 1), (0, 0), (1, 0), (0, 1), (3, 3), (5, 1)], ["x", "y"]
    )
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=2).alias("z")
        ).collect()
    }
    assert out[(0, 0)] == 0
    assert out[(1, 0)] == 1   # x bit0 -> out bit0
    assert out[(0, 1)] == 2   # y bit0 -> out bit1
    assert out[(2, 1)] == 6   # x=10, y=01 -> 0110
    assert out[(3, 3)] == 15
    assert out[(5, 1)] == out[(1, 1)] if (1, 1) in out else True
    # masking: 5 = 0b101 masked to 2 bits == 1
    assert out[(5, 1)] == 3  # x=01 (masked), y=01 -> 0b11

    # quadrant property: all 2x2-grid points of the low quadrant sort
    # before every point of the high quadrant
    pts = [(x, y) for x in range(4) for y in range(4)]
    z = {
        (r["x"], r["y"]): r["z"]
        for r in spark.createDataFrame(pts, ["x", "y"])
        .select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=2).alias("z"))
        .collect()
    }
    lo = max(z[(x, y)] for x in range(2) for y in range(2))
    hi = min(z[(x, y)] for x in range(2, 4) for y in range(2, 4))
    assert lo < hi

    clustered = cluster_by_zorder(df, ["x", "y"], bits=2, num_partitions=2)
    assert clustered.columns == ["x", "y"]
    assert sorted((r["x"], r["y"]) for r in clustered.collect()) == sorted(
        [(2, 1), (0, 0), (1, 0), (0, 1), (3, 3), (5, 1)]
    )

    import pytest as _pytest
    with _pytest.raises(ValueError, match="63-bit"):
        zorder_key([F.col("x"), F.col("y")], bits=32)


def test_frequent_pairs_support_confidence_lift(spark):
    """Hand-computed 4-basket example; duplicate line items collapse;
    items below min support never pair; basket cap drops the bot cart
    and its baskets leave the denominator."""
    from databricks_demo_feature_store_spark.operators.association import (
        frequent_pairs,
    )

    rows = [
        (1, "milk"), (1, "bread"), (1, "bread"),   # dup line item
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "beer"),
        (4, "bread"), (4, "caviar"),               # caviar support 1
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["item_a"], r["item_b"]): r
        for r in frequent_pairs(df, "basket", "item", min_support_count=2).collect()
    }
    pair = out[("bread", "milk")]
    assert pair["n_pair"] == 2 and pair["n_a"] == 3 and pair["n_b"] == 3
    assert abs(pair["support"] - 0.5) < 1e-9            # 2/4 baskets
    assert abs(pair["confidence"] - 2 / 3) < 1e-6
    assert abs(pair["lift"] - (2 * 4) / (3 * 3)) < 1e-6  # < 1: repel
    assert ("beer", "milk") not in out                   # beer support 1
    assert all("caviar" not in k for k in out)

    capped = frequent_pairs(
        df.union(spark.createDataFrame([(9, f"i{k}") for k in range(10)],
                                       ["basket", "item"])),
        "basket", "item", min_support_count=2, max_items_per_basket=5,
    ).collect()
    # the 10-item bot basket is dropped entirely; result identical
    assert {(r["item_a"], r["item_b"]) for r in capped} == {("bread", "milk")}
    assert abs(capped[0]["support"] - 0.5) < 1e-9        # denominator still 4


def test_triangle_count_known_graphs(spark):
    """K4 -> every node in 3 triangles; a square has none; duplicate and
    reversed edges collapse; self-loops drop."""
    from databricks_demo_feature_store_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    noisy = k4 + [("b", "a"), ("c", "c"), ("a", "b")]
    out = {r["node"]: r["n_triangles"]
           for r in triangle_count(spark.createDataFrame(noisy, ["src", "dst"])).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}

    square = [("1", "2"), ("2", "3"), ("3", "4"), ("4", "1")]
    out2 = {r["node"]: r["n_triangles"]
            for r in triangle_count(spark.createDataFrame(square, ["src", "dst"])).collect()}
    assert set(out2.values()) == {0} and len(out2) == 4


def test_mmr_rerank_diversity_greedy(spark):
    """Hand-replayed greedy: the near-duplicate of pick 1 is deferred
    behind a less-relevant but diverse candidate."""
    from databricks_demo_feature_store_spark.textops.similarity import mmr_rerank

    cands = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, 0.85), ("q", 3, 0.5)],
        ["query_id", "vec_id", "cosine"],
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = {r["mmr_rank"]: r for r in
           mmr_rerank(cands, vecs, k=3, lam=0.7).collect()}
    assert [out[i]["vec_id"] for i in (1, 2, 3)] == [1, 3, 2]
    assert abs(out[1]["mmr_score"] - 0.7 * 0.9) < 1e-9      # no penalty yet
    assert abs(out[2]["mmr_score"] - 0.7 * 0.5) < 1e-9      # orthogonal
    assert abs(out[3]["mmr_score"] - (0.7 * 0.85 - 0.3 * 1.0)) < 1e-6
    # k beyond the candidate count: every candidate ranked, nothing extra
    assert mmr_rerank(cands, vecs, k=10, lam=0.7).count() == 3


def test_name_linkage_blocking_and_scoring(spark):
    """Typos within the block and distance budget match; different
    blocks or big edits don't; duplicates collapse to distinct names
    with entity counts."""
    from databricks_demo_feature_store_spark.operators.linkage import name_linkage

    rows = [
        (1, "Acme Corp"), (2, "acme  corp"), (3, "Acme Korp"),
        (4, "Zenith Ltd"), (5, "acme corporation"), (6, "Bcme Corp"),
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = {(r["name_a"], r["name_b"]): r
           for r in name_linkage(df, "id", "name", prefix_len=3, max_distance=2).collect()}
    pair = out[("acme corp", "acme korp")]
    assert pair["distance"] == 1
    assert pair["n_a"] == 2 and pair["n_b"] == 1   # two ids share "acme corp"
    assert abs(pair["similarity"] - (1 - 1 / 9)) < 1e-6
    # "acme corporation": distance 6 > budget; "bcme corp": other block
    assert len(out) == 1


def test_clustering_coefficient_known_graphs(spark):
    """K4 -> coefficient 1.0 everywhere; a triangle with one pendant
    vertex -> the hub drops to 1/3, the pendant is NULL (degree 1)."""
    from databricks_demo_feature_store_spark.operators.graph import (
        clustering_coefficient,
    )

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    out = {r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
           for r in clustering_coefficient(
               spark.createDataFrame(k4, ["src", "dst"])).collect()}
    assert out == {n: (3, 3, 1.0) for n in "abcd"}

    # triangle a-b-c plus pendant d hanging off a
    g = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")]
    out2 = {r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
            for r in clustering_coefficient(
                spark.createDataFrame(g, ["src", "dst"])).collect()}
    assert out2["a"] == (3, 1, round(2.0 * 1 / (3 * 2), 6))
    assert out2["b"] == (2, 1, 1.0) and out2["c"] == (2, 1, 1.0)
    assert out2["d"] == (1, 0, None)  # undefined, not 0.0


def test_grouping_sets_agg_levels_and_escaping(spark):
    """Exactly the requested sets (no cross level), grouping_id labels,
    count(*), and a backtick-bearing column name surviving the SQL path."""
    from databricks_demo_feature_store_spark.operators.aggregation import (
        grouping_sets_agg,
    )

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], ["t", "d", "v"]
    ).withColumnRenamed("v", "va`l")
    out = grouping_sets_agg(
        df,
        [["t"], ["d"], []],
        [
            {"column": "*", "operation": "count", "alias": "n"},
            {"column": "va`l", "operation": "sum", "alias": "s"},
        ],
    ).collect()
    got = {(r["t"], r["d"], r["grouping_level"]): (r["n"], r["s"]) for r in out}
    assert got == {
        ("a", None, 1): (2, 3), ("b", None, 1): (1, 4),      # per-t
        (None, "x", 2): (2, 5), (None, "y", 2): (1, 2),      # per-d
        (None, None, 3): (3, 7),                              # grand total
    }
    # the (t, d) cross level must NOT appear
    assert not any(t is not None and d is not None for t, d, _ in got)


def test_grouping_sets_agg_rejects_unknowns(spark):
    from databricks_demo_feature_store_spark.operators.aggregation import (
        grouping_sets_agg,
    )

    df = spark.createDataFrame([("a", 1)], ["t", "v"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not in DataFrame"):
        grouping_sets_agg(df, [["nope"]], [{"column": "v", "operation": "sum"}])
    with _pytest.raises(ValueError, match="allowlist"):
        grouping_sets_agg(df, [["t"]], [{"column": "v", "operation": "java_method"}])
    with _pytest.raises(ValueError, match="only valid"):
        grouping_sets_agg(df, [["t"]], [{"column": "*", "operation": "sum"}])
    # FIRST/LAST are nondeterministic without ORDER BY — excluded from the
    # engine-exact allowlist (any_value is the explicit don't-care spelling)
    for op in ("first", "last"):
        with _pytest.raises(ValueError, match="allowlist"):
            grouping_sets_agg(df, [["t"]], [{"column": "v", "operation": op}])


def test_golden_records_survivorship(spark):
    """Fuzzy-linked entities collapse into one golden record per
    cluster: exact-name duplicates and <=3-edit variants merge
    (transitively), survivorship picks max/min/longest per field, the
    canonical name is the longest member name, and NULL-name entities
    stay singleton clusters."""
    from databricks_demo_feature_store_spark.operators.linkage import golden_records

    rows = [
        # cluster 1: exact dup + fuzzy chain (acme corp ~ acme corpo ~ acme corpor)
        (1, "Acme Corp", "b2", 10, 5.0),
        (2, "acme corp", "b1", 20, 7.0),
        (3, "Acme Corpo", "b3", 15, 6.0),
        (4, "acme corpor", "b1", 5, 9.0),
        # cluster 2: unrelated singleton name
        (5, "zenith industries", "b9", 50, 1.0),
        # NULL name → singleton
        (6, None, "b4", 7, 2.0),
    ]
    df = spark.createDataFrame(rows, "pid long, name string, brand string, size int, price double")
    out = {r["cluster_id"]: r for r in golden_records(
        df, "pid", "name",
        {"brand": "max", "size": "min", "price": "max"},
        prefix_len=3, max_distance=3,
    ).collect()}
    assert set(out) == {1, 5, 6}
    g = out[1]
    assert g["n_members"] == 4
    assert g["canonical_name"] == "acme corpor"  # longest normalized name
    assert g["brand"] == "b3" and g["size"] == 5 and g["price"] == 9.0
    assert out[5]["n_members"] == 1 and out[5]["canonical_name"] == "zenith industries"
    assert out[6]["n_members"] == 1 and out[6]["canonical_name"] is None
    assert out[6]["brand"] == "b4"

    with __import__("pytest").raises(ValueError, match="survivorship"):
        golden_records(df, "pid", "name", {"brand": "mode"})


def test_name_linkage_rev_prefix_recall(spark):
    """A first-character typo shares NO name prefix — the single-pass
    block misses it; the reversed-prefix second pass recovers it."""
    from databricks_demo_feature_store_spark.operators.linkage import name_linkage

    df = spark.createDataFrame(
        [(1, "karlsson industries"), (2, "carlsson industries"),
         (3, "zzz unrelated co")],
        "pid long, name string",
    )
    single = name_linkage(df, "pid", "name", prefix_len=3, max_distance=2)
    assert single.count() == 0  # 'kar' vs 'car' blocks never meet
    both = name_linkage(
        df, "pid", "name", prefix_len=3, max_distance=2,
        blocks=("prefix", "rev_prefix"),
    ).collect()
    assert {(r["name_a"], r["name_b"], r["distance"]) for r in both} == {
        ("carlsson industries", "karlsson industries", 1)
    }
    import pytest as _p
    with _p.raises(ValueError, match="blocks"):
        name_linkage(df, "pid", "name", blocks=("soundex",))


def test_transitive_closure_depths_and_cycles(spark):
    """Minimum hop depths on a diamond DAG; a cycle terminates instead
    of looping (self-pairs dropped); the depth cap raises loudly."""
    from databricks_demo_feature_store_spark.operators.graph import (
        transitive_closure,
    )

    # diamond with a shortcut: a->b->d, a->c->d, a->d direct
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("a", "d")],
        "src string, dst string",
    )
    got = {(r["src"], r["dst"]): r["depth"] for r in
           transitive_closure(edges).collect()}
    assert got[("a", "d")] == 1  # direct edge wins over 2-hop paths
    assert got[("a", "b")] == 1 and got[("b", "d")] == 1
    assert len(got) == 5

    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], "src string, dst string"
    )
    gc = {(r["src"], r["dst"]): r["depth"] for r in
          transitive_closure(cyc).collect()}
    # every ordered pair reachable, self-pairs dropped
    assert set(gc) == {("x", "y"), ("y", "z"), ("z", "x"),
                       ("x", "z"), ("y", "x"), ("z", "y")}
    assert gc[("x", "z")] == 2

    import pytest as _pt
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src int, dst int"
    )
    with _pt.raises(RuntimeError, match="max_depth"):
        transitive_closure(chain, max_depth=2)


def test_position_attribution_weights(spark):
    """Hand-computed U-shape: 40/20/40 for a 3-touch run, 1.0 for a
    single touch, 50/50 for a pair; touches after the last conversion
    earn nothing; NULL-type touches keep the __null__ channel."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        position_attribution,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    rows = [
        # user 1: view, click, view -> purchase(10); then a dangling view
        (1, 1, "view", t(1), 0.0),
        (2, 1, "click", t(2), 0.0),
        (3, 1, "view", t(3), 0.0),
        (4, 1, "purchase", t(4), 10.0),
        (5, 1, "view", t(5), 0.0),
        # user 2: one NULL-type touch -> purchase(8)
        (6, 2, None, t(1), 0.0),
        (7, 2, "purchase", t(2), 8.0),
        # user 3: two clicks -> purchase(6)
        (8, 3, "click", t(1), 0.0),
        (9, 3, "click", t(2), 0.0),
        (10, 3, "purchase", t(3), 6.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = {r["channel"]: (r["n_touches"], r["credited_value"]) for r in
           position_attribution(ev, "purchase").collect()}
    # user1: view 4.0 (first) + 4.0? no — first=view(1) 0.4*10, middle=click 0.2*10,
    # last=view(3) 0.4*10 → view channel = 4+4=8, click = 2
    # user3: two clicks 3+3=6 → click total 2+6=8
    assert got["view"] == (2, 8.0)
    assert got["click"] == (3, 8.0)
    assert got["__null__"] == (1, 8.0)
    assert set(got) == {"view", "click", "__null__"}


def test_conversion_lag_stats(spark):
    """Lag measured from the FIRST touch of each run; channel taken from
    that first touch; conversions without touches excluded."""
    import datetime as dt

    from databricks_demo_feature_store_spark.operators.events import (
        conversion_lag_stats,
    )

    def t(m, s=0):
        return dt.datetime(2024, 1, 1, 0, m, s)

    rows = [
        (1, 1, "view", t(0), 0.0),       # first touch of run 1
        (2, 1, "click", t(5), 0.0),
        (3, 1, "purchase", t(10), 1.0),  # lag = 600s, channel 'view'
        (4, 1, "click", t(20), 0.0),     # first touch of run 2
        (5, 1, "purchase", t(25), 1.0),  # lag = 300s, channel 'click'
        (6, 2, "purchase", t(1), 1.0),   # no touches -> excluded
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = {r["channel"]: r for r in conversion_lag_stats(ev, "purchase").collect()}
    assert set(got) == {"view", "click"}
    assert got["view"]["n_conversions"] == 1
    assert got["view"]["median_lag_sec"] == 600.0
    assert got["click"]["median_lag_sec"] == 300.0
    assert got["view"]["p90_lag_sec"] == 600.0


# ---------------------------------------------------------------------------
# asof_join (direction-aware) / scd2_dim_join / apply_changes
# ---------------------------------------------------------------------------


def _asof_fixture(spark):
    spine = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10, 12, 0)),   # between features
            (1, dt.datetime(2024, 1, 1, 0, 0)),     # before all features
            (1, dt.datetime(2024, 1, 20, 0, 0)),    # after all features
            (2, dt.datetime(2024, 1, 5, 0, 0)),     # exact tie with feature
            (3, dt.datetime(2024, 1, 5, 0, 0)),     # no features at all
        ],
        "k int, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10, 11, 0), 10.0),  # 1h before first spine
            (1, dt.datetime(2024, 1, 10, 14, 0), 20.0),  # 2h after  first spine
            (2, dt.datetime(2024, 1, 5, 0, 0), 99.0),    # exactly at spine ts
        ],
        "k int, ft timestamp, v double",
    )
    return spine, feats


def test_asof_join_directions(spark):
    from databricks_demo_feature_store_spark.operators.joins import asof_join

    spine, feats = _asof_fixture(spark)

    def got(direction, tol=None):
        out = asof_join(
            spine, feats, keys=["k"], spine_time="ts", feature_time="ft",
            direction=direction, tolerance_expr=tol, matched_time_col="mft",
        )
        return {(r.k, r.ts): (r.v, r.mft) for r in out.collect()}

    back = got("backward")
    # latest at-or-before; tie matches; leading spine rows unmatched
    assert back[(1, dt.datetime(2024, 1, 10, 12, 0))][0] == 10.0
    assert back[(1, dt.datetime(2024, 1, 1, 0, 0))] == (None, None)
    assert back[(1, dt.datetime(2024, 1, 20, 0, 0))][0] == 20.0
    assert back[(2, dt.datetime(2024, 1, 5, 0, 0))][0] == 99.0
    assert back[(3, dt.datetime(2024, 1, 5, 0, 0))] == (None, None)

    fwd = got("forward")
    # earliest at-or-after; trailing spine rows unmatched; tie matches
    assert fwd[(1, dt.datetime(2024, 1, 10, 12, 0))][0] == 20.0
    assert fwd[(1, dt.datetime(2024, 1, 1, 0, 0))][0] == 10.0
    assert fwd[(1, dt.datetime(2024, 1, 20, 0, 0))] == (None, None)
    assert fwd[(2, dt.datetime(2024, 1, 5, 0, 0))][0] == 99.0

    near = got("nearest")
    # 1h-before beats 2h-after; one-sided rows take the available side
    assert near[(1, dt.datetime(2024, 1, 10, 12, 0))][0] == 10.0
    assert near[(1, dt.datetime(2024, 1, 1, 0, 0))][0] == 10.0
    assert near[(1, dt.datetime(2024, 1, 20, 0, 0))][0] == 20.0
    assert near[(2, dt.datetime(2024, 1, 5, 0, 0))][0] == 99.0
    assert near[(3, dt.datetime(2024, 1, 5, 0, 0))] == (None, None)

    # tolerance: a 90-minute bound kills the backward (1h is in, so keep)
    # vs a 30-minute bound killing BOTH sides of the middle row
    near_tight = got("nearest", tol="INTERVAL 30 MINUTES")
    assert near_tight[(1, dt.datetime(2024, 1, 10, 12, 0))] == (None, None)
    # out-of-tolerance backward must not shadow an in-tolerance forward:
    # 10:45 spine -> backward 11:00? (future) no; use 13:45: back=11:00
    # (2h45 out), fwd=14:00 (15min in) under 1h tolerance
    probe = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10, 13, 45))], "k int, ts timestamp"
    )
    out = asof_join(
        probe, feats, keys=["k"], spine_time="ts", feature_time="ft",
        direction="nearest", tolerance_expr="INTERVAL 1 HOUR",
    )
    assert out.collect()[0].v == 20.0

    # exact equidistance resolves backward (deterministic)
    equi = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10, 12, 30))], "k int, ts timestamp"
    )
    out = asof_join(
        equi, feats, keys=["k"], spine_time="ts", feature_time="ft",
        direction="nearest",
    )
    assert out.collect()[0].v == 10.0

    with pytest.raises(ValueError, match="direction"):
        asof_join(spine, feats, keys=["k"], spine_time="ts",
                  feature_time="ft", direction="sideways")


def test_scd2_dim_join_versions_and_gaps(spark):
    from databricks_demo_feature_store_spark.operators.joins import scd2_dim_join

    dim = spark.createDataFrame(
        [
            (1, "bronze", dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)),
            (1, "silver", dt.datetime(2024, 2, 1), dt.datetime(2024, 3, 1)),
            (1, "gold", dt.datetime(2024, 4, 1), None),  # gap in March
        ],
        "k int, tier string, effective_from timestamp, effective_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, dt.datetime(2024, 1, 15)),  # bronze
            (101, 1, dt.datetime(2024, 2, 1)),   # boundary: silver starts
            (102, 1, dt.datetime(2024, 3, 15)),  # gap -> NULL
            (103, 1, dt.datetime(2024, 5, 1)),   # open current version
            (104, 1, dt.datetime(2023, 12, 1)),  # before history -> NULL
            (105, 2, dt.datetime(2024, 1, 1)),   # unknown key -> NULL
        ],
        "fid int, k int, ts timestamp",
    )
    out = scd2_dim_join(facts, dim, keys=["k"], fact_time="ts")
    got = {r.fid: r.tier for r in out.collect()}
    assert got == {
        100: "bronze", 101: "silver", 102: None,
        103: "gold", 104: None, 105: None,
    }
    assert out.count() == facts.count()  # left semantics: no fact lost


def test_apply_changes_semantics_and_dup_guard(spark):
    from databricks_demo_feature_store_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k int, name string, val double",
    )
    changes = spark.createDataFrame(
        [
            (1, 10, "U", "a1", 1.5),   # superseded by seq 20
            (1, 20, "U", "a2", 1.9),   # final for k=1
            (2, 5, "D", None, None),   # delete k=2
            (4, 7, "U", "d", 4.0),     # insert new key
            (5, 1, "U", "e", 5.0),     # insert then delete: final is D
            (5, 2, "D", None, None),
        ],
        "k int, seq int, op string, name string, val double",
    )
    out = apply_changes(snap, changes, keys=["k"], sequence_col="seq")
    got = {r.k: (r.name, r.val) for r in out.collect()}
    assert got == {1: ("a2", 1.9), 3: ("c", 3.0), 4: ("d", 4.0)}

    dup = spark.createDataFrame(
        [(1, 10, "U", "x", 0.0), (1, 10, "U", "y", 0.0)],
        "k int, seq int, op string, name string, val double",
    )
    with pytest.raises(Exception, match="duplicate"):
        apply_changes(snap, dup, keys=["k"], sequence_col="seq").collect()

    with pytest.raises(ValueError, match="missing payload"):
        apply_changes(snap, changes.drop("val"), keys=["k"], sequence_col="seq")


def test_trailing_window_features_boundaries(spark):
    """Half-open [t-w, t): an event AT the label instant is excluded, an
    event exactly at t-w is included; empty windows give 0 not NULL;
    duplicate spine rows keep their multiplicity."""
    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_window_features,
    )

    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 10.0),   # exactly at t-w for t=Jan31, w=30d
            (1, dt.datetime(2024, 1, 15), 5.0),
            (1, dt.datetime(2024, 1, 31), 100.0),  # exactly at a label: excluded
            (2, dt.datetime(2023, 1, 1), 7.0),     # far outside any window
        ],
        "k int, et timestamp, v double",
    )
    spine = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 31), "a"),
            (1, dt.datetime(2024, 1, 31), "b"),  # duplicate instant, kept
            (2, dt.datetime(2024, 1, 31), "c"),  # empty window
            (3, dt.datetime(2024, 1, 31), "d"),  # unknown key
        ],
        "k int, ts timestamp, tag string",
    )
    out = trailing_window_features(
        spine, events, keys=["k"], spine_time="ts", event_time="et",
        window_expr="INTERVAL 30 DAYS",
        sum_cols=[("spend", "v")], count_col="n",
    )
    rows = {(r.k, r.tag): (r.spend, r.n) for r in out.collect()}
    assert out.count() == 4
    assert rows[(1, "a")] == (15.0, 2)   # 10 (at t-w, in) + 5; 100 (at t) out
    assert rows[(1, "b")] == (15.0, 2)
    assert rows[(2, "c")] == (0.0, 0)
    assert rows[(3, "d")] == (0.0, 0)


def test_label_window_features_boundaries(spark):
    """(t, t+h]: an outcome AT the decision instant is excluded, one
    exactly at the horizon is included."""
    from databricks_demo_feature_store_spark.operators.windows import (
        label_window_features,
    )

    outcomes = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1), 100.0),   # at t: excluded
            (1, dt.datetime(2024, 1, 10), 5.0),    # inside
            (1, dt.datetime(2024, 1, 31), 7.0),    # exactly t+30d: included
            (1, dt.datetime(2024, 2, 1), 9.0),     # past horizon
        ],
        "k int, et timestamp, v double",
    )
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 1))],
        "k int, ts timestamp",
    )
    out = label_window_features(
        spine, outcomes, keys=["k"], spine_time="ts", event_time="et",
        horizon_expr="INTERVAL 30 DAYS",
        sum_cols=[("spend", "v")], count_col="n",
    )
    rows = {r.k: (r.spend, r.n) for r in out.collect()}
    assert rows == {1: (12.0, 2), 2: (0.0, 0)}


def test_trailing_multi_window_matches_single_calls(spark):
    """The one-shuffle multi-window form is value-identical to N
    independent single-window calls, and conditional measures sum only
    their matching events."""
    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_multi_window_features,
        trailing_window_features,
    )

    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5), 10.0, "a"),
            (1, dt.datetime(2024, 1, 20), 5.0, "b"),
            (1, dt.datetime(2024, 1, 29), 2.0, "a"),
            (2, dt.datetime(2024, 1, 28), 7.0, "b"),
        ],
        "k int, et timestamp, v double, cat string",
    )
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 30)), (2, dt.datetime(2024, 1, 30))],
        "k int, ts timestamp",
    )
    multi = trailing_multi_window_features(
        spine, events, keys=["k"], spine_time="ts", event_time="et",
        windows=[("7d", "INTERVAL 7 DAYS"), ("30d", "INTERVAL 30 DAYS")],
        sum_cols=[
            ("spend", "v"),
            ("a_spend", "CASE WHEN cat = 'a' THEN v END"),
        ],
        count_col="n",
    )
    got = {
        r.k: (r.spend_7d, r.a_spend_7d, r.n_7d, r.spend_30d, r.a_spend_30d, r.n_30d)
        for r in multi.collect()
    }
    # 7d window from Jan 30 = [Jan 23, Jan 30): only the Jan 29 'a' event
    assert got[1] == (2.0, 2.0, 1, 17.0, 12.0, 3)
    assert got[2] == (7.0, 0.0, 1, 7.0, 0.0, 1)

    for sfx, interval in (("7d", "INTERVAL 7 DAYS"), ("30d", "INTERVAL 30 DAYS")):
        single = trailing_window_features(
            spine, events, keys=["k"], spine_time="ts", event_time="et",
            window_expr=interval, sum_cols=[("spend", "v")], count_col="n",
        )
        sv = {r.k: (r.spend, r.n) for r in single.collect()}
        for k, row in sv.items():
            expected = (got[k][0], got[k][2]) if sfx == "7d" else (got[k][3], got[k][5])
            assert row == expected

    with pytest.raises(ValueError, match="window"):
        trailing_multi_window_features(
            spine, events, keys=["k"], spine_time="ts", event_time="et",
            windows=[], sum_cols=[("spend", "v")],
        )


def test_tpch_trio_plan_shape(spark):
    """VERDICT r9 task 6's plan criteria, asserted not eyeballed: the
    TPC-H-shaped planner-stress queries broadcast every dimension side
    and push the selective dimension filters into the scans (visible as
    PushedFilters on the parquet relations)."""
    from databricks_demo_feature_store_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name, pushed_token in (
        ("q07_volume_shipping", "l_shipdate"),     # date filter on the fact scan
        ("q08_market_share", "o_orderdate"),       # date filter on orders scan
        ("q09_product_profit", "p_name"),          # LIKE filter on the part scan
    ):
        df = QUERIES[name].fn(spark, sf)
        qe = df._jdf.queryExecution()
        physical = qe.executedPlan().toString()
        full = qe.toString()
        assert "BroadcastHashJoin" in physical, name
        assert "CartesianProduct" not in physical, name
        # the filter reached the data source (row-group pruning at scale)
        assert "PushedFilters" in full and pushed_token in full, name


def test_scd2_dim_join_rejects_column_collision(spark):
    import datetime as _dt

    from databricks_demo_feature_store_spark.operators.joins import scd2_dim_join

    dim = spark.createDataFrame(
        [(1, "x", _dt.datetime(2024, 1, 1), None)],
        "k int, v string, effective_from timestamp, effective_to timestamp",
    )
    facts = spark.createDataFrame(
        [(1, _dt.datetime(2024, 2, 1), "clash")], "k int, ts timestamp, v string"
    )
    with pytest.raises(ValueError, match="collide"):
        scd2_dim_join(facts, dim, keys=["k"], fact_time="ts")


def test_asof_and_window_output_collisions_raise(spark):
    import datetime as _dt

    from databricks_demo_feature_store_spark.operators.joins import asof_join
    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_window_features,
    )

    spine = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 2), 5.0)], "k int, ts timestamp, v double"
    )
    feats = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 1), 7.0)], "k int, ft timestamp, v double"
    )
    # feature column 'v' collides with the spine's 'v' — all directions
    for direction in ("backward", "forward", "nearest"):
        with pytest.raises(ValueError, match="collide"):
            asof_join(spine, feats, keys=["k"], spine_time="ts",
                      feature_time="ft", direction=direction)
    # matched_time_col colliding with a spine column raises too
    with pytest.raises(ValueError, match="collide"):
        asof_join(spine, feats.withColumnRenamed("v", "fv"), keys=["k"],
                  spine_time="ts", feature_time="ft", direction="nearest",
                  matched_time_col="ts")
    # window feature output named like a spine column raises
    with pytest.raises(ValueError, match="collide"):
        trailing_window_features(
            spine, feats, keys=["k"], spine_time="ts", event_time="ft",
            window_expr="INTERVAL 1 DAY", sum_cols=[("v", "v")],
        )


def test_trailing_window_features_tied_event_times_deterministic(spark):
    """Events sharing (key, event_time) must contribute their FULL run
    total regardless of physical order: the cumsum uses a RANGE frame so
    every tied row carries the run total and the anchor-carry F.last is
    tie-deterministic (ADVICE r10: a ROWS frame left tied rows with
    order-dependent partial sums that a shuffle could surface)."""
    from databricks_demo_feature_store_spark.operators.windows import (
        label_window_features,
        trailing_window_features,
    )

    t = dt.datetime(2024, 1, 10)
    # 40 events for one key ALL at the same instant, shuffled across
    # partitions so no input order survives
    events = spark.createDataFrame(
        [(1, t, float(i)) for i in range(40)], "k int, et timestamp, v double"
    ).repartition(8)
    spine = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 31))], "k int, ts timestamp"
    )
    out = trailing_window_features(
        spine, events, keys=["k"], spine_time="ts", event_time="et",
        window_expr="INTERVAL 30 DAYS", sum_cols=[("spend", "v")],
        count_col="n",
    ).collect()
    assert (out[0].spend, out[0].n) == (float(sum(range(40))), 40)
    # label side rides the same core: anchor at t, horizon includes run
    lab = label_window_features(
        spark.createDataFrame([(1, dt.datetime(2024, 1, 1))], "k int, ts timestamp"),
        events, keys=["k"], spine_time="ts", event_time="et",
        horizon_expr="INTERVAL 30 DAYS", sum_cols=[("spend", "v")],
        count_col="n",
    ).collect()
    assert (lab[0].spend, lab[0].n) == (float(sum(range(40))), 40)


def test_apply_changes_null_op_raises(spark):
    """A NULL op is a contract violation, not a silent delete (ADVICE
    r10: NULL made `__op != delete_op` NULL and dropped the key)."""
    from databricks_demo_feature_store_spark.operators.cdc import apply_changes
    from py4j.protocol import Py4JJavaError

    snap = spark.createDataFrame([(1, "a")], "k int, val string")
    changes = spark.createDataFrame(
        [(1, 1, "U", "b"), (1, 2, None, "c")],
        "k int, seq int, op string, val string",
    )
    with pytest.raises(Exception, match="NULL op"):
        apply_changes(snap, changes, keys=["k"], sequence_col="seq").collect()


def test_scd2_dim_join_rejects_valid_to_collision(spark):
    """A fact column named like the dimension's valid_to column raises
    the same up-front ValueError as a dim-column collision (ADVICE r10:
    it previously surfaced as an ambiguous-column analysis error)."""
    import datetime as _dt

    from databricks_demo_feature_store_spark.operators.joins import scd2_dim_join

    facts = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 5), "x")],
        "k int, ts timestamp, effective_to string",
    )
    dim = spark.createDataFrame(
        [(1, _dt.datetime(2024, 1, 1), None, "gold")],
        "k int, effective_from timestamp, effective_to timestamp, tier string",
    )
    with pytest.raises(ValueError, match="collide"):
        scd2_dim_join(facts, dim, keys=["k"], fact_time="ts")


def test_scan_fanout_env_switch_pins_scale_invariant_plan(spark, monkeypatch):
    """SPARK_GRAFT_NO_SCAN_FANOUT=1 (set by tools/explain_audit.py) must
    suppress the small-file scan fan-out repartition so exchange-budget
    audits measure the scale-invariant plan at ANY sf; without it a
    >256 KB single-file table fans out to defaultParallelism."""
    from databricks_demo_feature_store_spark import queries as qmod

    sf_dir = "/root/testdata/sf0.01"
    key = (sf_dir, "lineitem")  # 1 MB single file: fan-out eligible

    monkeypatch.setenv("SPARK_GRAFT_NO_SCAN_FANOUT", "1")
    qmod._SCAN_FANOUT.pop(key, None)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = qmod._parallelize_scan(spark, df, key)
    assert out is df  # untouched: no RoundRobin exchange in the plan
    assert key not in qmod._SCAN_FANOUT  # probe skipped entirely

    monkeypatch.delenv("SPARK_GRAFT_NO_SCAN_FANOUT")
    out2 = qmod._parallelize_scan(spark, df, key)
    assert qmod._SCAN_FANOUT[key] is True
    plan = out2._jdf.queryExecution().optimizedPlan().toString()
    assert re.match(r"Repartition \d+, true", plan)  # round-robin shuffle


def test_seasonal_decompose_recovers_structure(spark):
    from databricks_demo_feature_store_spark.operators.windows import (
        seasonal_decompose,
    )
    import datetime as dt

    # linear trend + period-4 square wave, two keys
    rows = []
    season = [10.0, -2.0, -5.0, -3.0]
    for key in ("a", "b"):
        base = 100.0 if key == "a" else 500.0
        for t in range(24):
            val = base + 2.0 * t + season[t % 4]
            rows.append((key, dt.date(2020, 1 + t % 12, 1 + t // 12), val))
    # use a strictly increasing date per key
    rows = [
        (k, dt.date(2020 + i // 12, 1 + i % 12, 1), v)
        for i, (k, _, v) in enumerate(r for r in rows if r[0] == "a")
    ] + [
        (k, dt.date(2020 + i // 12, 1 + i % 12, 1), v)
        for i, (k, _, v) in enumerate(r for r in rows if r[0] == "b")
    ]
    df = spark.createDataFrame(rows, "k string, t date, v double")
    out = seasonal_decompose(df, ["k"], "t", "v", period=4).collect()

    for r in out:
        if r["trend"] is not None:
            # additive identity holds EXACTLY (integer-unit arithmetic)
            assert abs(r["v"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-9
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["t"])
        base = 100.0 if k == "a" else 500.0
        for i, r in enumerate(rs):
            if r["trend"] is not None:
                assert abs(r["trend"] - (base + 2.0 * i)) < 1e-3, (k, i, r["trend"])
        # one full cycle of seasonal sums to ~0 (centered per key)
        seas = {r["t"].month % 4: r["seasonal"] for r in rs}
        assert abs(sum(set(r["seasonal"] for r in rs))) < 1e-2
    # seasonal amplitude recovered (square wave mean-centered: 10,-2,-5,-3 has mean 0)
    a_rows = sorted(by_key["a"], key=lambda r: r["t"])
    got_season = [a_rows[i]["seasonal"] for i in range(4, 8)]
    want = season[4 % 4 : 8 % 4] or season
    for g, w in zip(got_season, [season[i % 4] for i in range(4, 8)]):
        assert abs(g - w) < 0.51, (g, w)  # edge-count asymmetry tolerance


def test_seasonal_anomalies_flags_injected_spike(spark):
    from databricks_demo_feature_store_spark.operators.windows import (
        seasonal_anomalies,
    )
    import datetime as dt

    season = [10.0, -2.0, -5.0, -3.0]
    rows = []
    for i in range(24):
        # deterministic noise keeps the MAD meaningful: a NOISELESS
        # synthetic series has residual MAD ~ quantization, and 3 robust
        # sigmas of ~nothing flags everything
        noise = ((i * 37) % 13 - 6) * 0.3
        val = 100.0 + 2.0 * i + season[i % 4] + noise
        if i == 11:
            val += 500.0  # the injected anomaly
        rows.append(("a", dt.date(2020 + i // 12, 1 + i % 12, 1), val))
    df = spark.createDataFrame(rows, "k string, t date, v double")
    out = seasonal_anomalies(df, ["k"], "t", "v", period=4).collect()
    flagged = {r["t"]: r["is_anomaly"] for r in out}
    assert flagged[dt.date(2020, 12, 1)] is True  # the spike month (i=11)
    # the spike dominates: largest absolute residual of all scored rows
    # (classical decomposition is NON-robust, so the spike legitimately
    # contaminates its cycle-position's seasonal mean and its MA window —
    # secondary flags on those rows are faithful, not a bug)
    spike_resid = next(
        abs(r["residual"]) for r in out if r["t"] == dt.date(2020, 12, 1)
    )
    assert spike_resid == max(
        abs(r["residual"]) for r in out if r["residual"] is not None
    )
    assert sum(1 for v in flagged.values() if v is None) == 4  # 2 edges x 2
    # control: the same series WITHOUT the spike flags nothing
    clean = [(k, t, v - (500.0 if t == dt.date(2020, 12, 1) else 0.0))
             for (k, t, v) in rows]
    cdf = spark.createDataFrame(clean, "k string, t date, v double")
    cout = seasonal_anomalies(cdf, ["k"], "t", "v", period=4).collect()
    assert not any(r["is_anomaly"] for r in cout if r["is_anomaly"] is not None)
