"""Tests for the declarative pipeline runner + feature pipelines."""

from __future__ import annotations

import datetime as dt

import pytest

from databricks_demo_feature_store_spark.pipelines import (
    Pipeline,
    customer_transaction_features,
    feature_output_standardize,
    prefix_columns,
)


def test_pipeline_rejects_unknown_op():
    with pytest.raises(ValueError, match="Unknown pipeline ops"):
        Pipeline([{"op": "not_a_real_op"}])


def test_pipeline_runs_steps_lazily_with_debug(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], ["k", "v"])
    seen = []
    out = Pipeline(
        [
            {"op": "drop_duplicates", "params": {}},
            {"op": "filter", "params": {"conditions": ["k > 1"]}},
        ]
    ).run(df, debug=lambda op, d: seen.append(op))
    assert seen == ["drop_duplicates", "filter"]
    assert out.collect() == [spark.createDataFrame([(2, "b")], ["k", "v"]).collect()[0]]


def test_prefix_and_standardize(spark):
    df = spark.createDataFrame([(1, dt.date(2024, 1, 1), 10)], ["ck", "rd", "spend"])
    out = feature_output_standardize(
        df, key_renames={"ck": "pk_customer", "rd": "tpk_release_dt"}, prefix="ctrx_"
    )
    assert out.columns == ["pk_customer", "tpk_release_dt", "ctrx_spend"]
    # longs → int standardization
    assert dict(out.dtypes)["ctrx_spend"] == "int"
    assert dict(out.dtypes)["pk_customer"] == "int"
    p = prefix_columns(df, "x_", exclude=["ck"])
    assert p.columns == ["ck", "x_rd", "x_spend"]


def test_customer_tx_pipeline_schema_and_values(spark):
    out = customer_transaction_features(spark, "/root/testdata/sf0.001")
    assert set(out.columns) == {
        "pk_customer", "tpk_release_dt",
        "ctrx_amt_1_urgent", "ctrx_ind_1_urgent",
        "ctrx_total_spend", "ctrx_order_cnt",
        "ctrx_total_spend_lag_1m", "ctrx_total_spend_lag_3m",
        "ctrx_total_spend_ravg_3m", "ctrx_total_spend_rstd_3m",
        "ctrx_amt_1_urgent_to_total_spend_ratio",
    }
    types = dict(out.dtypes)
    assert types["pk_customer"] == "int" and types["ctrx_order_cnt"] == "int"
    assert types["ctrx_total_spend"] == "double"
    rows = out.filter("ctrx_ind_1_urgent").limit(5).collect()
    for r in rows:
        assert r["ctrx_amt_1_urgent"] > 0
        ratio = r["ctrx_amt_1_urgent_to_total_spend_ratio"]
        assert ratio is not None and 0 < ratio <= 1.0001
    # availability shift: release months are first-of-month
    assert all(
        r["tpk_release_dt"].day == 1 for r in out.select("tpk_release_dt").limit(20).collect()
    )


def test_customer_tx_plan_is_one_shuffle_one_window(spark):
    out = customer_transaction_features(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one hash-aggregate shuffle pair + one window sort; no extra exchanges
    assert plan.count("Window") <= 2  # lags+rolling may split frames, not sorts
    assert "Exchange" in plan


def test_orchestrator_dag(spark):
    import datetime as dt

    from databricks_demo_feature_store_spark.pipelines.orchestrator import (
        JobResult,
        Orchestrator,
        PipelineJob,
        default_orchestrator,
        resolve_parameters,
    )

    assert resolve_parameters(
        {"end_date": "actual", "x": "keep"}, today=dt.date(2024, 5, 17)
    ) == {"end_date": "2024-05-01", "x": "keep"}

    calls = []

    def ok_job(name):
        def run(sp, sf):
            calls.append(name)
            return sp.range(3)
        return run

    def bad_job(sp, sf):
        raise RuntimeError("boom")

    orch = Orchestrator(
        [
            PipelineJob("a", ok_job("a")),
            PipelineJob("b", bad_job, depends_on=("a",)),
            PipelineJob("c", ok_job("c"), depends_on=("b",)),
            PipelineJob("d", ok_job("d"), depends_on=("a",)),
        ]
    )
    res = orch.run_all(spark, "/root/testdata/sf0.001", count_rows=True)
    assert res["a"].ok and res["a"].rows == 3
    assert not res["b"].ok and "boom" in res["b"].error
    assert not res["c"].ok and res["c"].error == "upstream failed"
    assert res["d"].ok  # independent branch continues
    assert calls == ["a", "d"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown dependencies"):
        Orchestrator([PipelineJob("x", ok_job("x"), depends_on=("nope",))])

    order = default_orchestrator().order()
    assert order.index("fs_cus_demographic") < order.index("fs_supplier_risk")
    assert order.index("fs_cus_holding_products") < order.index("fs_cus_transactions")
    assert order.index("fs_cus_holding_products") < order.index("fs_cus_payment_behavior")
    assert len(order) == 5


def test_supplier_risk_pipeline(spark):
    from databricks_demo_feature_store_spark.pipelines import supplier_risk_features

    out = supplier_risk_features(spark, "/root/testdata/sf0.001")
    types = dict(out.dtypes)
    assert types["pk_supplier"] == "int"
    assert types["chr_revenue_rsi_6"] == "double"
    assert {"chr_rating_rmin_3m", "chr_rating_rmax_3m", "chr_revenue_roc_1m"} <= set(out.columns)
    row = out.filter("chr_revenue_rsi_6 IS NOT NULL").limit(1).collect()
    assert row and 0.0 <= row[0]["chr_revenue_rsi_6"] <= 100.0


def test_payment_behavior_pipeline_schema_and_values(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.pipelines import payment_behavior_features
    from databricks_demo_feature_store_spark.pipelines.payment_behavior_features import (
        KEYS,
        OUTPUT_COLUMNS,
        PREFIX,
    )

    out = payment_behavior_features(spark, "/root/testdata/sf0.001")
    # the full 38-feature reference surface, renamed + prefixed
    expected = [
        KEYS.get(c, f"{PREFIX}{c}") if c in KEYS else f"{PREFIX}{c}"
        for c in OUTPUT_COLUMNS
    ]
    assert out.columns == expected
    types = dict(out.dtypes)
    assert types["pk_customer"] == "int"
    assert types["cpym_credits_cnt"] == "int"
    assert types["cpym_credit_duration_in_months"] == "int"
    assert types["cpym_amt_paid_sum"] == "double"

    row = (
        out.where(F.col("cpym_credits_cnt") >= 2)
        .orderBy("pk_customer", "tpk_release_dt")
        .first()
    )
    # invariants: paid <= balance <= credit (discount >= 0, tax >= 0),
    # pct consistent with its inputs, rolling min <= max
    assert row["cpym_amt_paid_sum"] <= row["cpym_amt_total_balance_sum"] + 1e-6
    assert row["cpym_amt_total_balance_sum"] <= row["cpym_amt_total_credit_sum"] + 1e-6
    if row["cpym_amt_paid_sum_pct"] is not None:
        expect = row["cpym_amt_paid_sum"] * 100.0 / row["cpym_amt_total_credit_sum"]
        assert abs(row["cpym_amt_paid_sum_pct"] - expect) < 1e-3
    assert row["cpym_rating_num_rmin_6m"] <= row["cpym_rating_num_rmax_6m"]


def test_reference_native_stack(spark):
    """The switch-over surface: generator-produced reference-native tables
    (clientes/pagos/transacciones/buro_credito/productos) through all
    FIVE adapters — every reference feature notebook has a drop-in."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.pipelines import reference_sources as rs
    from databricks_demo_feature_store_spark.sources.datagen import (
        gen_buro,
        gen_clientes,
        gen_pagos,
        gen_productos,
        gen_transacciones,
    )

    pagos = gen_pagos(spark, n=80, months=12)
    demo = rs.demographic_features_from_clientes(
        gen_clientes(spark, n=80), "2023-02-01", "2024-01-01"
    )
    assert demo.columns[:2] == ["pk_customer", "tpk_release_dt"]
    assert "cdmg_segment_group" in demo.columns and demo.count() > 0
    groups = {r[0] for r in demo.select("cdmg_segment_group").distinct().collect()}
    assert groups <= {"affluent", "mass", "other"}

    pay = rs.payment_features_from_pagos(pagos)
    assert pay.count() == gen_pagos(spark, n=80, months=12).count()
    assert "cpym_amt_paid_sum" in pay.columns

    tx = rs.transaction_features_from_transacciones(
        gen_transacciones(spark, n=80, months=12)
    )
    assert tx.count() == 80 * 12
    types = dict(tx.dtypes)
    assert types["ctrx_monto_total_transacciones_ravg_3m"] == "double"
    assert "ctrx_monto_total_transacciones_to_numero_transacciones_ratio" in tx.columns
    # lag semantics survive the adapter: first month per customer has no lag
    first = tx.orderBy("pk_customer", "tpk_release_dt").first()
    assert first["ctrx_monto_total_transacciones_lag_1m"] is None

    credit = rs.credit_features_from_buro(gen_buro(pagos))
    assert credit.columns[:2] == ["pk_customer", "tpk_release_dt"]
    # exact 24-column reference output surface (fs_cus_credit_risk.py:630-655)
    assert len(credit.columns) == 24 and credit.count() > 0
    ctypes = dict(credit.dtypes)
    assert ctypes["chr_credits_cnt"] == "int"  # LONG→INT output rule
    assert ctypes["chr_total_banking_debt_sum"] == "double"  # DECIMAL→DOUBLE
    assert ctypes["chr_rating_num_rmin_6m"] == "int"
    # rating CASE lands in 1..5 on generator data (A–E always present)
    ratings = {r[0] for r in credit.select("chr_rating_num").distinct().collect()}
    assert ratings <= {1, 2, 3, 4, 5}
    # ratio: NULL only when the score sum is 0 (never on generator data)
    assert (
        credit.filter(
            F.col("chr_total_banking_debt_sum_to_bureau_score_sum_ratio").isNull()
        ).count()
        == 0
    )

    hold = rs.holdings_features_from_productos(
        gen_productos(spark, n=80, months=12)
    )
    # exact 67-column reference surface (fs_cus_holding_products.py:726-791)
    assert len(hold.columns) == 67 and hold.count() > 0
    htypes = dict(hold.dtypes)
    assert htypes["chp_ind_vehicle_loan_product"] == "boolean"
    assert htypes["chp_ind_credit_card_product_rmax_6m"] == "boolean"
    assert htypes["chp_products_cnt_m"] == "int"
    assert htypes["chp_amount_sum_m"] == "double"
    # pivot identity: the per-product amounts never exceed the total
    bad = hold.filter(
        F.col("chp_vehicle_loan_amount_sum_m")
        + F.col("chp_mortgage_loan_amount_sum_m")
        + F.col("chp_credit_card_amount_sum_m")
        + F.col("chp_productive_credit_amount_sum_m")
        > F.col("chp_amount_sum_m") + 1e-6
    )
    assert bad.count() == 0
    # holding indicator agrees with its amount column
    mism = hold.filter(
        F.col("chp_ind_vehicle_loan_product")
        != (F.col("chp_vehicle_loan_amount_sum_m") > 0)
    )
    assert mism.count() == 0


def test_incremental_entity_refresh_equals_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.pipelines.customer_features import (
        CUSTOMER_TX_PIPELINE,
    )
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        incremental_entity_refresh,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "tx")

    # Stale world: customer 7k's orders arrive late AND one customer had a
    # spurious extra order that the corrected feed retracts — the refresh
    # must both insert and delete.
    some_key = orders.select("o_custkey").limit(1).collect()[0][0]
    spurious = orders.limit(1).withColumn("o_custkey", F.lit(some_key)).withColumn(
        "o_orderdate", F.lit("2099-01-01").cast(orders.schema["o_orderdate"].dataType)
    )
    stale = orders.where(F.col("o_custkey") % 7 != 0).unionByName(spurious)
    save_table(CUSTOMER_TX_PIPELINE.run(stale), path)

    changed = (
        orders.where((F.col("o_custkey") % 7 == 0) | (F.col("o_custkey") == some_key))
        .select("o_custkey")
    )
    incremental_entity_refresh(
        source=orders,
        changed_entities=changed,
        compute=CUSTOMER_TX_PIPELINE.run,
        entity_in="o_custkey",
        entity_out="pk_customer",
        table_path=path,
    )
    got = spark.read.parquet(path)
    want = CUSTOMER_TX_PIPELINE.run(orders)
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_run_all_triggers_no_jobs_by_default(spark):
    """run_all without a sink and without count_rows must only PLAN jobs —
    zero Spark jobs executed (the reference's eager per-pipeline logging
    anti-pattern stays out, SURVEY §4.3)."""
    from databricks_demo_feature_store_spark.pipelines.orchestrator import (
        Orchestrator,
        PipelineJob,
    )

    orch = Orchestrator([PipelineJob("a", lambda sp, sf: sp.range(3))])
    sc = spark.sparkContext
    sc.setJobGroup("orch-default", "probe")
    try:
        res = orch.run_all(spark, "/root/testdata/sf0.001")
    finally:
        sc.setJobGroup(None, None)
    assert res["a"].ok and res["a"].rows is None
    jobs = sc.statusTracker().getJobIdsForGroup("orch-default")
    assert jobs == [], f"default run_all ran Spark jobs: {jobs}"

    res = orch.run_all(spark, "/root/testdata/sf0.001", count_rows=True)
    assert res["a"].rows == 3
