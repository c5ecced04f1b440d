"""Pipeline-level queries: the full declarative feature pipeline verified
end-to-end against a DuckDB oracle that replays every stage (filter,
availability shift, pivot aggregation, lags, rolling stats, ratios,
standardization renames and casts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databricks_demo_feature_store_spark.functions.rounding import oracle_dround
from databricks_demo_feature_store_spark.pipelines import customer_transaction_features
from databricks_demo_feature_store_spark.queries import register


@register(
    "q_pipeline_customer_tx",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 1 MONTH AS DATE) AS release_dt,
             o_totalprice, o_orderpriority
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ),
    agg AS (
      SELECT custkey, release_dt,
             SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(o_totalprice AS DECIMAL(25,2)) ELSE 0 END) AS amt_dec,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) > 0 AS ind_urgent,
             SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS spend_dec,
             COUNT(*) AS order_cnt
      FROM base GROUP BY 1, 2
    ),
    m AS (
      SELECT custkey, release_dt,
             CAST(amt_dec AS DOUBLE) AS amt, ind_urgent,
             CAST(spend_dec AS DOUBLE) AS spend, order_cnt
      FROM agg
    ),
    w AS (
      SELECT *,
             LAG(spend, 1) OVER win AS lag1,
             LAG(spend, 3) OVER win AS lag3,
             {oracle_dround('AVG(spend) OVER f3')} AS ravg3,
             {oracle_dround('STDDEV_SAMP(spend) OVER f3')} AS rstd3
      FROM m
      WINDOW win AS (PARTITION BY custkey ORDER BY release_dt ASC),
             f3 AS (PARTITION BY custkey ORDER BY release_dt ASC
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(custkey AS INT) AS pk_customer,
           release_dt AS tpk_release_dt,
           amt AS ctrx_amt_1_urgent,
           ind_urgent AS ctrx_ind_1_urgent,
           spend AS ctrx_total_spend,
           CAST(order_cnt AS INT) AS ctrx_order_cnt,
           lag1 AS ctrx_total_spend_lag_1m,
           lag3 AS ctrx_total_spend_lag_3m,
           ravg3 AS ctrx_total_spend_ravg_3m,
           rstd3 AS ctrx_total_spend_rstd_3m,
           CASE WHEN spend IS NOT NULL AND spend <> 0
                THEN {oracle_dround('amt / spend')}
           END AS ctrx_amt_1_urgent_to_total_spend_ratio
    FROM w
    """,
)
def q_pipeline_customer_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative customer-transaction feature pipeline, end-to-end:
    scan → filter → availability shift → single-shuffle pivot aggregation →
    one-window-exchange lags+rolling → ratios → pk/tpk rename + ctrx_
    prefix + long→int / decimal→double standardization (the full
    fs_cus_transactions notebook flow, SURVEY §3.1)."""
    return customer_transaction_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Structured Streaming (availableNow replay of the events backlog)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.streaming import (  # noqa: E402
    hourly_counts,
    read_events_stream,
    run_available_now,
    sessionize_stream,
)


@register(
    "q_stream_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts through the REAL streaming
    engine (file source → event-time window agg → availableNow replay →
    memory sink). The DECIMAL-routed sum makes the result identical to
    the batch answer regardless of micro-batch order."""
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(hourly_counts(stream))


@register(
    "q_stream_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_idx
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization through the streaming engine —
    the stateful-operator twin of the batch lag+cumsum (q_ext_sessionize).
    Spark's session end is last-event-time + gap; the oracle mirrors it."""
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(sessionize_stream(stream, gap="30 minutes"))


# ---------------------------------------------------------------------------
# Feature-store training-set assembly (manager + PIT lookup, end-to-end)
# ---------------------------------------------------------------------------

import os  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from databricks_demo_feature_store_spark.featurestore.manager import (  # noqa: E402
    FeatureStoreManager,
    FeatureTableSpec,
)
from databricks_demo_feature_store_spark.featurestore.training import (  # noqa: E402
    FeatureLookup,
    create_training_set,
)
from databricks_demo_feature_store_spark.queries import load, scratch_dir  # noqa: E402


@register(
    "q_training_set",
    oracle="""
    WITH feat AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 1 MONTH AS TIMESTAMP) AS release_dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend,
             COUNT(*) AS order_cnt
      FROM orders GROUP BY 1, 2
    ),
    spine AS (
      SELECT o_orderkey AS label_id,
             o_custkey AS custkey,
             CAST(o_orderdate AS TIMESTAMP) AS label_ts,
             o_totalprice AS label_amount
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT s.custkey, s.label_ts, s.label_id, s.label_amount,
           f.total_spend, f.order_cnt
    FROM spine s
    ASOF LEFT JOIN feat f
      ON s.custkey = f.custkey AND s.label_ts >= f.release_dt
    """,
)
def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full feature-store loop: compute monthly features → persist via
    FeatureStoreManager (registry metadata incl. timestamp_keys) → assemble
    a training set with point-in-time lookups against a label spine. The
    as-of join is the linear union+last_value form (one shuffle on the
    entity key), checked here against DuckDB's native ASOF JOIN."""
    o = load(spark, sf_dir, "orders")
    feat = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.add_months(F.trunc(F.col("o_orderdate").cast("date"), "month"), 1)
        .cast("timestamp")
        .alias("release_dt"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("order_cnt"),
    )
    root = scratch_dir("store")
    manager = FeatureStoreManager(spark, root)
    manager.save(
        feat,
        FeatureTableSpec(
            name="cus_monthly_spend",
            primary_keys=("custkey", "release_dt"),
            timestamp_keys=("release_dt",),
            description="monthly customer spend features",
            source_tables=("orders",),
        ),
        mode="overwrite",
    )
    spine = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("label_id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("timestamp").alias("label_ts"),
        F.col("o_totalprice").alias("label_amount"),
    )
    return create_training_set(
        manager,
        spine,
        [FeatureLookup(table="cus_monthly_spend", lookup_keys=("custkey",))],
        spine_time="label_ts",
    )


# ---------------------------------------------------------------------------
# Demographic snapshot pipeline
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.pipelines.demographic_features import (  # noqa: E402
    customer_demographic_features,
)


@register(
    "q_pipeline_demographic",
    oracle="""
    WITH f AS (
      SELECT o_custkey AS custkey,
             MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS first_month
      FROM orders GROUP BY 1
    ),
    e AS (
      SELECT c.c_custkey AS custkey, c.c_acctbal, c.c_mktsegment, f.first_month
      FROM customer c JOIN f ON c.c_custkey = f.custkey
    ),
    s AS (
      SELECT CAST(r AS DATE) AS release_dt
      FROM range(DATE '1995-01-01', DATE '1996-01-01', INTERVAL 1 MONTH) t(r)
    ),
    spine AS (
      SELECT e.*, s.release_dt
      FROM e CROSS JOIN s
      WHERE s.release_dt >= e.first_month
    )
    SELECT CAST(custkey AS INT) AS pk_customer,
           release_dt AS tpk_release_dt,
           CAST(date_diff('month', first_month, release_dt) AS INT) AS cdmg_tenure_months,
           CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD') THEN 'consumer'
                WHEN c_mktsegment IN ('BUILDING', 'MACHINERY') THEN 'business'
                ELSE 'other' END AS cdmg_segment_group,
           c_acctbal AS cdmg_c_acctbal,
           c_acctbal > 0 AS cdmg_ind_positive_balance,
           date_diff('month', first_month, release_dt) <= 3 AS cdmg_ind_new_customer
    FROM spine
    """,
)
def q_pipeline_demographic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demographic snapshot pipeline end-to-end: distributed month
    spine × customers (broadcast cross join) → activation filter → tenure
    → categorical grouping → indicators → pk/tpk + cdmg_ standardization
    (the fs_cus_demographic notebook flow)."""
    return customer_demographic_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Supplier-risk pipeline (rating CASE + lag/diff/roc + rolling cat + RSI)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.pipelines.supplier_risk_features import (  # noqa: E402
    supplier_risk_features,
)


@register(
    "q_pipeline_supplier_risk",
    oracle=f"""
    WITH base AS (
      SELECT l_suppkey AS suppkey,
             CAST(CAST(date_trunc('month', l_shipdate) AS DATE) + INTERVAL 1 MONTH AS DATE) AS release_dt,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4)) AS revenue_dec,
             CASE l_returnflag WHEN 'R' THEN 3 WHEN 'A' THEN 2 ELSE 1 END AS rating
      FROM lineitem
    ),
    agg AS (
      SELECT suppkey, release_dt,
             SUM(revenue_dec) AS revenue_dec,
             MAX(rating) AS rating,
             COUNT(*) AS line_cnt
      FROM base GROUP BY 1, 2
    ),
    d AS (
      SELECT suppkey, release_dt, rating, line_cnt, revenue_dec,
             CAST(revenue_dec AS DOUBLE) AS revenue,
             revenue_dec - LAG(revenue_dec, 1) OVER win AS delta,
             CAST(LAG(revenue_dec, 1) OVER win AS DOUBLE) AS lag1,
             MIN(rating) OVER f3 AS rating_rmin_3m,
             MAX(rating) OVER f3 AS rating_rmax_3m
      FROM agg
      WINDOW win AS (PARTITION BY suppkey ORDER BY release_dt ASC),
             f3 AS (PARTITION BY suppkey ORDER BY release_dt ASC
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT *,
             CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
             CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
      FROM d
    ),
    a AS (
      SELECT *,
             CAST(SUM(gain) OVER f6 AS DOUBLE) / COUNT(*) OVER f6 AS ag,
             CAST(SUM(loss) OVER f6 AS DOUBLE) / COUNT(*) OVER f6 AS al
      FROM g
      WINDOW f6 AS (PARTITION BY suppkey ORDER BY release_dt ASC
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(suppkey AS INT) AS pk_supplier,
           release_dt AS tpk_release_dt,
           revenue AS chr_revenue,
           rating AS chr_rating,
           CAST(line_cnt AS INT) AS chr_line_cnt,
           lag1 AS chr_revenue_lag_1m,
           revenue - lag1 AS chr_revenue_diff_1m,
           CASE WHEN lag1 IS NOT NULL AND lag1 <> 0
                THEN {oracle_dround('(revenue - lag1) / lag1')}
           END AS chr_revenue_roc_1m,
           rating_rmin_3m AS chr_rating_rmin_3m,
           rating_rmax_3m AS chr_rating_rmax_3m,
           CASE WHEN al = 0 THEN (CASE WHEN ag > 0 THEN 100.0 END)
                ELSE {oracle_dround('100.0 - 100.0 / (1.0 + ag / al)')}
           END AS chr_revenue_rsi_6
    FROM a
    """,
)
def q_pipeline_supplier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The credit-risk-flow twin on supplier/lineitem data: ingestion
    rating CASE → availability shift → monthly aggregation → lag/diff/roc
    → rolling categorical min/max → exact-decimal RSI → chr_ standardized
    output. All window columns share one (suppkey, release_dt) sort."""
    return supplier_risk_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.streaming.stateful import (  # noqa: E402
    finalize_user_stats,
    stateful_user_stats,
)


@register(
    "q_stream_stateful_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event_id,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through the REAL streaming state store:
    applyInPandasWithState maintains per-user (count, min id, max ts)
    across micro-batches; every state component is order-independent, so
    the finalized emissions match the batch GROUP BY exactly."""
    stream = read_events_stream(spark, sf_dir)
    emissions = run_available_now(stateful_user_stats(stream), output_mode="update")
    return finalize_user_stats(emissions)


# ---------------------------------------------------------------------------
# Product-holdings pipeline (pivot-first, multi-op aggs, post-pivot fill)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.pipelines.product_holdings_features import (  # noqa: E402
    product_holdings_features,
)


@register(
    "q_pipeline_product_holdings",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 1 MONTH AS DATE) AS release_dt,
             CAST(o_totalprice AS DECIMAL(25,2)) AS price_dec,
             o_orderstatus
      FROM orders
    ),
    agg AS (
      SELECT custkey, release_dt,
             SUM(CASE WHEN o_orderstatus = 'O' THEN price_dec ELSE 0 END) AS amt_o_dec,
             SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) > 0 AS ind_o,
             SUM(CASE WHEN o_orderstatus = 'F' THEN price_dec ELSE 0 END) AS amt_f_dec,
             SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0 AS ind_f,
             SUM(CASE WHEN o_orderstatus = 'P' THEN price_dec ELSE 0 END) AS amt_p_dec,
             SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) > 0 AS ind_p,
             SUM(price_dec) AS sum_dec,
             MIN(price_dec) AS min_dec,
             MAX(price_dec) AS max_dec,
             COUNT(*) AS n_orders
      FROM base GROUP BY 1, 2
    ),
    m AS (
      SELECT custkey, release_dt,
             CAST(amt_o_dec AS DOUBLE) AS amt_o, ind_o,
             CAST(amt_f_dec AS DOUBLE) AS amt_f, ind_f,
             CAST(amt_p_dec AS DOUBLE) AS amt_p, ind_p,
             CAST(sum_dec AS DOUBLE) AS sum_m,
             CAST(min_dec AS DOUBLE) AS min_m,
             CAST(max_dec AS DOUBLE) AS max_m,
             CAST(sum_dec AS DOUBLE) / n_orders AS avg_m,
             n_orders
      FROM agg
    )
    SELECT CAST(custkey AS INT) AS pk_customer,
           release_dt AS tpk_release_dt,
           amt_o AS chp_amt_o, ind_o AS chp_ind_o,
           amt_f AS chp_amt_f, ind_f AS chp_ind_f,
           amt_p AS chp_amt_p, ind_p AS chp_ind_p,
           sum_m AS chp_totalprice_sum_m,
           min_m AS chp_totalprice_min_m,
           max_m AS chp_totalprice_max_m,
           avg_m AS chp_totalprice_avg_m,
           CAST(n_orders AS INT) AS chp_n_orders_m,
           MIN(amt_o) OVER f3 AS chp_amt_o_rmin_3m,
           MAX(amt_o) OVER f3 AS chp_amt_o_rmax_3m
    FROM m
    WINDOW f3 AS (PARTITION BY custkey ORDER BY release_dt ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_pipeline_product_holdings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The holding-products flow: pivot-FIRST conditional aggregation
    (per-status amounts + ind_* holding indicators + multi-op
    {col}_{op}_m aggs in ONE hash aggregate), exact-sum/count average,
    post-pivot fill, rolling min/max over a pivoted column, chp_
    standardized output."""
    return product_holdings_features(spark, sf_dir)


# ---------------------------------------------------------------------------
# Payment-behavior pipeline (time features + rolling stats + percentages)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.pipelines.payment_behavior_features import (  # noqa: E402
    payment_behavior_features,
)


@register(
    "q_pipeline_payment_behavior",
    oracle=f"""
    WITH base AS (
      SELECT o.o_custkey AS id_customer,
             CAST(date_trunc('month', l.l_shipdate) AS DATE) AS event_dt,
             CAST(CAST(date_trunc('month', l.l_shipdate) AS DATE) + INTERVAL 1 MONTH AS DATE) AS release_dt,
             CAST(o.o_orderdate AS DATE) AS openning_date,
             CAST(CAST(date_trunc('month', o.o_orderdate) AS DATE)
                  + to_months(CAST(l.l_quantity AS INT)) AS DATE) AS closing_date,
             CAST(l.l_extendedprice AS DECIMAL(25,4)) AS bal_dec,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,4)) AS paid_dec,
             CAST(l.l_extendedprice * (1 + l.l_tax) AS DECIMAL(25,4)) AS credit_dec,
             CAST(l.l_extendedprice * l.l_tax AS DECIMAL(25,4)) AS inst_dec,
             CAST(l.l_returnflag = 'N' AS INT) AS ind_paid,
             CAST(l.l_discount > 0 AS INT) AS ind_min,
             CASE o.o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                  WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                  WHEN '5-LOW' THEN 5 ELSE 0 END AS rating_num
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IS NOT NULL AND o.o_custkey <> 999999999
        AND o.o_orderpriority IS NOT NULL
    ),
    tf AS (
      -- months_between(...).cast(int): closing_date is always day 1, so
      -- Spark's both-last-day special case can't fire and the day-part
      -- formula is exact; TRUNC (toward zero) mirrors Spark's int cast
      SELECT *,
             CAST(TRUNC(datediff('month', openning_date, closing_date)
                  + (date_part('day', closing_date) - date_part('day', openning_date)) / 31.0)
                  AS INT) AS dur_m,
             CAST(datediff('month', event_dt, closing_date) AS INT) AS ttc_m
      FROM base
    ),
    agg AS (
      SELECT id_customer, release_dt,
             COUNT(*) AS credits_cnt,
             SUM(bal_dec) AS bal_s, SUM(paid_dec) AS paid_s,
             SUM(credit_dec) AS credit_s, SUM(inst_dec) AS inst_s,
             CAST(SUM(dur_m) AS BIGINT) AS dur, CAST(SUM(ttc_m) AS BIGINT) AS ttc,
             MAX(ind_paid) AS ind_paid, MAX(ind_min) AS ind_min,
             MAX(rating_num) AS rating_num
      FROM tf GROUP BY 1, 2
    ),
    m AS (
      SELECT id_customer, release_dt, credits_cnt,
             CAST(bal_s AS DOUBLE) AS bal, CAST(paid_s AS DOUBLE) AS paid,
             CAST(credit_s AS DOUBLE) AS credit, CAST(inst_s AS DOUBLE) AS inst,
             dur, ttc, ind_paid, ind_min, rating_num
      FROM agg
    )
    SELECT CAST(id_customer AS INT) AS pk_customer,
           release_dt AS tpk_release_dt,
           CAST(credits_cnt AS INT) AS cpym_credits_cnt,
           bal AS cpym_amt_total_balance_sum,
           paid AS cpym_amt_paid_sum,
           credit AS cpym_amt_total_credit_sum,
           inst AS cpym_amt_installment_sum,
           CAST(dur AS INT) AS cpym_credit_duration_in_months,
           CAST(ttc AS INT) AS cpym_time_to_close_in_months,
           ind_paid AS cpym_ind_installment_paid,
           ind_min AS cpym_ind_did_min_payment,
           rating_num AS cpym_rating_num,
           {oracle_dround('AVG(bal) OVER f3')} AS cpym_amt_total_balance_sum_ravg_3m,
           {oracle_dround('STDDEV_SAMP(bal) OVER f3')} AS cpym_amt_total_balance_sum_rstd_3m,
           {oracle_dround('AVG(bal) OVER f6')} AS cpym_amt_total_balance_sum_ravg_6m,
           {oracle_dround('STDDEV_SAMP(bal) OVER f6')} AS cpym_amt_total_balance_sum_rstd_6m,
           {oracle_dround('AVG(paid) OVER f3')} AS cpym_amt_paid_sum_ravg_3m,
           {oracle_dround('STDDEV_SAMP(paid) OVER f3')} AS cpym_amt_paid_sum_rstd_3m,
           {oracle_dround('AVG(paid) OVER f6')} AS cpym_amt_paid_sum_ravg_6m,
           {oracle_dround('STDDEV_SAMP(paid) OVER f6')} AS cpym_amt_paid_sum_rstd_6m,
           {oracle_dround('AVG(inst) OVER f3')} AS cpym_amt_installment_sum_ravg_3m,
           {oracle_dround('STDDEV_SAMP(inst) OVER f3')} AS cpym_amt_installment_sum_rstd_3m,
           {oracle_dround('AVG(inst) OVER f6')} AS cpym_amt_installment_sum_ravg_6m,
           {oracle_dround('STDDEV_SAMP(inst) OVER f6')} AS cpym_amt_installment_sum_rstd_6m,
           MIN(ind_paid) OVER f3 AS cpym_ind_installment_paid_rmin_3m,
           MAX(ind_paid) OVER f3 AS cpym_ind_installment_paid_rmax_3m,
           MIN(ind_paid) OVER f6 AS cpym_ind_installment_paid_rmin_6m,
           MAX(ind_paid) OVER f6 AS cpym_ind_installment_paid_rmax_6m,
           MIN(ind_min) OVER f3 AS cpym_ind_did_min_payment_rmin_3m,
           MAX(ind_min) OVER f3 AS cpym_ind_did_min_payment_rmax_3m,
           MIN(ind_min) OVER f6 AS cpym_ind_did_min_payment_rmin_6m,
           MAX(ind_min) OVER f6 AS cpym_ind_did_min_payment_rmax_6m,
           MIN(rating_num) OVER f3 AS cpym_rating_num_rmin_3m,
           MAX(rating_num) OVER f3 AS cpym_rating_num_rmax_3m,
           MIN(rating_num) OVER f6 AS cpym_rating_num_rmin_6m,
           MAX(rating_num) OVER f6 AS cpym_rating_num_rmax_6m,
           CASE WHEN credit <> 0 THEN {oracle_dround('paid * 100.0 / credit')} END
               AS cpym_amt_paid_sum_pct,
           CASE WHEN credit <> 0 THEN {oracle_dround('bal * 100.0 / credit')} END
               AS cpym_amt_total_balance_sum_pct,
           CASE WHEN dur <> 0 THEN {oracle_dround('ttc * 100.0 / dur')} END
               AS cpym_time_to_close_in_months_pct
    FROM m
    WINDOW f3 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           f6 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
)
def q_pipeline_payment_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fifth reference notebook twin (fs_cus_payment_behavior):
    ingestion join + rating CASE → availability shift → time_features
    (months_between cast int) → SUM/MAX monthly aggregation →
    rolling avg/std + min/max over 3- and 6-month frames →
    calculate_percentages → cpym_ standardized 38-column output. All
    twenty-four rolling columns share one (id_customer, release_dt)
    sort."""
    return payment_behavior_features(spark, sf_dir)


@register(
    "q_stream_feature_store",
    oracle="""
    SELECT user_id,
           date_trunc('hour', ts) AS hour_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming feature materialization end-to-end: per-(user, hour)
    counts maintained by the streaming engine and MERGE-upserted into a
    FeatureStoreManager table via checkpointed foreachBatch; the stored
    table must equal the batch GROUP BY exactly."""

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_features_to_store,
    )

    root = scratch_dir("stream_store")
    manager = FeatureStoreManager(spark, os.path.join(root, "tables"))
    spec = FeatureTableSpec(
        name="user_hourly_counts",
        primary_keys=("user_id", "hour_start"),
        timestamp_keys=("hour_start",),
        source_tables=("events",),
    )
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "7 days")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    from databricks_demo_feature_store_spark.streaming.ops import (
        _streaming_source_paths,
        scaled_stream_partitions,
    )

    with scaled_stream_partitions(spark, *_streaming_source_paths(agg)):
        q = stream_features_to_store(
            agg, manager, spec, checkpoint=os.path.join(root, "ckpt")
        )
        q.awaitTermination()
    return manager.read("user_hourly_counts")


@register(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_keys
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup through dropDuplicatesWithinWatermark
    (watermark-bounded state): one surviving row per (user, event_type)
    key over the replayed backlog, then a batch rollup of the sink. The
    rollup counts keys only, so the result is independent of WHICH
    duplicate row the state store happened to see first."""
    from databricks_demo_feature_store_spark.streaming import dedup_stream

    stream = read_events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    deduped = dedup_stream(stream, ["user_id", "event_type"])
    sink = run_available_now(
        deduped.select("user_id", "event_type"), output_mode="append"
    )
    return sink.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_keys"))


@register(
    "q_stream_interval_join",
    oracle="""
    SELECT e1.user_id AS user_id,
           e1.event_id AS click_id,
           e2.event_id AS purchase_id
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'click' AND e2.event_type = 'purchase'
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase within one hour):
    watermarks on both sides + the two-sided event-time range condition
    keep join state finite; a bounded availableNow replay emits exactly
    the batch answer (q_interval_join is the batch twin)."""
    from databricks_demo_feature_store_spark.streaming import interval_join_stream

    ev = read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join_stream(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower_seconds=0.0,
        upper_seconds=3600.0,
    )
    out = run_available_now(
        joined.select("user_id", "click_id", "purchase_id"), output_mode="append"
    )
    return out


@register(
    "q_stream_enrich",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream broadcast-joins the
    customer dimension per micro-batch (map-side hash join, the stream is
    never shuffled for the join), then rolls up per nation. DECIMAL-routed
    sum keeps the replay bit-identical to the batch answer."""
    from databricks_demo_feature_store_spark.streaming import enrich_stream

    stream = read_events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = enrich_stream(stream, dim, on=["user_id"])
    agg = enriched.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
    )
    return run_available_now(agg, output_mode="complete")


# ---------------------------------------------------------------------------
# Seeded synthetic data generator (dummy_data_generation.py twin)
# ---------------------------------------------------------------------------


def _golden_digest(out: DataFrame) -> DataFrame:
    """Per-month digest of the golden pipeline output: row/customer counts
    plus an order-independent DECIMAL-exact sum of every numeric feature.
    Any change to the generator's hash math, the ingestion mapping, or any
    pipeline stage flips at least one cell — full-sensitivity, 18 rows."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("pk_customer")).alias("n_customers"),
    ]
    for f in out.schema.fields:
        t = f.dataType.simpleString()
        if f.name in ("pk_customer", "tpk_release_dt"):
            continue
        if t in ("int", "bigint", "smallint"):
            aggs.append(F.sum(F.col(f.name).cast("long")).alias(f"{f.name}_sum"))
        elif t == "double":
            aggs.append(
                F.sum(F.col(f.name).cast("decimal(30,6)"))
                .cast("double")
                .alias(f"{f.name}_sum")
            )
    return out.groupBy(F.col("tpk_release_dt").alias("month")).agg(*aggs)


def _golden_oracle() -> str | None:
    """Literal VALUES oracle pinned from a verified run (see
    ``tools/pin_golden.py``); the generator ignores ``sf_dir``, so the
    digest is a constant table."""
    try:
        from databricks_demo_feature_store_spark.golden_payment import (
            GOLDEN_COLUMNS,
            GOLDEN_ROWS,
            GOLDEN_TYPES,
        )
    except ImportError:  # before the first pin run
        return None

    # every literal carries an explicit cast: DuckDB would otherwise infer
    # DECIMAL / INT32 where Spark emits DOUBLE / BIGINT — same values,
    # different value-hash dtypes; types come from the pinned Spark schema
    types = GOLDEN_TYPES

    def lit(v, t):
        if v is None:
            return f"CAST(NULL AS {t})"
        if t == "DATE":
            return f"DATE '{v}'"
        return f"CAST({v!r} AS {t})"

    rows = ",\n      ".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(row, types)) + ")"
        for row in GOLDEN_ROWS
    )
    cols = ", ".join(GOLDEN_COLUMNS)
    return f"SELECT * FROM (VALUES\n      {rows}\n    ) AS t({cols})"


@register("q_gen_payment_golden", oracle=_golden_oracle())
def q_gen_payment_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded fixture factory → reference ingestion mapping → the real
    payment-behavior pipeline → per-month full-sensitivity digest.
    Exercises the generator's distributed path (spark.range + hash noise +
    array-fold state machine, zero shuffles, zero Python) end-to-end
    through a production pipeline; the oracle is the pinned literal digest
    (the generator is seed-deterministic and sf-independent), so the gate
    is exact-value. Row-level goldens live in ``tests/test_datagen.py``."""
    from databricks_demo_feature_store_spark.pipelines.payment_behavior_features import (
        PAYMENT_BEHAVIOR_PIPELINE,
    )
    from databricks_demo_feature_store_spark.sources.datagen import (
        gen_pagos,
        pagos_to_payment_events,
    )

    events = pagos_to_payment_events(gen_pagos(spark, n=120, months=18))
    return _golden_digest(PAYMENT_BEHAVIOR_PIPELINE.run(events))


# ---------------------------------------------------------------------------
# Incremental feature materialization (pipelines/incremental.py)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.queries import QUERIES as _Q  # noqa: E402


@register("q_pipeline_incremental", oracle=_Q["q_pipeline_customer_tx"].oracle)
def q_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh end-to-end, checked against the FULL-recompute
    oracle: materialize the customer-transaction features from a stale
    source that is missing every 7th customer's orders, then
    ``incremental_entity_refresh`` exactly those customers from the full
    source, and return the table read back from disk. Equality with the
    full-pipeline SQL proves (a) per-entity decomposability of the
    pipeline, (b) the broadcast semi-join source pruning loses nothing,
    and (c) the entity-scoped replace writes exactly the affected rows.
    """
    import os

    from databricks_demo_feature_store_spark.pipelines.customer_features import (
        CUSTOMER_TX_PIPELINE,
    )
    from databricks_demo_feature_store_spark.pipelines.incremental import (
        incremental_entity_refresh,
    )
    from databricks_demo_feature_store_spark.sources.writers import save_table

    orders = load(spark, sf_dir, "orders")
    stale = orders.where(F.col("o_custkey") % 7 != 0)
    changed = orders.where(F.col("o_custkey") % 7 == 0).select("o_custkey")

    root = scratch_dir("incremental")
    path = os.path.join(root, "customer_tx")
    save_table(CUSTOMER_TX_PIPELINE.run(stale), path)
    incremental_entity_refresh(
        source=orders,
        changed_entities=changed,
        compute=CUSTOMER_TX_PIPELINE.run,
        entity_in="o_custkey",
        entity_out="pk_customer",
        table_path=path,
    )
    return spark.read.parquet(path)


@register(
    "q_stream_sliding",
    oracle="""
    WITH contrib AS (
      SELECT ts, value,
             date_trunc('hour', ts) - to_hours(CAST(k AS INT)) AS window_start
      FROM events, LATERAL (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM contrib
    GROUP BY window_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (2h window, 1h slide) counts through the real
    streaming engine — every event contributes to exactly two
    overlapping windows; the oracle replays the fan-out with a 2-row
    lateral and the DECIMAL-routed sum matches bit-exactly."""
    from databricks_demo_feature_store_spark.streaming.ops import sliding_counts

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(sliding_counts(stream))


@register(
    "q_stream_distinct_sketch",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS distinct_ok
    FROM events
    GROUP BY 1
    """,
)
def q_stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed cardinality: per-hour approximate distinct
    users via HLL++ through the real streaming engine (exact
    COUNT(DISTINCT) is unsupported in streaming aggs — the sketch's
    fixed-size mergeable registers are the standard answer). Gated in the
    self-auditing style of q_ext_sketch_profile: the streamed estimate is
    joined to the batch exact answer and the output carries exact counts
    plus a within-bound verdict (|approx/exact − 1| ≤ 4·rsd), so the
    sketch guarantee itself is value-hash-checked.
    """
    from databricks_demo_feature_store_spark.streaming.ops import (
        windowed_distinct_sketch,
    )

    rsd = 0.02
    streamed = run_available_now(
        windowed_distinct_sketch(read_events_stream(spark, sf_dir), rsd=rsd)
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count_distinct(F.col("user_id")).alias("exact_distinct"))
    )
    # bound: relative 4·rsd with an absolute floor of 4 — HLL's relative
    # guarantee is asymptotic, and an hourly window with ~10 distinct users
    # can legitimately be off by 2 (observed max at sf0.01)
    a = F.col("approx_distinct").cast("double")
    e = F.col("exact_distinct").cast("double")
    return streamed.join(exact, on="hour_start").select(
        "hour_start",
        "n_events",
        "exact_distinct",
        (F.abs(a - e) <= F.greatest(F.lit(4 * rsd) * e, F.lit(4.0))).alias(
            "distinct_ok"
        ),
    )


@register(
    "q_fs_online_snapshot",
    oracle="""
    WITH feat AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 1 MONTH AS TIMESTAMP) AS release_dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend,
             COUNT(*) AS order_cnt
      FROM orders GROUP BY 1, 2
    ),
    cut AS (SELECT * FROM feat WHERE release_dt <= TIMESTAMP '1997-06-15'),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
                                   ORDER BY release_dt DESC) AS rn
      FROM cut
    )
    SELECT custkey, release_dt, total_spend, order_cnt
    FROM ranked WHERE rn = 1
    """,
)
def q_fs_online_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-serving snapshot end-to-end: monthly features persisted via
    FeatureStoreManager, read back, then ``latest_features`` materializes
    the one-row-per-entity as-of-timestamp state an online store would
    serve — a max_by hash aggregation (map-side combine collapses each
    entity's history pre-shuffle), not a row_number sort of all history.
    The oracle replays the snapshot with an argmax window."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        latest_features,
    )

    o = load(spark, sf_dir, "orders")
    feat = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.add_months(F.trunc(F.col("o_orderdate").cast("date"), "month"), 1)
        .cast("timestamp")
        .alias("release_dt"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("order_cnt"),
    )
    root = scratch_dir("online_store")
    manager = FeatureStoreManager(spark, root)
    manager.save(
        feat,
        FeatureTableSpec(
            name="cus_monthly_spend",
            primary_keys=("custkey", "release_dt"),
            timestamp_keys=("release_dt",),
            description="monthly customer spend features",
            source_tables=("orders",),
        ),
        mode="overwrite",
    )
    return latest_features(
        manager.read("cus_monthly_spend"),
        primary_keys=("custkey", "release_dt"),
        timestamp_key="release_dt",
        as_of="1997-06-15",
    )


@register(
    "q_stream_psi_drift",
    oracle="""
    WITH cur AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             COALESCE(CAST(event_type AS VARCHAR), '__null__') AS category,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ref AS (
      SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__') AS category,
             COUNT(*) AS n_ref
      FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1
    ),
    wins AS (SELECT DISTINCT window_start FROM cur),
    grid AS (
      SELECT w.window_start, r.category, r.n_ref FROM wins w CROSS JOIN ref r
    ),
    j AS (
      SELECT COALESCE(g.window_start, c.window_start) AS window_start,
             COALESCE(g.category, c.category) AS category,
             COALESCE(c.n, 0) AS n_cur, COALESCE(g.n_ref, 0) AS n_ref
      FROM grid g FULL OUTER JOIN cur c
        ON g.window_start = c.window_start AND g.category = c.category
    ),
    t AS (
      SELECT window_start, COUNT(*) AS k, SUM(n_cur) AS tot_cur, SUM(n_ref) AS tot_ref
      FROM j GROUP BY 1
    )
    SELECT j.window_start,
           CAST(ROUND(CAST(SUM(
             ((n_cur + 0.5) / (tot_cur + 0.5 * k) - (n_ref + 0.5) / (tot_ref + 0.5 * k))
             * ln(((n_cur + 0.5) / (tot_cur + 0.5 * k)) / ((n_ref + 0.5) / (tot_ref + 0.5 * k)))
           ) AS DECIMAL(38,10)), 6) AS DOUBLE) AS psi,
           CAST(k AS INT) AS n_categories,
           CAST(tot_cur AS BIGINT) AS n_cur,
           CAST(tot_ref AS BIGINT) AS n_ref
    FROM j JOIN t USING (window_start)
    GROUP BY j.window_start, k, tot_cur, tot_ref
    """,
)
def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: the REAL streaming engine
    maintains per-day event-type counts (watermarked tumbling windows,
    availableNow replay), then each completed window becomes a PSI
    point against the first week's distribution via the batch finisher
    psi_by_group (chained streaming aggs are unsupported by design).
    The oracle replays windows, smoothing and the PSI sum."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_events_stream,
        run_available_now,
        windowed_category_counts,
    )
    from databricks_demo_feature_store_spark.validation.drift import psi_by_group

    stream = read_events_stream(spark, sf_dir)
    counts = run_available_now(
        windowed_category_counts(stream, "event_type", window="1 day")
    )
    ref = (
        load(spark, sf_dir, "events")
        .where(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .groupBy(
            F.coalesce(F.col("event_type").cast("string"), F.lit("__null__")).alias(
                "category"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return psi_by_group(counts, ref)


@register(
    "q_stream_count_anomalies",
    oracle="""
    WITH counts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS period,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT period, n_rows,
             AVG(CAST(n_rows AS DOUBLE)) OVER w AS m,
             STDDEV_SAMP(CAST(n_rows AS DOUBLE)) OVER w AS s
      FROM counts
      WINDOW w AS (ORDER BY period ASC ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT period, n_rows,
           CAST(ROUND(CAST(m AS DECIMAL(38,10)), 6) AS DOUBLE) AS baseline_mean,
           CAST(ROUND(CAST(CASE WHEN s > 0 THEN (CAST(n_rows AS DOUBLE) - m) / s END
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS zscore,
           (COALESCE(ABS(CASE WHEN s > 0 THEN (CAST(n_rows AS DOUBLE) - m) / s END) > 3.0,
                     FALSE)
            OR COALESCE(s = 0 AND m IS NOT NULL AND CAST(n_rows AS DOUBLE) <> m,
                        FALSE)) AS is_anomaly
    FROM scored
    """,
)
def q_stream_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume monitor: the streaming engine maintains hourly
    event counts (watermarked tumbling windows, availableNow replay);
    each completed window becomes a trailing-24h z-score anomaly point
    via the batch finisher anomalies_from_counts — no re-scan of raw
    events, the same split-responsibility shape as the streaming PSI
    monitor. The oracle replays windows and the z-score frame."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        hourly_counts,
        read_events_stream,
        run_available_now,
    )
    from databricks_demo_feature_store_spark.validation.drift import (
        anomalies_from_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    counts = run_available_now(hourly_counts(stream)).select(
        F.col("hour_start").alias("period"),
        F.col("n_events").alias("n_rows"),
    )
    return anomalies_from_counts(counts, trailing=24, z_threshold=3.0)


# ---------------------------------------------------------------------------
# Native-schema pipeline twins (round 7, VERDICT r6 task 3):
# fs_cus_credit_risk on buro_credito, fs_cus_holding_products on productos
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.pipelines.reference_sources import (  # noqa: E402
    CREDIT_OUTPUT_COLUMNS,
    HOLDINGS_CATEGORY_NAMES,
    HOLDINGS_CATEGORICAL,
    HOLDINGS_NUMERIC,
    HOLDINGS_OUTPUT_COLUMNS,
    credit_features_from_buro,
    holdings_features_from_productos,
)

#: TPC-H → native shims: deterministic, SQL-expressible column mappings
#: ONLY, so the DuckDB oracle replays shim + full native pipeline verbatim.
#: A real deployment passes demo_db.buro_credito / demo_db.productos
#: directly (sources/datagen.py gen_buro/gen_productos produce the same
#: schemas for the generator-native tests).

_BURO_PRIORITY_CASE = (
    "CASE o_orderpriority WHEN '1-URGENT' THEN 'A' WHEN '2-HIGH' THEN 'B' "
    "WHEN '3-MEDIUM' THEN 'C' WHEN '4-NOT SPECIFIED' THEN 'D' ELSE 'E' END"
)

_PARTKEY_PRODUCT_CASE = (
    "CASE l_partkey % 5 WHEN 0 THEN 'credito_vehicular' "
    "WHEN 1 THEN 'credito_hipotecario' "
    "WHEN 2 THEN 'tarjeta_de_credito' "
    "WHEN 3 THEN 'credito_productivo' "
    "ELSE 'cuenta_ahorro' END"
)


def _buro_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → buro_credito shape: customer key, order month as
    'yyyy-MM' periodo, priority → A–E system rating, order-key-derived
    score/inquiry counts, totalprice as bank debt."""
    from databricks_demo_feature_store_spark.queries import load

    return load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("id_cliente"),
        F.date_format("o_orderdate", "yyyy-MM").alias("periodo"),
        F.expr(_BURO_PRIORITY_CASE).alias("calificacion_sistema"),
        (F.lit(300) + F.col("o_orderkey") % 550).cast("int").alias("buro_score"),
        (F.col("o_orderkey") % 5).cast("int").alias("consultas_buro_12m"),
        F.col("o_totalprice").alias("deuda_total_bancos"),
    )


def _productos_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → productos shape: supplier key as the holder, part-key
    bucket → product name (4 pivoted natives + a non-pivoted 5th), month-start
    fecha, extendedprice as monto, and the native table's precomputed
    per-(holder, month) row count as total_productos."""
    from pyspark.sql import Window

    from databricks_demo_feature_store_spark.queries import load

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("string").alias("id_cliente"),
        F.expr(_PARTKEY_PRODUCT_CASE).alias("producto"),
        F.trunc("l_shipdate", "month").alias("fecha"),
        F.col("l_extendedprice").alias("monto"),
    )
    w = Window.partitionBy("id_cliente", "fecha")
    return li.withColumn("total_productos", F.count(F.lit(1)).over(w).cast("int"))


def _credit_native_oracle() -> str:
    sums = ["bureau_score_sum", "total_banking_debt_sum", "bureau_inquiries_12m_sum"]
    roll = ",\n             ".join(
        f"{oracle_dround(f'AVG({c}) OVER f{w}')} AS {c}_ravg_{w}m,\n             "
        f"{oracle_dround(f'STDDEV_SAMP({c}) OVER f{w}')} AS {c}_rstd_{w}m"
        for c in sums
        for w in (3, 6)
    )
    cat = ",\n             ".join(
        f"{stat.upper()}(rating_num) OVER f{w} AS rating_num_r{stat}_{w}m"
        for w in (3, 6)
        for stat in ("min", "max")
    )
    ratio = (
        "CASE WHEN bureau_score_sum <> 0 THEN "
        + oracle_dround("total_banking_debt_sum / bureau_score_sum")
        + " END"
    )
    out = ",\n           ".join(
        ["id_customer AS pk_customer", "release_dt AS tpk_release_dt"]
        + [
            f"{c} AS chr_{c}"
            for c in CREDIT_OUTPUT_COLUMNS[2:]
            if not c.endswith("_ratio")
        ]
        + [f"{ratio} AS chr_total_banking_debt_sum_to_bureau_score_sum_ratio"]
    )
    return f"""
    WITH buro AS (
      SELECT CAST(o_custkey AS VARCHAR) AS id_cliente,
             strftime(o_orderdate, '%Y-%m') AS periodo,
             {_BURO_PRIORITY_CASE} AS calificacion_sistema,
             CAST(300 + o_orderkey % 550 AS INT) AS buro_score,
             CAST(o_orderkey % 5 AS INT) AS consultas_buro_12m,
             o_totalprice AS deuda_total_bancos
      FROM orders
    ),
    ing AS (
      SELECT id_cliente AS id_customer,
             CAST(CAST(periodo || '-01' AS DATE) + INTERVAL 1 MONTH AS DATE) AS release_dt,
             buro_score AS bureau_score,
             CASE calificacion_sistema WHEN 'A' THEN 1 WHEN 'B' THEN 2
                  WHEN 'C' THEN 3 WHEN 'D' THEN 4 WHEN 'E' THEN 5 ELSE 0
             END AS rating_num,
             consultas_buro_12m AS bureau_inquiries_12m,
             CAST(deuda_total_bancos AS DECIMAL(25,4)) AS total_banking_debt
      FROM buro
      WHERE id_cliente IS NOT NULL AND id_cliente <> '999999999'
            AND buro_score IS NOT NULL AND calificacion_sistema IS NOT NULL
    ),
    agg AS (
      SELECT id_customer, release_dt,
             CAST(COUNT(*) AS INT) AS credits_cnt,
             CAST(SUM(bureau_score) AS INT) AS bureau_score_sum,
             CAST(SUM(total_banking_debt) AS DOUBLE) AS total_banking_debt_sum,
             CAST(SUM(bureau_inquiries_12m) AS INT) AS bureau_inquiries_12m_sum,
             MAX(rating_num) AS rating_num
      FROM ing GROUP BY 1, 2
    ),
    w AS (
      SELECT *,
             {roll},
             {cat}
      FROM agg
      WINDOW f3 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             f6 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT {out}
    FROM w
    """


@register("q_pipeline_credit_native", oracle=_credit_native_oracle())
def q_pipeline_credit_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fs_cus_credit_risk on its NATIVE buro_credito schema end-to-end
    (the round-6 verdict's missing drop-in path): sentinel/NULL filters +
    A-E rating CASE at the scan, 'yyyy-MM' parse + availability shift,
    ONE hash aggregate (count + 3 sums + max), all 16 rolling columns on
    a single (customer, month) sort, debt/score ratio, 24-column chr_
    standardized output. Input is a deterministic orders->buro shim so
    the oracle replays shim + pipeline verbatim."""
    return credit_features_from_buro(_buro_from_orders(spark, sf_dir))


def _holdings_native_oracle() -> str:
    pivot = ",\n             ".join(
        f"CAST(SUM(CASE WHEN product = '{cat}' THEN amount ELSE 0 END) AS DOUBLE)"
        f" AS {name}_amount_sum_m"
        for cat, name in HOLDINGS_CATEGORY_NAMES.items()
    )
    inds = ",\n             ".join(
        f"SUM(CASE WHEN product = '{cat}' THEN 1 ELSE 0 END) > 0 AS ind_{name}_product"
        for cat, name in HOLDINGS_CATEGORY_NAMES.items()
    )
    roll_num = ",\n             ".join(
        f"{oracle_dround(f'AVG({c}) OVER f{w}')} AS {c}_ravg_{w}m,\n             "
        f"{oracle_dround(f'STDDEV_SAMP({c}) OVER f{w}')} AS {c}_rstd_{w}m"
        for c in HOLDINGS_NUMERIC
        for w in (3, 6)
    )
    roll_cat = ",\n             ".join(
        f"{stat.upper()}({c}) OVER f{w} AS {c}_r{stat}_{w}m"
        for c in HOLDINGS_CATEGORICAL
        for w in (3, 6)
        for stat in ("min", "max")
    )
    out = ",\n           ".join(
        ["id_customer AS pk_customer", "release_dt AS tpk_release_dt"]
        + [f"{c} AS chp_{c}" for c in HOLDINGS_OUTPUT_COLUMNS[2:]]
    )
    return f"""
    WITH prod AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS id_cliente,
             {_PARTKEY_PRODUCT_CASE} AS producto,
             CAST(date_trunc('month', l_shipdate) AS DATE) AS fecha,
             l_extendedprice AS monto
      FROM lineitem
    ),
    prod2 AS (
      SELECT *, CAST(COUNT(*) OVER (PARTITION BY id_cliente, fecha) AS INT)
                AS total_productos
      FROM prod
    ),
    ing AS (
      SELECT id_cliente AS id_customer,
             CAST(fecha + INTERVAL 1 MONTH AS DATE) AS release_dt,
             producto AS product,
             CAST(monto AS DECIMAL(25,4)) AS amount,
             total_productos AS products_cnt
      FROM prod2
      WHERE id_cliente IS NOT NULL AND id_cliente <> '999999999'
            AND monto IS NOT NULL
    ),
    agg AS (
      SELECT id_customer, release_dt,
             {pivot},
             {inds},
             MAX(products_cnt) AS products_cnt_m,
             CAST(SUM(amount) AS DOUBLE) AS amount_sum_m,
             CAST(SUM(amount) AS DOUBLE) / COUNT(*) AS amount_avg_m,
             CAST(MIN(amount) AS DOUBLE) AS amount_min_m,
             CAST(MAX(amount) AS DOUBLE) AS amount_max_m
      FROM ing GROUP BY 1, 2
    ),
    w AS (
      SELECT *,
             {roll_num},
             {roll_cat}
      FROM agg
      WINDOW f3 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             f6 AS (PARTITION BY id_customer ORDER BY release_dt ASC
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT {out}
    FROM w
    """


@register("q_pipeline_holdings_native", oracle=_holdings_native_oracle())
def q_pipeline_holdings_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fs_cus_holding_products on its NATIVE productos schema end-to-end
    (the round-6 verdict's other missing drop-in path): pivot-FIRST ONE
    hash aggregate producing the cats_to_pivot amounts
    (vehicle/mortgage/credit-card/productive), boolean ind_*_product
    holding indicators, products_cnt max and amount sum/avg/min/max; then
    52 rolling columns on one (customer, month) sort and the 67-column
    chp_ standardized output. Input is a deterministic lineitem->productos
    shim so the oracle replays shim + pipeline verbatim."""
    return holdings_features_from_productos(_productos_from_lineitem(spark, sf_dir))


# ---------------------------------------------------------------------------
# Streaming corpus ingestion with incremental dedup (round-7 capstone:
# the cross-corpus dedup operator driving a continuous-crawl pipeline)
# ---------------------------------------------------------------------------


def _stream_ingest_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.7, cap: int = 64
) -> str:
    from databricks_demo_feature_store_spark.functions.rounding import oracle_dround
    from databricks_demo_feature_store_spark.textops.dedup import (
        MINHASH_P,
        minhash_params,
    )

    def ohash(expr, seed):
        return (
            f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 1, 15)) AS BIGINT)"
        )

    rows = num_hashes // bands
    base = f"({ohash('s', 0)}) % {MINHASH_P}"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * ({base}) + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def shingle_chain(src, pfx):
        return f"""{pfx}n AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM {src}
    ),
    {pfx}sh AS (
      SELECT doc_id,
             CASE
               WHEN len(t) >= 3 THEN list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' ')))
               WHEN len(t) > 0 AND norm <> '' THEN [norm]
               ELSE CAST([] AS VARCHAR[])
             END AS sh
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM {pfx}n)
    ),
    {pfx}sig AS (SELECT doc_id, {mins} FROM {pfx}sh),
    {pfx}band AS ({" UNION ALL ".join(
        f'''SELECT doc_id, {b} AS band,
            md5(concat_ws(',', {", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))})) AS band_key
            FROM {pfx}sig'''
        for b in range(bands)
    )})"""

    jac = oracle_dround(
        "CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh)))",
        6,
    )
    return f"""
    WITH b0 AS (
      SELECT DISTINCT {ohash('text', 'corpus')} AS doc_id, text FROM documents
    ),
    c0 AS (
      SELECT DISTINCT {ohash('text', 'corpus')} AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0
    ),
    {shingle_chain('b0', 'b')},
    bcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bband a JOIN bband b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    bdrop AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM bcand c JOIN bsh x ON x.doc_id = c.id_a JOIN bsh y ON y.doc_id = c.id_b
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}
    ),
    bkeep AS (
      SELECT b0.* FROM b0 LEFT JOIN bdrop USING (doc_id)
      WHERE bdrop.doc_id IS NULL
    ),
    allv AS (
      SELECT DISTINCT doc_id, text FROM (
        SELECT doc_id, text FROM bkeep UNION ALL SELECT doc_id, text FROM c0
      )
    ),
    {shingle_chain('allv', 'u')},
    wit AS (
      SELECT band, band_key, doc_id AS id_corpus,
             ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
      FROM uband WHERE doc_id IN (SELECT doc_id FROM c0)
    ),
    xcand AS (
      SELECT DISTINCT b.doc_id AS id_batch, w.id_corpus
      FROM uband b
      JOIN wit w ON b.band = w.band AND b.band_key = w.band_key
      WHERE b.doc_id IN (SELECT doc_id FROM bkeep) AND w.rn <= {cap}
    ),
    flagged AS (
      SELECT DISTINCT c.id_batch AS doc_id
      FROM xcand c JOIN ush x ON x.doc_id = c.id_batch JOIN ush y ON y.doc_id = c.id_corpus
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}
    )
    SELECT doc_id, text FROM c0
    UNION ALL
    SELECT k.doc_id, k.text FROM bkeep k
    LEFT JOIN flagged f USING (doc_id) WHERE f.doc_id IS NULL
    """


@register("q_stream_ingest_dedup", oracle=_stream_ingest_oracle())
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl ingestion end-to-end: the documents table arrives
    as one JSONL drop in a streaming inbox; the standing corpus is
    pre-seeded with every third document (content-hash ids). The
    foreachBatch pipeline content-hashes the batch, drops batch-internal
    exact+near duplicates (greedy min-id representatives), flags
    survivors against the standing corpus via the witness-capped
    cross-corpus band join, and appends only novel documents. The oracle
    replays content hashing, both MinHash chains, the witness cap, and
    the final union in SQL."""

    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_ingest_corpus_dedup,
    )
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    root = scratch_dir("stream_ingest")
    inbox = os.path.join(root, "inbox")
    corpus = os.path.join(root, "corpus")
    ckpt = os.path.join(root, "ckpt")
    docs = load(spark, sf_dir, "documents")
    # one part file → one deterministic micro-batch
    docs.select("text").coalesce(1).write.mode("overwrite").json(inbox)
    docs.filter(F.col("doc_id") % 3 == 0).select(
        portable_hash_col(F.col("text"), seed="corpus").alias("doc_id"),
        "text",
    ).dropDuplicates(["doc_id"]).write.mode("overwrite").parquet(corpus)
    q = stream_ingest_corpus_dedup(spark, inbox, corpus, ckpt)
    q.awaitTermination()
    return spark.read.parquet(corpus).select("doc_id", "text")


@register(
    "q_stream_cusum",
    oracle="""
    WITH counts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS period,
             COUNT(*) AS n_rows
      FROM events GROUP BY 1
    ),
    st AS (
      SELECT COUNT(*) AS k, SUM(n_rows) AS s1, SUM(n_rows * n_rows) AS s2
      FROM counts
    ),
    z AS (
      SELECT period, n_rows,
             CASE WHEN k > 1 AND sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                       * (CAST(s1 AS DOUBLE) / k)) / (CAST(k AS DOUBLE) - 1.0)) > 0
             THEN (CAST(n_rows AS DOUBLE) - CAST(s1 AS DOUBLE) / k)
                  / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                       * (CAST(s1 AS DOUBLE) / k)) / (CAST(k AS DOUBLE) - 1.0))
             END AS zv
      FROM counts CROSS JOIN st
    ),
    terms AS (
      -- z quantized to integer NANO-units with pure double ops (both
      -- engines evaluate floor(z*1e9 + 0.5) bit-identically); every
      -- later step is exact integer arithmetic — the double->DECIMAL
      -- quantization this replaces is engine-dependent at 1e-9 ties
      SELECT period, n_rows, zv,
             CAST(floor(COALESCE(zv, 0) * 1000000000 + 0.5) AS BIGINT)
               - 500000000 AS up,
             -CAST(floor(COALESCE(zv, 0) * 1000000000 + 0.5) AS BIGINT)
               - 500000000 AS dn
      FROM z
    ),
    cum AS (
      SELECT *, SUM(up) OVER (ORDER BY period) AS cu,
                SUM(dn) OVER (ORDER BY period) AS cd
      FROM terms
    ),
    mins AS (
      SELECT *, LEAST(0, MIN(cu) OVER (ORDER BY period)) AS mu,
                LEAST(0, MIN(cd) OVER (ORDER BY period)) AS md
      FROM cum
    )
    SELECT period,
           CAST(n_rows AS BIGINT) AS n_rows,
           CASE WHEN zv IS NOT NULL THEN
             CAST(CAST(floor(zv * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000
           END AS zscore,
           CAST((2 * (cu - mu) + 1000) // 2000 AS DOUBLE) / 1000000 AS cusum_pos,
           CAST((2 * (cd - md) + 1000) // 2000 AS DOUBLE) / 1000000 AS cusum_neg,
           (cu - mu > 4000000000 OR cd - md > 4000000000) AS is_changepoint
    FROM mins
    """,
)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM level-shift monitor: the streaming engine
    maintains hourly event counts (watermarked tumbling windows,
    availableNow replay); the CUSUM finisher (`cusum_from_counts`) runs
    over the completed windows — the same split-responsibility shape as
    the streaming z-score and PSI monitors, detecting the persistent
    small drifts the per-window z-test misses. The oracle replays the
    windows and the full DECIMAL cumulative arithmetic."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        hourly_counts,
        read_events_stream,
        run_available_now,
    )
    from databricks_demo_feature_store_spark.validation.drift import (
        cusum_from_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    counts = run_available_now(hourly_counts(stream)).select(
        F.col("hour_start").alias("period"),
        F.col("n_events").alias("n_rows"),
    )
    return cusum_from_counts(counts, slack=0.5, threshold=4.0)


@register(
    "q_training_set_stress",
    oracle="""
    WITH f1 AS (
      SELECT o_custkey AS ck,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                  + INTERVAL 1 MONTH AS TIMESTAMP) AS rd
      FROM orders GROUP BY 1, 2
    ),
    f2 AS (
      SELECT o_custkey AS ck,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                  + INTERVAL 1 MONTH + INTERVAL 2 DAY AS TIMESTAMP) AS rd
      FROM orders GROUP BY 1, 2
    ),
    f3 AS (
      SELECT o_custkey AS ck,
             CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE)
                  + INTERVAL 3 MONTH AS TIMESTAMP) AS rd
      FROM orders GROUP BY 1, 2
    ),
    f4 AS (
      SELECT c_custkey AS ck, TIMESTAMP '1992-01-01' AS rd FROM customer
    ),
    f5 AS (
      SELECT o.o_custkey AS ck,
             CAST(CAST(date_trunc('month', l.l_shipdate) AS DATE)
                  + INTERVAL 1 MONTH AS TIMESTAMP) AS rd
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT o_custkey AS ck, CAST(o_orderdate AS TIMESTAMP) AS lt,
             o_orderkey AS label_id
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    j1 AS (SELECT s.label_id, s.lt, f.rd FROM spine s
           ASOF LEFT JOIN f1 f ON s.ck = f.ck AND s.lt >= f.rd),
    j2 AS (SELECT s.label_id, s.lt, f.rd FROM spine s
           ASOF LEFT JOIN f2 f ON s.ck = f.ck AND s.lt >= f.rd),
    j3 AS (SELECT s.label_id, s.lt,
                  CASE WHEN f.rd < s.lt - INTERVAL 180 DAY THEN NULL
                       ELSE f.rd END AS rd
           FROM spine s ASOF LEFT JOIN f3 f ON s.ck = f.ck AND s.lt >= f.rd),
    j4 AS (SELECT s.label_id, s.lt, f.rd FROM spine s
           ASOF LEFT JOIN f4 f ON s.ck = f.ck AND s.lt >= f.rd),
    j5 AS (SELECT s.label_id, s.lt, f.rd FROM spine s
           ASOF LEFT JOIN f5 f ON s.ck = f.ck AND s.lt >= f.rd),
    long AS (
      SELECT 'f1_asof' AS feature, CAST(epoch(lt) AS BIGINT) AS lab,
             CAST(epoch(rd) AS BIGINT) AS ft FROM j1
      UNION ALL
      SELECT 'f2_asof', CAST(epoch(lt) AS BIGINT),
             CAST(epoch(rd) AS BIGINT) FROM j2
      UNION ALL
      SELECT 'f3_asof', CAST(epoch(lt) AS BIGINT),
             CAST(epoch(rd) AS BIGINT) FROM j3
      UNION ALL
      SELECT 'f4_asof', CAST(epoch(lt) AS BIGINT),
             CAST(epoch(rd) AS BIGINT) FROM j4
      UNION ALL
      SELECT 'f5_asof', CAST(epoch(lt) AS BIGINT),
             CAST(epoch(rd) AS BIGINT) FROM j5
    ),
    agg AS (
      SELECT feature,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN ft IS NULL THEN 1 ELSE 0 END) AS n_null_ts,
             SUM(CASE WHEN ft IS NOT NULL AND ft > lab - 86400
                 THEN 1 ELSE 0 END) AS n_violations,
             MAX(CASE WHEN ft IS NOT NULL AND ft > lab - 86400
                 THEN ft - (lab - 86400) END) AS max_lookahead_sec
      FROM long GROUP BY feature
    )
    SELECT feature,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null_ts AS BIGINT) AS n_null_ts,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(max_lookahead_sec AS BIGINT) AS max_lookahead_sec,
           CASE WHEN n_rows - n_null_ts > 0 THEN
             CAST(ROUND(CAST(CAST(n_violations AS DOUBLE)
                  / (n_rows - n_null_ts) AS DECIMAL(38,10)), 6) AS DOUBLE)
           END AS violation_share
    FROM agg
    """,
)
def q_training_set_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end feature-store stress (VERDICT r8 task 8): FIVE feature
    tables of different grains and release lags — monthly spend (T+1mo),
    monthly order stats (T+1mo+2d), quarterly priority mix (T+1q, served
    with a 180-day tolerance), a static customer snapshot, and a
    lineitem-derived monthly quantity table (fact-to-fact join before
    featurization) — each persisted through FeatureStoreManager (registry
    metadata, timestamp keys), then assembled onto a label spine with
    five chained point-in-time lookups, then INDEPENDENTLY audited by
    pit_leakage_audit under a 1-day embargo. Each feature table carries
    its own as-of timestamp into the training frame, so the audit checks
    the PIT join's actual output, not a synthetic column. The oracle
    replays all five ASOF joins, the tolerance null-out, and the audit
    arithmetic. Scale shape: each PIT lookup is one linear union +
    last_value shuffle on the entity key (never a theta join); the audit
    is one stack + one 5-group hash agg.

    Reference parity: composes the reference's `fs.create_training_set`
    loop (notebooks/utils.py:1778-1836) with the leakage check its PIT
    design exists to guarantee."""
    from databricks_demo_feature_store_spark.validation.leakage import (
        pit_leakage_audit,
    )

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    month = F.trunc(F.col("o_orderdate").cast("date"), "month")

    f1 = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.add_months(month, 1).cast("timestamp").alias("release_dt"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
            .cast("double")
            .alias("f1_total_spend")
        )
        .withColumn("f1_asof", F.col("release_dt"))
    )
    f2 = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.date_add(F.add_months(month, 1), 2)
            .cast("timestamp")
            .alias("release_dt"),
        )
        .agg(
            F.count(F.lit(1)).alias("f2_order_cnt"),
            F.max("o_totalprice").alias("f2_max_price"),
        )
        .withColumn("f2_asof", F.col("release_dt"))
    )
    quarter = F.trunc(F.col("o_orderdate").cast("date"), "quarter")
    f3 = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.add_months(quarter, 3).cast("timestamp").alias("release_dt"),
        )
        .agg(
            F.sum(
                F.col("o_orderpriority")
                .isin("1-URGENT", "2-HIGH")
                .cast("long")
            ).alias("f3_urgent_cnt")
        )
        .withColumn("f3_asof", F.col("release_dt"))
    )
    f4 = c.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("1992-01-01").cast("timestamp").alias("release_dt"),
        F.col("c_acctbal").alias("f4_acctbal"),
    ).withColumn("f4_asof", F.col("release_dt"))
    f5 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.add_months(F.trunc(F.col("l_shipdate").cast("date"), "month"), 1)
            .cast("timestamp")
            .alias("release_dt"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(25,2)"))
            .cast("double")
            .alias("f5_qty_sum")
        )
        .withColumn("f5_asof", F.col("release_dt"))
    )

    root = scratch_dir("stress_store")
    manager = FeatureStoreManager(spark, root)
    # five independent tables: overlapped writes (manager.save_many,
    # guide §2.6) — each write's straggler tail back-fills with the next
    # table's scan/agg instead of idling the cluster
    manager.save_many(
        [
            (
                frame,
                FeatureTableSpec(
                    name=name,
                    primary_keys=("custkey", "release_dt"),
                    timestamp_keys=("release_dt",),
                    description=f"stress-test feature table {name}",
                    source_tables=("orders", "lineitem", "customer"),
                ),
            )
            for name, frame in (
                ("fs_monthly_spend", f1),
                ("fs_monthly_orders", f2),
                ("fs_quarterly_priority", f3),
                ("fs_customer_static", f4),
                ("fs_monthly_quantity", f5),
            )
        ],
        mode="overwrite",
    )

    spine = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("label_id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("timestamp").alias("label_ts"),
    )
    training = create_training_set(
        manager,
        spine,
        [
            FeatureLookup(table="fs_monthly_spend", lookup_keys=("custkey",)),
            FeatureLookup(table="fs_monthly_orders", lookup_keys=("custkey",)),
            FeatureLookup(
                table="fs_quarterly_priority",
                lookup_keys=("custkey",),
                tolerance="INTERVAL 180 DAYS",
            ),
            FeatureLookup(table="fs_customer_static", lookup_keys=("custkey",)),
            FeatureLookup(table="fs_monthly_quantity", lookup_keys=("custkey",)),
        ],
        spine_time="label_ts",
    )
    return pit_leakage_audit(
        training,
        "label_ts",
        ["f1_asof", "f2_asof", "f3_asof", "f4_asof", "f5_asof"],
        embargo_seconds=86400,
    )


def _multibatch_ingest_oracle(
    n_batches: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    cap: int = 64,
) -> str:
    """SQL replay of N sequential ingest rounds: per round, the batch
    exact-dedups by content hash, drops batch-internal verified near-dup
    pairs (greedy min-id), drops docs flagged against the ACCUMULATED
    corpus (witness-capped band join), and appends the survivors. The
    corpus starts EMPTY (cold start — round 0 has no cross step)."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        MINHASH_P,
        minhash_params,
    )

    def ohash(expr, seed):
        return (
            f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 1, 15)) AS BIGINT)"
        )

    rows = num_hashes // bands
    base = f"({ohash('s', 0)}) % {MINHASH_P}"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * ({base}) + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def shingle_chain(src, pfx):
        return f"""{pfx}n AS MATERIALIZED (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM {src}
    ),
    {pfx}sh AS MATERIALIZED (
      SELECT doc_id,
             CASE
               WHEN len(t) >= 3 THEN list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' ')))
               WHEN len(t) > 0 AND norm <> '' THEN [norm]
               ELSE CAST([] AS VARCHAR[])
             END AS sh
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM {pfx}n)
    ),
    {pfx}sig AS MATERIALIZED (SELECT doc_id, {mins} FROM {pfx}sh),
    {pfx}band AS MATERIALIZED ({" UNION ALL ".join(
        f'''SELECT doc_id, {b} AS band,
            md5(concat_ws(',', {", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))})) AS band_key
            FROM {pfx}sig'''
        for b in range(bands)
    )})"""

    ctes = []
    for r in range(n_batches):
        p = f"r{r}"
        ctes.append(f"""{p}raw AS MATERIALIZED (
      SELECT DISTINCT {ohash('text', 'corpus')} AS doc_id, text
      FROM documents WHERE doc_id % {n_batches} = {r}
    )""")
        ctes.append(shingle_chain(f"{p}raw", f"{p}b"))
        ctes.append(f"""{p}cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {p}bband a JOIN {p}bband b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    {p}drop AS MATERIALIZED (
      SELECT DISTINCT c.id_b AS doc_id
      FROM {p}cand c
      JOIN {p}bsh x ON x.doc_id = c.id_a
      JOIN {p}bsh y ON y.doc_id = c.id_b
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}
    ),
    {p}keep0 AS MATERIALIZED (
      SELECT r.* FROM {p}raw r LEFT JOIN {p}drop d USING (doc_id)
      WHERE d.doc_id IS NULL
    )""")
        if r == 0:
            ctes.append(f"corpus1 AS MATERIALIZED (SELECT doc_id, text FROM {p}keep0)")
        else:
            ctes.append(f"""{p}allv AS MATERIALIZED (
      SELECT DISTINCT doc_id, text FROM (
        SELECT doc_id, text FROM {p}keep0
        UNION ALL SELECT doc_id, text FROM corpus{r}
      )
    )""")
            ctes.append(shingle_chain(f"{p}allv", f"{p}u"))
            ctes.append(f"""{p}wit AS MATERIALIZED (
      SELECT band, band_key, doc_id AS id_corpus,
             ROW_NUMBER() OVER (PARTITION BY band, band_key
                                ORDER BY doc_id) AS rn
      FROM {p}uband
      WHERE doc_id IN (SELECT doc_id FROM corpus{r})
    ),
    {p}xcand AS MATERIALIZED (
      SELECT DISTINCT b.doc_id AS id_batch, w.id_corpus
      FROM {p}uband b
      JOIN {p}wit w ON b.band = w.band AND b.band_key = w.band_key
      WHERE b.doc_id IN (SELECT doc_id FROM {p}keep0) AND w.rn <= {cap}
    ),
    {p}flagged AS MATERIALIZED (
      SELECT DISTINCT c.id_batch AS doc_id
      FROM {p}xcand c
      JOIN {p}ush x ON x.doc_id = c.id_batch
      JOIN {p}ush y ON y.doc_id = c.id_corpus
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}
    ),
    corpus{r + 1} AS MATERIALIZED (
      SELECT doc_id, text FROM corpus{r}
      UNION ALL
      SELECT k.doc_id, k.text FROM {p}keep0 k
      LEFT JOIN {p}flagged f USING (doc_id) WHERE f.doc_id IS NULL
    )""")
    return "WITH " + ",\n    ".join(ctes) + f"""
    SELECT doc_id, text FROM corpus{n_batches}
    """


@register("q_stream_ingest_multibatch", oracle=_multibatch_ingest_oracle())
def q_stream_ingest_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round incremental-corpus simulation (VERDICT r8 task 8):
    the documents table arrives as THREE sequential crawl drops
    (doc_id % 3), each drained by its own availableNow run of
    `stream_ingest_corpus_dedup` against the SAME checkpoint and the
    ACCUMULATED corpus — round 0 exercises the cold-start path (no
    corpus yet), rounds 1-2 the incremental path where the batch
    band-joins the standing corpus but the corpus never self-joins.
    Exactly the shape of a daily crawl pipeline: dedup cost per round is
    O(batch × matched buckets) regardless of corpus age. The oracle
    replays all three greedy rounds (content hash, batch-internal
    min-id near-dedup, witness-capped cross-corpus flagging, append)
    in SQL. Cluster-stability across rounds is asserted in
    `tests/test_streaming.py::test_multibatch_ingest_stability`."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        stream_ingest_corpus_dedup,
    )

    root = scratch_dir("stream_ingest_mb")
    inbox = os.path.join(root, "inbox")
    corpus = os.path.join(root, "corpus")
    ckpt = os.path.join(root, "ckpt")
    docs = load(spark, sf_dir, "documents")
    for r in range(3):
        # one new part file per round → one deterministic micro-batch;
        # the shared checkpoint skips files already ingested
        docs.filter(F.col("doc_id") % 3 == r).select("text").coalesce(
            1
        ).write.mode("append").json(inbox)
        q = stream_ingest_corpus_dedup(spark, inbox, corpus, ckpt)
        q.awaitTermination()
    return spark.read.parquet(corpus).select("doc_id", "text")


@register(
    "q_negative_samples",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    idx AS (
      SELECT p_partkey AS it,
             ROW_NUMBER() OVER (ORDER BY p_partkey ASC) - 1 AS i
      FROM (SELECT DISTINCT p_partkey FROM part)
    ),
    n AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT p_partkey FROM part)),
    users AS (SELECT DISTINCT u FROM pos),
    cand AS (
      SELECT u, CAST(s AS INT) AS slot,
             CAST(concat('0x', substr(md5(concat('neg:',
                  CAST(u AS VARCHAR), ':', CAST(s AS VARCHAR))), 1, 15))
               AS BIGINT) % n.n AS i
      FROM users CROSS JOIN (SELECT unnest(range(0, 20)) AS s) CROSS JOIN n
    ),
    drawn AS (SELECT c.u, c.slot, x.it FROM cand c JOIN idx x USING (i)),
    neg AS (
      SELECT d.u, d.it, MIN(d.slot) AS slot
      FROM drawn d
      WHERE NOT EXISTS (SELECT 1 FROM pos p WHERE p.u = d.u AND p.it = d.it)
      GROUP BY d.u, d.it
    ),
    ranked AS (
      SELECT u, it, slot,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY slot ASC) AS rn
      FROM neg
    )
    SELECT u AS o_custkey, it AS l_partkey, CAST(slot AS INT) AS slot
    FROM ranked WHERE rn <= 5
    """,
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    5 not-purchased parts per customer, drawn by hash-indexed slots
    against the positionally-ranked part dimension (candidates O(U·k) —
    never a customer×part cartesian), positives removed by anti-join,
    re-draws collapsed to their first slot. The oracle replays the
    portable hash, the modulo draw, the anti-join and the slot ranking."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        negative_samples,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_custkey", "l_partkey"
    )
    p = load(spark, sf_dir, "part").select("p_partkey")
    return negative_samples(
        inter,
        "o_custkey",
        "l_partkey",
        p.select(F.col("p_partkey").alias("l_partkey")),
        k=5,
        seed="neg",
        oversample=4,
    )


def _stream_cms_oracle(depth: int = 4, width: int = 8) -> str:
    def h(i):
        return (
            f"CAST(concat('0x', substr(md5(concat('0:{i}:', source)), 1, 15)) "
            f"AS BIGINT) % {width}"
        )

    cell_union = "\n      UNION ALL ".join(
        f"SELECT source, {i} AS row_idx, CAST({h(i)} AS INT) AS bucket FROM src"
        for i in range(depth)
    )
    return f"""
    WITH src AS (SELECT source FROM documents WHERE source IS NOT NULL),
    hashed AS (
      {cell_union}
    ),
    cells AS (SELECT row_idx, bucket, COUNT(*) AS n FROM hashed GROUP BY 1, 2),
    exact AS (SELECT source, COUNT(*) AS exact_count FROM src GROUP BY 1),
    probes AS (SELECT DISTINCT source, row_idx, bucket FROM hashed),
    est AS (
      SELECT p.source, MIN(COALESCE(c.n, 0)) AS cms_count
      FROM probes p LEFT JOIN cells c USING (row_idx, bucket)
      GROUP BY p.source
    )
    SELECT e.source,
           CAST(x.exact_count AS BIGINT) AS exact_count,
           CAST(e.cms_count AS BIGINT) AS cms_count,
           e.cms_count >= x.exact_count AS is_overestimate
    FROM est e JOIN exact x USING (source)
    """


@register("q_stream_cms", oracle=_stream_cms_oracle())
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min accumulation: the documents table arrives as
    THREE sequential crawl drops; each micro-batch's 4×8 cell counts
    MERGE into the standing sketch by cell-sum (CMS mergeability), so
    the on-disk state never exceeds 32 rows while summarizing the whole
    stream. The final sketch is point-queried per source and joined to
    exact counts — and because merge is exact, the streamed sketch must
    equal the BATCH sketch over all data, which is exactly what the
    oracle computes (is_overestimate certifies the one-sided error on
    every key)."""
    from databricks_demo_feature_store_spark.operators.sketches import cms_estimate
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_count_min_sketch,
        stream_count_min,
    )

    root = scratch_dir("stream_cms")
    inbox = os.path.join(root, "inbox")
    sketch = os.path.join(root, "sketch")
    ckpt = os.path.join(root, "ckpt")
    docs = load(spark, sf_dir, "documents")
    for r in range(3):
        docs.filter(F.col("doc_id") % 3 == r).select("source").coalesce(
            1
        ).write.mode("append").json(inbox)
        q = stream_count_min(
            spark, inbox, sketch, ckpt,
            col="source", schema="source string", depth=4, width=8,
        )
        q.awaitTermination()
    sk = read_count_min_sketch(spark, sketch)
    # exact counts double as the distinct key list (see q_cms_frequencies)
    exact = (
        docs.where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return cms_estimate(sk, exact, "source", depth=4, width=8).select(
        "source",
        F.col("exact_count").cast("long").alias("exact_count"),
        "cms_count",
        (F.col("cms_count") >= F.col("exact_count")).alias("is_overestimate"),
    )


@register(
    "q_training_set_refresh",
    oracle="""
    WITH fnew AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                  + INTERVAL 1 MONTH AS TIMESTAMP) AS release_dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend,
             COUNT(*) AS order_cnt
      FROM orders WHERE o_orderkey % 13 <> 0
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT o_orderkey AS label_id, o_custkey AS custkey,
             CAST(o_orderdate AS TIMESTAMP) AS label_ts
      FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT s.custkey, s.label_ts, s.label_id,
           f.total_spend, f.order_cnt
    FROM spine s
    ASOF LEFT JOIN fnew f
      ON s.custkey = f.custkey AND s.label_ts >= f.release_dt
    """,
)
def q_training_set_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental training-set refresh proven equal to full reassembly:
    v2 of the monthly-spend feature table voids every 13th order (a
    late-arriving correction touching ~half the customers' histories);
    refresh_training_set diffs the two versions (exceptAll both ways),
    recomputes the PIT lookup ONLY for spine rows of changed customers,
    and keeps every other row of the v1 training set untouched. The
    oracle is the FULL reassembly against v2 — the driver row certifies
    the per-entity decomposition instead of assuming it."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        refresh_training_set,
    )
    from databricks_demo_feature_store_spark.operators.joins import (
        point_in_time_join,
    )

    o = load(spark, sf_dir, "orders")

    def monthly(src):
        return src.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.add_months(F.trunc(F.col("o_orderdate").cast("date"), "month"), 1)
            .cast("timestamp")
            .alias("release_dt"),
        ).agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
            .cast("double")
            .alias("total_spend"),
            F.count(F.lit(1)).alias("order_cnt"),
        )

    f_old = monthly(o)
    f_new = monthly(o.where(F.col("o_orderkey") % 13 != 0))
    spine = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("label_id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("timestamp").alias("label_ts"),
    )
    old_training = point_in_time_join(
        spine, f_old, keys=["custkey"], spine_time="label_ts",
        feature_time="release_dt",
    )
    return refresh_training_set(
        spine,
        old_training,
        f_old,
        f_new,
        keys=["custkey"],
        spine_time="label_ts",
        feature_time="release_dt",
    )


@register(
    "q_store_lineage",
    oracle="""
    WITH RECURSIVE e(src, dst) AS (
      VALUES ('orders', 't_monthly'),
             ('t_monthly', 't_features'),
             ('customer', 't_features'),
             ('t_features', 't_training')
    ),
    r(src, dst, depth) AS (
      SELECT src, dst, 1 FROM e
      UNION ALL
      SELECT r.src, e.dst, r.depth + 1
      FROM r JOIN e ON r.dst = e.src WHERE r.depth < 10
    )
    SELECT src, dst, CAST(MIN(depth) AS INT) AS depth
    FROM r GROUP BY src, dst
    """,
)
def q_store_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store lineage impact analysis end-to-end: three feature
    tables register through the manager with declared source tables
    (raw → monthly → features → training, plus a second raw parent);
    store_lineage reads the registry edges and transitive_closure
    returns every (ancestor, descendant) pair with its minimum hop
    depth — "what moves if `orders` changes". The closure is the
    checkpointed frontier-BFS (anti-join pruning, cycle-safe); the
    oracle replays the declared edges with a recursive CTE."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        store_lineage,
    )
    from databricks_demo_feature_store_spark.operators.graph import (
        transitive_closure,
    )

    root = scratch_dir("lineage_store")
    manager = FeatureStoreManager(spark, root)
    tiny = spark.range(3).select(
        F.col("id").alias("k"), F.lit("2024-01-01").cast("timestamp").alias("ts")
    )
    for name, sources in (
        ("t_monthly", ("orders",)),
        ("t_features", ("t_monthly", "customer")),
        ("t_training", ("t_features",)),
    ):
        manager.save(
            tiny,
            FeatureTableSpec(
                name=name,
                primary_keys=("k", "ts"),
                timestamp_keys=("ts",),
                source_tables=sources,
            ),
            mode="overwrite",
        )
    edges = store_lineage(manager)
    return transitive_closure(edges).select(
        "src", "dst", F.col("depth").cast("int").alias("depth")
    )


@register(
    "q_store_doctor",
    oracle="""
    WITH clean AS (
      SELECT o_custkey AS ck,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS rd,
             SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS spend
      FROM orders GROUP BY 1, 2
    ),
    dirty AS (
      SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL ELSE o_custkey END AS ck,
             CAST(o_orderdate AS TIMESTAMP) AS ts
      FROM orders
    ),
    clean_groups AS (SELECT ck, rd, COUNT(*) AS n FROM clean GROUP BY ck, rd),
    clean_row AS (
      SELECT 't_clean' AS "table",
             CAST((SELECT SUM(n) FROM clean_groups) AS BIGINT) AS n_rows,
             CAST((SELECT SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)
                   FROM clean_groups) AS BIGINT) AS n_pk_violations,
             CAST(0 AS BIGINT) AS n_null_pk,
             (SELECT MAX(rd) FROM clean) AS max_ts
    ),
    dirty_groups AS (SELECT ck, COUNT(*) AS n FROM dirty GROUP BY ck),
    dirty_row AS (
      SELECT 't_dirty' AS "table",
             CAST((SELECT COUNT(*) FROM dirty) AS BIGINT) AS n_rows,
             CAST((SELECT SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) FROM dirty_groups) AS BIGINT) AS n_pk_violations,
             CAST((SELECT COUNT(*) FROM dirty WHERE ck IS NULL) AS BIGINT) AS n_null_pk,
             (SELECT MAX(ts) FROM dirty) AS max_ts
    )
    SELECT * FROM clean_row
    UNION ALL
    SELECT * FROM dirty_row
    """,
)
def q_store_doctor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-wide integrity doctor: two registered tables — a clean
    monthly-spend table whose (entity, month) key is unique by
    construction, and a deliberately dirty per-order table keyed on the
    customer alone (massive PK-group violations) with every 997th key
    NULLed — audited in one pass per table for the uniqueness contract
    every PIT lookup and merge-upsert assumes. The oracle replays both
    constructions and every audit aggregate."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        store_doctor,
    )

    o = load(spark, sf_dir, "orders")
    clean = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.date_trunc("month", F.col("o_orderdate")).alias("rd"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("spend"))
    dirty = o.select(
        F.when(F.col("o_orderkey") % 997 != 0, F.col("o_custkey")).alias("ck"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    root = scratch_dir("doctor_store")
    manager = FeatureStoreManager(spark, root)
    manager.save_many(
        [
            (
                clean,
                FeatureTableSpec(
                    name="t_clean", primary_keys=("ck", "rd"), timestamp_keys=("rd",)
                ),
            ),
            (
                dirty,
                FeatureTableSpec(
                    name="t_dirty", primary_keys=("ck",), timestamp_keys=("ts",)
                ),
            ),
        ],
        mode="overwrite",
    )
    return store_doctor(manager)


@register(
    "q_stream_cdc_apply",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS c_custkey, o_orderkey AS seq,
             CASE WHEN o_orderkey % 20 = 0 THEN 'D' ELSE 'U' END AS op,
             concat('cust_', CAST(o_orderkey AS VARCHAR)) AS c_name,
             CAST(o_orderkey % 25 AS INT) AS c_nationkey,
             o_totalprice AS c_acctbal,
             o_orderpriority AS c_mktsegment
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    final AS (
      SELECT * FROM (
        SELECT c_custkey, op, c_name, c_nationkey, c_acctbal, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment
    FROM customer s ANTI JOIN final f ON s.c_custkey = f.c_custkey
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM final WHERE op <> 'D'
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO: the q_cdc_apply_changes change set arrives
    as TWO interleaved crawl drops (split by orderkey parity, so the
    second batch carries sequences OLDER than ones already applied —
    out-of-order ACROSS batches for real), maintained into a snapshot
    table through atomic versioned commits with per-row sequence
    watermarks and delete tombstones. The final table must equal the
    one-shot batch apply over ALL changes — exactly what the oracle
    computes; a stale update can never overwrite newer state, and a
    delete holds against late stale updates."""
    from databricks_demo_feature_store_spark.queries import load as _load
    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdc_table,
        read_cdc_table,
        stream_apply_changes,
    )

    root = scratch_dir("stream_cdc")
    inbox = os.path.join(root, "inbox")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(inbox, exist_ok=True)

    snapshot = _load(spark, sf_dir, "customer")
    init_cdc_table(snapshot, table)
    o = _load(spark, sf_dir, "orders")
    changes = o.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.concat(F.lit("cust_"), F.col("o_orderkey").cast("string")).alias("c_name"),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
    )
    schema = (
        "c_custkey long, seq long, op string, c_name string, "
        "c_nationkey int, c_acctbal double, c_mktsegment string"
    )
    # two interleaved drops: drop 2's sequences are NOT all newer than
    # drop 1's — the cross-batch out-of-order case the watermark handles
    for r, parity in enumerate((0, 1)):
        changes.where((F.col("seq") / 5) % 2 == parity).coalesce(1).write.mode(
            "append"
        ).json(inbox)
        q = stream_apply_changes(
            spark, inbox, table, ckpt,
            keys=["c_custkey"], sequence_col="seq", schema=schema,
        )
        q.awaitTermination()
    return read_cdc_table(spark, table).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "q_training_set_windowed",
    oracle="""
    WITH feats AS (
      SELECT o_custkey AS custkey,
             CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                  + INTERVAL 1 MONTH AS TIMESTAMP) AS release_dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend
      FROM orders GROUP BY 1, 2
    ),
    spine AS (
      SELECT o_orderkey AS label_id, o_custkey AS custkey,
             CAST(o_orderdate AS TIMESTAMP) AS label_ts
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    pit AS (
      SELECT s.custkey, s.label_ts, s.label_id, f.total_spend
      FROM spine s
      ASOF LEFT JOIN feats f
        ON s.custkey = f.custkey AND s.label_ts >= f.release_dt
    )
    SELECT p.custkey, p.label_ts, p.label_id, p.total_spend,
           CAST(COALESCE(SUM(CASE WHEN e.o_orderdate >= p.label_ts - INTERVAL 90 DAY
                 THEN CAST(e.o_totalprice AS DECIMAL(25,2)) END), 0) AS DOUBLE) AS spend_90d,
           COUNT(CASE WHEN e.o_orderdate >= p.label_ts - INTERVAL 90 DAY THEN 1 END) AS n_orders_90d,
           CAST(COALESCE(SUM(CASE WHEN e.o_orderdate >= p.label_ts - INTERVAL 365 DAY
                 THEN CAST(e.o_totalprice AS DECIMAL(25,2)) END), 0) AS DOUBLE) AS spend_365d,
           COUNT(CASE WHEN e.o_orderdate >= p.label_ts - INTERVAL 365 DAY THEN 1 END) AS n_orders_365d
    FROM pit p LEFT JOIN orders e
      ON e.o_custkey = p.custkey
     AND e.o_orderdate >= p.label_ts - INTERVAL 365 DAY
     AND e.o_orderdate <  p.label_ts
    GROUP BY p.custkey, p.label_ts, p.label_id, p.total_spend
    """,
)
def q_training_set_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set assembly mixing BOTH lookup kinds through ONE
    create_training_set call: an as-of FeatureLookup (latest monthly
    spend at each label instant) plus a WindowLookup (exact trailing
    90-day and 365-day spend/count anchored at the same instants) — the
    Feast/Tecton feature-view surface end-to-end through the manager.
    The oracle is a DuckDB ASOF join feeding the widest-range join with
    per-window conditional sums."""
    from databricks_demo_feature_store_spark.featurestore.training import (
        FeatureLookup,
        WindowLookup,
        create_training_set,
    )

    root = scratch_dir("ts_windowed")
    manager = FeatureStoreManager(spark, root)
    o = load(spark, sf_dir, "orders")
    feats = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.add_months(F.trunc(F.col("o_orderdate").cast("date"), "month"), 1)
            .cast("timestamp")
            .alias("release_dt"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
            .cast("double")
            .alias("total_spend")
        )
    )
    events = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("event_ts"),
        "o_totalprice",
    )
    manager.save_many(
        [
            (
                feats,
                FeatureTableSpec(
                    name="monthly_spend",
                    primary_keys=("custkey", "release_dt"),
                    timestamp_keys=("release_dt",),
                ),
            ),
            (
                events,
                FeatureTableSpec(
                    name="order_events",
                    primary_keys=("custkey", "event_ts"),
                    timestamp_keys=("event_ts",),
                ),
            ),
        ],
        mode="overwrite",
    )
    spine = o.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("label_id"),
        F.col("o_orderdate").cast("timestamp").alias("label_ts"),
    )
    out = create_training_set(
        manager,
        spine,
        [
            FeatureLookup(table="monthly_spend", lookup_keys=("custkey",)),
            WindowLookup(
                table="order_events",
                lookup_keys=("custkey",),
                windows=(("90d", "INTERVAL 90 DAYS"), ("365d", "INTERVAL 365 DAYS")),
                sum_cols=(("spend", "o_totalprice"),),
                count_col="n_orders",
            ),
        ],
        spine_time="label_ts",
    )
    return out.select(
        "custkey", "label_ts", "label_id", "total_spend",
        "spend_90d", F.col("n_orders_90d"), "spend_365d", F.col("n_orders_365d"),
    )


@register(
    "q_stream_trailing_features",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    spine AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM p
    )
    SELECT s.user_id, s.day,
           CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(25,2))), 0)
                AS DOUBLE) AS spend_7d,
           COUNT(e.value) AS n_7d
    FROM spine s LEFT JOIN p e
      ON e.user_id = s.user_id
     AND e.ts >= s.day - INTERVAL 7 DAY
     AND e.ts <  s.day
    GROUP BY s.user_id, s.day
    """,
)
def q_stream_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE trailing-window feature maintenance — the Feast/Tecton
    freshness story, composing the round-10 flagships: purchase events
    arrive as THREE sequential drops; each micro-batch folds into
    per-(user, day) moment state via the `featurestore/incremental.py`
    monoid merge (O(batch), exactly-once versioned commits — never an
    event-history rescan); trailing 7-day spend/count features are then
    SERVED from the bucket state through the one-shuffle anchor-carry
    core. Because bucket state is a commutative monoid and the spine is
    day-aligned, the streamed-then-served features are value-identical
    to a batch recompute over raw events — which is exactly what the
    oracle's range join computes."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_features_from_state,
    )

    root = scratch_dir("stream_trailing")
    inbox = os.path.join(root, "inbox")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    for r in range(3):
        purchases.filter(F.col("event_id") % 3 == r).drop("event_id").coalesce(
            1
        ).write.mode("append").json(inbox)
        q = stream_trailing_state(
            spark, inbox, state, ckpt,
            keys=["user_id"], event_time="ts", value_col="value",
            schema="user_id bigint, ts timestamp, value double",
        )
        q.awaitTermination()
    spine = purchases.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    return trailing_features_from_state(
        read_trailing_state(spark, state),
        spine,
        keys=["user_id"],
        spine_time="day",
        window_expr="INTERVAL 7 DAYS",
        sum_col="spend_7d",
        count_col="n_7d",
    )


def _hist_quantile_sql(prob: float, lo: float, hi: float, nbins: int) -> str:
    """Emit the histogram-quantile estimator as SQL over columns
    h0..h{nbins-1} and n — the same first-crossing + linear
    interpolation `quantile_from_hist` computes, literal-for-literal
    (same Python floats rendered into both plans)."""
    w = (float(hi) - float(lo)) / int(nbins)
    target = f"CEIL({prob!r} * n)"
    branches = []
    cum = "0"
    for i in range(int(nbins)):
        cum_next = f"({cum} + h{i})"
        left = float(lo) + i * w
        branches.append(
            f"WHEN {cum_next} >= {target} AND h{i} > 0 "
            f"THEN {left!r} + ({target} - {cum}) / h{i} * {w!r}"
        )
        cum = cum_next
    return "CASE WHEN n = 0 THEN NULL " + " ".join(branches) + " ELSE NULL END"


_QLO, _QHI, _QBINS = 0.0, 400.0, 16


def _stream_quantile_oracle() -> str:
    wbin = (_QHI - _QLO) / _QBINS
    hsel = ",\n             ".join(
        f"CAST(SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS DOUBLE) AS h{i}"
        for i in range(_QBINS)
    )
    return f"""
    WITH p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    spine AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM p
    ),
    joined AS (
      SELECT s.user_id, s.day,
             CASE WHEN e.value IS NULL THEN NULL
                  ELSE LEAST(GREATEST(CAST(FLOOR((e.value - {_QLO!r}) / {wbin!r})
                                           AS INT), 0), {_QBINS - 1}) END AS b
      FROM spine s LEFT JOIN p e
        ON e.user_id = s.user_id
       AND e.ts >= s.day - INTERVAL 7 DAY
       AND e.ts <  s.day
    ),
    hist AS (
      SELECT user_id, day,
             CAST(COUNT(b) AS DOUBLE) AS n,
             {hsel}
      FROM joined GROUP BY user_id, day
    )
    SELECT user_id, day,
           {oracle_dround(_hist_quantile_sql(0.5, _QLO, _QHI, _QBINS), 6)} AS p50,
           {oracle_dround(_hist_quantile_sql(0.9, _QLO, _QHI, _QBINS), 6)} AS p90
    FROM hist
    """


@register("q_stream_trailing_quantile", oracle=_stream_quantile_oracle())
def q_stream_trailing_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-type trailing features served ONLINE from streamed
    histogram state — the aggregation feature type (trailing p50/p90
    spend) that moment state cannot express: purchase events arrive as
    three drops, each micro-batch folds per-(user, day) fixed-bin
    counts into the versioned state next to the moments (bin counts are
    a monoid — streamed state ≡ one batch histogram, bit-for-bit), and
    the 16 bins then ride the ONE anchor-carry shuffle as conditional
    measures to serve each day's trailing-7d p50/p90. The estimator is
    exact GIVEN the bins (error ≤ one bin width vs the true quantile),
    which is what makes a streaming quantile oracle-checkable: the
    oracle recomputes bins from raw events with a range join and
    applies the literal same interpolation."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        read_trailing_state,
        stream_trailing_state,
        trailing_quantile_from_state,
    )

    root = scratch_dir("stream_trailing_q")
    inbox = os.path.join(root, "inbox")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    for r in range(3):
        purchases.filter(F.col("event_id") % 3 == r).drop("event_id").coalesce(
            1
        ).write.mode("append").json(inbox)
        stream_trailing_state(
            spark, inbox, state, ckpt,
            keys=["user_id"], event_time="ts", value_col="value",
            schema="user_id bigint, ts timestamp, value double",
            hist=(_QLO, _QHI, _QBINS),
        ).awaitTermination()
    spine = purchases.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    return trailing_quantile_from_state(
        read_trailing_state(spark, state),
        spine,
        keys=["user_id"],
        spine_time="day",
        window_expr="INTERVAL 7 DAYS",
        probs={"p50": 0.5, "p90": 0.9},
        lo=_QLO, hi=_QHI, nbins=_QBINS,
    )


@register(
    "q_stream_late_metrics",
    oracle="""
    WITH r AS (
      SELECT ts,
             CASE
               WHEN EXTRACT(day FROM ts) <= 12 AND event_id % 2 = 0 THEN 0
               WHEN (EXTRACT(day FROM ts) BETWEEN 13 AND 22 AND event_id % 2 = 0)
                 OR (EXTRACT(day FROM ts) <= 12 AND event_id % 2 = 1) THEN 1
               ELSE 2
             END AS round
      FROM events
    ),
    wm AS (
      SELECT 0 AS round, TIMESTAMP '1970-01-01 00:00:00' AS watermark
      UNION ALL
      SELECT 1, date_trunc('milliseconds',
                 (SELECT MAX(ts) FROM r WHERE round <= 0)) - INTERVAL 2 DAY
      UNION ALL
      SELECT 2, date_trunc('milliseconds',
                 (SELECT MAX(ts) FROM r WHERE round <= 1)) - INTERVAL 2 DAY
    )
    SELECT r.round,
           COUNT(*) AS input_rows,
           CAST(SUM(CASE WHEN r.ts < w.watermark THEN 1 ELSE 0 END)
                  AS BIGINT) AS late_dropped,
           w.watermark AS watermark,
           date_trunc('milliseconds', MAX(r.ts)) AS max_event
    FROM r JOIN wm w USING (round)
    GROUP BY r.round, w.watermark
    ORDER BY r.round
    """,
)
def q_stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming late-data / watermark observability (streaming/ops.py
    watermark_progress_metrics): the events table arrives as three
    sequential drops against one checkpoint — round 1 and round 2 each
    carry a straggler tail (the odd-id half of the previous rounds'
    days, arriving one round late). Each availableNow run drains one
    drop, runs it through a watermarked stateful operator whose state
    rows ARE events (dedup on the unique event_id — a windowed agg would
    account post-partial-agg rows, i.e. windows, not events), and
    harvests the engine's own per-batch StreamingQueryProgress: events
    DROPPED for arriving behind the watermark, the batch-start watermark
    that decided the drops, and the max observed event time. The oracle
    replays the engine's exact semantics in SQL (verified empirically:
    drop iff event time < batch-start watermark; watermark =
    ms-truncated running max event time - delay) — equality
    proves the published metrics are the true late-data account, not an
    approximation. At scale this is the monitor a 100-TB ingestion
    pipeline alarms on: silently dropped late rows are data loss.
    """
    import datetime as _dt

    from databricks_demo_feature_store_spark.streaming.ops import (
        drain_batches,
        scaled_stream_partitions,
        watermark_progress_metrics,
    )

    root = scratch_dir("stream_late")
    inbox = os.path.join(root, "inbox")
    sink_dir = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    d = F.dayofmonth("ts")
    eid = F.col("event_id")
    rounds = [
        (d <= 12) & (eid % 2 == 0),
        (d.between(13, 22) & (eid % 2 == 0)) | ((d <= 12) & (eid % 2 == 1)),
        ((d >= 23) & (eid % 2 == 0)) | ((d >= 13) & (eid % 2 == 1)),
    ]

    def write_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    metrics: list[tuple] = []
    stream = None
    for i, pred in enumerate(rounds):
        ev.filter(pred).coalesce(1).write.mode("append").parquet(inbox)
        if stream is None:
            schema = spark.read.parquet(inbox).schema
            stream = spark.readStream.schema(schema).parquet(inbox + "/*.parquet")
            # state rows == events (watermarked dedup on the unique id), so
            # numRowsDroppedByWatermark counts dropped EVENTS exactly; a
            # windowed agg would count post-partial-agg rows (≈ windows),
            # which depends on input partitioning
            deduped = stream.withWatermark("ts", "2 days").dropDuplicatesWithinWatermark(
                ["event_id"]
            )
        # state partitions sized to the backlog, not the session's batch
        # shuffle partitions (streaming/ops.py scaled_stream_partitions);
        # round 1 pins the count in the checkpoint, later rounds reuse it
        with scaled_stream_partitions(spark, inbox):
            q = drain_batches(deduped, ckpt, write_sink)
            q.awaitTermination()
        batches = [
            b for b in watermark_progress_metrics(q) if b["input_rows"] > 0
        ]
        parse = lambda s: _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
        metrics.append(
            (
                i,
                sum(b["input_rows"] for b in batches),
                sum(b["late_dropped"] for b in batches),
                parse(batches[0]["watermark"]),
                parse(max(b["max_event"] for b in batches)),
            )
        )
    return spark.createDataFrame(
        metrics,
        "round int, input_rows bigint, late_dropped bigint, "
        "watermark timestamp, max_event timestamp",
    ).orderBy("round")


from databricks_demo_feature_store_spark.queries import _dsum, _o_dsum  # noqa: E402


@register(
    "q_stream_cdf_ivm",
    oracle=f"""
    WITH survivors AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderstatus <> 'P'
        AND o_orderkey % 13 <> 0
    ),
    final_fact AS (
      SELECT * FROM survivors
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {_o_dsum('ff.o_totalprice', 2)} AS sum_price
    FROM final_fact ff JOIN customer c ON ff.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def q_stream_cdf_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDF → incremental materialized view (streaming/ops.py
    stream_cdf_ivm) — the full Delta Live Tables pattern run
    CONTINUOUSLY: every VersionedTable commit writes an atomic marker
    into its ``_commits/`` log (the _delta_log twin), a Structured
    Streaming file source turns those markers into micro-batch
    triggers, and each batch folds ONE span-shaped change feed
    (changes_between(applied, max)) into the materialized
    orders⋈customer view through the broadcast-anti-join keyed refresh.
    Two commits stream through two separate availableNow drains (real
    checkpoint resumption between them): commit 1 re-prices urgent
    orders ×2 and cancels pending ones (updates + deletes), commit 2
    drops every 13th order and lands the 1998 arrivals (deletes +
    inserts). The oracle recomputes the final join from scratch in
    plain SQL — equality proves streamed-IVM ≡ full recompute; the
    batch-IVM ≡ streamed-IVM leg is pinned in
    tests/test_streaming_cdf.py."""
    from databricks_demo_feature_store_spark.queries import load as _load
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable
    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdf_view,
        read_cdf_view,
        stream_cdf_ivm,
    )

    cutoff = F.lit("1998-01-01").cast("timestamp")
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderdate", "o_orderpriority",
    )
    fact_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    f0 = o.filter(F.col("o_orderdate") < cutoff).select(fact_cols)
    f1 = (
        o.filter((F.col("o_orderdate") < cutoff) & (F.col("o_orderstatus") != "P"))
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        .select(fact_cols)
    )
    f2 = f1.filter(F.col("o_orderkey") % 13 != 0).unionByName(
        o.filter(F.col("o_orderdate") >= cutoff).select(fact_cols)
    )

    root = scratch_dir("stream_cdf_ivm")
    vt = VersionedTable(spark, os.path.join(root, "orders_v"))
    view_path = os.path.join(root, "view")
    ckpt = os.path.join(root, "ckpt")

    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    vt.save(f0, operation="WRITE")
    init_cdf_view(
        vt.read(0).join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey")),
        view_path,
        source_version=0,
    )
    # two commits, two separate stream drains — checkpointed offsets
    # carry across, each drain folds exactly the new span
    for commit in (f1, f2):
        vt.save(commit, operation="OVERWRITE")
        q = stream_cdf_ivm(
            spark, vt, view_path, ckpt,
            key="o_orderkey", other=dim, on=("o_custkey", "c_custkey"),
        )
        q.awaitTermination()

    return (
        read_cdf_view(spark, view_path)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("segment")
    )


@register(
    "q_stream_cdf_agg_ivm",
    oracle="""
    WITH survivors AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderstatus <> 'P'
        AND o_orderkey % 13 <> 0
    ),
    final_fact AS (
      SELECT * FROM survivors
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_custkey AS custkey,
           COUNT(o_totalprice) AS spend_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
             / CAST(COUNT(o_totalprice) AS DOUBLE) AS spend_mean,
           SQRT(GREATEST(
             (CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
              - (CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                 * CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE))
                / CAST(COUNT(o_totalprice) AS DOUBLE))
             / CAST(COUNT(o_totalprice) AS DOUBLE), 0.0)) AS spend_std
    FROM final_fact
    GROUP BY o_custkey
    """,
)
def q_stream_cdf_agg_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDF → incremental AGGREGATE view (streaming/ops.py
    stream_cdf_agg_ivm) — the aggregate-state twin of q_stream_cdf_ivm,
    completing the streamed DLT pattern for both materialized-view
    kinds: per-customer spend moments bootstrapped at v0 are folded
    forward by the commit-marker stream, two commits through two
    separate availableNow drains (checkpoint resumption between them).
    Commit 1 cancels pending orders and re-prices urgent ones ×2
    (pre-images subtract exactly — DECIMAL cells), commit 2 drops every
    13th order and lands the 1998 arrivals. The streamed state is
    finalized to count/sum/mean/std and must equal the oracle's full
    recompute over the post-commit table; streamed ≡ batch
    refresh_aggregate_state_from_cdf is pinned in
    tests/test_streaming_cdf.py."""
    from databricks_demo_feature_store_spark.featurestore.incremental import (
        aggregate_state,
        finalize_aggregates,
    )
    from databricks_demo_feature_store_spark.queries import load as _load
    from databricks_demo_feature_store_spark.sources.versioned import VersionedTable
    from databricks_demo_feature_store_spark.streaming.ops import (
        init_cdf_view,
        read_cdf_view,
        stream_cdf_agg_ivm,
    )

    cutoff = F.lit("1998-01-01").cast("timestamp")
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderdate", "o_orderpriority",
    )
    fact_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    f0 = o.filter(F.col("o_orderdate") < cutoff).select(fact_cols)
    f1 = (
        o.filter((F.col("o_orderdate") < cutoff) & (F.col("o_orderstatus") != "P"))
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
        )
        .select(fact_cols)
    )
    f2 = f1.filter(F.col("o_orderkey") % 13 != 0).unionByName(
        o.filter(F.col("o_orderdate") >= cutoff).select(fact_cols)
    )

    root = scratch_dir("stream_cdf_agg")
    vt = VersionedTable(spark, os.path.join(root, "orders_v"))
    state_path = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")

    vt.save(f0, operation="WRITE")
    init_cdf_view(
        aggregate_state(vt.read(0), keys=["o_custkey"], value_col="o_totalprice"),
        state_path,
        source_version=0,
    )
    for commit in (f1, f2):
        vt.save(commit, operation="OVERWRITE")
        q = stream_cdf_agg_ivm(
            spark, vt, state_path, ckpt,
            id_keys=["o_orderkey"], agg_keys=["o_custkey"],
            value_col="o_totalprice",
        )
        q.awaitTermination()

    state = read_cdf_view(spark, state_path)
    return finalize_aggregates(
        state, keys=["o_custkey"], prefix="spend"
    ).select(
        F.col("o_custkey").alias("custkey"),
        "spend_count", "spend_sum", "spend_mean", "spend_std",
    )


@register(
    "q_stream_ohlc",
    oracle="""
    WITH ticks AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS bar_date,
             ts, event_id, value
      FROM events
      WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, bar_date
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, bar_date
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM ticks
    )
    SELECT user_id, bar_date,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
             AS mean_value
    FROM ranked
    GROUP BY user_id, bar_date
    ORDER BY user_id, bar_date
    """,
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars through the REAL streaming engine
    (streaming/ops.py ohlc_bars_stream): file source → watermarked
    daily-window aggregation with struct-ordered min_by/max_by
    open/close state → availableNow replay → memory sink. The (ts,
    event_id) total order and the DECIMAL volume make the streamed bars
    bit-identical to the batch operator's regardless of micro-batch
    order — the same oracle gates both q_ohlc_bars and this query."""
    from databricks_demo_feature_store_spark.streaming.ops import (
        ohlc_bars_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    bars = run_available_now(ohlc_bars_stream(stream))
    return bars.select(
        "user_id",
        F.col("bar_start").cast("date").alias("bar_date"),
        "open_value", "high_value", "low_value", "close_value",
        "n_ticks", "sum_value", "mean_value",
    ).orderBy("user_id", "bar_date")
