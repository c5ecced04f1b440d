"""Reference-native source adapters: run the feature pipelines directly
off the reference's own table schemas (``demo_db.clientes`` / ``pagos`` /
``transacciones`` — the schemas the seeded generator reproduces, see
``sources/datagen.py`` and FIXTURES.md), not just the TPC-H-ish testdata
mapping.

This is the switch-over surface: a reference user points these adapters
at their existing tables and gets the same standardized feature output
the notebooks produce — ``fs_cus_payment_behavior`` via
:func:`payment_features_from_pagos`, ``fs_cus_demographic`` via
:func:`demographic_features_from_clientes`, ``fs_cus_transactions`` via
:func:`transaction_features_from_transacciones`,
``fs_cus_credit_risk`` via :func:`credit_features_from_buro`
(``demo_db.buro_credito``), ``fs_cus_holding_products`` via
:func:`holdings_features_from_productos` (``demo_db.productos``) —
all FIVE reference feature notebooks have native-schema drop-in paths.

Each adapter is (reference-schema ingestion projection) + (a declarative
Pipeline over the runner's allowlisted ops); the heavy lifting — windows,
aggregation, standardization — is the same code the TPC-H twins run, so
the oracle-gated verification transfers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.operators import month_spine
from databricks_demo_feature_store_spark.pipelines.payment_behavior_features import (
    PAYMENT_BEHAVIOR_PIPELINE,
)
from databricks_demo_feature_store_spark.pipelines.runner import Pipeline
from databricks_demo_feature_store_spark.sources.datagen import pagos_to_payment_events


def payment_features_from_pagos(pagos: DataFrame) -> DataFrame:
    """``fs_cus_payment_behavior`` on the native ``pagos`` schema
    (reference ingestion scan ``fs_cus_payment_behavior.py:57-96``)."""
    return PAYMENT_BEHAVIOR_PIPELINE.run(pagos_to_payment_events(pagos))


#: fs_cus_demographic on clientes: spine × entities → tenure → segment
#: grouping → indicator flags → cdmg_ standardized output
#: (fs_cus_demographic.py:64-113, 176-193, 234-240, 374-378)
DEMOGRAPHIC_CLIENTES_STEPS = [
    {"op": "with_columns", "params": {"expressions": {
        "tenure_months": "CAST(months_between(release_dt, trunc(first_month, 'MM'), true) AS INT)"}}},
    {"op": "categorize", "params": {
        "column": "segmento_cliente", "new_column": "segment_group",
        "mapping": {
            "affluent": ["ELITE", "PREMIUM"],
            "mass": ["PRESTIGE", "SILVER"],
        },
        "default": "other"}},
    {"op": "binarize", "params": {"expressions": {
        "ind_high_income": "ingresos_mensuales >= 4000",
        "ind_urban": "zona_residencia = 'Urbano'",
        "ind_new_customer": "tenure_months <= 3"}}},
    {"op": "select", "params": {"columns": [
        "id_cliente", "release_dt", "tenure_months", "segment_group",
        "ingresos_mensuales", "ind_high_income", "ind_urban", "ind_new_customer"]}},
    {"op": "rename", "params": {"renames": {
        "id_cliente": "pk_customer", "release_dt": "tpk_release_dt"}}},
    {"op": "prefix_columns", "params": {
        "prefix": "cdmg_", "exclude": ["pk_customer", "tpk_release_dt"]}},
    {"op": "standardize_output", "params": {}},
]

DEMOGRAPHIC_CLIENTES_PIPELINE = Pipeline(
    DEMOGRAPHIC_CLIENTES_STEPS, name="fs_cus_demographic[clientes]"
)


def demographic_features_from_clientes(
    clientes: DataFrame,
    start_date: str,
    end_date: str,
) -> DataFrame:
    """``fs_cus_demographic`` on the native ``clientes`` schema: monthly
    snapshots for every customer active in [start_date, end_date],
    activation-filtered on ``fecha_apertura`` (the reference's
    ``release_dt >= fecha_apertura`` predicate, :109-113)."""
    entities = clientes.select(
        "id_cliente",
        "ingresos_mensuales",
        "zona_residencia",
        "segmento_cliente",
        F.trunc(F.col("fecha_apertura").cast("date"), "month").alias("first_month"),
    )
    spine = month_spine(
        entities,
        entity_keys=[
            "id_cliente", "ingresos_mensuales", "zona_residencia",
            "segmento_cliente", "first_month",
        ],
        start_date=start_date,
        end_date=end_date,
        date_col="release_dt",
        open_date_col="first_month",
    )
    return DEMOGRAPHIC_CLIENTES_PIPELINE.run(spine)


#: fs_cus_transactions on the native transacciones schema: the table is
#: already monthly-consolidated, so the flow is shift → lags → rolling →
#: ratios → ctrx_ standardized output (fs_cus_transactions.py lag/rolling
#: blocks; no aggregation stage needed)
TRANSACTIONS_NATIVE_STEPS = [
    {"op": "shift_date", "params": {
        "date_column": "event_dt", "new_column": "release_dt", "months_to_add": 1}},
    {"op": "with_columns", "params": {"expressions": {
        "monto_total_transacciones": "CAST(monto_total_transacciones AS DOUBLE)"}}},
    {"op": "lags", "params": {
        "columns": ["monto_total_transacciones"], "lags": [1, 3],
        "partition_by": ["id_cliente"], "order_by": ["release_dt"]}},
    {"op": "rolling_numeric", "params": {
        "columns": ["monto_total_transacciones"], "window_sizes": [3],
        "partition_by": ["id_cliente"], "order_by": ["release_dt"]}},
    {"op": "rolling_categorical", "params": {
        "columns": ["numero_transacciones"], "window_sizes": [3],
        "partition_by": ["id_cliente"], "order_by": ["release_dt"]}},
    {"op": "ratios", "params": {"pairs": [
        ("monto_total_transacciones", "numero_transacciones")]}},
    {"op": "drop", "params": {"columns": ["event_dt", "periodo"]}},
    {"op": "rename", "params": {"renames": {
        "id_cliente": "pk_customer", "release_dt": "tpk_release_dt"}}},
    {"op": "prefix_columns", "params": {
        "prefix": "ctrx_", "exclude": ["pk_customer", "tpk_release_dt"]}},
    {"op": "standardize_output", "params": {}},
]

TRANSACTIONS_NATIVE_PIPELINE = Pipeline(
    TRANSACTIONS_NATIVE_STEPS, name="fs_cus_transactions[transacciones]"
)


def transaction_features_from_transacciones(transacciones: DataFrame) -> DataFrame:
    """``fs_cus_transactions`` on the native monthly ``transacciones``
    schema (``periodo`` as 'yyyy-MM')."""
    base = transacciones.withColumn(
        "event_dt", F.to_date(F.concat(F.col("periodo"), F.lit("-01")))
    )
    return TRANSACTIONS_NATIVE_PIPELINE.run(base)


#: fs_cus_credit_risk on the native buro_credito schema — the exact
#: notebook flow: ingestion rating CASE (fs_cus_credit_risk.py:59-83) →
#: shift_date 'yyyy-MM' +1 month (:85-95) → preprocessing (:104) →
#: count/SUM/MAX aggregation (:213-261, :556-557) → rolling numeric
#: avg/std + categorical min/max over 3/6-month frames (:400-445,
#: :575-577) → debt/score ratio (:472-486, :579-583) → 24-column select +
#: pk rename + chr_ prefix + DECIMAL→DOUBLE/LONG→INT (:589-672). The
#: notebook's calculate_lags_and_features (:273-324) builds lag
#: transformations it never applies and the output select drops them —
#: same dead-code note as the payment twin; the live lag semantics are
#: covered by the supplier-risk pipeline.
#:
#: Determinism deviation (documented, same rule as every twin):
#: total_banking_debt ingests as DECIMAL(25,4) so the monthly sum is
#: exact; its double copy feeds the window stats.

_CREDIT_RATING_CASE = (
    "CASE calificacion_sistema WHEN 'A' THEN 1 WHEN 'B' THEN 2 "
    "WHEN 'C' THEN 3 WHEN 'D' THEN 4 WHEN 'E' THEN 5 ELSE 0 END"
)

CREDIT_NUMERIC_SUMS = [
    "bureau_score_sum",
    "total_banking_debt_sum",
    "bureau_inquiries_12m_sum",
]

#: fs_cus_credit_risk.py:630-655 select order, pre-rename/prefix.
CREDIT_OUTPUT_COLUMNS = (
    [
        "id_customer",
        "release_dt",
        "credits_cnt",
        "bureau_score_sum",
        "total_banking_debt_sum",
        "bureau_inquiries_12m_sum",
        "rating_num",
    ]
    + [
        f"{c}_{stat}_{w}m"
        for c in CREDIT_NUMERIC_SUMS
        for w in (3, 6)
        for stat in ("ravg", "rstd")
    ]
    + [f"rating_num_{stat}_{w}m" for w in (3, 6) for stat in ("rmin", "rmax")]
    + ["total_banking_debt_sum_to_bureau_score_sum_ratio"]
)

CREDIT_BURO_STEPS = [
    {"op": "shift_date", "params": {
        "date_column": "event_dt", "new_column": "release_dt",
        "source_format": "yyyy-MM", "months_to_add": 1}},
    {"op": "normalize_strings", "params": {}},
    # one exchange on the customer key serves the aggregation AND the
    # rolling windows below (see runner._repartition_by)
    {"op": "repartition", "params": {"columns": ["id_customer"]}},
    {"op": "aggregate", "params": {
        "group_by": ["id_customer", "release_dt"],
        "operations": [
            {"column": "id_customer", "operation": "count", "alias": "credits_cnt"},
            {"column": "bureau_score", "operation": "sum", "alias": "bureau_score_sum"},
            {"column": "total_banking_debt", "operation": "sum", "alias": "total_banking_debt_sum"},
            {"column": "bureau_inquiries_12m", "operation": "sum", "alias": "bureau_inquiries_12m_sum"},
            {"column": "rating_num", "operation": "max", "alias": "rating_num"},
        ]}},
    # the decimal sum was exact; window stats run on its double copy
    {"op": "with_columns", "params": {"expressions": {
        "total_banking_debt_sum": "CAST(total_banking_debt_sum AS DOUBLE)"}}},
    {"op": "rolling_numeric", "params": {
        "columns": CREDIT_NUMERIC_SUMS, "window_sizes": [3, 6],
        "partition_by": ["id_customer"], "order_by": ["release_dt"]}},
    {"op": "rolling_categorical", "params": {
        "columns": ["rating_num"], "window_sizes": [3, 6],
        "partition_by": ["id_customer"], "order_by": ["release_dt"]}},
    {"op": "ratios", "params": {"pairs": [
        ("total_banking_debt_sum", "bureau_score_sum")]}},
    {"op": "select", "params": {"columns": CREDIT_OUTPUT_COLUMNS}},
    {"op": "rename", "params": {"renames": {
        "id_customer": "pk_customer", "release_dt": "tpk_release_dt"}}},
    {"op": "prefix_columns", "params": {
        "prefix": "chr_", "exclude": ["pk_customer", "tpk_release_dt"]}},
    {"op": "standardize_output", "params": {}},
]

CREDIT_BURO_PIPELINE = Pipeline(CREDIT_BURO_STEPS, name="fs_cus_credit_risk[buro_credito]")


def credit_features_from_buro(buro: DataFrame) -> DataFrame:
    """``fs_cus_credit_risk`` on the native ``buro_credito`` schema
    (``id_cliente``, ``periodo`` 'yyyy-MM', ``calificacion_sistema``,
    ``buro_score``, ``consultas_buro_12m``, ``deuda_total_bancos``).

    The ingestion scan is the reference's ``spark.sql`` SELECT at
    ``fs_cus_credit_risk.py:59-83``: sentinel/NULL row filters + renames +
    the A–E→1–5 rating CASE, all at the source so Catalyst pushes the
    predicates into the scan."""
    base = buro.where(
        F.col("id_cliente").isNotNull()
        & (F.col("id_cliente") != "999999999")
        & F.col("buro_score").isNotNull()
        & F.col("calificacion_sistema").isNotNull()
    ).select(
        F.col("id_cliente").alias("id_customer"),
        F.col("periodo").alias("event_dt"),
        F.col("buro_score").cast("int").alias("bureau_score"),
        F.expr(_CREDIT_RATING_CASE).alias("rating_num"),
        F.col("consultas_buro_12m").cast("int").alias("bureau_inquiries_12m"),
        F.col("deuda_total_bancos").cast("decimal(25,4)").alias("total_banking_debt"),
    )
    return CREDIT_BURO_PIPELINE.run(base)


#: fs_cus_holding_products on the native productos schema — pivot-FIRST:
#: ingestion (fs_cus_holding_products.py:55-67) → shift_date +1 (:68-79)
#: → preprocessing (:87) → ONE hash aggregate doing the cats_to_pivot
#: SUM(CASE WHEN) amounts + LIT boolean holding indicators + multi-op
#: totals (:279-306, :605-640) → rolling stats over 8 numeric + 5
#: categorical columns (:694-703) → 67-column select + chp_ prefix +
#: output casts (:726-806). The notebook's fillna(0) after the pivot
#: (:302-303) is a no-op here — every pivot expression carries ELSE 0 and
#: the ingestion filter drops NULL amounts — and its lag block is the
#: same never-applied dead code as the credit pipeline's.
#:
#: Determinism deviation: amounts aggregate in DECIMAL(25,4); the avg is
#: exact-sum / count computed explicitly (Spark's avg(DECIMAL) stays
#: decimal while DuckDB goes double — dividing the exact sum in IEEE
#: doubles agrees everywhere); doubles reappear only for window stats.

#: reference cats_to_pivot (fs_cus_holding_products.py:607-612)
HOLDINGS_CATEGORY_NAMES = {
    "credito_vehicular": "vehicle_loan",
    "credito_hipotecario": "mortgage_loan",
    "tarjeta_de_credito": "credit_card",
    "credito_productivo": "productive_credit",
}

HOLDINGS_NUMERIC = [
    f"{n}_amount_sum_m" for n in HOLDINGS_CATEGORY_NAMES.values()
] + ["amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m"]

HOLDINGS_CATEGORICAL = [
    f"ind_{n}_product" for n in HOLDINGS_CATEGORY_NAMES.values()
] + ["products_cnt_m"]

#: fs_cus_holding_products.py:726-791 select order, pre-rename/prefix.
HOLDINGS_OUTPUT_COLUMNS = (
    ["id_customer", "release_dt"]
    + [f"{n}_amount_sum_m" for n in HOLDINGS_CATEGORY_NAMES.values()]
    + [f"ind_{n}_product" for n in HOLDINGS_CATEGORY_NAMES.values()]
    + ["products_cnt_m", "amount_sum_m", "amount_avg_m", "amount_min_m", "amount_max_m"]
    + [
        f"{c}_{stat}_{w}m"
        for c in HOLDINGS_NUMERIC
        for w in (3, 6)
        for stat in ("ravg", "rstd")
    ]
    + [
        f"{c}_{stat}_{w}m"
        for c in HOLDINGS_CATEGORICAL
        for w in (3, 6)
        for stat in ("rmin", "rmax")
    ]
)

HOLDINGS_PRODUCTOS_STEPS = [
    {"op": "shift_date", "params": {
        "date_column": "event_dt", "new_column": "release_dt", "months_to_add": 1}},
    {"op": "normalize_strings", "params": {}},
    # one exchange on the customer key serves the pivot aggregation AND the
    # rolling windows below (see runner._repartition_by)
    {"op": "repartition", "params": {"columns": ["id_customer"]}},
    {"op": "conditional_pivot", "params": {
        "group_by": ["id_customer", "release_dt"],
        "pivot_column": "product",
        "categories": list(HOLDINGS_CATEGORY_NAMES),
        "category_names": HOLDINGS_CATEGORY_NAMES,
        "value_column": "amount",
        "value_suffix": "_amount_sum_m",
        "indicators": True,
        "indicator_prefix": "ind_",
        "indicator_suffix": "_product",
        "extra_operations": [
            {"column": "products_cnt", "operation": "max", "alias": "products_cnt_m"},
            {"column": "amount", "operation": "sum", "alias": "amount_sum_m"},
            {"column": "amount", "operation": "min", "alias": "amount_min_m"},
            {"column": "amount", "operation": "max", "alias": "amount_max_m"},
            {"column": "amount", "operation": "count", "alias": "__rows_m"},
        ]}},
    # exact avg + double casts for the window stats, one projection
    {"op": "with_columns", "params": {"expressions": dict(
        {
            f"{n}_amount_sum_m": f"CAST({n}_amount_sum_m AS DOUBLE)"
            for n in HOLDINGS_CATEGORY_NAMES.values()
        },
        amount_avg_m="CAST(amount_sum_m AS DOUBLE) / __rows_m",
        amount_sum_m="CAST(amount_sum_m AS DOUBLE)",
        amount_min_m="CAST(amount_min_m AS DOUBLE)",
        amount_max_m="CAST(amount_max_m AS DOUBLE)",
    )}},
    {"op": "rolling_numeric", "params": {
        "columns": HOLDINGS_NUMERIC, "window_sizes": [3, 6],
        "partition_by": ["id_customer"], "order_by": ["release_dt"]}},
    {"op": "rolling_categorical", "params": {
        "columns": HOLDINGS_CATEGORICAL, "window_sizes": [3, 6],
        "partition_by": ["id_customer"], "order_by": ["release_dt"]}},
    {"op": "select", "params": {"columns": HOLDINGS_OUTPUT_COLUMNS}},
    {"op": "rename", "params": {"renames": {
        "id_customer": "pk_customer", "release_dt": "tpk_release_dt"}}},
    {"op": "prefix_columns", "params": {
        "prefix": "chp_", "exclude": ["pk_customer", "tpk_release_dt"]}},
    {"op": "standardize_output", "params": {}},
]

HOLDINGS_PRODUCTOS_PIPELINE = Pipeline(
    HOLDINGS_PRODUCTOS_STEPS, name="fs_cus_holding_products[productos]"
)


def holdings_features_from_productos(productos: DataFrame) -> DataFrame:
    """``fs_cus_holding_products`` on the native ``productos`` schema
    (``id_cliente``, ``producto``, ``fecha``, ``monto``,
    ``total_productos``) — ingestion scan per
    ``fs_cus_holding_products.py:55-67``."""
    base = productos.where(
        F.col("id_cliente").isNotNull()
        & (F.col("id_cliente") != "999999999")
        & F.col("monto").isNotNull()
    ).select(
        F.col("id_cliente").alias("id_customer"),
        F.col("fecha").cast("date").alias("event_dt"),
        F.col("producto").alias("product"),
        F.col("monto").cast("decimal(25,4)").alias("amount"),
        F.col("total_productos").cast("int").alias("products_cnt"),
    )
    return HOLDINGS_PRODUCTOS_PIPELINE.run(base)
