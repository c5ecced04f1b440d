"""Seeded synthetic data generator — the Spark-native twin of the
reference's fixture factory ``notebooks/dummy_data_generation.py``
(seed 42, 10k customers × 24 months history, ~15% delinquent share).

The reference builds every table with driver-side numpy/pandas loops
(``dummy_data_generation.py:20-384``): per-customer Python iteration for
the payments state machine, ``pd.DataFrame`` → ``spark.createDataFrame``.
That caps the fixture at driver memory and ships the whole dataset through
the driver. This twin generates **distributed from the start**:

- ``spark.range(n)`` seeds one row per customer; month histories are
  arrays built and folded *inside* the row (month count is bounded, ≤ a
  few dozen), then ``posexplode``d — so payment generation needs **zero
  shuffles and zero Python**: pure column algebra over ``spark.range``.
- All randomness is hash-derived: ``uniform = pmod(xxhash64(seed, tag,
  id, ...), 2^30) / 2^30``. Unlike ``F.rand(seed)`` (whose stream depends
  on partition layout), hash-randomness is **partition-independent** —
  the same (seed, id) always produces the same row on 1 core or 1000
  executors, which is what makes golden tests on the output stable.
- Distribution shapes follow the reference: clipped normal incomes
  (:49), log-uniform credit amounts (:173, ``exp(uniform(log lo, log
  hi))``), the A..E rating ladder with the 2-good-months promotion /
  any-miss demotion walk (:193-249), linear product amortization
  (:115-135). Normals come from Box–Muller over two hash-uniforms;
  the reference's Poisson transaction counts are approximated by a
  clamped rounded normal (documented deviation — both are deterministic
  here, neither matches numpy's bit stream, and no consumer depends on
  the exact distribution family).

The payments state machine (rating walk + good-pay streak + declining
balance + days-in-arrears) is sequential per customer. Rather than a
stateful UDF, each month's state is a bounded prefix fold:
``F.aggregate(slice(paid_flags, 1, i+1), ...)`` — O(months²) column ops
per customer, trivially cheap for months ≤ 48 and fully inside
whole-stage codegen. (For histories in the thousands of months the scale
path would be ``applyInPandasWithState`` — not this fixture's regime.)

Delinquent selection: the reference samples exactly
``int(n * share)`` customers (:207-212). ``exact_share=True`` reproduces
that with a rank over the customer id hash (one global sort of n rows —
fine for fixtures); ``exact_share=False`` uses the per-customer hash
threshold (share exact only in expectation, no global sort) — the knob to
flip when generating billions of rows.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# defaults mirror dummy_data_generation.py:29-31
TOTAL_CUSTOMERS = 10_000
MONTHS_HISTORY = 24
DELINQUENT_SHARE = 0.15
DEFAULT_SEED = 42
#: fixed "today" so generated fixtures are reproducible across days
BASE_MONTH = "2024-01-01"

_HASH_BUCKETS = 1 << 30

# product catalog: (name, ownership prob, min amount, max amount)
# — dummy_data_generation.py:110-115
PRODUCTS = [
    ("tarjeta de credito", 0.7, 500.0, 20_000.0),
    ("credito hipotecario", 0.2, 100_000.0, 2_000_000.0),
    ("credito productivo", 0.5, 10_000.0, 500_000.0),
    ("credito vehicular", 0.15, 50_000.0, 800_000.0),
]


def _u(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic uniform in [0, 1): partition-independent hash noise."""
    h = F.xxhash64(F.lit(seed), F.lit(tag), *cols)
    return F.pmod(h, F.lit(_HASH_BUCKETS)).cast("double") / F.lit(float(_HASH_BUCKETS))


def _normal(seed: int, tag: str, *cols: Column) -> Column:
    """Standard normal via Box–Muller over two hash-uniforms."""
    u1 = _u(seed, tag + "/u1", *cols)
    u2 = _u(seed, tag + "/u2", *cols)
    # keep u1 away from 0 so log() is finite
    u1 = F.greatest(u1, F.lit(1e-12))
    return F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)


def _log_uniform(seed: int, tag: str, lo: float, hi: float, *cols: Column) -> Column:
    """exp(uniform(log lo, log hi)) — the reference's credit-amount shape."""
    u = _u(seed, tag, *cols)
    return F.exp(F.lit(math.log(lo)) + u * F.lit(math.log(hi) - math.log(lo)))


def _pick(seed: int, tag: str, choices: list[str], *cols: Column) -> Column:
    """Uniform pick from a small list of string choices."""
    idx = F.floor(_u(seed, tag, *cols) * len(choices)).cast("int")
    return F.element_at(F.array(*[F.lit(c) for c in choices]), idx + 1)


# ---------------------------------------------------------------------------
# clientes — dummy_data_generation.py:43-81
# ---------------------------------------------------------------------------


def gen_clientes(
    spark: SparkSession, n: int = TOTAL_CUSTOMERS, seed: int = DEFAULT_SEED
) -> DataFrame:
    """Customer demographics: ages, incomes (clipped normal 3000±2500),
    urban/rural 80/20, income-threshold segments (:56-66)."""
    ids = spark.range(1, n + 1).select(F.col("id").alias("id_cliente"))
    income = F.round(
        F.greatest(F.least(3000.0 + 2500.0 * _normal(seed, "income", F.col("id_cliente")), F.lit(20000.0)), F.lit(300.0)),
        2,
    )
    base = ids.select(
        "id_cliente",
        (F.lit(18) + F.floor(_u(seed, "age", F.col("id_cliente")) * 62).cast("int")).alias("edad"),
        _pick(seed, "genero", ["M", "F"], F.col("id_cliente")).alias("genero"),
        _pick(seed, "civil", ["Soltero", "Casado", "Divorciado"], F.col("id_cliente")).alias("estado_civil"),
        _pick(
            seed, "edu", ["Primaria", "Secundaria", "Universitario", "Postgrado"], F.col("id_cliente")
        ).alias("nivel_educativo"),
        income.alias("ingresos_mensuales"),
        F.when(_u(seed, "zona", F.col("id_cliente")) < 0.8, "Urbano").otherwise("Rural").alias("zona_residencia"),
        F.concat(F.lit("Ciudad "), F.pmod(F.xxhash64(F.lit(seed), F.lit("city"), F.col("id_cliente")), F.lit(500))).alias("ciudad"),
        F.date_sub(
            F.to_date(F.lit(BASE_MONTH)),
            F.floor(_u(seed, "apertura", F.col("id_cliente")) * (30 * 365)).cast("int"),
        ).alias("fecha_apertura"),
    )
    return base.withColumn(
        "segmento_cliente",
        F.when(F.col("ingresos_mensuales") >= 10000, "ELITE")
        .when(F.col("ingresos_mensuales") >= 4000, "PREMIUM")
        .when(F.col("ingresos_mensuales") >= 2500, "PRESTIGE")
        .otherwise("SILVER"),
    )


# ---------------------------------------------------------------------------
# pagos — the monthly payments state machine, dummy_data_generation.py:167-296
# ---------------------------------------------------------------------------


def gen_pagos(
    spark: SparkSession,
    n: int = TOTAL_CUSTOMERS,
    months: int = MONTHS_HISTORY,
    delinquent_share: float = DELINQUENT_SHARE,
    seed: int = DEFAULT_SEED,
    end_month: str = BASE_MONTH,
    exact_share: bool = True,
) -> DataFrame:
    """Monthly loan-payment history with the reference's state machine:

    - credit opens at a random period, term 12–35 months (:185-186)
    - amount log-uniform 5k–40k, level installment (:199-203)
    - delinquents miss with p=0.25, good payers with p=0.02 (:224-228)
    - rating walk: any miss demotes one notch (A→…→E); a good-pay streak
      of ≥2 months promotes one notch per month (:193-249)
    - balance declines by the installment on each paid month, floored at
      2 (:276)
    - days-in-arrears: 0 while current; on a missed month, days since the
      last paid period (or opening) once the gap exceeds one month. (The
      reference's ``dias_mora`` branch ladder (:244-268) tracks the same
      quantity through mutable locals; this closed form is the documented
      simplification.)

    One output row per active (customer, month); schema matches the
    reference's ``demo_db.pagos`` (:270-287).
    """
    first_month = F.add_months(F.to_date(F.lit(end_month)), -(months - 1))
    cust = spark.range(1, n + 1).select(F.col("id").alias("id_cliente"))

    if exact_share:
        # exactly int(n*share) delinquents, chosen by hash rank (:207-212).
        # Distributed global rank (range partitions + broadcast offsets) —
        # never a single-partition row_number window, so the exact-count
        # path scales with the customer dimension. id_cliente tiebreak
        # keeps the order total even under (astronomically unlikely)
        # xxhash64 collisions.
        from databricks_demo_feature_store_spark.functions.feature_generation import (
            attach_global_rank,
        )

        k = int(n * delinquent_share)
        cust = attach_global_rank(
            cust,
            [
                F.xxhash64(F.lit(seed), F.lit("moroso"), F.col("id_cliente")).asc(),
                F.col("id_cliente").asc(),
            ],
            rank_col="__moroso_rank",
        ).select("id_cliente", (F.col("__moroso_rank") <= k).alias("moroso"))
    else:
        cust = cust.withColumn("moroso", _u(seed, "moroso", F.col("id_cliente")) < delinquent_share)

    # per-customer credit shape
    cust = cust.select(
        "*",
        F.floor(_u(seed, "open", F.col("id_cliente")) * months).cast("int").alias("open_idx"),
        (F.lit(12) + F.floor(_u(seed, "term", F.col("id_cliente")) * 24).cast("int")).alias("meses_credito"),
        F.round(_log_uniform(seed, "valor", 5000.0, 40000.0, F.col("id_cliente")), 2).alias("valor_total_credito"),
        F.substring(
            F.lit("ABC"), F.floor(_u(seed, "rating0", F.col("id_cliente")) * 3).cast("int") + 1, 1
        ).alias("calificacion_inicial"),
    )
    cust = cust.select(
        "*",
        F.round(F.col("valor_total_credito") / F.col("meses_credito"), 2).alias("cuota_mensual"),
        F.add_months(first_month, F.col("open_idx")).alias("fecha_apertura"),
        F.add_months(first_month, F.col("open_idx") + F.col("meses_credito") - 1).alias("fecha_cierre"),
        F.sequence(
            F.col("open_idx"),
            F.least(F.lit(months - 1), F.col("open_idx") + F.col("meses_credito") - 1),
        ).alias("active_idx"),
    )

    # stage the per-month coin flips ONCE (arrays re-evaluate inside lambda
    # scopes otherwise — see repo perf note on staging array projections)
    p_miss = F.when(F.col("moroso"), F.lit(0.25)).otherwise(F.lit(0.02))
    cust = cust.select(
        "*",
        F.transform(
            F.col("active_idx"),
            lambda i: _u(seed, "paid", F.col("id_cliente"), i) >= p_miss,
        ).alias("paid_arr"),
        F.transform(
            F.col("active_idx"),
            lambda i: _u(seed, "minpay", F.col("id_cliente"), i) < 0.4,
        ).alias("minpay_arr"),
    )

    # rating walk as a bounded prefix fold over the paid flags: state is
    # (rating 1..5, good-streak); months are few, so O(m²) stays cheap and
    # entirely inside codegen
    r0 = (F.ascii(F.col("calificacion_inicial")) - F.lit(64)).cast("int")  # A→1..C→3

    def _rating_after(k_incl: Column) -> Column:
        return F.aggregate(
            F.slice(F.col("paid_arr"), 1, k_incl),
            F.struct(r0.alias("r"), F.lit(0).alias("s")),
            lambda acc, p: F.struct(
                F.when(p & (acc["s"] + 1 >= 2), F.greatest(acc["r"] - 1, F.lit(1)))
                .when(p, acc["r"])
                .otherwise(F.least(acc["r"] + 1, F.lit(5)))
                .alias("r"),
                F.when(p, acc["s"] + 1).otherwise(F.lit(0)).alias("s"),
            ),
        )["r"]

    months_seq = F.sequence(F.lit(1), F.size(F.col("active_idx")))
    cust = cust.select(
        "*",
        F.transform(months_seq, lambda k: _rating_after(k)).alias("rating_arr"),
        # paid count through month k → declining balance
        F.transform(
            months_seq,
            lambda k: F.aggregate(
                F.slice(F.col("paid_arr"), 1, k), F.lit(0), lambda a, p: a + F.when(p, 1).otherwise(0)
            ),
        ).alias("npaid_arr"),
        # index (1-based, within active months) of the most recent paid
        # month ≤ k; 0 = never paid yet
        F.transform(
            months_seq,
            lambda k: F.aggregate(
                F.zip_with(
                    F.slice(F.col("paid_arr"), 1, k),
                    F.sequence(F.lit(1), k),
                    lambda p, j: F.when(p, j).otherwise(0),
                ),
                F.lit(0),
                lambda a, j: F.greatest(a, j),
            ),
        ).alias("lastpaid_arr"),
    )

    out = cust.select(
        "id_cliente",
        "moroso",
        "fecha_apertura",
        "fecha_cierre",
        "valor_total_credito",
        "cuota_mensual",
        "meses_credito",
        F.posexplode(F.col("active_idx")).alias("k0", "month_idx"),
        F.col("paid_arr"),
        F.col("minpay_arr"),
        F.col("rating_arr"),
        F.col("npaid_arr"),
        F.col("lastpaid_arr"),
    )
    period = F.add_months(first_month, F.col("month_idx"))
    paid = F.element_at(F.col("paid_arr"), F.col("k0") + 1)
    lastpaid = F.element_at(F.col("lastpaid_arr"), F.col("k0") + 1)
    # date of the most recent paid month (or opening when none)
    lastpaid_date = F.when(
        lastpaid > 0, F.add_months(F.col("fecha_apertura"), lastpaid - 1)
    ).otherwise(F.col("fecha_apertura"))
    gap_days = F.datediff(period, lastpaid_date)
    return out.select(
        "id_cliente",
        F.date_format(period, "yyyy-MM").alias("periodo"),
        F.round(
            F.greatest(
                F.col("valor_total_credito")
                - F.col("cuota_mensual") * F.element_at(F.col("npaid_arr"), F.col("k0") + 1),
                F.lit(2.0),
            ),
            2,
        ).alias("saldo_total_credito"),
        paid.alias("cuota_pagada"),
        F.when(paid, F.col("cuota_mensual")).otherwise(F.lit(0.0)).alias("monto_pagado"),
        F.when(~paid & (gap_days > 31), gap_days).otherwise(F.lit(0)).cast("int").alias("dias_mora"),
        F.element_at(F.col("minpay_arr"), F.col("k0") + 1).alias("pago_minimo"),
        F.substring(F.lit("ABCDE"), F.element_at(F.col("rating_arr"), F.col("k0") + 1), 1).alias(
            "calificacion_sistema"
        ),
        "fecha_apertura",
        "fecha_cierre",
        "valor_total_credito",
        "cuota_mensual",
        "meses_credito",
    )


# ---------------------------------------------------------------------------
# productos — dummy_data_generation.py:108-150
# ---------------------------------------------------------------------------


def gen_productos(
    spark: SparkSession,
    n: int = TOTAL_CUSTOMERS,
    months: int = MONTHS_HISTORY,
    seed: int = DEFAULT_SEED,
    end_month: str = BASE_MONTH,
) -> DataFrame:
    """Per-product monthly amortization rows: each owned product starts at
    a random month, runs 3–24 months, and its balance declines linearly
    (:125-135). ``total_productos`` counts the customer's product rows in
    the same month — computed array-side per customer (bounded k²), so the
    whole table is generated without a single shuffle."""
    first_month = F.add_months(F.to_date(F.lit(end_month)), -(months - 1))
    cust = spark.range(1, n + 1).select(F.col("id").alias("id_cliente"))

    def _amortization(pname: str, term: Column, start: Column, amount: Column):
        return lambda m: F.struct(
            F.lit(pname).alias("producto"),
            (start + m).cast("int").alias("month_idx"),
            F.round(
                F.greatest(amount * (F.lit(1.0) - m.cast("double") / term), F.lit(0.0)), 2
            ).alias("monto"),
        )

    entries = []
    for pname, prob, lo, hi in PRODUCTS:
        owned = _u(seed, f"own/{pname}", F.col("id_cliente")) < prob
        term = (F.lit(3) + F.floor(_u(seed, f"term/{pname}", F.col("id_cliente")) * 22)).cast("int")
        start = F.floor(
            _u(seed, f"start/{pname}", F.col("id_cliente")) * (F.lit(months + 1) - term)
        ).cast("int")
        amount = F.round(
            F.lit(lo) + _u(seed, f"amt/{pname}", F.col("id_cliente")) * F.lit(hi - lo), 2
        )
        entries.append(
            F.when(
                owned,
                F.transform(F.sequence(F.lit(0), term - 1), _amortization(pname, term, start, amount)),
            ).otherwise(F.array().cast("array<struct<producto:string,month_idx:int,monto:double>>"))
        )

    cust = cust.select("id_cliente", F.flatten(F.array(*entries)).alias("items"))
    # total_productos: rows sharing this row's month, counted array-side
    cust = cust.select(
        "id_cliente",
        F.transform(
            F.col("items"),
            lambda it: F.struct(
                it["producto"].alias("producto"),
                it["month_idx"].alias("month_idx"),
                it["monto"].alias("monto"),
                F.size(F.filter(F.col("items"), lambda o: o["month_idx"] == it["month_idx"])).alias(
                    "total_productos"
                ),
            ),
        ).alias("items"),
    )
    row = F.explode(F.col("items")).alias("e")
    return cust.select("id_cliente", row).select(
        "id_cliente",
        F.col("e.producto").alias("producto"),
        F.to_timestamp(F.add_months(first_month, F.col("e.month_idx"))).alias("fecha"),
        F.col("e.monto").alias("monto"),
        F.col("e.total_productos").alias("total_productos"),
    )


# ---------------------------------------------------------------------------
# buro_credito — dummy_data_generation.py:316-352
# ---------------------------------------------------------------------------


def gen_buro(pagos: DataFrame, seed: int = DEFAULT_SEED) -> DataFrame:
    """Bureau scores derived from the payments table: rating-banded score
    plus hash noise (the reference draws ``f.rand()`` per row — same bands,
    deterministic here)."""
    key = [F.col("id_cliente"), F.col("periodo")]
    band_lo = (
        F.when(F.col("calificacion_sistema") == "A", 750)
        .when(F.col("calificacion_sistema") == "B", 650)
        .when(F.col("calificacion_sistema") == "C", 550)
        .when(F.col("calificacion_sistema") == "D", 450)
        .otherwise(300)
    )
    band_w = (
        F.when(F.col("calificacion_sistema") == "A", 200)
        .when(F.col("calificacion_sistema") == "E", 150)
        .otherwise(100)
    )
    return pagos.select(
        "id_cliente",
        "periodo",
        "calificacion_sistema",
        (band_lo + F.floor(_u(seed, "buro", *key) * band_w)).cast("int").alias("buro_score"),
        F.floor(_u(seed, "consultas", *key) * 5).cast("int").alias("consultas_buro_12m"),
        F.round(
            F.col("saldo_total_credito")
            + F.exp(_u(seed, "deuda", *key) * F.log(F.lit(10000.0 - 500.0 + 1.0))) + 500.0 - 1.0,
            2,
        ).alias("deuda_total_bancos"),
    )


# ---------------------------------------------------------------------------
# transacciones — dummy_data_generation.py:356-384
# ---------------------------------------------------------------------------


def gen_transacciones(
    spark: SparkSession,
    n: int = TOTAL_CUSTOMERS,
    months: int = MONTHS_HISTORY,
    seed: int = DEFAULT_SEED,
    end_month: str = BASE_MONTH,
) -> DataFrame:
    """Monthly consolidated transactions per customer: count ~Poisson(15)
    (clamped rounded normal here), amount ~Gamma(2, 200) (sum of two
    hash-exponentials — same family), recency uniform 0–30."""
    first_month = F.add_months(F.to_date(F.lit(end_month)), -(months - 1))
    grid = (
        spark.range(1, n + 1)
        .select(F.col("id").alias("id_cliente"))
        .select("id_cliente", F.explode(F.sequence(F.lit(0), F.lit(months - 1))).alias("m"))
    )
    key = [F.col("id_cliente"), F.col("m")]
    u1 = F.greatest(_u(seed, "g1", *key), F.lit(1e-12))
    u2 = F.greatest(_u(seed, "g2", *key), F.lit(1e-12))
    return grid.select(
        "id_cliente",
        F.date_format(F.add_months(first_month, F.col("m")), "yyyy-MM").alias("periodo"),
        F.greatest(
            F.round(15.0 + math.sqrt(15.0) * _normal(seed, "ntx", *key)).cast("int"), F.lit(0)
        ).alias("numero_transacciones"),
        F.round(-200.0 * (F.log(u1) + F.log(u2)), 2).alias("monto_total_transacciones"),
        F.floor(_u(seed, "recencia", *key) * 31).cast("int").alias("recencia_ultima_transaccion"),
    )


# ---------------------------------------------------------------------------
# pagos → payment-behavior pipeline input (the ingestion scan's source
# mapping, fs_cus_payment_behavior.py:57-96, on generator-native schema)
# ---------------------------------------------------------------------------


def pagos_to_payment_events(pagos: DataFrame) -> DataFrame:
    """Map the generator's ``pagos`` schema onto the payment-behavior
    pipeline's ingestion columns — the reference's SELECT (renames, rating
    letter → number, NULL/sentinel filters) made reusable so the seeded
    fixture can drive the real pipeline end-to-end (golden test)."""
    return (
        pagos.where(
            F.col("id_cliente").isNotNull()
            & (F.col("id_cliente") != 999999999)
            & F.col("calificacion_sistema").isNotNull()
        )
        .select(
            F.col("id_cliente").alias("id_customer"),
            F.to_date(F.concat(F.col("periodo"), F.lit("-01"))).alias("event_date"),
            F.col("fecha_apertura").alias("openning_date"),
            F.col("fecha_cierre").alias("closing_date"),
            F.col("saldo_total_credito").cast("decimal(25,4)").alias("amt_total_balance"),
            F.col("monto_pagado").cast("decimal(25,4)").alias("amt_paid"),
            F.col("valor_total_credito").cast("decimal(25,4)").alias("amt_total_credit"),
            F.col("cuota_mensual").cast("decimal(25,4)").alias("amt_installment"),
            F.col("cuota_pagada").cast("int").alias("ind_installment_paid"),
            F.col("pago_minimo").cast("int").alias("ind_did_min_payment"),
            (F.ascii(F.col("calificacion_sistema")) - F.lit(64)).cast("int").alias("rating_num"),
        )
    )
