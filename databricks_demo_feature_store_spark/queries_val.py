"""Validation-subsystem queries: config-driven schema cast (incl. the
``yyyy-MM-qq`` half-month format), cross-check reconciliation, and
dimension drift — each with a DuckDB oracle replaying the validator's
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from databricks_demo_feature_store_spark.functions.rounding import oracle_dround
from databricks_demo_feature_store_spark.queries import load, register
from databricks_demo_feature_store_spark.validation import (
    cross_check,
    dimension_drift,
    schemas_validation,
)


@register(
    "q_val_schema_cast",
    oracle="""
    WITH raw AS (
      SELECT o_orderkey,
             CAST(o_custkey AS VARCHAR) AS custkey_raw,
             strftime(o_orderdate, '%Y-%m-') ||
               CASE WHEN EXTRACT(day FROM o_orderdate) < 16 THEN 'q1' ELSE 'q2' END AS qdate,
             CAST(o_totalprice AS VARCHAR) AS price_raw
      FROM orders
    )
    SELECT o_orderkey AS order_id,
           CAST(custkey_raw AS BIGINT) AS customer_id,
           CAST(regexp_replace(regexp_replace(qdate, 'q1', '01'), 'q2', '16') AS DATE) AS half_month,
           CAST(price_raw AS DOUBLE) AS total_price
    FROM raw
    """,
)
def q_val_schema_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schemas_validation: per-column cast+rename config with the
    ``yyyy-MM-qq`` quarter-marker date format (reference schemas.py:13-63,
    format handling :46-52). The raw stringly-typed frame is synthesized
    from orders, then the validator restores proper types — one projection,
    fused into the scan at scale."""
    o = load(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.col("o_custkey").cast("string").alias("custkey_raw"),
        F.concat(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-"),
            F.when(F.dayofmonth("o_orderdate") < 16, "q1").otherwise("q2"),
        ).alias("qdate"),
        F.col("o_totalprice").cast("string").alias("price_raw"),
    )
    return schemas_validation(
        raw,
        [
            {"source": "o_orderkey", "name": "order_id", "data_type": "bigint"},
            {"source": "custkey_raw", "name": "customer_id", "data_type": "bigint"},
            {"source": "qdate", "name": "half_month", "data_type": "date",
             "format_source": "yyyy-MM-qq"},
            {"source": "price_raw", "name": "total_price", "data_type": "double"},
        ],
    )


@register(
    "q_val_crosscheck",
    oracle=f"""
    WITH s AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month, COUNT(*) AS source_count
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS target_count
      FROM orders GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(s.month, t.month) AS month,
             COALESCE(s.source_count, 0) AS source_count,
             COALESCE(t.target_count, 0) AS target_count
      FROM s FULL OUTER JOIN t ON s.month = t.month
    )
    SELECT month, source_count, target_count,
           source_count - target_count AS difference,
           CASE WHEN source_count > 0
                THEN {oracle_dround('abs(source_count - target_count) * 100.0 / source_count')}
                WHEN target_count > 0 THEN 100.0 ELSE 0.0 END AS percentage,
           (CASE WHEN source_count > 0
                 THEN {oracle_dround('abs(source_count - target_count) * 100.0 / source_count')}
                 WHEN target_count > 0 THEN 100.0 ELSE 0.0 END) <= 50.0 AS passed
    FROM j
    """,
)
def q_val_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS_CHECKING month-count reconciliation (reference
    monitor.py:328-436): lineitem ship-months vs orders order-months,
    full-outer joined, 50% threshold. Counts are map-side combined on a
    ~80-value key, so both inputs reduce to broadcast-sized tables."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return cross_check(
        li, o, "l_shipdate", "o_orderdate", threshold_pct=50.0
    )


@register(
    "q_val_dimension_drift",
    oracle=f"""
    WITH cur AS (SELECT COUNT(*) AS current_count FROM customer),
         prev AS (SELECT COUNT(*) AS previous_count FROM customer WHERE c_custkey % 20 <> 0)
    SELECT current_count, previous_count,
           {oracle_dround('abs(current_count - previous_count) * 100.0 / previous_count')} AS drift_pct,
           {oracle_dround('abs(current_count - previous_count) * 100.0 / previous_count')} <= 5.0 AS passed
    FROM cur CROSS JOIN prev
    """,
)
def q_val_dimension_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional 5% drift gate (reference monitor.py:492-520): current
    customer dim vs a simulated previous version (5% of keys removed)."""
    c = load(spark, sf_dir, "customer")
    prev = c.filter(F.col("c_custkey") % 20 != 0)
    return dimension_drift(c, prev, threshold_pct=5.0)


@register(
    "q_val_timetravel_crosscheck",
    oracle=f"""
    WITH cur AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS source_count
      FROM orders GROUP BY 1
    ),
    prev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS target_count
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(cur.month, prev.month) AS month,
             COALESCE(cur.source_count, 0) AS source_count,
             COALESCE(prev.target_count, 0) AS target_count
      FROM cur FULL OUTER JOIN prev ON cur.month = prev.month
    )
    SELECT month, source_count, target_count,
           source_count - target_count AS difference,
           CASE WHEN source_count > 0
                THEN {oracle_dround('abs(source_count - target_count) * 100.0 / source_count')}
                WHEN target_count > 0 THEN 100.0 ELSE 0.0 END AS percentage,
           (CASE WHEN source_count > 0
                 THEN {oracle_dround('abs(source_count - target_count) * 100.0 / source_count')}
                 WHEN target_count > 0 THEN 100.0 ELSE 0.0 END) <= 5.0 AS passed
    FROM j
    """,
)
def q_val_timetravel_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-check the latest table version against the PREVIOUS one via
    parquet time travel (the reference does this with Delta VERSION AS OF,
    monitor.py:57-71): v0 = orders through 1996, v1 = all orders; new
    months fail the 5% month-count drift gate, settled months pass."""

    from databricks_demo_feature_store_spark.sources.versioned import (
        VersionedTable,
        cross_check_previous_version,
    )

    o = load(spark, sf_dir, "orders")
    from databricks_demo_feature_store_spark.queries import scratch_dir

    root = scratch_dir("versioned_orders")
    t = VersionedTable(spark, root)
    t.save(o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")),
           operation="WRITE", count_rows=False)
    t.save(o, operation="OVERWRITE", count_rows=False)
    return cross_check_previous_version(t, "o_orderdate", threshold_pct=5.0)


def _profile_oracle() -> str:
    def one(c: str) -> str:
        return f"""
      SELECT '{c}' AS "column",
             COUNT(*) AS n_rows,
             COUNT({c}) AS n_non_null,
             {oracle_dround(f'CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*)', 6)} AS null_rate,
             CAST(MIN({c}) AS DOUBLE) AS min_value,
             CAST(MAX({c}) AS DOUBLE) AS max_value,
             {oracle_dround(f'CAST(SUM(CAST({c} AS DECIMAL(25,6))) AS DOUBLE) / COUNT({c})', 6)} AS mean_value,
             {oracle_dround(f'quantile_cont({c}, 0.5)', 6)} AS p50,
             {oracle_dround(f'quantile_cont({c}, 0.95)', 6)} AS p95
      FROM lineitem"""

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    return " UNION ALL ".join(one(c) for c in cols)


@register("q_val_profile", oracle=_profile_oracle())
def q_val_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (counts, null rate, min/max, exact mean,
    interpolated p50/p95) — ONE aggregation job for all columns, rows
    unpacked by explode; quantile interpolation matches quantile_cont
    bit-exactly."""
    from databricks_demo_feature_store_spark.validation import profile_columns

    li = load(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_quantity", "l_extendedprice", "l_discount"])


@register(
    "q_val_freshness",
    oracle="""
    SELECT CAST(date_trunc('month', MAX(CAST(o_orderdate AS DATE))) AS DATE) AS max_month,
           CAST(date_trunc('month', MAX(CAST(o_orderdate AS DATE))) + INTERVAL 1 MONTH AS DATE) AS available_month,
           CAST('1999-01-01' AS DATE) AS reference_month,
           COALESCE(CAST(date_trunc('month', MAX(CAST(o_orderdate AS DATE))) + INTERVAL 1 MONTH AS DATE)
                    >= CAST('1999-01-01' AS DATE), FALSE) AS is_fresh
    FROM orders
    """,
)
def q_val_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The outdateness/freshness validator's distributable core: max
    order month + availability shift vs a pinned reference month —
    one-row aggregate, no driver round-trip, exact-checked."""
    import datetime as _dt

    from databricks_demo_feature_store_spark.validation.monitor import freshness_frame

    return freshness_frame(
        load(spark, sf_dir, "orders"),
        "o_orderdate",
        months_shift=1,
        reference_month=_dt.date(1999, 1, 1),
    )


@register(
    "q_val_expectations",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS v_null,
             SUM(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 800 OR o_totalprice > 600000)
                      THEN 1 ELSE 0 END) AS v_between,
             SUM(CASE WHEN o_orderpriority IS NOT NULL
                       AND o_orderpriority NOT IN
                           ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                      THEN 1 ELSE 0 END) AS v_set,
             SUM(CASE WHEN o_orderdate IS NOT NULL
                       AND NOT regexp_matches(CAST(o_orderdate AS VARCHAR),
                                              '^199[0-9]-')
                      THEN 1 ELSE 0 END) AS v_match,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uniq
      FROM orders
    )
    SELECT 'o_totalprice' AS "column", 'not_null' AS rule, n AS n_rows,
           CAST(v_null AS BIGINT) AS n_violations,
           ROUND(CAST(v_null AS DOUBLE) / n, 6) AS violation_fraction,
           CAST(v_null AS DOUBLE) / n <= 0.0 AS passed
    FROM s
    UNION ALL
    SELECT 'o_totalprice', 'between', n, CAST(v_between AS BIGINT),
           ROUND(CAST(v_between AS DOUBLE) / n, 6),
           CAST(v_between AS DOUBLE) / n <= 0.01 FROM s
    UNION ALL
    SELECT 'o_orderpriority', 'in_set', n, CAST(v_set AS BIGINT),
           ROUND(CAST(v_set AS DOUBLE) / n, 6),
           CAST(v_set AS DOUBLE) / n <= 0.0 FROM s
    UNION ALL
    SELECT 'o_orderdate', 'matches', n, CAST(v_match AS BIGINT),
           ROUND(CAST(v_match AS DOUBLE) / n, 6),
           CAST(v_match AS DOUBLE) / n <= 0.0 FROM s
    UNION ALL
    SELECT 'o_orderkey', 'unique', n, CAST(v_uniq AS BIGINT),
           ROUND(CAST(v_uniq AS DOUBLE) / n, 6),
           CAST(v_uniq AS DOUBLE) / n <= 0.0 FROM s
    """,
)
def q_val_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check (the DLT-expectations shape): five
    rules over orders — null guard, value range with a 1% tolerance,
    category allowlist, date-format regex, key uniqueness — evaluated in
    two aggregates total (conditional sums in one; COUNT(DISTINCT) split
    out, see sketch-audit planning lesson). The oracle recomputes every
    violation count exactly."""
    from databricks_demo_feature_store_spark.validation.expectations import (
        Expectation,
        check_expectations,
    )

    o = load(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    rules = [
        Expectation("o_totalprice", "not_null"),
        Expectation("o_totalprice", "between", lo=800, hi=600000, max_fraction=0.01),
        Expectation(
            "o_orderpriority",
            "in_set",
            allowed=("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        ),
        Expectation("o_orderdate", "matches", pattern=r"^199[0-9]-"),
        Expectation("o_orderkey", "unique"),
    ]
    out = check_expectations(o.withColumn(
        "o_orderdate", F.col("o_orderdate").cast("string")
    ), rules)
    return out


@register(
    "q_val_psi_drift",
    oracle="""
    WITH cur AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__') AS category
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND NOT (o_orderpriority = '5-LOW' AND o_orderkey % 3 = 0)
    ),
    ref AS (
      SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__null__') AS category
      FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    ),
    c AS (SELECT category, COUNT(*) AS n_cur FROM cur GROUP BY 1),
    r AS (SELECT category, COUNT(*) AS n_ref FROM ref GROUP BY 1),
    j AS (
      SELECT COALESCE(c.category, r.category) AS category,
             COALESCE(n_cur, 0) AS n_cur, COALESCE(n_ref, 0) AS n_ref
      FROM c FULL OUTER JOIN r ON c.category = r.category
    ),
    t AS (SELECT COUNT(*) AS k, SUM(n_cur) AS tot_cur, SUM(n_ref) AS tot_ref FROM j)
    SELECT 'o_orderpriority' AS "column",
           CAST(ROUND(CAST(SUM(
             ((n_cur + 0.5) / (tot_cur + 0.5 * k) - (n_ref + 0.5) / (tot_ref + 0.5 * k))
             * ln(((n_cur + 0.5) / (tot_cur + 0.5 * k)) / ((n_ref + 0.5) / (tot_ref + 0.5 * k)))
           ) AS DECIMAL(38,10)), 6) AS DOUBLE) AS psi,
           CAST(k AS INT) AS n_categories,
           CAST(tot_cur AS BIGINT) AS n_cur,
           CAST(tot_ref AS BIGINT) AS n_ref
    FROM j CROSS JOIN t
    GROUP BY k, tot_cur, tot_ref
    """,
)
def q_val_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index over the order-priority distribution:
    1996+ orders (with a deterministic bias injected — every third
    5-LOW order dropped) vs the pre-1996 reference slice. Two category
    aggregations joined on the tiny category key; the raw slices never
    co-shuffle. The oracle replays the Laplace-smoothed PSI sum."""
    from databricks_demo_feature_store_spark.validation.drift import psi_drift

    o = load(spark, sf_dir, "orders")
    split = F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    cur = o.where(split).where(
        ~((F.col("o_orderpriority") == "5-LOW") & (F.col("o_orderkey") % 3 == 0))
    )
    ref = o.where(~split)
    return psi_drift(cur, ref, "o_orderpriority")


@register(
    "q_val_ks_drift",
    oracle="""
    WITH cur AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_totalprice IS NOT NULL
    ),
    ref AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01' AND o_totalprice IS NOT NULL
    ),
    u AS (
      SELECT v, 1 AS c, 0 AS r FROM cur
      UNION ALL SELECT v, 0, 1 FROM ref
    ),
    g AS (SELECT v, SUM(c) AS n_cur, SUM(r) AS n_ref FROM u GROUP BY v),
    cs AS (
      SELECT v,
             SUM(n_cur) OVER (ORDER BY v ASC) AS cum_cur,
             SUM(n_ref) OVER (ORDER BY v ASC) AS cum_ref
      FROM g
    ),
    t AS (SELECT SUM(n_cur) AS tot_cur, SUM(n_ref) AS tot_ref FROM g)
    SELECT 'o_totalprice' AS "column",
           CAST(ROUND(CAST(
             CAST(MAX(ABS(CAST(cum_cur AS DECIMAL(38,0)) * tot_ref
                         - CAST(cum_ref AS DECIMAL(38,0)) * tot_cur)) AS DOUBLE)
             / (CAST(tot_cur AS DOUBLE) * CAST(tot_ref AS DOUBLE))
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS ks_stat,
           CAST(tot_cur AS BIGINT) AS n_cur,
           CAST(tot_ref AS BIGINT) AS n_ref
    FROM cs CROSS JOIN t
    GROUP BY tot_cur, tot_ref
    """,
)
def q_val_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic on the order-price
    distribution, 1996+ vs pre-1996. The CDFs are DISTRIBUTED prefix
    sums (attach_global_cumsum: range partitions + broadcast offsets,
    no single-partition window); the max gap stays in exact integer
    cross-products until one final division. The oracle replays the
    identical integer arithmetic with a window cumsum."""
    from databricks_demo_feature_store_spark.validation.drift import ks_drift

    o = load(spark, sf_dir, "orders")
    split = F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    return ks_drift(o.where(split), o.where(~split), "o_totalprice")


@register(
    "q_val_count_anomalies",
    oracle="""
    WITH ev AS (
      SELECT ts FROM events
      UNION ALL SELECT ts FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-20'
      UNION ALL SELECT ts FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-20'
    ),
    counts AS (
      SELECT CAST(ts AS DATE) AS period, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM ev GROUP BY 1
    ),
    scored AS (
      SELECT period, n_rows,
             AVG(CAST(n_rows AS DOUBLE)) OVER w AS m,
             STDDEV_SAMP(CAST(n_rows AS DOUBLE)) OVER w AS s
      FROM counts
      WINDOW w AS (ORDER BY period ASC ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
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
def q_val_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags on the event stream (trailing-7-day
    z-score, current day excluded from its own baseline) with a
    deterministic injected spike: 2024-01-20 tripled. The raw events
    collapse to one row per day before the tiny trailing window runs.
    The oracle replays the same frame."""
    from databricks_demo_feature_store_spark.validation.drift import count_anomalies

    e = load(spark, sf_dir, "events")
    spike = e.where(F.col("ts").cast("date") == F.lit("2024-01-20").cast("date"))
    inflated = e.select("ts").unionByName(spike.select("ts")).unionByName(
        spike.select("ts")
    )
    return count_anomalies(inflated, "ts", trailing=7, z_threshold=3.0, grain="day")


@register(
    "q_val_roc_auc",
    oracle="""
    WITH base AS (
      SELECT CAST(embedding[2] AS DOUBLE) AS s,
             CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM embeddings
      WHERE embedding[2] IS NOT NULL
    ),
    per_score AS (
      SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM base GROUP BY s
    ),
    cum AS (
      SELECT s, np, nn,
             SUM(np) OVER (ORDER BY s ASC) AS cnp,
             SUM(nn) OVER (ORDER BY s ASC) AS cnn
      FROM per_score
    ),
    t AS (SELECT SUM(np) AS P, SUM(nn) AS N FROM per_score),
    agg AS (
      SELECT P, N,
             SUM(CAST(np AS DECIMAL(38,0)) *
                 (2 * (CAST(cnp + cnn AS DECIMAL(38,0)) - (np + nn)) + (np + nn) + 1)) AS twoR
      FROM cum CROSS JOIN t
      GROUP BY P, N
    )
    SELECT CAST(ROUND(CAST(
             CAST(twoR - CAST(P AS DECIMAL(38,0)) * (P + 1) AS DOUBLE)
             / (2.0 * CAST(P AS DOUBLE) * CAST(N AS DOUBLE))
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS auc,
           CAST(P AS BIGINT) AS n_pos,
           CAST(N AS BIGINT) AS n_neg
    FROM agg
    """,
)
def q_val_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (Mann-Whitney rank form) of an embedding
    coordinate as scorer for the low-label classes: per-score counts →
    distributed prefix-sum ranks (attach_global_cumsum, no
    single-partition window) → integer-exact rank sum, one final
    division. The oracle replays the doubled-rank arithmetic."""
    from databricks_demo_feature_store_spark.validation.evaluation import roc_auc

    e = load(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 2).cast("double").alias("score"),
        (F.col("label") <= 4).cast("int").alias("y"),
    )
    return roc_auc(e, "score", "y")


@register(
    "q_val_calibration",
    oracle="""
    WITH base AS (
      SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 500.0) AS s,
             CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y
      FROM documents
    )
    SELECT LEAST(10, GREATEST(1, CAST(FLOOR(s * 10) + 1 AS INT))) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(s AS DECIMAL(25,10))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_score,
           CAST(ROUND(CAST(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS positive_rate
    FROM base
    GROUP BY 1
    """,
)
def q_val_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a saturating length-based scorer
    against the long-document label: equal-width [0,1] bins, per-bin
    mean score vs positive rate in one map-side-combined aggregation
    with DECIMAL-routed sums. The oracle replays bins and both rates."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        calibration_bins,
    )

    d = load(spark, sf_dir, "documents").select(
        (
            F.col("n_chars").cast("double")
            / (F.col("n_chars").cast("double") + F.lit(500.0))
        ).alias("score"),
        (F.col("n_chars") >= 500).cast("int").alias("y"),
    )
    return calibration_bins(d, "score", "y", n_bins=10)


@register(
    "q_val_psi_numeric",
    oracle="""
    WITH refs AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-01-01'
    ),
    curs AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    ),
    cuts AS (
      SELECT list_sort(quantile_cont(v, [0.25, 0.5, 0.75])) AS qs FROM refs
    ),
    binify AS (
      SELECT 'cur' AS side,
             CASE WHEN v IS NULL THEN NULL
                  ELSE 1 + (CASE WHEN v > qs[1] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[2] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[3] THEN 1 ELSE 0 END) END AS bin
      FROM curs CROSS JOIN cuts
      UNION ALL
      SELECT 'ref',
             CASE WHEN v IS NULL THEN NULL
                  ELSE 1 + (CASE WHEN v > qs[1] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[2] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[3] THEN 1 ELSE 0 END) END
      FROM refs CROSS JOIN cuts
    ),
    j AS (
      SELECT COALESCE(CAST(bin AS VARCHAR), '__null__') AS category,
             SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur,
             SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref
      FROM binify GROUP BY 1
    ),
    t AS (SELECT COUNT(*) AS k, SUM(n_cur) AS tot_cur, SUM(n_ref) AS tot_ref FROM j)
    SELECT 'o_totalprice' AS "column",
           CAST(ROUND(CAST(SUM(
             ((n_cur + 0.5) / (tot_cur + 0.5 * k) - (n_ref + 0.5) / (tot_ref + 0.5 * k))
             * ln(((n_cur + 0.5) / (tot_cur + 0.5 * k)) / ((n_ref + 0.5) / (tot_ref + 0.5 * k)))
           ) AS DECIMAL(38,10)), 6) AS DOUBLE) AS psi,
           CAST(k AS INT) AS n_categories,
           CAST(tot_cur AS BIGINT) AS n_cur,
           CAST(tot_ref AS BIGINT) AS n_ref
    FROM j CROSS JOIN t GROUP BY k, tot_cur, tot_ref
    """,
)
def q_val_psi_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature PSI: quartile cutpoints fitted on the pre-1996
    reference slice (one aggregate row, broadcast), both slices binned
    with the per-row cutpoint fold (neither shuffles to bin), smoothed
    PSI over the binned distributions. The oracle replays fit, binning
    and the PSI sum."""
    from databricks_demo_feature_store_spark.validation.drift import psi_numeric

    o = load(spark, sf_dir, "orders")
    split = F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    return psi_numeric(
        o.where(split).select(F.col("o_totalprice").cast("double").alias("o_totalprice")),
        o.where(~split).select(F.col("o_totalprice").cast("double").alias("o_totalprice")),
        "o_totalprice",
        n_bins=4,
    )


@register(
    "q_val_threshold_metrics",
    oracle="""
    WITH base AS (
      SELECT CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 500.0) AS s,
             CASE WHEN source = 'web' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    th AS (SELECT unnest([0.3, 0.5, 0.7]) AS threshold)
    SELECT threshold,
           CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s < threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(ROUND(CAST(CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / NULLIF(SUM(CASE WHEN s >= threshold THEN 1 ELSE 0 END), 0) AS DECIMAL(38,10)), 6) AS DOUBLE) AS precision,
           CAST(ROUND(CAST(CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                / NULLIF(SUM(y), 0) AS DECIMAL(38,10)), 6) AS DOUBLE) AS recall,
           CAST(ROUND(CAST(
             2.0 * (CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / NULLIF(SUM(CASE WHEN s >= threshold THEN 1 ELSE 0 END), 0))
                 * (CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / NULLIF(SUM(y), 0))
             / NULLIF((CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / NULLIF(SUM(CASE WHEN s >= threshold THEN 1 ELSE 0 END), 0))
                    + (CAST(SUM(CASE WHEN s >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / NULLIF(SUM(y), 0)), 0)
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS f1
    FROM base CROSS JOIN th
    GROUP BY threshold
    """,
)
def q_val_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 sweep over three candidate thresholds of the
    length-saturation scorer against the 'web' label — every
    threshold's confusion counts from ONE scan (conditional sums in a
    single aggregate). The oracle replays each threshold's counts and
    ratios."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        threshold_metrics,
    )

    d = load(spark, sf_dir, "documents").select(
        (
            F.col("n_chars").cast("double")
            / (F.col("n_chars").cast("double") + F.lit(500.0))
        ).alias("score"),
        (F.col("source") == "web").cast("int").alias("y"),
    )
    return threshold_metrics(d, "score", "y", [0.3, 0.5, 0.7])


@register(
    "q_val_decile_lift",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding[2] AS DOUBLE) AS s,
             CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM embeddings WHERE embedding[2] IS NOT NULL
    ),
    binned AS (
      SELECT y, NTILE(5) OVER (ORDER BY -s ASC, vec_id ASC) AS bucket
      FROM base
    ),
    per AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS n_pos
      FROM binned GROUP BY bucket
    ),
    t AS (SELECT SUM(n) AS nn_tot, SUM(n_pos) AS pp_tot FROM per),
    cum AS (
      SELECT a.bucket, a.n, a.n_pos, SUM(b.n_pos) AS cum_pos
      FROM per a JOIN per b ON b.bucket <= a.bucket
      GROUP BY a.bucket, a.n, a.n_pos
    )
    SELECT bucket, n, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS positive_rate,
           CAST(ROUND(CAST((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(pp_tot AS DOUBLE) / CAST(nn_tot AS DOUBLE)) AS DECIMAL(38,10)), 6) AS DOUBLE) AS lift,
           CAST(ROUND(CAST(CAST(cum_pos AS DOUBLE) / CAST(pp_tot AS DOUBLE)
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS cumulative_gain
    FROM cum CROSS JOIN t
    """,
)
def q_val_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains-chart quintiles for the embedding-coordinate scorer: rank
    descending into 5 equal-frequency buckets via the distributed
    global rank (vec_id tiebreak — total, reproducible order), per
    bucket the positive rate, lift vs the base rate, and cumulative
    gain. The oracle replays the ntile and the ratios."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        decile_lift,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 2).cast("double").alias("score"),
        (F.col("label") <= 4).cast("int").alias("y"),
    )
    return decile_lift(e, "score", "y", "vec_id", n_bins=5)


@register(
    "q_val_pr_curve",
    oracle="""
    WITH base AS (
      SELECT CAST(embedding[2] AS DOUBLE) AS s,
             CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM embeddings
      WHERE embedding[2] IS NOT NULL
    ),
    per_score AS (
      SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM base GROUP BY s
    ),
    cum AS (
      SELECT s, np, nn,
             SUM(np) OVER (ORDER BY s DESC) AS tp,
             SUM(nn) OVER (ORDER BY s DESC) AS fp
      FROM per_score
    ),
    t AS (SELECT SUM(np) AS P FROM per_score)
    SELECT s AS threshold,
           CAST(np + nn AS BIGINT) AS n_at,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(ROUND(CAST(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS precision,
           CAST(ROUND(CAST(CASE WHEN P > 0 THEN CAST(tp AS DOUBLE) / CAST(P AS DOUBLE) END
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS recall
    FROM cum CROSS JOIN t
    """,
)
def q_val_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision-recall curve for the embedding-coordinate scorer:
    per-distinct-score collapse, then cumulative tp/fp in DESCENDING
    score order via the distributed prefix sum (attach_global_cumsum —
    no single-partition window); every emitted ratio is one division of
    exact integers, bit-reproducible across engines. The oracle replays
    the descending cumulative counts."""
    from databricks_demo_feature_store_spark.validation.evaluation import pr_curve

    e = load(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 2).cast("double").alias("score"),
        (F.col("label") <= 4).cast("int").alias("y"),
    )
    return pr_curve(e, "score", "y")


@register(
    "q_val_pr_auc",
    oracle="""
    WITH base AS (
      SELECT CAST(embedding[2] AS DOUBLE) AS s,
             CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM embeddings
      WHERE embedding[2] IS NOT NULL
    ),
    per_score AS (
      SELECT s, SUM(y) AS np, SUM(1 - y) AS nn FROM base GROUP BY s
    ),
    cum AS (
      SELECT s, np, nn,
             SUM(np) OVER (ORDER BY s DESC) AS tp,
             SUM(nn) OVER (ORDER BY s DESC) AS fp
      FROM per_score
    ),
    t AS (SELECT SUM(np) AS P, SUM(nn) AS N FROM per_score),
    terms AS (
      SELECT P, N,
             CAST(np AS HUGEINT) * CAST(tp AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT) AS a,
             CAST(P AS HUGEINT) * CAST(tp + fp AS HUGEINT) AS b
      FROM cum CROSS JOIN t
    ),
    agg AS (
      SELECT P, N, SUM(CASE WHEN b > 0 THEN a // b ELSE CAST(0 AS HUGEINT) END) AS ap_units
      FROM terms GROUP BY P, N
    )
    SELECT CAST(ROUND(CAST(CAST(ap_units AS DOUBLE) / 1000000000000.0
             AS DECIMAL(38,10)), 6) AS DOUBLE) AS average_precision,
           CAST(P AS BIGINT) AS n_pos,
           CAST(N AS BIGINT) AS n_neg
    FROM agg
    """,
)
def q_val_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (step-wise threshold-sweep AP) of the
    embedding-coordinate scorer: the same per-score prefix-sum shape as
    q_val_roc_auc, with each group's precision term floored to integer
    units of 1e-12 in pure DECIMAL(38) arithmetic ((a - a mod b) / b —
    exact floor division in both engines) so the cross-partition sum is
    an exact integer. The oracle replays the unit arithmetic in
    HUGEINT."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        average_precision,
    )

    e = load(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 2).cast("double").alias("score"),
        (F.col("label") <= 4).cast("int").alias("y"),
    )
    return average_precision(e, "score", "y")


@register(
    "q_val_pit_leakage",
    oracle="""
    WITH base AS (
      SELECT CAST(epoch(o_orderdate) AS BIGINT) AS lab, o_orderkey AS k
      FROM orders
    ),
    long AS (
      SELECT 'f_asof' AS feature, lab,
             lab + CASE WHEN k % 7 = 0 THEN 7200 ELSE -259200 END AS ft
      FROM base
      UNION ALL
      SELECT 'f_daily' AS feature, lab,
             CASE WHEN k % 11 <> 0 THEN lab - 86400 END AS ft
      FROM base
    ),
    agg AS (
      SELECT feature,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN ft IS NULL THEN 1 ELSE 0 END) AS n_null_ts,
             SUM(CASE WHEN ft IS NOT NULL AND ft > lab - 3600
                 THEN 1 ELSE 0 END) AS n_violations,
             MAX(CASE WHEN ft IS NOT NULL AND ft > lab - 3600
                 THEN ft - (lab - 3600) END) AS max_lookahead_sec
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
def q_val_pit_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time leakage audit of a synthetic training frame over
    orders: `f_asof` lands 2h AFTER the label for every 7th order (a
    planted pipeline bug) and 3 days before it otherwise; `f_daily` is
    a clean T-1 feature with every 11th value missing. A 1-hour embargo
    is enforced. The audit must flag exactly the planted rows, report
    the worst peek in seconds, and count nulls separately — the oracle
    replays the epoch arithmetic."""
    from databricks_demo_feature_store_spark.validation.leakage import (
        pit_leakage_audit,
    )

    o = load(spark, sf_dir, "orders")
    secs = F.unix_timestamp(F.col("o_orderdate"))
    df = o.select(
        F.col("o_orderdate").alias("label_ts"),
        F.timestamp_seconds(
            secs
            + F.when(F.col("o_orderkey") % 7 == 0, F.lit(7200)).otherwise(
                F.lit(-259200)
            )
        ).alias("f_asof"),
        F.when(
            F.col("o_orderkey") % 11 != 0, F.timestamp_seconds(secs - 86400)
        ).alias("f_daily"),
    )
    return pit_leakage_audit(df, "label_ts", ["f_asof", "f_daily"], embargo_seconds=3600)


@register(
    "q_val_feature_screen",
    oracle="""
    WITH base AS (
      SELECT feature, s, CASE WHEN label <= 4 THEN 1 ELSE 0 END AS y
      FROM (
        SELECT 'f_dim1' AS feature, CAST(embedding[1] AS DOUBLE) AS s, label
        FROM embeddings
        UNION ALL
        SELECT 'f_dim2', CAST(embedding[2] AS DOUBLE), label FROM embeddings
        UNION ALL
        SELECT 'f_mod', CAST(vec_id % 10 AS DOUBLE), label FROM embeddings
      ) WHERE s IS NOT NULL
    ),
    per AS (
      SELECT feature, s, SUM(y) AS np, SUM(1 - y) AS nn
      FROM base GROUP BY feature, s
    ),
    cum AS (
      SELECT feature, s, np, nn,
             SUM(np) OVER (PARTITION BY feature ORDER BY s ASC) AS cnp,
             SUM(nn) OVER (PARTITION BY feature ORDER BY s ASC) AS cnn
      FROM per
    ),
    tot AS (
      SELECT feature, SUM(np) AS P, SUM(nn) AS N FROM per GROUP BY feature
    ),
    terms AS (
      SELECT c.feature, t.P, t.N,
             CAST(np AS HUGEINT) * (
               2 * (CAST(cnp AS HUGEINT) + CAST(cnn AS HUGEINT)
                    - CAST(np + nn AS HUGEINT))
               + CAST(np + nn AS HUGEINT) + 1
             ) AS contrib
      FROM cum c JOIN tot t ON c.feature = t.feature
    ),
    agg AS (
      SELECT feature, P, N, SUM(contrib) AS r2 FROM terms
      GROUP BY feature, P, N
    )
    SELECT feature,
           CASE WHEN P > 0 AND N > 0 THEN
             CAST(ROUND(CAST(
               CAST(r2 - CAST(P AS HUGEINT) * (CAST(P AS HUGEINT) + 1) AS DOUBLE)
               / (2.0 * P * N) AS DECIMAL(38,10)), 6) AS DOUBLE)
           END AS auc,
           CAST(P AS BIGINT) AS n_pos,
           CAST(N AS BIGINT) AS n_neg
    FROM agg
    """,
)
def q_val_feature_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate AUC screening of three candidate features (two
    embedding coordinates + a synthetic mod-10 feature) against the
    label, all in ONE shared plan — grouped Mann–Whitney rank AUC via a
    single global prefix sum over (feature, value), never a per-feature
    single-task sort. The oracle replays the doubled-rank integer
    arithmetic per feature in HUGEINT."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        feature_auc_screen,
    )

    e = load(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("f_dim1"),
        F.element_at("embedding", 2).cast("double").alias("f_dim2"),
        (F.col("vec_id") % 10).cast("double").alias("f_mod"),
        (F.col("label") <= 4).cast("int").alias("y"),
    )
    return feature_auc_screen(e, ["f_dim1", "f_dim2", "f_mod"], "y")


@register(
    "q_val_cohens_kappa",
    oracle="""
    WITH base AS (
      SELECT CAST(label % 3 AS VARCHAR) AS a,
             CAST((label + CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) % 3
                  AS VARCHAR) AS b
      FROM embeddings
    ),
    cell AS (SELECT a, b, COUNT(*) AS c FROM base GROUP BY a, b),
    tot AS (
      SELECT SUM(c) AS n,
             SUM(CASE WHEN a = b THEN c ELSE 0 END) AS agree
      FROM cell
    ),
    ma AS (SELECT a, SUM(c) AS na FROM cell GROUP BY a),
    mb AS (SELECT b, SUM(c) AS nb FROM cell GROUP BY b),
    pe AS (
      SELECT COALESCE(SUM(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)),
                      CAST(0 AS HUGEINT)) AS pe_num
      FROM ma JOIN mb ON ma.a = mb.b
    )
    SELECT
      CASE WHEN CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe_num > 0 THEN
        CAST(ROUND(CAST(
          CAST(CAST(agree AS HUGEINT) * CAST(n AS HUGEINT) - pe_num AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe_num AS DOUBLE)
          AS DECIMAL(38,10)), 6) AS DOUBLE)
      END AS kappa,
      CAST(ROUND(CAST(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS p_observed,
      CAST(ROUND(CAST(CAST(pe_num AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
           AS DECIMAL(38,10)), 6) AS DOUBLE) AS p_expected,
      CAST(n AS BIGINT) AS n
    FROM tot CROSS JOIN pe
    """,
)
def q_val_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two synthetic raters over embeddings (rater
    B disagrees with rater A on exactly the vec_id mod-5 class, shifted
    one label) — chance-corrected agreement with exact-integer p_o/p_e
    arithmetic; the oracle replays the contingency algebra in HUGEINT."""
    from databricks_demo_feature_store_spark.validation.evaluation import (
        cohens_kappa,
    )

    e = load(spark, sf_dir, "embeddings").select(
        (F.col("label") % 3).cast("string").alias("rater_a"),
        (
            (F.col("label") + (F.col("vec_id") % 5 == 0).cast("int")) % 3
        ).cast("string").alias("rater_b"),
    )
    return cohens_kappa(e, "rater_a", "rater_b")


@register(
    "q_val_cusum",
    oracle="""
    WITH counts AS (
      SELECT CAST(ts AS DATE) AS period, COUNT(*) AS n_rows
      FROM events GROUP BY 1
    ),
    st AS (
      SELECT COUNT(*) AS k, SUM(n_rows) AS s1,
             SUM(n_rows * n_rows) AS s2
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
           (cu - mu > 5000000000 OR cd - md > 5000000000) AS is_changepoint
    FROM mins
    """,
)
def q_val_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift monitor over the daily event-count
    series — the persistent-drift complement to the per-period z-test
    (`q_val_count_anomalies`). The oracle replays the standardization
    (exact integer sums), the 1e-9-rounded DECIMAL cumulative terms,
    the running-min reset identity, and the alarm comparison."""
    from databricks_demo_feature_store_spark.validation.drift import (
        cusum_changepoints,
    )

    e = load(spark, sf_dir, "events")
    return cusum_changepoints(e, "ts", grain="day", slack=0.5, threshold=5.0)


@register(
    "q_val_privacy",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS group_size,
             COUNT(DISTINCT c_acctbal) AS n_sensitive
      FROM customer GROUP BY 1, 2
    ),
    s AS (
      SELECT SUM(group_size) AS n_rows,
             COUNT(*) AS n_groups,
             MIN(group_size) AS min_group_size,
             SUM(CASE WHEN group_size < 10 THEN 1 ELSE 0 END) AS n_k_violating_groups,
             SUM(CASE WHEN group_size < 10 THEN group_size ELSE 0 END) AS rows_at_risk,
             MIN(n_sensitive) AS min_l_diversity,
             SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS n_l_violating_groups
      FROM g
    )
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(min_group_size AS BIGINT) AS min_group_size,
           CAST(n_k_violating_groups AS BIGINT) AS n_k_violating_groups,
           CAST(rows_at_risk AS BIGINT) AS rows_at_risk,
           CAST(ROUND(CAST(CAST(rows_at_risk AS DOUBLE) / n_rows
                AS DECIMAL(38,10)), 6) AS DOUBLE) AS risk_share,
           CAST(min_l_diversity AS BIGINT) AS min_l_diversity,
           CAST(n_l_violating_groups AS BIGINT) AS n_l_violating_groups
    FROM s
    """,
)
def q_val_privacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer table over the
    (nation, market segment) quasi-identifier pair with account balance
    as the sensitive attribute (k=10, l=3) — the re-identification-risk
    gate a team runs before releasing training data. One hash
    aggregation collapses rows to group counts; the summary aggregates
    the group frame. The oracle replays both exactly."""
    from databricks_demo_feature_store_spark.validation.integrity import (
        privacy_audit,
    )

    c = load(spark, sf_dir, "customer")
    return privacy_audit(
        c, ["c_nationkey", "c_mktsegment"], sensitive_col="c_acctbal", k=10, l=3
    )


_BENFORD_CASE = (
    "CASE digit "
    "WHEN 1 THEN 0.3010299956639812 "
    "WHEN 2 THEN 0.17609125905568124 "
    "WHEN 3 THEN 0.12493873660829992 "
    "WHEN 4 THEN 0.09691001300805642 "
    "WHEN 5 THEN 0.07918124604762482 "
    "WHEN 6 THEN 0.06694678963061322 "
    "WHEN 7 THEN 0.05799194697768673 "
    "WHEN 8 THEN 0.05115252244738129 "
    "WHEN 9 THEN 0.04575749056067514 END"
)


@register(
    "q_val_benford",
    oracle=f"""
    WITH d AS (
      SELECT CAST(NULLIF(regexp_extract(
                    CAST(ABS(l_extendedprice) AS VARCHAR), '[1-9]'), '')
                  AS INT) AS digit
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
    ),
    counts AS (
      SELECT digit, COUNT(*) AS n FROM d WHERE digit IS NOT NULL GROUP BY digit
    ),
    tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT CAST(digit AS INT) AS digit,
           CAST(n AS BIGINT) AS n,
           {oracle_dround('CAST(n AS DOUBLE) / tot.t', 6)} AS observed_share,
           {oracle_dround(_BENFORD_CASE, 6)} AS expected_share,
           {oracle_dround(
               f"ABS({oracle_dround('CAST(n AS DOUBLE) / tot.t', 6)}"
               f" - {oracle_dround(_BENFORD_CASE, 6)})", 6)} AS abs_deviation
    FROM counts CROSS JOIN tot
    """,
)
def q_val_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit deviation screen over lineitem extended
    prices — the forensic check for fabricated or unit-mangled numeric
    columns. Leading digits come from the DECIMAL's string form (engine-
    exact, immune to the log10 power-of-ten ulp flip); expected shares
    are the same Python-float literals on both sides."""
    from databricks_demo_feature_store_spark.validation.integrity import (
        benford_deviation,
    )

    l = load(spark, sf_dir, "lineitem")
    return benford_deviation(l, "l_extendedprice")


_SKEW_PSI_TERM = (
    "((n_cur + 0.5) / (tot_cur + 0.5 * k) - (n_ref + 0.5) / (tot_ref + 0.5 * k))"
    " * ln(((n_cur + 0.5) / (tot_cur + 0.5 * k)) / ((n_ref + 0.5) / (tot_ref + 0.5 * k)))"
)


@register(
    "q_val_serving_skew",
    oracle=f"""
    WITH feat AS (
      SELECT o_custkey AS ck,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS rd,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend,
             CAST(COUNT(*) AS BIGINT) AS order_cnt
      FROM orders GROUP BY 1, 2
    ),
    online AS (
      SELECT ck, rd, total_spend, order_cnt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ck ORDER BY rd DESC) AS rn
        FROM feat
      ) WHERE rn = 1
    ),
    offl AS (
      SELECT 'total_spend' AS feature, total_spend AS v FROM feat
      UNION ALL
      SELECT 'order_cnt', CAST(order_cnt AS DOUBLE) FROM feat
    ),
    onl AS (
      SELECT 'total_spend' AS feature, total_spend AS v FROM online
      UNION ALL
      SELECT 'order_cnt', CAST(order_cnt AS DOUBLE) FROM online
    ),
    cuts AS (
      SELECT feature, list_sort(quantile_cont(v, [0.25, 0.5, 0.75])) AS qs
      FROM offl GROUP BY feature
    ),
    binify AS (
      SELECT 'cur' AS side, o.feature,
             CASE WHEN v IS NULL THEN NULL
                  ELSE 1 + (CASE WHEN v > qs[1] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[2] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[3] THEN 1 ELSE 0 END) END AS bin
      FROM onl o JOIN cuts USING (feature)
      UNION ALL
      SELECT 'ref', o.feature,
             CASE WHEN v IS NULL THEN NULL
                  ELSE 1 + (CASE WHEN v > qs[1] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[2] THEN 1 ELSE 0 END)
                         + (CASE WHEN v > qs[3] THEN 1 ELSE 0 END) END
      FROM offl o JOIN cuts USING (feature)
    ),
    j AS (
      SELECT feature, COALESCE(CAST(bin AS VARCHAR), '__null__') AS category,
             SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur,
             SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref
      FROM binify GROUP BY 1, 2
    ),
    t AS (
      SELECT feature, COUNT(*) AS k, SUM(n_cur) AS tot_cur, SUM(n_ref) AS tot_ref
      FROM j GROUP BY feature
    )
    SELECT j.feature,
           {oracle_dround(f'SUM({_SKEW_PSI_TERM})', 6)} AS psi,
           CAST(k AS INT) AS n_categories,
           CAST(tot_cur AS BIGINT) AS n_online,
           CAST(tot_ref AS BIGINT) AS n_offline
    FROM j JOIN t USING (feature)
    GROUP BY j.feature, k, tot_cur, tot_ref
    """,
)
def q_val_serving_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training/serving skew audit: the online serving snapshot (latest
    feature row per customer) PSI-scored per feature against the full
    offline training history of the same monthly-spend feature table —
    quartile bins fitted on the history, NULLs as their own bin, smoothed
    PSI. One offline scan + one snapshot scan regardless of feature
    count (stack unpivot + grouped percentile + broadcast-fold binning).
    The oracle replays the snapshot, the per-feature quartile fit, the
    binning and the PSI arithmetic."""
    from databricks_demo_feature_store_spark.validation.skew import (
        serving_skew_audit,
    )

    o = load(spark, sf_dir, "orders")
    feat = o.groupBy(
        F.col("o_custkey").alias("ck"),
        F.date_trunc("month", F.col("o_orderdate")).alias("rd"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
        .cast("double")
        .alias("total_spend"),
        F.count(F.lit(1)).alias("order_cnt"),
    )
    return serving_skew_audit(
        feat,
        primary_keys=("ck", "rd"),
        timestamp_key="rd",
        feature_cols=("total_spend", "order_cnt"),
        n_bins=4,
    )
