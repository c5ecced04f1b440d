"""Named query catalog: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable with (where SQL-expressible) a
DuckDB oracle string.

This is the engine's correctness surface (SURVEY §2 inventory): each entry
exercises one operator family on the driver's TPC-H-ish tables.

Determinism contract with the oracle
------------------------------------
Float aggregation order is nondeterministic under a shuffle, so any SUM of
doubles goes through an exact DECIMAL cast and back to DOUBLE::

    SUM(CAST(x AS DECIMAL(25,6)))  →  CAST(... AS DOUBLE)

which makes Spark and DuckDB produce bit-identical doubles regardless of
partitioning. AVGs are computed as exact-sum / count in double arithmetic.
Window stats run over uniquely-ordered frames (deterministic), rounded to
stabilize the last bits.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from databricks_demo_feature_store_spark.operators import (
    aggregation_operations,
    conditional_pivot,
    exclude_ids_anti_join,
    filter_by_fixed_conditions,
    filter_by_max_value,
    make_join,
    point_in_time_join,
    rolling_numeric_stats,
    rolling_categorical_stats,
    generate_lags,
    lag_diff_roc,
    select_distinct,
    union_dataframes,
)
from databricks_demo_feature_store_spark.functions import (
    calculate_percentages,
    calculate_ratios,
    categorize_by_fixed_values,
    binarize,
    months_between_dates,
    shift_date,
)
from databricks_demo_feature_store_spark.functions.strings import normalize_string_col
from databricks_demo_feature_store_spark.functions.quality import standardize_na_values
from databricks_demo_feature_store_spark.functions.rounding import oracle_dround

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# Scan-split cache: (sf_dir, name) -> whether the scan needs a fan-out
# repartition. Probing split count costs one catalog round-trip, so do it
# once per table per process.
_SCAN_FANOUT: dict[tuple[str, str], bool] = {}


def _parallelize_scan(spark: SparkSession, df: DataFrame, key: tuple[str, str]) -> DataFrame:
    """Fan a narrow scan out to the cluster's parallelism.

    Parquet splits by row group; a table written as one file with one row
    group yields ONE input partition no matter how many cores exist, and
    every downstream narrow op (shingle hashing, embedding math) runs
    single-threaded. When the scan has fewer splits than
    ``defaultParallelism``, insert a round-robin repartition: the exchange
    moves at most (cores × maxPartitionBytes) — by definition small — and
    buys full-width execution. At real scale (many files / row groups) the
    probe sees splits ≥ cores and this is a no-op, so the 100 TB plan keeps
    its shuffle-free scan. Catalyst still prunes columns and pushes filters
    below the repartition, so the exchange carries only what the query
    reads.

    ``SPARK_GRAFT_NO_SCAN_FANOUT=1`` disables the fan-out entirely: the
    plan audit (tools/explain_audit.py) sets it so exchange budgets
    measure the scale-invariant plan — at real scale the probe sees
    splits ≥ cores and this repartition never exists, so counting it at
    sf0.01+ (where local single-file tables exceed 256 KB) would make
    the budget ratchet scale-dependent.
    """
    import os as _os

    if _os.environ.get("SPARK_GRAFT_NO_SCAN_FANOUT") == "1":
        return df
    cores = spark.sparkContext.defaultParallelism
    fanout = _SCAN_FANOUT.get(key)
    if fanout is None:
        sf_dir, name = key
        try:
            import os

            p = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.isdir(p):
                # directory-style table: size = sum of its data files
                nbytes = sum(
                    e.stat().st_size for e in os.scandir(p) if e.is_file()
                )
            else:
                nbytes = os.path.getsize(p)
        except OSError:
            nbytes = 0
        # Tiny dimension tables (region/nation/…) skip the fan-out: their
        # scans cost nothing and the extra exchange would only delay the
        # broadcast-join path they invariably feed.
        fanout = nbytes > 256 * 1024 and df.rdd.getNumPartitions() < cores
        _SCAN_FANOUT[key] = fanout
    return df.repartition(cores) if fanout else df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table; normalizes the events table's TIMESTAMP(NANOS).

    Spark has no nanosecond timestamp type. With
    ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as a
    long of epoch-nanos, which we floor-divide to micros — exactly what
    engines with a native microsecond timestamp (e.g. DuckDB) do when
    reading nanos parquet.
    """
    if name == "events":
        try:  # harmless if the session already has it / doesn't allow it
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) read as epoch-nanos long: integer division —
            # a double round-trip would lose precision (nanos exceed 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # TIMESTAMP(MICROS, no-UTC-adjust) arrives as NTZ; the session
            # runs in UTC, so the cast is a pure type relabel (no shift) —
            # exactly how a naive-timestamp engine (DuckDB) treats it
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return _parallelize_scan(spark, df, (sf_dir, name))
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _parallelize_scan(spark, df, (sf_dir, name))


_SCRATCH_ROOT: str | None = None


def scratch_dir(name: str) -> str:
    """Fresh per-process scratch directory for queries that materialize
    intermediate tables (layer round-trips, incremental stores, corpus
    re-ingestion).

    One ``mkdtemp`` root per process (unpredictable, mode 0700 — immune
    to the symlink attacks and cross-run rmtree/rename races a fixed
    ``/tmp`` name invites), one empty subdir per call, removed at
    interpreter exit. Concurrent suite runs on one host therefore never
    touch each other's scratch state.
    """
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="databricks_demo_fs_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    path = tempfile.mkdtemp(prefix=f"{name}_", dir=_SCRATCH_ROOT)
    return path


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → rows-only check


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def _dsum(col, scale: int = 6) -> F.Column:
    """Exact, order-independent SUM of a double: via DECIMAL, back to DOUBLE."""
    return F.sum(col.cast(f"decimal(25,{scale})")).cast("double")


def _o_dsum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,{scale}))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Scan → filter → aggregate
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_o_dsum('l_quantity', 2)} AS sum_qty,
           {_o_dsum('l_extendedprice', 2)} AS sum_base_price,
           {_o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           CAST({_o_dsum('l_quantity', 2)} / COUNT(*) AS DOUBLE) AS avg_qty,
           CAST({_o_dsum('l_extendedprice', 2)} / COUNT(*) AS DOUBLE) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→groupBy multi-agg (SURVEY §2.4).

    Filter pushes to the parquet scan; aggregation is a partial+final hash
    agg with map-side combine — the canonical 100 TB-safe shape.
    """
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity"), 2) / cnt).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice"), 2) / cnt).alias("avg_price"),
            cnt.alias("count_order"),
        )
    )


@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {_o_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective multi-predicate scan → global agg.

    Every predicate is a plain column comparison, so all four push down
    to the parquet reader (row-group + page pruning at scale); the agg
    is a partial+final with no grouping key — the minimal-shuffle query.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q03_unshipped_revenue",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {_o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q03_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.

    The customer side is filtered *before* the join so Catalyst can
    broadcast it; top-k is orderBy+limit (TakeOrdered — no global sort).
    """
    cutoff = F.lit("1997-03-15").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@register(
    "q05_region_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           {_o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join with two broadcast dims + local-supplier
    equi-constraint; Catalyst reorders, AQE handles any skew."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q07_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
           {_o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-table join with a DISJUNCTIVE cross-dimension
    predicate (nation pair in either direction) — the planner-stress case
    where naive plans can't push the filter below the joins because the
    OR spans two different join branches.

    The rewrite that keeps pushdown: each nation dim is pre-filtered to
    the two-name set (a pushable IN on the scan), joined into its fact
    side EARLY — supplier⋈n1 makes a tiny broadcast side that prunes
    lineitem BEFORE the big shuffles; customer⋈n2 prunes orders' build
    side the same way — and the residual of the original OR collapses to
    ``supp_nation != cust_nation`` (given both ends are restricted to the
    same two names, "either direction" ≡ "different"). Date filter pushes
    to the lineitem scan. One shuffle join on l_orderkey carries only
    pre-pruned rows.
    """
    pair = ["NATION_1", "NATION_2"]
    cutlo = F.lit("1996-01-01").cast("timestamp")
    cuthi = F.lit("1998-01-01").cast("timestamp")
    n1 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), "s_nationkey")
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n2), "c_nationkey")
        .select("c_custkey", "cust_nation")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= cutlo) & (F.col("l_shipdate") < cuthi)
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q08_market_share",
    oracle=f"""
    WITH all_orders AS (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           {_o_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")}
             / {_o_dsum('volume')} AS mkt_share,
           COUNT(*) AS n_lines
    FROM all_orders
    GROUP BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: EIGHT-table join (part, lineitem, supplier, orders,
    customer, nation×2, region) feeding a conditional market-share ratio —
    the deepest join-ordering stress in the suite.

    Plan discipline: the selective part filter (p_type) broadcasts into
    lineitem FIRST (strongest pruner), the customer→nation→region chain
    folds into one small broadcast dim before touching orders, and the
    supplier→nation lookup broadcasts at the end onto the already-pruned
    rows. Only the lineitem⋈orders join shuffles. The share is two
    exact DECIMAL sums and ONE double division (cross-engine bit-exact).
    """
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nationkey"))
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n1), "c_nationkey")
        .select("c_custkey")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), "s_nationkey")
        .select("s_suppkey", "supp_nation")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                _dsum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0)))
                / _dsum(volume)
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q09_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           {_o_dsum('l.l_extendedprice * (1 - l.l_discount) - 0.4 * p.p_retailprice * l.l_quantity')} AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) over a
    part-name substring filter — 5-table join where the ONLY selective
    predicate is a LIKE on a dimension attribute (no date pruning), so
    the plan must broadcast the filtered part dim into the fact scan or
    pay a full-lineitem shuffle.

    The cost side substitutes ``0.4 × p_retailprice × l_quantity`` for
    TPC-H's partsupp.ps_supplycost (the testdata has no partsupp table);
    the join/agg shape is unchanged. Profit terms are IEEE
    multiply/subtract (bit-exact cross-engine) summed through DECIMAL.
    """
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.4) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_dsum(amount).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Projection / filter / distinct operators
# ---------------------------------------------------------------------------


@register(
    "q_select_distinct",
    oracle="SELECT DISTINCT c_mktsegment AS mktsegment, c_nationkey AS nationkey FROM customer",
)
def q_select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select_distinct operator (reference selection.py:41-68)."""
    c = load(spark, sf_dir, "customer").withColumnsRenamed(
        {"c_mktsegment": "mktsegment", "c_nationkey": "nationkey"}
    )
    return select_distinct(c, ["mktsegment", "nationkey"])


@register(
    "q_filter_fold",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_filter_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_by_fixed_conditions: AND-fold of SQL condition strings
    (reference filters.py:10-40)."""
    o = load(spark, sf_dir, "orders")
    out = filter_by_fixed_conditions(
        o,
        [
            "o_orderstatus = 'F'",
            "o_totalprice > 150000.0",
            "o_orderpriority IN ('1-URGENT', '2-HIGH')",
        ],
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


@register(
    "q_filter_max_value",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate
    FROM orders
    WHERE o_orderdate = (SELECT MAX(o_orderdate) FROM orders)
    """,
)
def q_filter_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_by_max_value without the reference's driver collect()
    (reference filters.py:43-64)."""
    o = load(spark, sf_dir, "orders")
    return filter_by_max_value(o, "o_orderdate").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q_equi_join_left_wins",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey AS custkey, o.o_totalprice,
           c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_equi_join_left_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_join: differently-named keys renamed right→left, duplicate
    non-key columns kept from the left (reference joins.py:11-112)."""
    o = load(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = load(spark, sf_dir, "customer")
    joined = make_join(
        o,
        c,
        left_keys=["custkey"],
        right_keys=["c_custkey"],
        how="left",
        broadcast_right=True,
    )
    return joined.select("o_orderkey", "custkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exclude_ids_anti_join: customers with no urgent order
    (reference joins.py:241-268)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    out = exclude_ids_anti_join(c, o, keys=["c_custkey"], exclude_keys=["o_custkey"])
    return out.select("c_custkey", "c_name", "c_mktsegment")


_PIT_CHECKPOINTS = [
    "2023-12-31 00:00:00",  # before any event → NULL features
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
    "2024-01-29 00:00:00",
    "2024-02-05 00:00:00",  # after the last event
]


@register(
    "q_pit_join",
    oracle=f"""
    WITH spine AS (
      SELECT u.user_id, CAST(t.ts AS TIMESTAMP) AS asof_ts
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (VALUES {", ".join(f"(TIMESTAMP '{t}')" for t in _PIT_CHECKPOINTS)}) AS t(ts)
    ), ranked AS (
      SELECT s.user_id, s.asof_ts,
             e.ts AS event_ts, e.event_type, e.value,
             ROW_NUMBER() OVER (
               PARTITION BY s.user_id, s.asof_ts ORDER BY e.ts DESC, e.event_id DESC
             ) AS rn
      FROM spine s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.ts <= s.asof_ts
    )
    SELECT user_id, asof_ts, event_ts, event_type, value
    FROM ranked WHERE rn = 1 OR event_ts IS NULL
    """,
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point_in_time_join: latest event at-or-before weekly user checkpoints
    (reference joins.py:115-238), in the union+last_value linear form —
    one shuffle on the key, no quadratic theta join. Ties within an
    identical (user, ts) resolve via the operator's feature_tiebreak
    (max event_id wins), so no pre-dedup window pass is needed.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    spine = (
        e.select("user_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                e.sparkSession.createDataFrame(
                    [(t,) for t in _PIT_CHECKPOINTS], "asof_ts_str string"
                ).select(F.col("asof_ts_str").cast("timestamp").alias("asof_ts"))
            )
        )
    )
    feats = e.withColumnRenamed("ts", "event_ts")
    return point_in_time_join(
        spine,
        feats,
        keys=["user_id"],
        spine_time="asof_ts",
        feature_time="event_ts",
        feature_cols=["event_ts", "event_type", "value"],
        feature_tiebreak=["event_id"],
    ).select("user_id", "asof_ts", "event_ts", "event_type", "value")


# ---------------------------------------------------------------------------
# Set ops
# ---------------------------------------------------------------------------


@register(
    "q_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'high' AS src FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union_dataframes / unionByName (reference union.py:8-23)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice", F.lit("urgent").alias("src")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", F.lit("high").alias("src"), "o_totalprice"
    )
    return union_dataframes(a, b)


# ---------------------------------------------------------------------------
# Window / time-series operators (monthly per-customer order series)
# ---------------------------------------------------------------------------

_MONTHLY_ORACLE_CTE = f"""
    WITH monthly AS (
      SELECT o_custkey AS custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
             {_o_dsum('o_totalprice', 2)} AS total_spend,
             COUNT(*) AS order_cnt
      FROM orders
      GROUP BY 1, 2
    )
"""


def _monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer monthly order series — the engine's equivalent of the
    reference's (customer, month) fact grain (SURVEY §1.1)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("order_month"),
        )
        .agg(
            _dsum(F.col("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


@register(
    "q_monthly_lags",
    oracle=_MONTHLY_ORACLE_CTE
    + """
    SELECT custkey, order_month, total_spend,
           LAG(total_spend, 1) OVER w AS total_spend_lag_1m,
           LAG(total_spend, 3) OVER w AS total_spend_lag_3m
    FROM monthly
    WINDOW w AS (PARTITION BY custkey ORDER BY order_month ASC)
    """,
)
def q_monthly_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_lags over the monthly series (reference lags.py:82-128)."""
    m = _monthly_orders(spark, sf_dir)
    return generate_lags(
        m,
        columns=["total_spend"],
        lags=[1, 3],
        partition_by=["custkey"],
        order_by=["order_month"],
    ).select(
        "custkey", "order_month", "total_spend", "total_spend_lag_1m", "total_spend_lag_3m"
    )


@register(
    "q_lag_diff_roc",
    oracle=_MONTHLY_ORACLE_CTE
    + f"""
    SELECT custkey, order_month, total_spend,
           LAG(total_spend, 1) OVER w AS total_spend_lag_1m,
           total_spend - LAG(total_spend, 1) OVER w AS total_spend_diff_1m,
           CASE WHEN LAG(total_spend, 1) OVER w IS NOT NULL AND LAG(total_spend, 1) OVER w <> 0
                THEN {oracle_dround('(total_spend - LAG(total_spend, 1) OVER w) / LAG(total_spend, 1) OVER w')}
           END AS total_spend_roc_1m
    FROM monthly
    WINDOW w AS (PARTITION BY custkey ORDER BY order_month ASC)
    """,
)
def q_lag_diff_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/diff/rate-of-change — the intended semantics of the reference's
    dead code (fs_cus_credit_risk.py:273-324) implemented for real."""
    m = _monthly_orders(spark, sf_dir)
    return lag_diff_roc(
        m,
        columns=["total_spend"],
        lags=[1],
        partition_by=["custkey"],
        order_by=["order_month"],
    ).select(
        "custkey",
        "order_month",
        "total_spend",
        "total_spend_lag_1m",
        "total_spend_diff_1m",
        "total_spend_roc_1m",
    )


@register(
    "q_rolling_stats",
    oracle=_MONTHLY_ORACLE_CTE
    + f"""
    SELECT custkey, order_month, total_spend,
           {oracle_dround('AVG(total_spend) OVER w3')} AS total_spend_ravg_3m,
           {oracle_dround('STDDEV_SAMP(total_spend) OVER w3')} AS total_spend_rstd_3m,
           MIN(order_cnt) OVER w3 AS order_cnt_rmin_3m,
           MAX(order_cnt) OVER w3 AS order_cnt_rmax_3m
    FROM monthly
    WINDOW w3 AS (PARTITION BY custkey ORDER BY order_month ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling_numeric_stats + rolling_categorical_stats
    (reference fs_cus_credit_risk.py:336-397)."""
    m = _monthly_orders(spark, sf_dir)
    out = rolling_numeric_stats(
        m, ["total_spend"], [3], partition_by=["custkey"], order_by=["order_month"]
    )
    out = rolling_categorical_stats(
        out, ["order_cnt"], [3], partition_by=["custkey"], order_by=["order_month"]
    )
    return out.select(
        "custkey",
        "order_month",
        "total_spend",
        "total_spend_ravg_3m",
        "total_spend_rstd_3m",
        "order_cnt_rmin_3m",
        "order_cnt_rmax_3m",
    )


# ---------------------------------------------------------------------------
# Aggregation operators
# ---------------------------------------------------------------------------


@register(
    "q_conditional_pivot",
    oracle=f"""
    SELECT o_custkey AS custkey,
           {_o_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END", 2)} AS amt_1_urgent,
           {_o_dsum("CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END", 2)} AS amt_2_high,
           SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) > 0 AS ind_1_urgent,
           SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) > 0 AS ind_2_high,
           COUNT(*) AS orders_cnt
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SUM(CASE WHEN) pivot + ind_* boolean indicators
    (reference fs_cus_holding_products.py:279-300)."""
    o = load(spark, sf_dir, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(25,2)")
    )
    out = conditional_pivot(
        o.withColumnRenamed("o_custkey", "custkey"),
        group_by=["custkey"],
        pivot_column="o_orderpriority",
        categories=["1-URGENT", "2-HIGH"],
        value_column="price_dec",
        prefix="amt_",
        indicators=True,
        extra_operations=[{"column": "o_orderkey", "operation": "count", "alias": "orders_cnt"}],
    )
    return out.select(
        "custkey",
        F.col("amt_1_urgent").cast("double").alias("amt_1_urgent"),
        F.col("amt_2_high").cast("double").alias("amt_2_high"),
        "ind_1_urgent",
        "ind_2_high",
        "orders_cnt",
    )


@register(
    "q_agg_dispatch",
    oracle=f"""
    SELECT p_brand AS brand,
           MIN(p_retailprice) AS min_price,
           MAX(p_retailprice) AS max_price,
           COUNT(DISTINCT p_type) AS n_types,
           {_o_dsum('p_retailprice', 2)} AS sum_price
    FROM part
    GROUP BY p_brand
    """,
)
def q_agg_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregation_operations name-dispatch (reference aggregation.py:60-159)."""
    p = load(spark, sf_dir, "part").withColumn(
        "price_dec", F.col("p_retailprice").cast("decimal(25,2)")
    )
    out = aggregation_operations(
        p.withColumnRenamed("p_brand", "brand"),
        group_by=["brand"],
        operations=[
            {"column": "p_retailprice", "operation": "min", "alias": "min_price"},
            {"column": "p_retailprice", "operation": "max", "alias": "max_price"},
            {"column": "p_type", "operation": "countDistinct", "alias": "n_types"},
            {"column": "price_dec", "operation": "sum", "alias": "sum_price"},
        ],
    )
    return out.withColumn("sum_price", F.col("sum_price").cast("double"))


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@register(
    "q_shift_date",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS event_month,
           CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE) AS release_dt
    FROM orders
    """,
)
def q_shift_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shift_date availability shift: month-truncate + add_months(1)
    (reference notebooks/utils.py:482-534)."""
    o = load(spark, sf_dir, "orders")
    out = shift_date(o, "o_orderdate", "release_dt", months_to_add=1)
    out = out.withColumn("event_month", F.trunc(F.col("o_orderdate").cast("date"), "month"))
    return out.select("o_orderkey", "event_month", "release_dt")


@register(
    "q_months_between",
    oracle="""
    SELECT o_orderkey,
           CAST(TRUNC(
             datediff('month', CAST(o_orderdate AS DATE), DATE '1998-12-01')
             + (1 - date_part('day', CAST(o_orderdate AS DATE))) / 31.0
           ) AS INT) AS months_since_order
    FROM orders
    """,
)
def q_months_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """months_between tenure feature (reference fs_cus_demographic.py:234-240).

    Oracle reproduces Spark's months_between day-fraction rule (/31) on top
    of DuckDB's month-boundary datediff.
    """
    o = load(spark, sf_dir, "orders").withColumn(
        "asof", F.lit("1998-12-01").cast("date")
    )
    out = months_between_dates(o, "o_orderdate", "asof", "months_since_order")
    return out.select("o_orderkey", "months_since_order")


@register(
    "q_string_normalize",
    oracle="""
    SELECT p_partkey,
           trim(
             regexp_replace(
               regexp_replace(LOWER(TRIM(p_type)), '[^a-z0-9]+', '_', 'g'),
               '_+', '_', 'g'),
             '_'
           ) AS type_norm
    FROM part
    """,
)
def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String normalization pipeline (reference utils.py:382-421)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey", normalize_string_col(F.col("p_type")).alias("type_norm")
    )


@register(
    "q_ratios_pct",
    oracle=f"""
    WITH agg AS (
      SELECT o_custkey AS custkey,
             {_o_dsum('o_totalprice', 2)} AS total_spend,
             CAST(COUNT(*) AS DOUBLE) AS order_cnt,
             {_o_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END", 2)} AS finished_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey, total_spend, order_cnt, finished_spend,
           CASE WHEN order_cnt IS NOT NULL AND order_cnt <> 0
                THEN {oracle_dround('total_spend / order_cnt')} END AS total_spend_to_order_cnt_ratio,
           CASE WHEN total_spend IS NOT NULL AND total_spend <> 0
                THEN {oracle_dround('finished_spend * 100.0 / total_spend')} END AS finished_spend_pct
    FROM agg
    """,
)
def q_ratios_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calculate_ratios + calculate_percentages
    (reference fs_cus_credit_risk.py:456-486)."""
    o = load(spark, sf_dir, "orders")
    agg = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            _dsum(F.col("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).cast("double").alias("order_cnt"),
            _dsum(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0), 2
            ).alias("finished_spend"),
        )
    )
    out = calculate_ratios(agg, [("total_spend", "order_cnt")])
    out = calculate_percentages(out, [("finished_spend", "total_spend")])
    return out


@register(
    "q_categorize_binarize",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE') THEN 'physical'
                WHEN c_mktsegment IN ('MACHINERY', 'FURNITURE') THEN 'industrial'
                ELSE 'other' END AS segment_group,
           c_acctbal >= 5000.0 AS ind_high_balance,
           c_acctbal < 0.0 AS ind_negative_balance
    FROM customer
    """,
)
def q_categorize_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categorize_by_fixed_values + binarize
    (reference feature_generation.py:195-317)."""
    c = load(spark, sf_dir, "customer")
    out = categorize_by_fixed_values(
        c,
        column="c_mktsegment",
        new_column="segment_group",
        mapping={
            "physical": ["BUILDING", "AUTOMOBILE"],
            "industrial": ["MACHINERY", "FURNITURE"],
        },
        default="other",
    )
    out = binarize(
        out,
        {
            "ind_high_balance": "c_acctbal >= 5000.0",
            "ind_negative_balance": "c_acctbal < 0.0",
        },
    )
    return out.select("c_custkey", "segment_group", "ind_high_balance", "ind_negative_balance")


@register(
    "q_na_standardize",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type IN ('', 'NA', 'null') THEN NULL ELSE event_type END AS event_type_clean,
           value
    FROM events
    """,
)
def q_na_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """standardize_na_values (reference data_quality.py:10-38)."""
    e = load(spark, sf_dir, "events")
    out = standardize_na_values(
        e.withColumn("event_type_clean", F.col("event_type")),
        ["event_type_clean"],
        na_values=["", "NA", "null"],
    )
    return out.select("event_id", "event_type_clean", "value")
