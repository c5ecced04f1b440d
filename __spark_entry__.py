"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` exposes
every implemented operator as a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` gives the DuckDB-equivalent SQL for the correctness gate.

The real implementations live in ``databricks_demo_feature_store_spark.queries`` — this module
is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from databricks_demo_feature_store_spark.queries import QUERIES as _RAW_QUERIES  # noqa: E402
import databricks_demo_feature_store_spark.queries_ext  # noqa: E402,F401  (registers q_ext_*)
import databricks_demo_feature_store_spark.queries_cov  # noqa: E402,F401  (registers coverage queries)
import databricks_demo_feature_store_spark.queries_val  # noqa: E402,F401  (registers q_val_*)
import databricks_demo_feature_store_spark.queries_pipe  # noqa: E402,F401  (registers q_pipeline_*)
import databricks_demo_feature_store_spark.queries_clean  # noqa: E402,F401  (registers corpus-cleaning q_ext_*)
import databricks_demo_feature_store_spark.queries_tpch  # noqa: E402,F401  (registers TPC-H completion q02/q04/q10-q22)
from databricks_demo_feature_store_spark.driver_window import reorder  # noqa: E402

# The driver's correctness gate checks the first 50 entries of queries():
# the oracle-bearing queries whose last certification in this directory's
# CORRECTNESS_r*.json reports is oldest.
QUERIES = reorder(_RAW_QUERIES, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only check)."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }
