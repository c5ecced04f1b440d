"""Semi-structured (JSON-string) column operators.

Raw event logs land with a JSON payload column (`events.props` in the
test corpus); training pipelines need (a) typed extraction into real
columns and (b) a key profile to know what is IN there before writing
extraction configs. Both stay JVM-side (`get_json_object` /
`json_object_keys` are built-in Catalyst expressions — no Python in the
row path) and both are engine-exact against DuckDB's JSON functions.

At 100 TB the important property is that extraction is a PROJECTION:
no shuffle, pushdown-friendly (column pruning still reaches the scan;
the JSON column is read once however many fields are pulled), and the
profile is one explode + one hash aggregation whose output is bounded
by the distinct key count, not the row count.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround

#: extraction casts the caller may request — anything else raises
#: (no eval / no arbitrary expressions through a config file)
_ALLOWED_TYPES = {
    "string", "int", "bigint", "long", "double", "float", "boolean",
    "date", "timestamp", "decimal(25,2)", "decimal(38,10)",
}


def json_extract_typed(
    df: DataFrame,
    json_col: str,
    fields: Mapping[str, str],
    prefix: str = "",
) -> DataFrame:
    """Extract ``fields`` (name → Spark type from an allowlist) out of a
    JSON-string column as typed top-level columns named
    ``{prefix}{field}``. Missing keys / malformed documents / failed
    casts yield NULL (never a task failure — a poison payload must not
    kill a 100 TB scan). Pure projection: zero shuffles, whole-stage
    codegen, the JSON column parsed per requested field by the built-in
    ``get_json_object`` path expression."""
    bad = {f: t for f, t in fields.items() if t not in _ALLOWED_TYPES}
    if bad:
        raise ValueError(
            f"json_extract_typed: types {bad} not in allowlist {sorted(_ALLOWED_TYPES)}"
        )
    src = "`" + json_col.replace("`", "``") + "`"
    cols = [
        # SQL try_cast (3.2.0), not cast: under ANSI mode (Spark 4
        # default) a failed cast THROWS — a single "7px" in 100 TB of
        # payloads must yield NULL, not kill the job
        F.expr(f"try_cast(get_json_object({src}, {_sql_string('$.' + name)}) AS {typ})")
        .alias(f"{prefix}{name}")
        for name, typ in fields.items()
    ]
    return df.select("*", *cols)


def _sql_string(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def json_key_profile(
    df: DataFrame,
    json_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Profile which keys exist in a JSON-string column: one row per
    top-level key — ``(key, n_present, present_share)`` with the share
    over ALL rows (malformed/NULL documents count in the denominator;
    their keys are absent). The schema-discovery step before writing a
    :func:`json_extract_typed` config. One explode + one hash agg;
    output is bounded by the distinct key count."""
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    keys = (
        df.select(
            F.explode(
                F.coalesce(
                    F.json_object_keys(F.col(json_col)),
                    F.array().cast("array<string>"),
                )
            ).alias("key")
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_present"))
    )
    return keys.crossJoin(F.broadcast(total)).select(
        "key",
        F.col("n_present").cast("long").alias("n_present"),
        dround(
            F.col("n_present").cast("double") / F.col("__total"), round_to
        ).alias("present_share"),
    )


def json_schema_drift(
    cur: DataFrame,
    ref: DataFrame,
    json_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Schema drift between two snapshots of a JSON payload column: one
    row per key seen in EITHER side — ``(key, cur_share, ref_share,
    share_delta, status)`` with status ``added`` (key only in current),
    ``removed`` (only in reference), or ``present``. The semi-structured
    counterpart of dimension drift: upstream producers add/drop/rename
    payload fields without warning, and a key whose presence share moves
    is an extraction config about to silently NULL out.

    Scale shape: one explode + hash agg per side (bounded by distinct
    keys), a full-outer join of two key-sized frames, and broadcast
    1-row totals — nothing scales with row count after the profiles.
    """
    def prof(df, n_name, s_name):
        p = json_key_profile(df, json_col, round_to=round_to)
        return p.select(
            "key",
            F.col("n_present").alias(n_name),
            F.col("present_share").alias(s_name),
        )

    c = prof(cur, "n_cur", "cur_share")
    r = prof(ref, "n_ref", "ref_share")
    j = c.join(r, on="key", how="full_outer")
    cur_share = F.coalesce(F.col("cur_share"), F.lit(0.0))
    ref_share = F.coalesce(F.col("ref_share"), F.lit(0.0))
    status = (
        F.when(F.col("n_ref").isNull(), F.lit("added"))
        .when(F.col("n_cur").isNull(), F.lit("removed"))
        .otherwise(F.lit("present"))
    )
    return j.select(
        "key",
        dround(cur_share, round_to).alias("cur_share"),
        dround(ref_share, round_to).alias("ref_share"),
        dround(cur_share - ref_share, round_to).alias("share_delta"),
        status.alias("status"),
    )
