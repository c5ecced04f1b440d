"""Local differential checker: runs every queries() entry on Spark AND its
oracle_sql() on DuckDB, compares row count, column names, and exact values
(sorted by all columns) — a stricter local predictor of the driver's
order-insensitive value-hash gate.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            # date objects / strings → strings for stable sorting
            df[c] = col.astype(str)
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("boolean")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64")
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def _numeric_family(col: pd.Series) -> str | None:
    """'int' / 'float' classification mirroring what the driver's value-hash
    sees after toPandas: DuckDB HUGEINT / DECIMAL128 sums land as float64 or
    Decimal objects while Spark emits int64 — equal values, different hash."""
    if pd.api.types.is_bool_dtype(col):
        return None
    if pd.api.types.is_integer_dtype(col):
        return "int"
    if pd.api.types.is_float_dtype(col):
        return "float"
    if col.dtype == object:
        import decimal

        first = col.dropna()
        if len(first) and isinstance(first.iloc[0], decimal.Decimal):
            return "float"
    return None


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return problems
    # Driver-hash predictor: an int column on one side vs float/decimal on the
    # other hashes differently even when every value is equal (r1 failures
    # q_native_pivot, q_ext_sessionize). Flag it BEFORE normalize() forgives it.
    for c in spark_pdf.columns:
        sf, of = _numeric_family(spark_pdf[c]), _numeric_family(oracle_pdf[c])
        if sf and of and sf != of:
            problems.append(
                f"col {c!r}: dtype family mismatch spark={spark_pdf[c].dtype}({sf}) "
                f"oracle={oracle_pdf[c].dtype}({of}) — driver hash would differ; "
                f"CAST the oracle (integer SUM → BIGINT) or align the Spark type"
            )
    if problems:
        return problems
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc) and pd.api.types.is_float_dtype(oc):
            both_nan = sc.isna() & oc.isna()
            eq = (sc == oc) | both_nan
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:3]
                diffs = np.abs(sc.to_numpy(dtype=float) - oc.to_numpy(dtype=float))
                maxd = np.nanmax(np.where(np.isnan(diffs), 0, diffs))
                problems.append(
                    f"col {c!r}: {int((~eq).sum())} value diffs, max abs diff {maxd:.3e}; "
                    f"first rows {bad.tolist()} spark={sc.iloc[bad].tolist()} oracle={oc.iloc[bad].tolist()}"
                )
        else:
            eq = (sc == oc) | (sc.isna() & oc.isna())
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:3]
                problems.append(
                    f"col {c!r} ({sc.dtype} vs {oc.dtype}): {int((~eq).sum())} diffs; "
                    f"first rows {bad.tolist()} spark={sc.iloc[bad].tolist()} oracle={oc.iloc[bad].tolist()}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from databricks_demo_feature_store_spark import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only). rows={len(spark_pdf)} [{t_spark:.1f}s]")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            failures += 1
            print(f"FAIL {name} [{t_spark:.1f}s]:")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name}: {len(spark_pdf)} rows [{t_spark:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'} / {len(queries)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
