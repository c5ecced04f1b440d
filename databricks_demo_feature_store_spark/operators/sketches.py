"""Approximate/sketch aggregates: HLL distinct counts, approximate
quantiles, frequent items, Bloom filters and count-min sketches.

At 100 TB exact NDV / exact percentiles need a full shuffle of the key
set; sketches are the standard answer: fixed-size state and map-side
partial aggregation. All built-ins run JVM-side (HLL++, quantile
digests); no Python.

Accuracy is engine-specific (approximate by definition), so raw sketch
values can't be hash-compared across engines. Two verification layers
instead: error-bound tests against exact answers
(``tests/test_sketches.py``), and :func:`sketch_profile_audit`, which
folds the error-bound assertion INTO the query output (exact counts +
within-bound booleans) so the differential gate value-checks the sketch
guarantees themselves.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround


def sketch_profile_audit(
    df: DataFrame,
    columns: Sequence[str],
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    rsd: float = 0.02,
    accuracy: int = 2_000,
    ndv_tolerance: float | None = None,
) -> DataFrame:
    """Self-auditing sketch profile: one row per column with EXACT
    ``n_rows`` / ``exact_ndv`` plus booleans asserting the sketches hit
    their documented error bounds — ``ndv_ok`` (HLL++ relative error ≤
    ``ndv_tolerance``, default 4·rsd ≈ 4σ) and one ``q{NN}_ok`` per
    quantile (the approx quantile's true rank interval intersects
    q·n ± 2n/accuracy, twice ``percentile_approx``'s guaranteed bound).

    Approximate values are engine-specific, so a cross-engine oracle can
    never compare them directly; what IS portable is the *claim* that the
    sketch is within bound of the exact answer. This query computes both
    sides in one place and emits the verdict, making sketch correctness
    value-hash-checkable (oracle: exact counts + all-TRUE verdicts).

    Two scans by construction (the audit needs the sketch output to count
    ranks against). The second scan's per-column rank counts are plain
    conditional aggregates against the broadcast 1-row sketch result.
    """
    tol = float(ndv_tolerance if ndv_tolerance is not None else 4 * rsd)
    # Two SEPARATE 1-row aggregates, crossed after: mixing multi-column
    # COUNT(DISTINCT) (Expand + per-(gid,value) grouping) with
    # percentile_approx in one Aggregate makes Spark key the percentile
    # sketch buffers by distinct VALUE — millions of sketches instead of
    # one per column (measured 198 s vs ~5 s at sf0.1).
    sketch_aggs = []
    for c in columns:
        sketch_aggs.append(F.approx_count_distinct(c, rsd).alias(f"__andv_{c}"))
        sketch_aggs.append(F.count(F.col(c)).alias(f"__n_{c}"))
        sketch_aggs.append(
            F.percentile_approx(
                F.col(c).cast("double"), list(quantiles), accuracy
            ).alias(f"__q_{c}")
        )
    ndv_aggs = [F.count_distinct(F.col(c)).alias(f"__ndv_{c}") for c in columns]
    one = F.broadcast(df.agg(*sketch_aggs).crossJoin(df.agg(*ndv_aggs)))

    audited = df.crossJoin(one)
    rank_aggs = []
    for c in columns:
        x = F.col(c).cast("double")
        for i in range(len(quantiles)):
            qv = F.col(f"__q_{c}")[i]
            rank_aggs.append(
                F.sum((x < qv).cast("long")).alias(f"__lt_{c}_{i}")
            )
            rank_aggs.append(
                F.sum((x <= qv).cast("long")).alias(f"__le_{c}_{i}")
            )
    # global agg; the broadcast 1-row sketch columns ride along via first()
    ranks = audited.agg(
        *[
            F.first(f"__{k}_{c}").alias(f"__{k}_{c}")
            for c in columns
            for k in ("andv", "ndv", "n", "q")
        ],
        *rank_aggs,
    )

    def _q_ok(c: str, i: int, q: float) -> Column:
        n = F.col(f"__n_{c}").cast("double")
        slack = F.lit(2.0) * n / F.lit(float(accuracy)) + F.lit(1.0)
        lo, hi = F.lit(q) * n - slack, F.lit(q) * n + slack
        # true rank interval of the returned value: (count(<), count(<=)]
        return (F.col(f"__le_{c}_{i}") >= lo) & (F.col(f"__lt_{c}_{i}") <= hi)

    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n_rows"),
                F.col(f"__ndv_{c}").alias("exact_ndv"),
                (
                    F.abs(
                        F.col(f"__andv_{c}").cast("double")
                        / F.col(f"__ndv_{c}").cast("double")
                        - 1.0
                    )
                    <= tol
                ).alias("ndv_ok"),
                *[
                    _q_ok(c, i, q).alias(f"q{int(q * 100):02d}_ok")
                    for i, q in enumerate(quantiles)
                ],
            )
            for c in columns
        ]
    )
    return ranks.select(F.explode(per_col).alias("s")).select("s.*")


def frequent_items(
    df: DataFrame, col: str, min_share: float = 0.01, max_items: int = 100
) -> DataFrame:
    """Heavy hitters: values whose share of non-null rows ≥ ``min_share``.

    Exact two-aggregate form (count per value → filter by share → top by
    count), fully lazy: the total row count is a one-row aggregate
    broadcast back, never a driver action. A groupBy on the value column —
    with AQE skew handling this is the right call even at 100 TB because
    the OUTPUT is bounded; a count-min sketch only becomes necessary when
    the key cardinality makes the first aggregate itself infeasible, which
    partial aggregation prevents for heavy-hitter-dominated corpora."""
    nn = df.where(F.col(col).isNotNull())
    total = nn.agg(F.count("*").alias("__total"))
    return (
        nn.groupBy(F.col(col).cast("string").alias("value"))
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") >= F.col("__total") * F.lit(min_share))
        .orderBy(F.desc("cnt"), F.asc("value"))
        .limit(max_items)
        .select(
            "value", "cnt", dround(F.col("cnt") / F.col("__total"), 6).alias("share")
        )
    )


# ---------------------------------------------------------------------------
# Pure-DataFrame Bloom filter (Spark's bloom_filter_agg is internal-only)
# ---------------------------------------------------------------------------


def _bloom_positions(value: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """``n_hashes`` deterministic bit positions for a long ``value`` —
    the MinHash affine family re-used as the Bloom hash family (engine-
    portable, no JVM-internal hashing)."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        MINHASH_P,
        minhash_params,
    )

    return [
        ((F.lit(a) * (value % MINHASH_P) + F.lit(b)) % MINHASH_P % F.lit(n_bits))
        for a, b in minhash_params(n_hashes)
    ]


def bloom_build(
    df: DataFrame, value_col: str, n_bits: int = 1 << 20, n_hashes: int = 5
) -> DataFrame:
    """Aggregate a column of longs into a ONE-ROW Bloom filter: a
    ``map<int, bigint>`` of 64-bit words (absent word = all zeros).

    Shape: explode each value to its ``n_hashes`` bit positions, groupBy
    word index with a ``bit_or`` of the shifted bits (map-side
    combinable), collapse to one map row. The filter is a few MB no
    matter how many values went in — THE broadcast-friendly membership
    sketch for 100 TB pre-filters. Standard sizing: fpp ≈
    ``(1 - e^(-k·n/m))^k``; pick ``n_bits ≈ -n·ln(p)/(ln 2)²``.
    """
    vals = df.select(F.col(value_col).alias("__v")).where(F.col("__v").isNotNull())
    pos = vals.select(
        F.explode(F.array(*_bloom_positions(F.col("__v"), n_bits, n_hashes))).alias(
            "__pos"
        )
    )
    words = pos.select(
        (F.col("__pos") / 64).cast("int").alias("__w"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("__pos") % 64).cast("int")
        ).alias("__bit"),
    ).groupBy("__w").agg(F.bit_or("__bit").alias("__word"))
    return words.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__w", "__word")))
        ).alias("bloom")
    )


def bloom_might_contain_col(
    bloom_map: Column, value: Column, n_bits: int = 1 << 20, n_hashes: int = 5
) -> Column:
    """Membership test against a :func:`bloom_build` map — true iff ALL
    ``n_hashes`` bits are set. No false negatives; false-positive rate
    set by the build sizing. Pure column algebra (codegen'd), so it runs
    at scan speed under a one-row broadcast cross join."""
    # bitwiseAND, not (word >> j) % 2: shiftright is ARITHMETIC, so any
    # word with bit 63 set stays negative after the shift and `% 2`
    # returns -1 — a false negative on every member of that word.
    checks = [
        (
            F.coalesce(
                F.element_at(bloom_map, (p / 64).cast("int")), F.lit(0).cast("long")
            ).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        for p in _bloom_positions(value, n_bits, n_hashes)
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def count_min_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    seed: int | str = 0,
) -> DataFrame:
    """Count–Min sketch of ``col``'s frequency distribution as a skinny
    ``(row_idx, bucket, n)`` table — ``depth`` independent hash rows ×
    ``width`` buckets, at most ``depth·width`` rows total regardless of
    input size or cardinality. The streaming/mergeable frequency
    structure: two sketches with the same geometry merge by summing
    matching cells (it is just an aggregation), and a point estimate is
    the MIN over the ``depth`` cells a key hashes to — always an
    OVERestimate, within ``e·N/width`` of truth with probability
    ``1 − e^−depth`` (Cormode & Muthukrishnan 2005).

    Scale shape: one ``explode`` to ``depth`` narrow rows per input row
    (no shuffle) and ONE map-side-combined hash aggregation onto the
    bounded (row, bucket) grid — the exchange carries at most
    ``depth·width`` rows per map partition. Portable md5 hashing keeps
    the cells engine-reproducible.
    """
    if depth < 1 or width < 2:
        raise ValueError("count_min_sketch requires depth >= 1 and width >= 2")
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_idx"),
                F.pmod(
                    portable_hash_col(
                        F.concat(F.lit(f"{i}:"), F.col(col).cast("string")),
                        seed=seed,
                    ),
                    F.lit(int(width)),
                ).cast("int").alias("bucket"),
            )
            for i in range(int(depth))
        ]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(cells).alias("__c"))
        .groupBy(
            F.col("__c.row_idx").alias("row_idx"),
            F.col("__c.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    seed: int | str = 0,
) -> DataFrame:
    """Point-query the Count–Min sketch for every row of ``keys``:
    all ``keys`` columns plus ``cms_count = min`` over the ``depth``
    cells the key hashes to (missing cells read 0 — the key was never
    seen by that row). Pass the SAME (depth, width, seed) the sketch was
    built with.

    Plan shape (round 15): the sketch is ≤ ``depth·width`` rows by
    construction, so it collapses to ONE broadcast row carrying a
    ``cell → n`` map; each key row computes its ``depth`` lookups as
    plain column algebra (``least`` over ``element_at`` probes). The old
    form exploded every key row ``depth``-ways, broadcast-joined the
    cells and re-aggregated ``min(n) GROUP BY key`` — two extra
    exchanges and a ×depth row blow-up that this removes (guide §2.3/
    §2.4: shuffle fewer bytes / remove shuffles outright; same
    broadcast-1-row-map pattern as the r14 IVF-assign rewrite).

    Semantics note: output preserves ``keys``' columns and row
    multiplicity (duplicate key values produce duplicate rows — the old
    form collapsed them via its re-aggregation; every engine caller
    passes distinct/grouped keys, where the two are identical).

    Column constraint: ``keys`` must not already have a ``cms_count``
    column (``ValueError`` — the output would carry two). Any other
    name, ``__cells`` included, is safe: the probe references the
    broadcast map and the key through their own frames.
    """
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    if "cms_count" in keys.columns:
        raise ValueError(
            "cms_estimate: keys already has a 'cms_count' column, the name "
            "of the estimate it adds — rename or drop it first"
        )
    width = int(width)
    cell_map = sketch.groupBy().agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("row_idx").cast("long") * F.lit(width) + F.col("bucket"))
                    .cast("long")
                    .alias("k"),
                    F.col("n").alias("v"),
                )
            )
        ).alias("__cells")
    )
    probes = [
        F.coalesce(
            F.element_at(
                cell_map["__cells"],
                (
                    F.lit(i * width)
                    + F.pmod(
                        portable_hash_col(
                            F.concat(F.lit(f"{i}:"), keys[col].cast("string")),
                            seed=seed,
                        ),
                        F.lit(width),
                    )
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
        )
        for i in range(int(depth))
    ]
    est = probes[0] if len(probes) == 1 else F.least(*probes)
    return keys.crossJoin(F.broadcast(cell_map)).select(
        *[keys[c] for c in keys.columns],
        est.cast("long").alias("cms_count"),
    )


def bloom_might_contain_dense(
    bloom_arr: Column, value: Column, n_bits: int = 1 << 20, n_hashes: int = 5
) -> Column:
    """Membership test against a :func:`bloom_to_dense` array — same
    contract as :func:`bloom_might_contain_col` (no false negatives) at
    O(1) per hash instead of O(set words)."""
    checks = [
        (
            F.element_at(bloom_arr, (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        for p in _bloom_positions(value, n_bits, n_hashes)
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out
