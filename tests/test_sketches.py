"""Tests for sketch aggregates, feature scaling, and semantic dedup."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from databricks_demo_feature_store_spark.functions.scaling import scale_features
from databricks_demo_feature_store_spark.operators.sketches import frequent_items
from databricks_demo_feature_store_spark.textops.similarity import (
    cosine_col,
    semantic_dedup,
)


# ---------------------------------------------------------------------------
# sketches
# ---------------------------------------------------------------------------


def test_frequent_items_exact(spark):
    rows = [Row(w="a")] * 50 + [Row(w="b")] * 30 + [Row(w="c")] * 2
    df = spark.createDataFrame(rows)
    out = frequent_items(df, "w", min_share=0.1, max_items=10).collect()
    assert [(r["value"], r["cnt"]) for r in out] == [("a", 50), ("b", 30)]
    assert out[0]["share"] == pytest.approx(50 / 82, abs=1e-6)


# ---------------------------------------------------------------------------
# scaling
# ---------------------------------------------------------------------------


def test_zscore_known_values(spark):
    df = spark.createDataFrame(
        [Row(g="x", v=float(v)) for v in (1, 2, 3, 4, 5)]
        + [Row(g="y", v=7.0), Row(g="y", v=7.0)]
    )
    out = {
        (r["g"], r["v"]): r["v_zscore"]
        for r in scale_features(df, ["v"], "zscore", ["g"]).collect()
    }
    std = math.sqrt(2.5)  # sample stddev of 1..5
    assert out[("x", 1.0)] == pytest.approx(-2 / std, abs=1e-6)
    assert out[("x", 3.0)] == pytest.approx(0.0, abs=1e-9)
    assert out[("x", 5.0)] == pytest.approx(2 / std, abs=1e-6)
    assert out[("y", 7.0)] is None  # zero variance → NULL


def test_minmax_and_global_scaling(spark):
    df = spark.createDataFrame([Row(v=0.0), Row(v=5.0), Row(v=10.0)])
    grouped_free = scale_features(df, ["v"], "minmax")  # global path
    vals = sorted(r["v_minmax"] for r in grouped_free.collect())
    assert vals == [0.0, 0.5, 1.0]


def test_scaling_rejects_unknown_method(spark):
    df = spark.createDataFrame([Row(v=1.0)])
    with pytest.raises(ValueError):
        scale_features(df, ["v"], "robust").collect()


# ---------------------------------------------------------------------------
# semantic dedup
# ---------------------------------------------------------------------------


def test_semantic_dedup_matches_bruteforce(spark):
    # three tight groups of near-identical vectors + one outlier
    import random

    rng = random.Random(7)
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    vid = 0
    for g, vec in base.items():
        for _ in range(5):
            rows.append(
                Row(
                    vec_id=vid,
                    embedding=[float(x + rng.uniform(-0.01, 0.01)) for x in vec],
                )
            )
            vid += 1
    rows.append(Row(vec_id=vid, embedding=[0.5, 0.5, 0.5, 0.5]))
    df = spark.createDataFrame(rows)

    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, nlist=3, threshold=0.999, kmeans_iterations=4).collect()
    )

    # brute force: drop any id with a lower-id neighbor at cosine >= 0.999
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .where(cosine_col(F.col("va"), F.col("vb")) >= 0.999)
        .select("ib")
        .distinct()
        .collect()
    )
    dropped_bf = {r["ib"] for r in pairs}
    expected = sorted(set(range(vid + 1)) - dropped_bf)

    # SOUNDNESS (unconditional): within-cluster pruning can never drop an
    # id brute force wouldn't — kept is always a superset of expected.
    assert set(kept) >= set(expected)
    # COMPLETENESS (holds when clusters == the 3 well-separated groups,
    # which 4 Lloyd iterations at nlist=3 recover on this fixture): each
    # 5-member group collapses to its lowest id.
    assert kept == expected


def test_semantic_dedup_keeps_all_when_threshold_high(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 1.0]),
        ]
    )
    out = semantic_dedup(df, nlist=2, threshold=0.5, kmeans_iterations=0)
    assert out.count() == 2


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    from databricks_demo_feature_store_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain_col,
    )

    members = spark.range(0, 2000).select((F.col("id") * 2_654_435_761 % (1 << 40)).alias("v"))
    n_bits = 1 << 16
    bloom = bloom_build(members, "v", n_bits=n_bits)
    # every member must test positive (no false negatives — the exactness
    # guarantee the decontamination pre-filter relies on)
    hits = (
        members.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain_col(F.col("bloom"), F.col("v"), n_bits=n_bits))
        .count()
    )
    assert hits == 2000
    # non-members: fpp well under 10x the nominal ~3% at this sizing
    others = spark.range(0, 2000).select((F.col("id") * 2_654_435_761 % (1 << 40) + 1).alias("v"))
    fp = (
        others.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain_col(F.col("bloom"), F.col("v"), n_bits=n_bits))
        .count()
    )
    assert fp / 2000 < 0.3


def test_count_min_sketch_properties(spark):
    """CMS never underestimates, is exact when width has no collisions,
    reads 0 for never-seen keys, and two sketches merge by cell-sum."""
    from databricks_demo_feature_store_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )
    from pyspark.sql import functions as F

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    # wide sketch: no collisions possible among 3 keys x depth 4
    sk = count_min_sketch(df, "k", depth=4, width=1024)
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("never",)], "k string")
    got = {r["k"]: r["cms_count"] for r in
           cms_estimate(sk, keys, "k", depth=4, width=1024).collect()}
    assert got == {"a": 5, "b": 3, "c": 1, "never": 0}

    # narrow sketch: collisions force overestimates, never underestimates
    sk2 = count_min_sketch(df, "k", depth=2, width=2)
    got2 = {r["k"]: r["cms_count"] for r in
            cms_estimate(sk2, keys, "k", depth=2, width=2).collect()}
    assert got2["a"] >= 5 and got2["b"] >= 3 and got2["c"] >= 1

    # mergeability: sum of two half-sketches == sketch of the union
    h1 = count_min_sketch(spark.createDataFrame(rows[:4], "k string"), "k", 4, 1024)
    h2 = count_min_sketch(spark.createDataFrame(rows[4:], "k string"), "k", 4, 1024)
    merged = (
        h1.unionByName(h2)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    gm = {r["k"]: r["cms_count"] for r in
          cms_estimate(merged, keys, "k", depth=4, width=1024).collect()}
    assert gm == got

    import pytest as _p
    with _p.raises(ValueError, match="depth"):
        count_min_sketch(df, "k", depth=0)


def test_cms_estimate_map_lookup_matches_cell_replay(spark):
    """Round-15 rewrite guard: cms_estimate now probes a broadcast 1-row
    cell map with least(element_at(...)) instead of explode + broadcast
    join + min-regroup. Pin the new form against a Python replay of the
    OLD algorithm (min over the depth cells, missing cells read 0)
    computed from the sketch rows themselves, and pin the new
    keys-columns-preserved contract."""
    from databricks_demo_feature_store_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    depth, width = 3, 4  # narrow: collisions guaranteed
    rows = [(k,) for k in "aabbbccccddx"]
    df = spark.createDataFrame(rows, "k string")
    sk = count_min_sketch(df, "k", depth=depth, width=width)
    cells = {(r["row_idx"], r["bucket"]): r["n"] for r in sk.collect()}

    keys = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 30), ("never", 40)], "k string, extra int"
    )
    # replay the old algorithm in python: bucket per (i, key) via the same
    # portable hash, then min over coalesce(cell, 0)
    probe = keys.select(
        "k",
        *[
            F.pmod(
                portable_hash_col(F.concat(F.lit(f"{i}:"), F.col("k")), seed=0),
                F.lit(width),
            ).cast("int").alias(f"b{i}")
            for i in range(depth)
        ],
    )
    expected = {}
    for r in probe.collect():
        expected[r["k"]] = min(
            cells.get((i, r[f"b{i}"]), 0) for i in range(depth)
        )

    out = cms_estimate(sk, keys, "k", depth=depth, width=width)
    assert out.columns == ["k", "extra", "cms_count"]  # keys cols preserved
    got = {r["k"]: r["cms_count"] for r in out.collect()}
    assert got == expected
    assert {r["extra"] for r in out.collect()} == {10, 20, 30, 40}
    # duplicate key rows stay duplicated (documented contract change)
    dup = spark.createDataFrame([("a",), ("a",)], "k string")
    assert cms_estimate(sk, dup, "k", depth=depth, width=width).count() == 2


def test_cms_estimate_key_column_names(spark):
    """A keys column named like the internal cell map (``__cells``) is
    probed unambiguously, as the key or as a passenger column; one named
    ``cms_count`` is rejected by name instead of duplicating the output."""
    import pytest

    from databricks_demo_feature_store_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    df = spark.createDataFrame([(k,) for k in "aaabc"], "k string")
    sk = count_min_sketch(df, "k", depth=4, width=1024)
    want = {"a": 3, "b": 1, "c": 1, "x": 0}

    keys = spark.createDataFrame([(k,) for k in "abcx"], "__cells string")
    out = cms_estimate(sk, keys, "__cells", depth=4, width=1024)
    assert out.columns == ["__cells", "cms_count"]
    assert {r["__cells"]: r["cms_count"] for r in out.collect()} == want

    keys = spark.createDataFrame([(k, 7) for k in "abcx"], "k string, __cells int")
    out = cms_estimate(sk, keys, "k", depth=4, width=1024)
    assert out.columns == ["k", "__cells", "cms_count"]
    assert {r["k"]: (r["cms_count"], r["__cells"]) for r in out.collect()} == {
        k: (n, 7) for k, n in want.items()
    }

    keys = spark.createDataFrame([("a", 1)], "k string, cms_count long")
    with pytest.raises(ValueError, match="'cms_count'"):
        cms_estimate(sk, keys, "k", depth=4, width=1024)
