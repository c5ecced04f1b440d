"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Design for 100 TB:

- Exact dedup is a hash-groupBy on a fingerprint (one shuffle of (hash,
  id), never of the documents themselves).
- Near-dup never does an all-pairs comparison. Candidate generation is an
  **inverted-index / LSH-bucket equi-join** (shuffle on shingle or bucket
  key), verification runs only on candidate pairs. This is the
  MinHash-banding scheme of Broder (1997) / Leskovec-Rajaraman-Ullman
  ch.3, as deployed in web-scale corpus dedup (e.g. GPT-3/C4 pipelines).
- The hash is a **portable md5-derived 60-bit integer** (``conv(substr(
  md5(x),1,15),16,10)``) so results are engine-independent and
  oracle-checkable — Spark's builtin ``hash``/``xxhash64`` are faster but
  engine-specific; swap via ``hash_col`` if parity isn't needed.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround
from databricks_demo_feature_store_spark.textops.analysis import (
    fingerprint_col,
    tokens_col,
)


def portable_hash_col(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 60-bit integer hash portable across engines."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


# Universal-hash MinHash family: ONE md5 per shingle, then cheap affine
# derivations g_i(h) = (a_i * (h % P) + b_i) % P per seed. md5 is the
# dominant cost of MinHash at scale — this is a ~num_hashes× reduction in
# hashing work vs seed-prefixed md5 per seed. P = 2^31 - 1 keeps
# a_i * h' < 2^62 (no BIGINT overflow, same arithmetic in any engine).
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) affine constants (golden-ratio mixing)."""
    out = []
    for i in range(num_hashes):
        a = (i * 0x9E3779B1 + 0x6C62272E) % MINHASH_P or 1
        b = (i * 0x85EBCA77 + 7) % MINHASH_P
        out.append((a, b))
    return out


def minhash_component_col(base_hash: Column, a: int, b: int) -> Column:
    """g(h) = (a * (h % P) + b) % P — one component of the hash family."""
    return (F.lit(a) * (base_hash % MINHASH_P) + F.lit(b)) % MINHASH_P


def _shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct word k-shingles from an (already materialized) token
    array; docs shorter than ``k`` tokens fall back to one whole-text
    shingle."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array().cast("array<string>")
        )
    )


def with_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    out_col: str = "hs",
) -> DataFrame:
    """Attach the 60-bit shingle-hash array with staged projections:
    normalized tokens → shingles → hashes, each computed exactly once
    per row (inlining the split into every shingle slice is O(n²) per
    doc and dominated the whole MinHash/Jaccard pipeline)."""
    toks = F.split(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " "
    )
    staged = df.select("*", toks.alias("__toks"))
    staged = staged.select(
        "*", _shingles_from_tokens(F.col("__toks"), k).alias("__shingles")
    ).drop("__toks")
    return staged.select(
        "*",
        F.transform(F.col("__shingles"), lambda s: portable_hash_col(s)).alias(
            out_col
        ),
    ).drop("__shingles")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All exact-duplicate groups: fingerprint, group size, representative id."""
    fp = df.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("representative_id")
    )


def duplicated_spans(
    df: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated SUBSTRING regions: every run of ≥ ``min_len``
    consecutive tokens that occurs more than once in the corpus (in other
    documents or elsewhere in the same one), reported as
    ``(doc_id, span_start, span_end, n_tokens)`` token-offset intervals —
    the substring-level exact dedup of Lee et al. 2021 (*Deduplicating
    Training Data Makes Language Models Better*), which removes repeated
    boilerplate/templates that document- and sentence-level dedup both
    miss.

    Spark shape instead of the paper's suffix array: overlapping
    ``min_len``-token windows (stride 1) hash to 60-bit portable ids; a
    hash groupBy finds windows occurring >1 time; per document, marked
    window starts merge into maximal regions with one gaps-and-islands
    window pass (new island when the gap exceeds ``min_len``, i.e. the
    covered intervals no longer overlap or touch). Work is O(total
    tokens): the shuffle carries (hash) map-side-combined for the
    frequency count, then (hash, doc_id, pos) for the survivors only;
    no suffix array, no global sort. Equivalent to the suffix-array
    answer for duplicated runs in [min_len, 2·min_len) and a
    superset-merge above (adjacent duplicated windows from different
    sources merge into one reported region).
    """
    L = int(min_len)
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__t")
    )
    nwins = F.greatest(F.size("__t") - F.lit(L) + 1, F.lit(0))
    idx = F.when(nwins > 0, F.sequence(F.lit(0), nwins - 1)).otherwise(
        F.array().cast("array<int>")
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    portable_hash_col(
                        F.concat_ws(
                            "\x1f", F.slice(F.col("__t"), i + 1, F.lit(L))
                        )
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))

    dup = wins.groupBy("h").agg(F.count(F.lit(1)).alias("__n")).where(
        F.col("__n") > 1
    )
    marked = wins.join(dup.select("h"), on="h", how="left_semi")

    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    flagged = marked.select(
        "doc_id",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > L),
            1,
        )
        .otherwise(0)
        .alias("__new"),
    )
    islands = flagged.select(
        "doc_id",
        "pos",
        F.sum("__new")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("__island"),
    )
    return islands.groupBy("doc_id", "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(L)).alias("n_tokens"),
    ).drop("__island")


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document sketches (Schleimer/Wilkerson/Aiken, MOSS): the
    rolling-hash local fingerprinting scheme — hash every character
    k-gram, keep the minimum of each sliding window of ``window`` hashes,
    distinct the survivors.

    Guarantee: any shared substring of length ≥ ``k + window − 1``
    contributes at least one IDENTICAL fingerprint to both documents, so
    sketch intersection detects partial overlap (plagiarism / quote /
    boilerplate reuse) that whole-document fingerprints miss, with sketch
    size ~2/(window+1) of the k-gram count.

    Pure column algebra: normalized text → k-gram hash array → window
    minima → distinct, all staged (each array materializes once per row),
    then ONE explode (outer + null-filter — a plain explode would let
    Catalyst re-inline the hash pipeline into an inferred size() filter).
    Output: one (doc_id, fingerprint) row per distinct surviving hash.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    hashed = (
        df.select(F.col(id_col).alias("doc_id"), norm.alias("__norm"))
        .select("doc_id", "__norm", F.length("__norm").alias("__len"))
        .select(
            "doc_id",
            "__len",
            F.when(
                F.col("__len") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.col("__len") - k + 1),
                    lambda i: portable_hash_col(F.col("__norm").substr(i, F.lit(k)), 0),
                ),
            )
            .otherwise(F.array().cast("array<bigint>"))
            .alias("__hs"),
        )
    )
    mins = hashed.select(
        "doc_id",
        F.when(
            F.size("__hs") >= window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("__hs") - window + 1),
                    lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
                )
            ),
        )
        .otherwise(F.array_distinct(F.when(F.size("__hs") > 0, F.array(F.array_min("__hs"))).otherwise(F.array().cast("array<bigint>"))))
        .alias("__sketch"),
    )
    return (
        mins.select("doc_id", F.explode_outer("__sketch").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted-index join, exact similarity)
# ---------------------------------------------------------------------------


_NGRAM_PERSIST_SLOT: list = []


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | str | None = None,
    persist_normalized: bool = True,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a shingle inverted index.

    shingle-explode → self-join on shingle (only docs sharing ≥1 shingle
    ever meet — no all-pairs) → per-pair common-shingle count →
    ``J = common / (|A| + |B| - common)`` → filter ≥ threshold.

    ``max_shingle_df`` is the stop-shingle cutoff for 100 TB corpora: a
    boilerplate shingle appearing in d prefix entries makes a d² candidate
    bucket in the self-join, and no positional filter saves you from
    quadratic fan-out on d in the millions. When set, prefix entries whose
    shingle *prefix-frequency* (occurrences in the prefix index — an
    underestimate of raw document-frequency, so pruning is conservative and
    recall-safer) exceeds the cutoff are dropped from the *candidate index
    only* (verification still uses full shingle sets, so reported Jaccard
    values stay exact). Recall contract: a true pair is lost only if EVERY
    prefix element it shares is hot — at J ≥ 0.8 a pair shares ≥ ~80% of
    its shingles, so unless a document is mostly boilerplate the pair still
    meets on a rare shingle. ``"auto"`` derives the cutoff from corpus
    statistics as ``max(50, 2·⌈√n_docs⌉)`` — bucket work is d² and the
    √n bound keeps any single hot bucket's candidate count O(n), so the
    index stays near-linear at any corpus size instead of trusting a fixed
    constant. ``None`` (default) keeps the result provably exact; the
    bundled ``q_ext_ngram_jaccard_cutoff`` coverage query runs the auto
    path and is differentially checked against the exact oracle.

    ``persist_normalized`` caches the (id, sorted-hashes, n) normalization:
    the plan consumes it three times (prefix index + both verification
    sides) and the md5 shingle hashing dominates cost — at cluster scale
    write it to a table once instead. Repeated invocations in one session
    (bench loops) don't leak: the previous call's cache is unpersisted
    before a new one is pinned.
    """
    # Work on sorted 60-bit shingle hashes: one md5 pass per doc, and all
    # downstream set algebra (prefix, intersect) runs on longs, not strings.
    # Hash collisions (2^-60) are negligible vs the 6-decimal similarity.
    hashed = (
        with_shingle_hashes(df, text_col, k, "__hs")
        .select(F.col(id_col).alias("id"), F.array_sort("__hs").alias("hs"))
        .withColumn("n", F.size("hs"))
    )
    if persist_normalized:
        while _NGRAM_PERSIST_SLOT:
            _NGRAM_PERSIST_SLOT.pop().unpersist()
        hashed = hashed.persist()
        _NGRAM_PERSIST_SLOT.append(hashed)
    if max_shingle_df == "auto":
        # One scalar action over the (persisted) normalization; at cluster
        # scale read n_docs from table stats instead.
        n_docs = hashed.count()
        max_shingle_df = max(50, 2 * math.isqrt(max(n_docs, 1)))

    # PPJoin candidate generation (exact — no false negatives):
    # 1. prefix filter: a pair with J >= t must share an element within the
    #    first n - ceil(t*n) + 1 entries of the hash-sorted array;
    # 2. length filter: t*n_a <= n_b (symmetric);
    # 3. positional filter: at the first shared element, the remaining
    #    suffix lengths bound the overlap, which must reach
    #    ceil(t/(1+t) * (n_a + n_b)).
    # The epsilons guard float roundup (0.8*15 must ceil to 12, not 13 —
    # a short prefix would drop true pairs).
    prefix_len = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    )
    prefixed = hashed.select(
        "id",
        "n",
        F.posexplode(F.slice("hs", 1, prefix_len.cast("int"))).alias("pos", "h"),
    )
    if max_shingle_df is not None:
        # Stop-shingle cutoff: one extra aggregation on the (small) prefix
        # index, then a semi-join keeping only cold shingles. The count and
        # the filter shuffle on h — the same key the candidate join needs —
        # so AQE coalesces them into the join's exchange.
        cold = (
            prefixed.groupBy("h")
            .count()
            .filter(F.col("count") <= max_shingle_df)
            .select("h")
        )
        prefixed = prefixed.join(cold, on="h", how="left_semi")
    a, b = prefixed.alias("a"), prefixed.alias("b")
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
        - F.lit(1e-9)
    )
    cands = (
        a.join(b, on="h")
        .where(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n") - F.lit(1e-9)))
            & (F.col("a.n") >= F.ceil(F.lit(threshold) * F.col("b.n") - F.lit(1e-9)))
            & (
                F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos"))
                >= min_overlap
            )
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    left = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a"))
    right = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("n").alias("n_b"))
    common = F.size(F.array_intersect("hs_a", "hs_b"))
    verified = (
        cands.join(left, on="id_a")
        .join(right, on="id_b")
        .withColumn(
            "jaccard", dround(common / (F.col("n_a") + F.col("n_b") - common), 6)
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Shared hot-bucket-capped candidate generation (MinHash bands + SimHash
# blocks both bucket docs by a key and self-join inside the bucket; a
# bucket of d near-identical docs makes a d² clique — the quadratic
# scale-killer this helper bounds).
# ---------------------------------------------------------------------------


_BUCKET_PERSIST_SLOT: list = []


def _capped_bucket_pairs(
    blocked: DataFrame,
    key_cols: list[str],
    payload_col: str,
    cap: int | str | None,
    rows_per_doc: int,
    carry_payload: bool = False,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs from per-bucket self-joins, with
    buckets larger than ``cap`` routed through exact-payload
    pre-grouping instead of the full clique.

    ``blocked`` must carry one row per (doc, bucket): an ``id`` column,
    the bucket ``key_cols``, and ``payload_col`` — the doc's FULL
    signature/hash, identical iff the docs are exact sketch-duplicates.
    ``rows_per_doc`` is the exact per-doc fan-out (bands/blocks count),
    used to recover n_docs from bucket statistics without a second scan.

    Cold buckets (``count <= cap``) self-join normally — the exact
    candidate set. Hot buckets are pre-grouped by payload: each
    exact-payload group emits a min-id STAR (rep→member, distance 0 by
    construction), and the group representatives — now one per distinct
    payload — clique-join only if the bucket still holds ≤ cap distinct
    payloads; hotter residuals are dropped as stop-buckets (a bucket key
    shared by > cap DISTINCT sketches carries ~no information, the same
    contract as ``ngram_jaccard_pairs``' stop-shingle cutoff). The
    emitted graph is therefore a CONNECTIVITY-PRESERVING subset of the
    full candidate cliques: downstream connected-components clustering
    (``dedup_clusters``) produces identical components for exact-dup
    cliques, with per-clique candidate counts O(d) instead of O(d²).

    ``cap="auto"`` derives ``max(64, 2·⌈√n_docs⌉)`` LAZILY from the
    bucket-count aggregate itself (``Σ bucket_count / rows_per_doc``) —
    no driver action, no extra scan of the data (the bucket-count
    exchange is shared with the tagging join and reused). ``cap=None``
    keeps the provably-exact full clique join.

    ``carry_payload=True`` emits ``payload_a`` / ``payload_b`` alongside
    the ids so the caller's verification step reads them straight off
    the candidate rows instead of re-deriving the sketches with a second
    scan of the corpus (payloads are functionally dependent on the ids,
    so the dedup cardinality is unchanged).

    The blocked frame feeds several plan branches on every path (at
    minimum the two self-join sides; with a cap also bucket counts, the
    lazy cap aggregate, cold clique, hot grouping) — it is pinned with
    ``persist`` for the call (same pattern and slot discipline as
    ``ngram_jaccard_pairs``' normalization cache) so the upstream sketch
    computation runs once, not once per branch; at cluster scale write
    the blocked frame to a table instead.
    """

    def _emit(pa: Column, pb: Column) -> list[Column]:
        return (
            [pa.alias("payload_a"), pb.alias("payload_b")] if carry_payload else []
        )

    # EVERY path self-joins blocked, so pin it for the call — and pin it
    # HASH-PARTITIONED BY THE BUCKET KEY: the persisted frame's
    # HashPartitioning(key_cols) satisfies the clustering requirement of
    # every downstream consumer (the bucket-count aggregate, both
    # self-join sides, the hot-branch groupBy whose keys are a superset),
    # so the one repartition exchange replaces what would otherwise be a
    # shuffle per consumer PLUS a replay of the sketch computation per
    # join side (round-7 finding: without this, the sf0.1 SimHash pairs
    # query replayed 64-bit hashing per side on one scan task — 72 s →
    # ~2 s — and the capped MinHash path serialized every extra pass
    # through a single cached partition, 1.4 s → 6.5 s → back).
    while _BUCKET_PERSIST_SLOT:
        _BUCKET_PERSIST_SLOT.pop().unpersist()
    blocked = blocked.repartition(*key_cols).persist()
    _BUCKET_PERSIST_SLOT.append(blocked)
    a, b = blocked.alias("a"), blocked.alias("b")

    def _plain_cliques() -> DataFrame:
        return (
            a.join(b, on=key_cols)
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                *_emit(F.col(f"a.{payload_col}"), F.col(f"b.{payload_col}")),
            )
            .distinct()
        )

    if cap is None:
        return _plain_cliques()
    # Hot-bucket KEYS are provably few — at cap ~2√n there are at most
    # (n·rows_per_doc)/cap = O(√n·rows_per_doc) of them — so they travel
    # as a BROADCAST and the cold path keeps the plain one-shuffle
    # self-join shape (hot filtering is a map-side anti join, no extra
    # exchange of the blocked frame).
    counts = blocked.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bn"))
    if cap == "auto":
        capf = counts.agg(
            F.greatest(
                F.lit(64),
                (F.lit(2) * F.ceil(F.sqrt(F.sum("__bn") / F.lit(rows_per_doc)))).cast(
                    "int"
                ),
            ).alias("__cap")
        )
        hot_keys = (
            counts.crossJoin(F.broadcast(capf))
            .filter(F.col("__bn") > F.col("__cap"))
            .select(*key_cols, "__cap")
        )
    elif isinstance(cap, int) and cap >= 1:
        hot_keys = (
            counts.filter(F.col("__bn") > F.lit(int(cap)))
            .select(*key_cols)
            .withColumn("__cap", F.lit(int(cap)))
        )
    else:
        raise ValueError(f"cap must be a positive int, 'auto' or None, got {cap!r}")

    # Common-case short-circuit: probing the hot-key set costs ONE tiny
    # aggregate over the (just-materialized) cache — hot keys are
    # broadcast-sized by construction — and when no bucket exceeds the
    # cap it removes the anti-join, star, and representative stages from
    # the plan entirely, leaving the exact plain self-join. Round-7
    # measurement: the always-on hot machinery cost ~1.7 s of fixed
    # stage latency per query at sf0.1 for corpora with zero hot buckets.
    if hot_keys.isEmpty():
        return _plain_cliques()

    cold = blocked.join(
        F.broadcast(hot_keys.select(*key_cols)), on=key_cols, how="left_anti"
    )
    ca, cb = cold.alias("a"), cold.alias("b")
    cold_pairs = (
        ca.join(cb, on=key_cols)
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *_emit(F.col(f"a.{payload_col}"), F.col(f"b.{payload_col}")),
        )
    )

    hot = blocked.join(F.broadcast(hot_keys), on=key_cols)
    groups = hot.groupBy(*key_cols, payload_col, "__cap").agg(
        F.min("id").alias("__rep")
    )
    star_pairs = (
        hot.drop("__cap")
        .join(groups.select(*key_cols, payload_col, "__rep"), on=[*key_cols, payload_col])
        .where(F.col("id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col("id").alias("id_b"),
            *_emit(F.col(payload_col), F.col(payload_col)),
        )
    )
    rep_ok = (
        groups.withColumn(
            "__rn", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
        )
        .filter(F.col("__rn") <= F.col("__cap"))
        .select(*key_cols, "__rep", payload_col)
    )
    ra, rb = rep_ok.alias("a"), rep_ok.alias("b")
    rep_pairs = (
        ra.join(rb, on=key_cols)
        .where(F.col("a.__rep") < F.col("b.__rep"))
        .select(
            F.col("a.__rep").alias("id_a"),
            F.col("b.__rep").alias("id_b"),
            *_emit(F.col(f"a.{payload_col}"), F.col(f"b.{payload_col}")),
        )
    )
    return cold_pairs.unionByName(star_pairs).unionByName(rep_pairs).distinct()


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    hashes_col: str | None = None,
) -> DataFrame:
    """Per-doc MinHash signature over the universal-hash family.

    ONE md5 per shingle (the base hash), then ``num_hashes`` affine
    derivations + array_min — pure column algebra, shuffle-free, and
    ~``num_hashes``× cheaper than hashing each shingle per seed. This is
    the cost that dominates MinHash at corpus scale — so callers that
    already carry the shingle-hash array (a persisted signature sidecar,
    or a frame hashed once for several consumers) pass it via
    ``hashes_col`` and skip the text pass entirely.
    """
    # materialize base hashes in their own projection so the md5 pass runs
    # once, not once per derived component
    if hashes_col is not None:
        based = df.select(
            F.col(id_col).alias("id"), F.col(hashes_col).alias("__base")
        )
    else:
        based = with_shingle_hashes(df, text_col, k, "__base").select(
            F.col(id_col).alias("id"), "__base"
        )
    sig = F.array(
        *[
            F.array_min(
                F.transform("__base", lambda h: minhash_component_col(h, a, b))
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )
    return based.select("id", sig.alias("signature"))




def _banded_signatures(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """One row per (doc, band): band key = md5 of the band's signature
    slice (the equi-join key LSH banding buckets on)."""
    return signatures.select(
        "id",
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "signature", "bk.band", "bk.band_key")


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_band_size: int | str | None = "auto",
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become candidates.

    Band key = md5 of the band's signature slice → equi-join on
    (band, key). Probability a pair with Jaccard s collides:
    ``1 - (1 - s^r)^b`` (the S-curve that makes this sublinear).

    ``max_band_size`` is the hot-band guard: a band bucket shared by d
    near-identical docs otherwise emits d² candidate pairs — wasted
    shuffle, since true duplicates cluster transitively anyway. Buckets
    above the cap route through :func:`_capped_bucket_pairs`' exact-
    signature pre-grouping (star per identical signature + clique over
    the ≤ cap distinct-signature representatives), keeping per-clique
    candidates O(d) while preserving downstream connected-component
    clusters. ``"auto"`` (default) = ``max(64, 2·⌈√n_docs⌉)``, derived
    lazily from the bucket statistics (no extra scan); with it, ordinary
    corpora (every bucket ≤ cap) get the EXACT full candidate set —
    only pathological cliques see the star reduction. ``None`` forces
    the provably-exact clique join at any bucket size.
    """
    banded = _banded_signatures(signatures, bands, rows_per_band)
    return _capped_bucket_pairs(
        banded,
        key_cols=["band", "band_key"],
        payload_col="signature",
        cap=max_band_size,
        rows_per_doc=bands,
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    hashes_col: str | None = None,
) -> DataFrame:
    """Full MinHash pipeline: signatures → LSH candidates → exact-Jaccard
    verification of candidates only. ``hashes_col`` names a precomputed
    shingle-hash array on ``df`` — both the signature and the
    verification stage then reuse it instead of re-hashing the text
    (one md5 pass instead of two)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes, hashes_col)
    cands = minhash_lsh_candidates(sigs, bands, rows_per_band)

    # verify on 60-bit shingle hashes, not strings: the intersect/union on
    # longs is far cheaper to shuffle and compare (collisions at 2^-60 are
    # negligible vs the 6-decimal similarity)
    if hashes_col is not None:
        sh = df.select(
            F.col(id_col).alias("id"), F.col(hashes_col).alias("hs")
        )
    else:
        sh = with_shingle_hashes(df, text_col, k, "__hs").select(
            F.col(id_col).alias("id"), F.col("__hs").alias("hs")
        )
    a = sh.withColumnsRenamed({"id": "id_a", "hs": "hs_a"})
    b = sh.withColumnsRenamed({"id": "id_b", "hs": "hs_b"})
    verified = (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn(
            "jaccard",
            dround(
                F.size(F.array_intersect("hs_a", "hs_b"))
                / F.size(F.array_union("hs_a", "hs_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def portable_hash64_col(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 64-bit integer hash portable across engines: low 60
    bits from md5 hex chars 1-15 (identical to :func:`portable_hash_col`,
    so narrower consumers see unchanged values), bits 60-63 from hex char
    16 — assembled with explicitly-signed arithmetic (the top nibble's
    bit 3 contributes −2^63) so no step overflows under ANSI mode and the
    same formula replays in DuckDB."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), col))
    lo = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    hi = F.conv(F.substring(h, 16, 1), 16, 10).cast("long")
    return (
        lo
        + F.shiftleft(hi.bitwiseAND(F.lit(7)), 60)
        + F.when(hi >= 8, F.lit(-(1 << 63))).otherwise(F.lit(0))
    )


def _vote_vector(hashes: Column, bits: int) -> Column:
    """±1 vote sums for all ``bits`` in ONE pass over the hash array:
    fold with an int-array accumulator instead of ``bits`` scalar folds."""
    zero = F.array_repeat(F.lit(0), bits)

    def step(acc: Column, h: Column) -> Column:
        # h is a lambda variable (the materialized hash) — the 'bits'
        # bit-tests per token are cheap integer ops, no re-hashing
        signs = F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(bits)
            ]
        )
        return F.zip_with(acc, signs, lambda a, s: a + s)

    return F.aggregate(hashes, zero, step)


def _fold_votes(votes: Column, bits: int) -> Column:
    # bit 63 can't be the literal 1 << 63 (overflows signed long): it
    # contributes -2^63 instead — the lower 63 bits sum to < 2^63, so the
    # addition stays in range and yields the two's-complement pattern.
    out = F.lit(0).cast("long")
    for i in range(bits):
        contrib = F.lit(-(1 << 63)) if i == 63 else F.lit(1 << i)
        out = out + (
            F.when(F.element_at(votes, i + 1) > 0, contrib)
            .otherwise(F.lit(0))
            .cast("long")
        )
    return out


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """Attach a SimHash column over word tokens (Charikar 2002): per bit,
    sum ±1 votes of each token's hash bit; bit set iff the vote is
    positive. Default 64 bits (Manku/Jain/Das Sarma, WWW'07 — the
    production geometry: 16-bit corpora collide unrelated docs within
    small Hamming distances at any real corpus size); bit 63 is carried
    in the long's sign bit (two's complement), which XOR/bit_count handle
    transparently.

    Staged projections: hash array → vote vector → folded hash, each
    computed exactly once per row. The 64-bit token hash's low 60 bits
    equal the classic portable hash, so results for any ``bits <= 60``
    are identical to the narrow-hash form."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    toks = F.array_distinct(F.split(norm, " "))
    hashed = df.select(
        "*",
        F.transform(toks, lambda t: portable_hash64_col(t, seed="simhash")).alias(
            "__tok_hashes"
        ),
    )
    voted = hashed.select(
        "*", _vote_vector(F.col("__tok_hashes"), bits).alias("__votes")
    ).drop("__tok_hashes")
    return voted.select(
        "*", _fold_votes(F.col("__votes"), bits).alias(out_col)
    ).drop("__votes")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 16,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation by the pigeonhole trick (Manku/Jain/Das Sarma,
    WWW'07): split the hash into exactly ``max_hamming + 1`` disjoint
    blocks of ``block_bits`` — at most ``max_hamming`` differing bits can
    dirty at most ``max_hamming`` blocks, so every qualifying pair agrees
    exactly on ≥ 1 block → equi-join on (block_idx, block_value), verify
    with ``bit_count(xor)``. No false negatives at any block placement.

    Default geometry is the production one: 64-bit hash, Hamming ≤ 3,
    four 16-bit blocks — 65,536 values per block keeps buckets thin
    (~n/65,536 on non-duplicate data), so candidates stay ~O(n·k). The
    old demo default (16-bit hash, 4-bit blocks = 64 buckets total) made
    candidate generation ~n²/64 and is exactly what this replaces.

    ``max_bucket`` guards the remaining hot case — exact-duplicate
    cliques, whose members share every block: buckets above the cap
    route through :func:`_capped_bucket_pairs`' exact-hash pre-grouping
    (min-id star per identical simhash + clique over ≤ cap distinct
    hashes; hotter residuals dropped as stop-buckets), keeping a
    d-document clique at O(d) candidates while preserving downstream
    connected components. ``"auto"`` = ``max(64, 2·⌈√n⌉)`` derived
    lazily from bucket statistics; ordinary corpora never hit it, so
    the output is the exact pair set. ``None`` = provably-exact clique
    join regardless of bucket size.
    """
    nblocks = max_hamming + 1
    if nblocks * block_bits > bits:
        raise ValueError(
            f"simhash blocking needs (max_hamming+1)*block_bits <= bits: "
            f"{nblocks}*{block_bits} > {bits}"
        )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    # Hashing is the CPU-heavy stage; when the scan yields fewer splits
    # than the session's parallelism (one small parquet file → ONE task
    # doing every md5+vote), spread it first. At warehouse scale inputs
    # have many splits, so this no-ops — no shuffle of the corpus.
    try:
        default_par = base.sparkSession.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < default_par:
            base = base.repartition(default_par)
    except Exception:
        pass  # Connect sessions: no sparkContext; keep the scan layout
    # staged projections (hash array → votes → fold): staging stops
    # CollapseProject from duplicating the whole hash pipeline into every
    # downstream block expression
    h = with_simhash(base, "__t", "sh", bits).select("id", "sh")
    mask = (1 << block_bits) - 1
    blocked = h.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright("sh", i * block_bits).bitwiseAND(F.lit(mask)).alias("blkval"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", "b.blk", "b.blkval")
    cands = _capped_bucket_pairs(
        blocked,
        key_cols=["blk", "blkval"],
        payload_col="sh",
        cap=max_bucket,
        rows_per_doc=nblocks,
        carry_payload=True,  # verify off the candidate rows, no re-hash scan
    )
    return cands.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("payload_a").bitwiseXOR(F.col("payload_b"))).alias(
            "hamming"
        ),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
    algorithm: str = "label-prop",
) -> DataFrame:
    """Connected components over near-dup pairs: every doc gets a
    ``component_id`` = the MIN doc id reachable through the pair graph
    (docs with no pairs are their own component) — the keep-one-per-
    cluster step that turns pairwise near-dup output into dedup groups.

    ``algorithm="label-prop"`` (default): iterative min-label propagation
    (the standard large-graph CC algorithm, cf. GraphFrames/Pregel): each
    round every node takes the min of its label and its neighbors'
    labels, converging in O(component diameter) rounds — near-dup
    clusters are shallow, so a handful of rounds closes 100 TB-scale
    graphs. Each round is one join + one groupBy (both hash-partitioned
    on the node id); the driver only checks a one-row convergence flag
    per round, and ``localCheckpoint`` truncates lineage so plans stay
    constant-size. Raises if the round budget is exhausted while labels
    are still changing (silent unconverged output would be wrong data).

    Propagation runs ONLY over edge-touched nodes: in a web-scale corpus
    the overwhelming majority of documents are singletons (no near-dup
    pair), and carrying them through every round's join would multiply
    the per-round shuffle by corpus-size/edge-node-count for zero
    information. Singletons are re-attached as their own component with
    one final left join.

    ``algorithm="two-phase"``: alternating large-star/small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14), converging in O(log n) rounds regardless of component
    diameter — the variant for graphs with long chains (e.g. temporal
    drift chains of near-identical documents) where label-prop's
    diameter bound bites.
    """
    if algorithm == "two-phase":
        return _two_phase_cc(df, pairs, id_col, max_iterations)
    if algorithm != "label-prop":
        raise ValueError(f"unknown CC algorithm {algorithm!r}")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)

    # Seed labels from edge-touched nodes only (edges is symmetric, so
    # distinct src covers every endpoint); singletons join back at the end.
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iterations):
        msgs = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(msgs, labels["node"] == msgs["dst"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).alias("__changed"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.where("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters(label-prop) did not converge in {max_iterations} "
            "rounds — the pair graph has components deeper than the budget; "
            "raise max_iterations or use algorithm='two-phase' (O(log n) rounds)"
        )
    return (
        df.select(F.col(id_col).alias("node"))
        .join(labels, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("component_id"),
        )
    )


def _two_phase_cc(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int,
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al. SoCC'14).

    Edges are kept canonical (``src > dst``). Per round:

    - **large-star**: every node connects its strictly-larger neighbors
      to the minimum of its closed neighborhood — long chains contract
      toward small ids from every node at once;
    - **small-star**: every node connects its smaller-or-equal neighbors
      (and itself) to their minimum — flattens the partial trees into
      stars.

    Fixed point: a star forest whose roots are the component minima
    (edges = (member, min_id)); reached in O(log n) rounds. Each half-
    round is one groupBy + one join on the node id; the convergence probe
    is an exceptAll-limit-1 (first differing edge short-circuits).
    """
    E = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("src"), F.least("id_a", "id_b").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = E.isEmpty()
    for _ in range(max_iterations):
        if converged:
            break
        sym = E.unionAll(E.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        neigh_min = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = neigh_min.select("src", F.least("mn", F.col("src")).alias("m"))
        large = (
            sym.join(m, on="src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the (already src > dst) large-star output
        ms = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            large.join(ms, on="src")
            .select(
                F.when(F.col("dst") == F.col("m"), F.col("src"))
                .otherwise(F.col("dst"))
                .alias("src"),
                F.col("m").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.exceptAll(E).limit(1).isEmpty() and E.exceptAll(small).limit(1).isEmpty()
        )
        E = small
    if not converged:
        raise RuntimeError(
            f"dedup_clusters(two-phase) did not converge in {max_iterations} rounds"
        )
    roots = E.select(F.col("src").alias("node"), F.col("dst").alias("component_id"))
    return (
        df.select(F.col(id_col).alias("node"))
        .join(roots, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component_id", "node").alias("component_id"),
        )
    )


def cross_corpus_dedup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    max_bucket_witnesses: int | None = 64,
    batch_hashes_col: str | None = None,
    corpus_hashes_col: str | None = None,
) -> DataFrame:
    """Incremental (cross-corpus) near-dup detection: which documents of
    a NEW ``batch`` near-duplicate something in an EXISTING ``corpus`` —
    WITHOUT ever self-joining the corpus. Returns
    ``(id_batch, id_corpus, jaccard)`` verified pairs; a batch doc is a
    near-dup iff it appears at all (batch-internal duplicates are
    :func:`minhash_dedup_pairs` on the batch alone — orders of magnitude
    smaller than re-pairing the whole corpus).

    This is the continuous-crawl shape at 100 TB: corpus MinHash
    signatures are computed once (persist them as a table and pass the
    banded frame straight in at deployment; here they are derived from
    ``corpus`` for self-containedness), each incremental batch only
    equi-joins its own bands against the corpus bands on
    ``(band, band_key)``, and exact-Jaccard verification touches
    candidate pairs only. The corpus text never shuffles — verification
    joins candidate ids back to per-side shingle-hash arrays.

    ``max_bucket_witnesses`` bounds boilerplate blowup: a band bucket
    holding d corpus docs would hand every colliding batch doc d
    candidates. Capping the corpus side of each bucket to the first
    ``max_bucket_witnesses`` members (deterministic min-id order, one
    row_number window on the band frame the join shuffles anyway) keeps
    per-bucket fan-out constant. The cap can only LOSE pairs, never
    invent them; for the keep/drop verdict a true near-dup still
    surfaces unless EVERY one of its (up to ``bands``) matching buckets
    is boilerplate-hot AND all surviving witnesses fail verification —
    the same stop-bucket contract as ``ngram_jaccard_pairs``'
    ``max_shingle_df``. ``None`` keeps every witness (provably exact).
    """
    rows_per_band = num_hashes // bands
    bsig = minhash_signatures(
        batch, text_col, id_col, k, num_hashes, batch_hashes_col
    )
    csig = minhash_signatures(
        corpus, text_col, id_col, k, num_hashes, corpus_hashes_col
    )
    bb = _banded_signatures(bsig, bands, rows_per_band).select(
        F.col("id").alias("id_batch"), "band", "band_key"
    )
    cb = _banded_signatures(csig, bands, rows_per_band).select(
        F.col("id").alias("id_corpus"), "band", "band_key"
    )
    if max_bucket_witnesses is not None:
        if max_bucket_witnesses < 1:
            raise ValueError("max_bucket_witnesses must be >= 1 or None")
        w = Window.partitionBy("band", "band_key").orderBy("id_corpus")
        cb = (
            cb.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(max_bucket_witnesses))
            .drop("__rn")
        )
    cands = (
        bb.join(cb, on=["band", "band_key"])
        .select("id_batch", "id_corpus")
        .distinct()
    )
    if batch_hashes_col is not None:
        hb = batch.select(
            F.col(id_col).alias("id_batch"),
            F.col(batch_hashes_col).alias("hs_b"),
        )
    else:
        hb = with_shingle_hashes(batch, text_col, k, "__hs").select(
            F.col(id_col).alias("id_batch"), F.col("__hs").alias("hs_b")
        )
    if corpus_hashes_col is not None:
        hc = corpus.select(
            F.col(id_col).alias("id_corpus"),
            F.col(corpus_hashes_col).alias("hs_c"),
        )
    else:
        hc = with_shingle_hashes(corpus, text_col, k, "__hs").select(
            F.col(id_col).alias("id_corpus"), F.col("__hs").alias("hs_c")
        )
    return (
        cands.join(hb, on="id_batch")
        .join(hc, on="id_corpus")
        .withColumn(
            "jaccard",
            dround(
                F.size(F.array_intersect("hs_b", "hs_c"))
                / F.size(F.array_union("hs_b", "hs_c")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_batch", "id_corpus", "jaccard")
    )


def minhash_recall_eval(
    df: DataFrame,
    sample_rate: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    seed: int | str = "dedupeval",
) -> DataFrame:
    """Self-evaluation of the MinHash-LSH geometry BEFORE deploying it on
    a full corpus: on a deterministic hash sample, compare the banding's
    verified pairs against the EXACT all-pairs ground truth at the same
    Jaccard threshold. Returns one row
    ``(n_docs_sampled, n_true_pairs, n_found_pairs, recall)``.

    Precision is 1 by construction (candidates are verified with exact
    Jaccard), so the one number that characterizes the geometry is
    candidate RECALL — the S-curve miss rate ``1-(1-(1-s^r)^b)`` made
    empirical on your actual similarity distribution. Run with a few
    (num_hashes, bands) settings and pick the cheapest geometry whose
    recall clears your bar — the same measure-first contract as
    :func:`~databricks_demo_feature_store_spark.textops.similarity.ann_recall_at_k`.

    Scale shape: the exact all-pairs ground truth is quadratic ONLY in
    the sample (hash-bucket sampling keeps it a few thousand docs; the
    pair join is shingle-hash arrays within the sample), and the
    banding arm is the production pipeline run on the same sample.
    """
    from databricks_demo_feature_store_spark.textops.sampling import (
        RESOLUTION,
        sample_bucket_col,
    )

    cut = int(round(float(sample_rate) * RESOLUTION))
    sample = df.filter(
        sample_bucket_col(F.col(id_col).cast("string"), seed) < cut
    )
    sh = with_shingle_hashes(sample, text_col, k, "__hs").select(
        F.col(id_col).alias("id"), F.col("__hs").alias("hs")
    )
    a = sh.withColumnsRenamed({"id": "id_a", "hs": "hs_a"})
    b = sh.withColumnsRenamed({"id": "id_b", "hs": "hs_b"})
    true_pairs = (
        a.crossJoin(F.broadcast(b))  # sample-bounded by construction
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.size(F.array_intersect("hs_a", "hs_b"))
            >= F.lit(float(threshold)) * F.size(F.array_union("hs_a", "hs_b"))
        )
        .select("id_a", "id_b")
    )
    found = minhash_dedup_pairs(
        sample, text_col, id_col, k, num_hashes, bands, threshold
    ).select("id_a", "id_b")
    n_docs = sample.select(F.count(F.lit(1)).alias("n")).select("n")
    stats = true_pairs.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        n_docs.crossJoin(stats)
        .select(
            F.col("n").cast("long").alias("n_docs_sampled"),
            F.col("n_true").cast("long").alias("n_true_pairs"),
            F.col("n_found").cast("long").alias("n_found_pairs"),
            F.when(
                F.col("n_true") > 0,
                dround(F.col("n_found") / F.col("n_true"), 6),
            ).alias("recall"),
        )
    )
