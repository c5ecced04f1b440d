"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs:

- **Brute-force cosine top-k** — exact baseline. One pass over the corpus
  per query batch; the dot product is a JVM-side ``aggregate``/``zip_with``
  over the arrays (no Python). For a single query vector the query side is
  a broadcast 1-row dim.
- **Sign-LSH bucketed ANN** — random-hyperplane LSH (Charikar 2002).
  ``planes=random_planes(dim, nbits)`` buckets by the sign of the dot
  product with ``nbits`` deterministic pseudo-random hyperplanes — the
  real SimHash family, robust to correlated coordinates; the plane
  constants are md5-seeded driver-side so the DuckDB oracle can inline
  the exact same planes (engine-portable, no rand()). ``planes=None``
  falls back to the coordinate-sign degenerate form (first ``nbits``
  coordinate signs — cheapest, adequate only for near-isotropic
  embeddings). At scale buckets shard the corpus so a query touches
  1/2^nbits of it.
- **Embedding-cosine near-dup** — all candidate pairs inside a bucket with
  cosine ≥ threshold; the embedding-space twin of MinHash dedup.

One search kernel: every vector top-k operator here, in
``textops/pca.py`` and in ``textops/index_store.py`` is a composition of
the private steps below, one helper per step — candidate generation
differs per operator, the score-and-rank step does not:

- **encode** (:func:`_encode`): nearest centroid plus PQ codes in one
  projection;
- **probe** (:func:`_probe`): each query's ``nprobe`` nearest centroids;
- **LUT** (:func:`_lut`): the per-query code-keyed subvector distances;
- **ADC score** (:func:`_adc_topk`): the LUT fold over the ``m``
  subspaces, ranked ascending;
- **exact rerank** (:func:`_exact_rerank`): a shortlist joined back to its
  full vectors and ranked by cosine (:func:`_cosine_topk`);
- **top-k cut** (:func:`_topk`): the per-query ``row_number() ≤ k``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround


def dot_col(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays (no UDF).

    The higher-order ``aggregate`` fold IS the right form: an unrolled
    ``a[0]*b[0] + … + a[63]*b[63]`` expression tree was measured 2-6×
    SLOWER end-to-end at dim=64 (deeply-nested Adds blow past the JIT
    huge-method limit, falling back to interpreted codegen, and Catalyst
    pays quadratic analysis on the tree), so don't "optimize" this back."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    denom = norm_col(a) * norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom)


def _queries(query: DataFrame, qid: str, vec_col: str) -> DataFrame:
    """(query_id, __qv): the query side every search step joins against."""
    return query.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv"))


def _topk(
    scored: DataFrame, k: int, *order: Column, part: str = "query_id", rank: str = "rank"
) -> DataFrame:
    """Top-k cut: ``rank`` = ``row_number()`` over ``part`` ordered by
    ``order``, rows kept while ``rank ≤ k``. Spark plans it as Sort →
    WindowGroupLimit → Exchange(part) → Sort → WindowGroupLimit → Window →
    Filter: each input partition keeps ≤ k rows per key before the
    shuffle, so only those cross it — no TakeOrdered, no global sort."""
    w = W.partitionBy(part).orderBy(*order)
    return scored.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def _cosine_topk(pairs: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Score and rank (query, row) ``pairs`` carrying ``vec_col`` and the
    query vector ``__qv``: exact cosine rounded to 6 places, top ``k`` per
    query (tie → smaller id) as ``(query_id, id, cosine, rank)``."""
    scored = pairs.select(
        "query_id",
        F.col(id_col),
        dround(cosine_col(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
    )
    return _topk(scored, k, F.desc("cosine"), F.asc(id_col)).select(
        "query_id", id_col, "cosine", "rank"
    )


def _exact_rerank(
    left: DataFrame,
    right: DataFrame,
    q: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact rerank: join a ``(query_id, id)`` shortlist back to the full
    ``(id, vector)`` rows and keep the top ``k`` per query by exact
    cosine — the full vectors are read for the shortlisted rows only.
    ``left`` and ``right`` are those two frames in either order: the
    inner join on the id is symmetric, the order fixes only the join's
    child order in the plan."""
    pairs = left.join(right, on=id_col).join(F.broadcast(q), on="query_id")
    return _cosine_topk(pairs, k, id_col, vec_col)


def brute_force_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k of every query row against the corpus.

    ``query`` is broadcast (queries ≪ corpus) and the per-query top-k is
    the shared :func:`_topk` cut — no global sort of the corpus.
    """
    q = _queries(query, query_id_col or id_col, vec_col)
    return _cosine_topk(corpus.crossJoin(F.broadcast(q)), k, id_col, vec_col)


def random_planes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """``nbits`` deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    md5-derived (not ``rand()``) so the same (seed, dim, nbits) yields the
    same planes on any engine/partitioning — the constants are inlined
    into both the Spark plan and the DuckDB oracle SQL. Components are
    rounded to 6 decimals so the SQL literals round-trip exactly."""
    import hashlib

    planes = []
    for j in range(nbits):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}/{j}/{i}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / 2.0**64
            row.append(round(2.0 * u - 1.0, 6))
        planes.append(row)
    return planes


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    seed: int = 42,
    out_col: str = "projected",
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    dimensions: ``y_j = (1/√out_dim) · v · p_j`` with the same
    md5-derived deterministic planes the sign-LSH uses — pairwise
    distances are preserved to (1±ε) with out_dim = O(log n / ε²), which
    makes downstream brute-force / IVF / PQ stages ~d/out_dim cheaper.
    Appends ``out_col`` (array<double>); pure column algebra (one fold
    per output component over the broadcast-inlined plane constants), no
    shuffle, no Python. Components are rounded so the projection
    round-trips exactly through SQL literals — the same engine-parity
    trick as :func:`random_planes`.
    """
    import math

    if dim is None:
        # 1-row dimension probe (array length is not schema metadata);
        # pass dim explicitly to keep the plan fully lazy
        first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"]) if first else 0
    planes = random_planes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    comps = [
        dround(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(c) for c in planes[j]]),
                    lambda x, p: x.cast("double") * p,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
            round_to,
        )
        for j in range(out_dim)
    ]
    return df.select("*", F.array(*comps).alias(out_col))


def sign_bucket_col(
    vec: Column, nbits: int = 8, planes: list[list[float]] | None = None
) -> Column:
    """Deterministic LSH bucket string.

    With ``planes`` (see :func:`random_planes`): bit j = sign of
    ``vec · planes[j]`` — true random-hyperplane LSH. Without: the sign
    bits of the first ``nbits`` coordinates (degenerate fallback)."""
    if planes is not None:
        bits = [
            F.when(
                dot_col(vec, F.array(*[F.lit(float(c)) for c in p])) >= 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for p in planes[:nbits]
        ]
        return F.concat(*bits)
    return F.concat(
        *[
            F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(nbits)
        ]
    )


def multiprobe_buckets(bucket: Column, nbits: int, probes: int) -> Column:
    """The query's bucket plus every bucket within Hamming distance
    ``probes`` of it (probes ∈ {0, 1} supported — distance-1 already
    multiplies candidate buckets by nbits+1, the standard recall knob).

    Multi-probe LSH (Lv et al., VLDB'07): instead of adding independent
    hash tables to recover near-misses, probe the neighboring buckets of
    the one table — same recall lift, none of the index duplication."""
    if probes not in (0, 1):
        raise ValueError("multiprobe_buckets supports probes in {0, 1}")
    variants = [bucket]
    if probes == 1:
        for i in range(nbits):
            flipped = F.when(F.substring(bucket, i + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            )
            variants.append(
                F.concat(F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, nbits - i - 1))
            )
    return F.array(*variants)


def lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    planes: list[list[float]] | None = None,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's sign
    bucket. Equi-join on the bucket key replaces the cross join — the scan
    per query drops by ~2^nbits. Pass ``planes=random_planes(dim, nbits)``
    for true hyperplane buckets (better recall on correlated-coordinate
    embeddings); ``probes=1`` additionally searches every bucket one bit
    flip away (multi-probe: ~(nbits+1)× candidates for the recall of
    nbits+1 independent tables, still a pure equi-join — the query side
    explodes, the corpus never does)."""
    qid = query_id_col or id_col
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        sign_bucket_col(F.col(vec_col), nbits, planes).alias("bucket"),
    )
    q = query.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        sign_bucket_col(F.col(vec_col), nbits, planes).alias("__qbucket"),
    ).select(
        "query_id",
        "__qv",
        F.explode(multiprobe_buckets(F.col("__qbucket"), nbits, probes)).alias("bucket"),
    )
    # no dedup needed: each corpus vector lives in exactly one bucket and
    # the probe buckets are pairwise-distinct strings, so a (query, corpus)
    # pair can meet at most once
    return _cosine_topk(c.join(F.broadcast(q), on="bucket"), k, id_col, vec_col)


def ann_recall_at_k(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    planes: list[list[float]] | None = None,
    probes: int = 0,
) -> DataFrame:
    """Measured recall@k of the sign-LSH index against the exact ranking.

    Runs :func:`brute_force_topk` (ground truth) and :func:`lsh_topk`
    (same k / planes / probes a production query would use) and reports,
    per query, how many of the true top-k the index returned:
    ``recall = |approx ∩ exact| / |exact|``. This is the "measure, don't
    guess" knob-tuning loop for ``nbits``/``probes`` — run it on a sampled
    query set before fixing index parameters, exactly how ANN benchmarks
    (ann-benchmarks.com) define recall. Denominator is the *achieved*
    exact top-k size (= k unless the corpus is smaller than k), so tiny
    fixtures don't understate recall.

    Scale shape: ground truth runs on a SAMPLE of queries (pass a small
    ``query`` frame) — the brute-force side is one broadcast-query corpus
    pass; the comparison itself is a broadcast-size join.
    """
    exact = brute_force_topk(corpus, query, k, id_col, vec_col, query_id_col)
    approx = lsh_topk(
        corpus, query, k, nbits, id_col, vec_col, query_id_col, planes, probes
    )
    return _recall(exact, approx, id_col)


def _recall(exact: DataFrame, approx: DataFrame, id_col: str) -> DataFrame:
    """Per query ``(query_id, n_hits, n_exact, recall)``: how many rows of
    the ``exact`` top-k the ``approx`` top-k also returned."""
    hits = exact.join(
        approx.select("query_id", id_col), on=["query_id", id_col], how="left_semi"
    )
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hits = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return n_exact.join(n_hits, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        "n_exact",
        dround(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact").cast("double"),
            6,
        ).alias("recall"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 6,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking: pairs
    sharing a bucket with cosine ≥ threshold. ``planes`` switches the
    blocks to true random-hyperplane buckets."""
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_bucket_col(F.col(vec_col), nbits, planes).alias("bucket"),
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, on="bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dround(cosine_col(F.col("a.vec"), F.col("b.vec")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-sharded scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
) -> DataFrame:
    """Coarse quantizer for the IVF index.

    Base: the ``nlist`` corpus vectors with the smallest md5(id) — a
    reproducible pseudo-random sample (TakeOrdered, no global sort),
    cross-engine checkable. ``kmeans_iterations > 0`` runs that sample
    through Lloyd refinement (:func:`kmeans_refine`) for real k-means
    centroids — better-balanced clusters and recall on clustered
    embeddings, at 2 shuffles per iteration; double-mean results are
    engine-specific, so refined centroids are exercised by tests rather
    than the SQL oracle."""
    sample = (
        corpus.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid")
        )
        .orderBy(F.md5(F.col("centroid_id").cast("string")).asc(), F.col("centroid_id").asc())
        .limit(nlist)
    )
    if kmeans_iterations > 0:
        return kmeans_refine(corpus, sample, kmeans_iterations, id_col, vec_col)
    return sample


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iterations: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd iterations over DataFrame ops: assign (corpus × broadcast
    centroids, max cosine) → new centroid = element-wise mean of the
    cluster (posexplode → per-(cluster, pos) avg → re-assemble). Each
    iteration is one broadcast join + two hash aggregations; clusters that
    lose all members drop out (standard Lloyd behavior). The driver loop
    only stitches plans — no data ever reaches the driver."""
    cents = centroids
    for _ in range(iterations):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        means = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
        )
        cents = (
            means.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                F.col("cluster").alias("centroid_id"),
                F.transform(F.col("pm"), lambda s: s["m"].cast("float")).alias("centroid"),
            )
        )
        # Materialize the (nlist-row) centroid table per iteration:
        # iteration i's broadcast would otherwise re-execute every prior
        # iteration's full-corpus assignment inside its own subjob, turning
        # the Lloyd chain from k corpus passes into O(k²).
        cents = cents.localCheckpoint(eager=True)
    return cents


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """nlist-row coarse quantizer → ONE broadcastable row holding the
    (cid, cv) candidate array, sorted by centroid id."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").alias("cid"),
                    F.col("centroid").alias("cv"),
                )
            )
        ).alias("__cents")
    )


def _nearest_centroid(vec) -> "Column":
    """Cluster id of the nearest entry of the ``__cents`` candidate array
    (max cosine, tie → smallest centroid id) — pure column algebra over a
    broadcast 1-row array, argmax via ``array_max`` on a ``(cosine,
    -cid)`` ordering struct (the exact ``max_by`` ordering the
    shuffle-based form used: struct comparison is field-lexicographic
    with the same null/NaN double ordering)."""
    return F.array_max(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                cosine_col(vec, s["cv"]).alias("c"),
                (-s["cid"]).alias("nc"),
                s["cid"].alias("cid"),
            ),
        )
    )["cid"]


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    centroid id as tie-break). ZERO-shuffle: the nlist-row quantizer is
    collapsed to a single broadcast row carrying the candidate array and
    the argmax is per-row column algebra (``array_max`` over a
    (cosine, -cid) ordering struct) — the assignment stage is a pure map
    over the corpus scan. The previous form (explode to corpus×nlist,
    ``max_by`` hash aggregate) paid a full shuffle of every vector; at
    100 TB the assignment pass now moves zero bytes over the network."""
    scored = corpus.crossJoin(F.broadcast(_centroid_array(centroids)))
    return scored.where(F.size("__cents") > 0).select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_centroid(F.col(vec_col)).alias("cluster"),
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    kmeans_iterations: int = 0,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` clusters whose
    centroids are nearest each query — per query ~nprobe/nlist of the
    corpus is scored. At 100 TB the assignment is computed once and
    persisted partitioned BY cluster, so a probe is a partition-pruned
    scan, not a shuffle. ``kmeans_iterations`` upgrades the sampled
    centroids to Lloyd-refined ones."""
    cents = ivf_centroids(corpus, nlist, id_col, vec_col, kmeans_iterations)
    return _ivf_search(
        _queries(query, query_id_col or id_col, vec_col),
        cents,
        ivf_assign(corpus, cents, id_col, vec_col),
        k,
        nprobe,
        id_col,
        vec_col,
    )


def _probe(q: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Probe: each query's ``nprobe`` nearest centroids (max cosine, tie
    → smaller centroid id) as ``(query_id, __qv, cluster)``; the nlist-row
    quantizer broadcasts."""
    scored = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "__qv",
        "centroid_id",
        cosine_col(F.col("__qv"), F.col("centroid")).alias("__cos"),
    )
    return _topk(
        scored, nprobe, F.desc("__cos"), F.asc("centroid_id"), rank="__rn"
    ).select("query_id", "__qv", F.col("centroid_id").alias("cluster"))


def _ivf_search(
    q: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF search: exact-cosine top-k over the rows of ``assigned`` (id,
    vector, cluster) that sit in each query's probed lists."""
    probes = _probe(q, centroids, nprobe)
    return _cosine_topk(
        assigned.join(F.broadcast(probes), on="cluster"), k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    threshold: float = 0.95,
    kmeans_iterations: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the IVF coarse
    quantizer, then within each cluster drop every vector whose cosine to a
    LOWER-id cluster member is ≥ ``threshold`` — keeping one representative
    (the lowest id) per semantic near-duplicate set.

    Returns the input rows that SURVIVE, plus their ``cluster`` id.

    Scale shape: candidate pairs exist only WITHIN a cluster — the
    all-pairs comparison is bounded per-cluster, grouped on the cluster
    key, never a global cross join. At 100 TB raise ``nlist`` so
    clusters stay bounded (SemDeDup uses 50k clusters for LAION-scale
    corpora) and persist ``ivf_assign`` partitioned by cluster; the
    per-cluster scan is then partition-local.

    The within-cluster pair scan runs as ONE Arrow-batched
    ``applyInPandas`` per cluster — normalize the
    cluster's vector block once, one BLAS matmul for the full Gram
    matrix, mask the upper triangle. This is exactly the SemDeDup paper's
    per-cluster computation, and vectorized float math is the one place
    the JVM expression interpreter loses by ~100× (higher-order-function
    folds evaluate per element, per pair). The d² pair work collapses
    into a d×d matmul with no pair-join shuffle at all — the groupBy
    already co-locates each cluster.
    """
    cents = ivf_centroids(df, nlist, id_col, vec_col, kmeans_iterations)
    assigned = ivf_assign(df, cents, id_col, vec_col)
    # localCheckpoint truncates the Lloyd iteration lineage (same
    # discipline as dedup_clusters); at cluster scale persist partitioned
    # by `cluster` instead so the per-cluster scan is partition-local.
    assigned = assigned.localCheckpoint(eager=False)

    thr = float(threshold)

    def _drop_cluster_dups(pdf):
        import numpy as np

        if len(pdf) <= 1:
            return pdf
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].iloc[order]]
        )
        norms = np.linalg.norm(V, axis=1)
        # zero vectors have undefined cosine — never near-dups
        safe = np.where(norms == 0.0, 1.0, norms)
        U = V / safe[:, None]
        U[norms == 0.0] = 0.0
        gram = U @ U.T
        # row i < column j ⇒ drop j iff some lower-id row matches it
        drop = np.triu(gram >= thr, k=1).any(axis=0)
        keep = set(ids[order][~drop].tolist())
        return pdf[pdf[id_col].isin(keep)]

    return assigned.groupBy("cluster").applyInPandas(
        _drop_cluster_dups, schema=assigned.schema
    ).select(id_col, vec_col, "cluster")


# ---------------------------------------------------------------------------
# Embedding storage quantization (int8)
# ---------------------------------------------------------------------------


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` ∈ [−127, 127] — 4× smaller embedding
    storage (the difference between keeping a 100 TB embedding store hot
    or cold) at ~0.5% cosine error on typical corpora. Zero vectors get
    NULL scale and NULL codes (nothing to preserve).

    Pure column algebra; pairs with :func:`dequantize_col` for rescoring
    and with :func:`quantization_error` to MEASURE the recall cost before
    committing the storage format (same discipline as ann_recall_at_k).
    """
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    scale = F.when(amax > 0, amax / F.lit(127.0))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / scale).cast("int"),
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(scale.isNotNull(), q).alias("qembedding"),
    )


def dequantize_col(q: Column, scale: Column) -> Column:
    """Reconstruct the float vector from int8 codes: ``x̂_i = q_i·scale``."""
    return F.transform(q, lambda v: v.cast("double") * scale)


def quantization_error(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector reconstruction quality of the int8 format:
    ``recon_cosine`` = cosine(original, dequantized). Run this on a
    sample before flipping a corpus to quantized storage — "measure,
    don't guess" for the storage knob, exactly as ann_recall_at_k is for
    the index knobs."""
    qd = quantize_embeddings_int8(df, vec_col, id_col)
    joined = df.select(F.col(id_col), F.col(vec_col)).join(qd, on=id_col)
    recon = dequantize_col(F.col("qembedding"), F.col("scale"))
    return joined.select(
        id_col,
        dround(F.col("scale"), 6).alias("scale"),
        dround(cosine_col(F.col(vec_col), recon), 6).alias("recon_cosine"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011, the IVF-PQ storage/ANN path
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subvector codebooks for product quantization (Jégou et al.,
    *Product Quantization for Nearest Neighbor Search*, TPAMI 2011):
    split each d-dim vector into ``m`` contiguous subvectors and give
    each subspace a ``k``-entry codebook. Codebook entries are the
    subvectors of the ``k`` corpus rows with the smallest
    ``md5("{sub}:{id}")`` — a reproducible per-subspace pseudo-random
    sample (a row_number cut per subspace, no global sort), cross-engine
    checkable like the IVF coarse quantizer; swap in Lloyd-refined
    codebooks via :func:`kmeans_refine` per subspace when recall matters
    more than oracle parity.

    Returns ``(sub int, code int, centroid array<double>)`` — m·k rows,
    broadcast-sized for any corpus.
    """
    subs = _pq_subvectors(corpus, m, id_col, vec_col).withColumnRenamed(
        "__sv", "centroid"
    )
    w = W.partitionBy("sub").orderBy(
        F.md5(F.concat_ws(":", F.col("sub"), F.col("__id"))).asc(), F.col("__id").asc()
    )
    return (
        subs.withColumn("code", F.row_number().over(w) - 1)
        .where(F.col("code") < k)
        .select("sub", "code", "centroid")
    )


def _l2sq(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(
    corpus: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub, __sv double[]) — every vector split into ``m``
    contiguous subvectors, the shared first stage of codebook fitting,
    refinement and encoding."""
    return corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
    ).select(
        "__id",
        "sub",
        F.expr(
            f"transform(slice(__v, sub * (size(__v) div {m}) + 1,"
            f" size(__v) div {m}), x -> CAST(x AS DOUBLE))"
        ).alias("__sv"),
    )


def pq_refine_codebooks(
    corpus: DataFrame,
    codebooks: DataFrame,
    iterations: int = 1,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd (k-means) refinement of PQ codebooks per subspace — the
    TRAINING step of Jégou et al. 2011 (the md5-sampled init of
    :func:`pq_codebooks` is k-means++-style seeding; real deployments
    refine until the per-subspace quantization error stops dropping).

    Each iteration, per subspace: assign every subvector to its
    L2-nearest code (broadcast m·k codebook join + ``min_by`` argmin,
    map-side combined), then recompute each code's centroid as the
    element-wise mean of its members (posexplode → per-(sub, code, pos)
    avg → re-assemble). Means are cast through FLOAT (then back to
    double) so cross-engine summation-order drift quantizes away — the
    same trick that makes the SemDeDup Lloyd oracle exact. Codes that
    lose all members drop out (standard Lloyd). The per-iteration
    centroid table is ``localCheckpoint``-ed so iteration i's broadcast
    doesn't replay every prior iteration's full-corpus assignment
    (O(k²) otherwise). Returns the refined ``(sub, code, centroid)``.
    """
    subs = _pq_subvectors(corpus, m, id_col, vec_col)
    cb = codebooks
    for _ in range(iterations):
        scored = subs.join(F.broadcast(cb), on="sub").select(
            "__id",
            "sub",
            "code",
            "__sv",
            _l2sq(F.col("__sv"), F.col("centroid")).alias("__d"),
        )
        best = scored.groupBy("__id", "sub").agg(
            F.min_by(
                F.col("code"),
                F.struct(F.col("__d").alias("d"), F.col("code").alias("c")),
            ).alias("code"),
            F.first("__sv").alias("__sv"),
        )
        means = (
            best.select("sub", "code", F.posexplode("__sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("m"))
        )
        cb = (
            means.groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "sub",
                "code",
                F.transform(
                    F.col("pm"), lambda s: s["m"].cast("float").cast("double")
                ).alias("centroid"),
            )
        )
        cb = cb.localCheckpoint(eager=True)
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` one-byte codes: per subspace, the
    code of the L2-nearest codebook entry (tie → smallest code). Storage
    drops from d·4 bytes (float32) to m bytes — 32× at d=64, m=8 — which
    is what makes 100 TB embedding stores searchable in memory.

    ZERO-shuffle: the m·k codebook collapses to a single broadcast row
    carrying a ``sub → (code, centroid)[]`` map, and each vector's m
    codes are computed in one projection (per subspace, ``array_min``
    over a (distance, code) ordering struct — the exact ``min_by``
    ordering of the previous explode/join/aggregate form, which paid two
    hash-aggregate shuffles of every subvector). The encode pass is now
    a pure map over the corpus scan. Returns (id, codes array<int>).
    """
    scored = corpus.crossJoin(F.broadcast(_codebook_map(codebooks)))
    return scored.where(F.size("__cb") > 0).select(
        F.col(id_col),
        _pq_codes(F.col(vec_col), m).alias("codes"),
    )


def _codebook_map(codebooks: DataFrame) -> DataFrame:
    """m·k-row codebook table → ONE broadcastable row holding a
    ``sub → [(code, centroid), ...]`` map (entries sorted by code)."""
    return (
        codebooks.groupBy("sub")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("code", "centroid"))
            ).alias("entries")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("sub", "entries"))
            ).alias("__cb")
        )
    )


def _pq_codes(vec, m: int) -> "Column":
    """The m PQ codes of ``vec`` against the broadcast ``__cb`` codebook
    map, in subspace order — per subspace the L2-argmin entry (tie →
    smallest code), as column algebra."""
    sd = (F.size(vec) / F.lit(m)).cast("int")

    def code_for(sub):
        sv = F.slice(vec, sub * sd + F.lit(1), sd)
        return F.array_min(
            F.transform(
                F.element_at(F.col("__cb"), sub),
                lambda e: F.struct(
                    _l2sq(sv, e["centroid"]).alias("d"),
                    e["code"].alias("c"),
                ),
            )
        )["c"]

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, build
    the m×k lookup table of squared L2 distances from the query's
    subvectors to every codebook entry (broadcast — m·k doubles per
    query), then every encoded row's approximate distance is ``m`` array
    lookups + a fold, no float vectors touched. The corpus side reads
    only (id, m codes); at 100 TB that is the difference between
    scanning bytes and scanning embeddings.

    Returns (query_id, id, adc_dist, rank ≤ k), ranked ascending by
    distance (tie → smaller id).
    """
    lut = _lut(query, query_id_col or id_col, vec_col, codebooks, m)
    return _adc_topk(codes.crossJoin(F.broadcast(lut)), k, m, id_col)


def _encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Encode: ``(id, cluster, codes)`` — nearest centroid and the ``m``
    PQ codes of every vector in ONE map-side projection. Both quantizers
    broadcast as 1-row arrays, so there is no assign⋈encode shuffle join
    and no vector crosses the network."""
    return (
        vectors.crossJoin(F.broadcast(_centroid_array(centroids)))
        .crossJoin(F.broadcast(_codebook_map(codebooks)))
        .where((F.size("__cents") > 0) & (F.size("__cb") > 0))
        .select(
            F.col(id_col),
            _nearest_centroid(F.col(vec_col)).alias("cluster"),
            _pq_codes(F.col(vec_col), m).alias("codes"),
        )
    )


def _lut(
    q: DataFrame, qid: str, vec_col: str, codebooks: DataFrame, m: int
) -> DataFrame:
    """LUT: per query of ``q`` (``qid``, ``vec_col``), ``__lut`` = map sub →
    (map code → squared L2 distance from the query's subvector to that
    codebook entry). Keyed BY CODE, not positionally: Lloyd-refined
    codebooks may have dropped empty codes, leaving non-contiguous
    labels that positional indexing would silently misread."""
    return (
        _pq_subvectors(q, m, qid, vec_col)
        .join(F.broadcast(codebooks), on="sub")
        .select(
            F.col("__id").alias("query_id"),
            "sub",
            "code",
            _l2sq(F.col("__sv"), F.col("centroid")).alias("__d"),
        )
        .groupBy("query_id", "sub")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("code", "__d")))
            ).alias("__dists")
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("sub", "__dists"))).alias("__lut")
        )
    )


def _adc_topk(pairs: DataFrame, k: int, m: int, id_col: str) -> DataFrame:
    """ADC score and rank (query, row) ``pairs`` carrying the row's
    ``codes`` and the query's ``__lut``: the distance is the LUT lookups
    summed over the subspaces in order j = 0..m−1 (the order the
    ``q_ext_pq_adc_topk`` oracle replays); top ``k`` per query ascending
    (tie → smaller id) as ``(query_id, id, adc_dist, rank)``."""
    scored = pairs.select(
        "query_id",
        id_col,
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(F.col("__lut"), j),
                F.element_at(F.col("codes"), j + 1),
            ),
        ).alias("__adc"),
    )
    return _topk(scored, k, F.asc("__adc"), F.asc(id_col)).select(
        "query_id", id_col, dround(F.col("__adc"), 6).alias("adc_dist"), "rank"
    )


def _ivfpq_pairs(
    probes: DataFrame, postings: DataFrame, codebooks: DataFrame, m: int
) -> DataFrame:
    """IVF-PQ candidates: every posting (id, cluster, codes) in each
    query's probed lists, paired with that query's LUT (both broadcast)."""
    q = probes.select("query_id", "__qv").dropDuplicates(["query_id"])
    lut = _lut(q, "query_id", "__qv", codebooks, m)
    return postings.join(
        F.broadcast(probes.select("query_id", "cluster")), on="cluster"
    ).join(F.broadcast(lut), on="query_id")


def ivfpq_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """The full IVF-PQ index shape (Jégou et al. 2011, §IV): a coarse
    quantizer shards the corpus into ``nlist`` inverted lists, PQ codes
    compress every vector to ``m`` bytes, and a query (a) picks its
    ``nprobe`` nearest lists, (b) ADC-scores ONLY the codes in those
    lists. Per query ~nprobe/nlist of the corpus is touched, and what is
    touched is bytes — the two cost cuts multiply, which is the entire
    reason FAISS-style indexes scale to 10^11 vectors.

    Train, encode, search: the search is the one
    ``VectorIndexStore.search`` runs over its persisted postings
    (``textops/index_store.py``). At 100 TB: persist ``(cluster, codes)``
    partitioned BY cluster so a probe is a partition-pruned scan of code
    bytes; centroids, codebooks and per-query LUTs all broadcast.
    """
    cents = ivf_centroids(corpus, nlist, id_col, vec_col)
    cb = pq_codebooks(corpus, m, pq_k, id_col, vec_col)
    postings = _encode(corpus, cents, cb, m, id_col, vec_col)
    probes = _probe(_queries(query, query_id_col or id_col, vec_col), cents, nprobe)
    return _adc_topk(_ivfpq_pairs(probes, postings, cb, m), k, m, id_col)


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "cosine",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) of a per-query candidate list: greedily pick k items
    maximizing ``mmr = λ·relevance − (1−λ)·max_sim_to_already_picked``
    — the diversity pass a RAG retriever runs AFTER `brute_force_topk`
    / `hybrid_topk_rrf` so the k results aren't k paraphrases. Returns
    ``(query_id, vec_id, mmr_rank, relevance, mmr_score)`` with
    ``mmr_score`` the criterion value at selection time (first pick's
    penalty is 0 by definition of the empty set).

    ``candidates`` must already be top-k'-bounded per query (the
    retriever's output); the pairwise-similarity frame is therefore
    ≤ k'² rows per query and the k greedy steps are UNROLLED into a
    static plan over these bounded frames — no iterative driver loop
    over unbounded data, no UDF. Ties (equal mmr) break on the smaller
    id; similarities are decimal-rounded so selection order is
    engine-exact and the whole greedy trajectory can be replayed by a
    SQL oracle.
    """
    if k < 1:
        raise ValueError("mmr_rerank requires k >= 1")
    if not (0.0 <= lam <= 1.0):
        raise ValueError("mmr_rerank requires 0 <= lam <= 1")
    lam = float(lam)
    cand = candidates.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rel_col).cast("double").alias("__rel"),
    ).localCheckpoint(eager=False)  # the retriever upstream (often a
    # corpus-wide top-k) must not replay once per unrolled greedy step
    vecs = vectors.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    )
    withv = cand.join(vecs, cand["__id"] == vecs["__vid"]).select(
        "__q", "__id", "__rel", "__v"
    )
    a, b = withv.alias("a"), withv.alias("b")
    psim = (
        a.join(b, (F.col("a.__q") == F.col("b.__q")) & (F.col("a.__id") != F.col("b.__id")))
        .select(
            F.col("a.__q").alias("__q"),
            F.col("a.__id").alias("__ida"),
            F.col("b.__id").alias("__idb"),
            dround(
                F.coalesce(
                    cosine_col(F.col("a.__v"), F.col("b.__v")), F.lit(0.0)
                ),
                round_to,
            ).alias("__sim"),
        )
        .localCheckpoint(eager=False)
    )
    remaining = cand
    picks = None
    for step in range(1, int(k) + 1):
        if step == 1:
            scored = remaining.select(
                "__q", "__id", "__rel", (F.lit(lam) * F.col("__rel")).alias("__mmr")
            )
        else:
            pen = (
                psim.join(
                    picks.select("__q", F.col("__id").alias("__idb")),
                    ["__q", "__idb"],
                )
                .groupBy("__q", F.col("__ida").alias("__id"))
                .agg(F.max("__sim").alias("__pen"))
            )
            scored = (
                remaining.join(pen, ["__q", "__id"], "left")
                .select(
                    "__q",
                    "__id",
                    "__rel",
                    (
                        F.lit(lam) * F.col("__rel")
                        - F.lit(1.0 - lam)
                        * F.coalesce(F.col("__pen"), F.lit(0.0))
                    ).alias("__mmr"),
                )
            )
        pick = (
            _topk(scored, 1, F.desc("__mmr"), F.asc("__id"), part="__q")
            .select("__q", "__id", "__rel", "__mmr", F.lit(step).alias("__step"))
            .localCheckpoint(eager=False)
        )
        picks = pick if picks is None else picks.unionByName(pick)
        remaining = remaining.join(
            pick.select("__q", "__id"), ["__q", "__id"], "left_anti"
        )
    return picks.select(
        F.col("__q").alias(query_col),
        F.col("__id").alias(id_col),
        F.col("__step").cast("int").alias("mmr_rank"),
        dround(F.col("__rel"), round_to).alias("relevance"),
        dround(F.col("__mmr"), round_to).alias("mmr_score"),
    )


def truncated_dim_recall_at_k(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    trunc_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Matryoshka-style truncation evaluation: recall@k of the exact
    ranking computed on the FIRST ``trunc_dim`` coordinates against the
    exact full-dimension ranking — the measurement that decides whether
    a nested (MRL-trained) embedding can serve its cheap prefix for
    first-stage retrieval (a d'/d cost cut on every distance) before a
    full-dimension rerank. Same contract as :func:`ann_recall_at_k`:
    per query, ``recall = |trunc top-k ∩ full top-k| / |full top-k|``,
    denominator the achieved exact top-k size.

    Scale shape: two broadcast-query corpus passes (one per dimension
    budget) + a broadcast-size comparison join — run it on a SAMPLE of
    queries, like every recall loop here.
    """
    full = brute_force_topk(corpus, query, k, id_col, vec_col, query_id_col)
    qid = query_id_col or id_col
    trunc = brute_force_topk(
        _prefix(corpus, id_col, vec_col, trunc_dim),
        _prefix(query, qid, vec_col, trunc_dim),
        k, id_col, vec_col, query_id_col,
    )
    return _recall(full, trunc, id_col)


def _prefix(df: DataFrame, key: str, vec_col: str, dim: int) -> DataFrame:
    """``(key, vec_col)`` with the vector cut to its first ``dim``
    coordinates (the Matryoshka prefix)."""
    return df.select(F.col(key), F.slice(F.col(vec_col), 1, int(dim)).alias(vec_col))


def two_stage_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    candidates: int = 50,
    trunc_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Two-stage retrieval: stage 1 ranks the corpus on the FIRST
    ``trunc_dim`` coordinates (a d'/d-cost scan — the Matryoshka prefix
    :func:`truncated_dim_recall_at_k` measures) and keeps ``candidates``
    per query; stage 2 reranks ONLY those candidates with the
    full-dimension cosine and returns the top ``k`` — the standard
    cheap-retrieve / exact-rerank serving shape. Output matches
    :func:`brute_force_topk`: ``(query_id, id, cosine, rank)`` with the
    full-dimension score.

    Scale shape: the full-dimension vectors are touched for only
    ``candidates`` rows per query (a semi-join-bounded rerank), so the
    expensive distance runs on an O(q·candidates) frame, never the
    corpus. Stage 1 is the same broadcast-query scan as brute force but
    at trunc_dim/dim the arithmetic (swap in an IVF/LSH stage-1 for
    sub-scan candidate generation).
    """
    qid = query_id_col or id_col
    stage1 = brute_force_topk(
        _prefix(corpus, id_col, vec_col, trunc_dim),
        _prefix(query, qid, vec_col, trunc_dim),
        int(candidates), id_col, vec_col, query_id_col,
    ).select("query_id", id_col)
    return _exact_rerank(
        corpus, stage1, _queries(query, qid, vec_col), int(k), id_col, vec_col
    )


def filtered_topk(
    corpus: DataFrame,
    query: DataFrame,
    predicate: Column | str,
    k: int = 10,
    strategy: str = "exact",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    oversample: int = 4,
) -> DataFrame:
    """FILTERED vector search: top-k by cosine among corpus rows
    satisfying a metadata ``predicate`` (the vector-database staple —
    "nearest products in THIS category", "nearest docs with lang='en'").

    ``strategy``:

    - ``"exact"``: pre-filter + brute-force scan. The predicate is a
      row-local column expression, so Catalyst pushes it INTO the corpus
      scan (parquet row-group pruning at scale) and the scored set is
      exactly the survivors — always returns the true filtered top-k at
      any selectivity. The right default below ~10⁸ surviving rows.
    - ``"ivf"``: pre-filter the cluster-assigned corpus, probe
      ``min(nlist, nprobe × oversample)`` clusters per query. The
      predicate prunes candidate SCANS (filter-before-score — strictly
      cheaper than post-filtering scored rows); oversampled probing
      compensates for survivors living outside the default probe set.
      Approximate: a very selective predicate can still leave < k
      results or miss true neighbors in unprobed clusters — measure
      with :func:`ann_recall_at_k` against the exact strategy and raise
      ``oversample`` (the standard filtered-ANN tuning loop).

    At 100 TB: the IVF assignment is persisted partitioned by cluster;
    a filtered probe is then a partition-pruned, predicate-pushed scan —
    two prunings multiply.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    if strategy == "exact":
        return brute_force_topk(
            corpus.filter(pred), query, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    if strategy != "ivf":
        raise ValueError(f"strategy must be exact|ivf, got {strategy!r}")
    # centroids come from the FULL corpus (the index is built once,
    # predicate-agnostic); assignment is row-local, so assigning only the
    # predicate's survivors is identical to assign-then-filter — and at
    # scale it's the predicate-pushed scan of the persisted assignment
    cents = ivf_centroids(corpus, nlist, id_col, vec_col)
    return _ivf_search(
        _queries(query, query_id_col or id_col, vec_col),
        cents,
        ivf_assign(corpus.filter(pred), cents, id_col, vec_col),
        k,
        min(nlist, nprobe * max(1, oversample)),
        id_col,
        vec_col,
    )
