"""Distributed graph ranking: fixed-iteration PageRank over an edge
frame.

Connected components (the dedup clustering workhorse) live in
`textops/dedup.py`; this module adds the other graph primitive a
corpus/feature pipeline reaches for — importance scoring over a
relationship graph (supplier↔customer activity, document link/citation
graphs, near-dup witness graphs) to weight entities by centrality.

Net-new vs the reference (no graph surface there). Spark-first shape:

- one pass builds out-degrees; each iteration is ONE join of the rank
  frame to the edge frame on the source key plus ONE aggregation on the
  destination key — the textbook shuffle-bounded PageRank step, no
  driver-side adjacency, no collect.
- dangling mass (nodes with no out-edges) is folded back uniformly via
  a 1-row aggregate broadcast into the update — never a second pass
  over edges.
- ranks are `localCheckpoint`ed per iteration so iteration i doesn't
  replay the lineage of i−1 (same discipline as the PQ Lloyd loop in
  `textops/similarity.py`).
- determinism: every per-edge/per-node term is an IEEE double op
  (+,·,/ are bit-exact in any engine) rounded to 12 decimals via
  DECIMAL, and every cross-row SUM runs in DECIMAL(38,12) — the result
  hash-matches an unrolled SQL replay regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround

#: fixed-point scale for rank values — 1e-12 quantization per term, far
#: below any ranking-relevant difference, exact to sum across partitions
_RANK_SCALE = 12
_DEC = f"decimal(38,{_RANK_SCALE})"
#: node count up to which pagerank broadcasts its rank table (~a few
#: hundred MB of (node, deg, rank) rows)
_PAGERANK_BROADCAST_NODES = 4_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank — ``(node, rank)`` for every node that
    appears as a source or destination, after ``iterations`` synchronous
    updates of ``r'(v) = (1−d)/n + d·(Σ_{u→v} r(u)/deg(u) + D/n)``
    where D is the total rank mass on dangling nodes (no out-edges).
    Duplicate edges are collapsed first (a repeated edge is one link,
    the Brin–Page convention); ranks start uniform at 1/n and every
    iteration's total mass stays 1 up to the documented 1e-12-per-term
    quantization, so ranks are comparable across graphs.

    Fixed ``iterations`` (not convergence-probed) keeps the plan static
    and the oracle replayable; power iteration's error decays as d^k,
    so 5–10 iterations separate head from tail on real graphs — pass
    more for ranking-sensitive uses.
    """
    if iterations < 1:
        raise ValueError("pagerank requires iterations >= 1")
    if not (0.0 < damping < 1.0):
        raise ValueError("pagerank requires 0 < damping < 1")
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        # checkpoint WITH src-hash partitioning and src order: the edge
        # frame joins on src in EVERY iteration, and LogicalRDD preserves
        # the checkpointed plan's partitioning/ordering — so the big side
        # of the per-iteration join never re-shuffles or re-sorts
        # (guide §2.4: establish the partitioning once)
        .repartition(F.col("src"))
        .sortWithinPartitions("src")
        # the edge frame joins into EVERY iteration — without this the
        # upstream build (often a join + distinct) replays per iteration
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        # AQE coalesces the small distinct to ~1 partition; the rank
        # frame inherits that, serializing five iterations of DECIMAL
        # arithmetic onto one task — spread it across the cluster
        .repartition(F.col("node"))
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    # out-degree rides on the node frame for the whole loop: the join
    # with the per-iteration rank is then node-keyed and narrow
    base = nodes.join(deg, nodes["node"] == deg["src"], "left").select(
        "node", F.col("__deg")
    ).localCheckpoint(eager=False)
    # n is needed as a scalar anyway (uniform teleport mass); counting the
    # checkpointed node frame also tells us whether the rank table is
    # broadcast-sized — below the threshold every per-iteration join can
    # broadcast the O(nodes) side and the edge frame is NEVER shuffled
    # after its checkpoint (guide §3.1: pick the strategy deliberately).
    # Above it (billions of nodes) the joins fall back to the shuffle
    # plan, which reuses e's checkpointed src-partitioning. Both plans
    # compute identical values — only the join strategy differs.
    n_nodes = nodes.count()
    broadcast_ranks = n_nodes <= _PAGERANK_BROADCAST_NODES

    ranks = base.select(
        "node",
        "__deg",
        F.lit(int(n_nodes)).alias("__n"),
        dround(F.lit(1.0) / F.lit(float(n_nodes)), _RANK_SCALE)
        .cast(_DEC)
        .alias("rank"),
    )
    for _ in range(int(iterations)):
        # per-edge share; rounded so the dst-side DECIMAL sum is exact
        rsrc = ranks.where(F.col("__deg").isNotNull()).select(
            "node", "__deg", "rank"
        )
        if broadcast_ranks:
            joined_src = e.join(F.broadcast(rsrc), rsrc["node"] == e["src"])
        else:
            joined_src = rsrc.join(e, rsrc["node"] == e["src"])
        contrib = (
            joined_src.select(
                F.col("dst"),
                dround(
                    F.col("rank").cast("double") / F.col("__deg").cast("double"),
                    _RANK_SCALE,
                )
                .cast(_DEC)
                .alias("__share"),
            )
            .groupBy("dst")
            .agg(F.sum("__share").alias("__in"))
        )
        if broadcast_ranks:
            contrib = F.broadcast(contrib)
        dangling = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("__deg").isNull(), F.col("rank"))),
                F.lit(0).cast(_DEC),
            ).alias("__dang")
        )
        ranks = (
            ranks.join(contrib, ranks["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__deg",
                "__n",
                dround(
                    (F.lit(1.0) - F.lit(float(damping)))
                    / F.col("__n").cast("double")
                    + F.lit(float(damping))
                    * (
                        F.coalesce(F.col("__in"), F.lit(0).cast(_DEC)).cast(
                            "double"
                        )
                        + F.col("__dang").cast("double")
                        / F.col("__n").cast("double")
                    ),
                    _RANK_SCALE,
                )
                .cast(_DEC)
                .alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", dround(F.col("rank").cast("double"), round_to).alias("rank")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph — ``(node,
    n_triangles)`` for every node, zeros included. Triangles drive
    clustering-coefficient / community diagnostics on co-occurrence
    graphs (the dedup witness graph, the frequent-pair graph).

    Degree-ordered orientation (Cohen's MapReduce algorithm / the MGT
    compact-forward scheme): canonicalize + dedup edges, orient each
    from the (degree, id)-smaller endpoint to the larger, so every
    node's out-degree is O(√m) on any graph — the wedge self-join then
    touches Σ deg_out² = O(m^1.5) pairs worst-case instead of the
    Σ deg² blowup a hub would cause un-oriented. One wedge join on the
    shared low endpoint + one semi-join against the oriented edge set
    confirms each triangle exactly once; an explode + count credits the
    three corners.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
        # consumed by the degree frame AND the orientation — checkpoint
        # so an expensive edge build (e.g. a co-occurrence join) runs once
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # orient from the (degree, id)-smaller endpoint to the larger
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # wedges at the low corner; (b, c) ordered by node id to emit each
    # unordered pair once — the closing edge may be oriented either way,
    # so probe it canonically
    wedges = e1.join(
        e2,
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b")),
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    closing = oriented.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tri = wedges.join(
        closing,
        (F.col("b") == F.col("x")) & (F.col("c") == F.col("y")),
        "left_semi",
    )
    corner_counts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("__n"))
    )
    return (
        deg.join(corner_counts, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_triangles"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Local clustering coefficient per node over an undirected graph:
    ``c(v) = 2·T(v) / (d(v)·(d(v)−1))`` with T from
    :func:`triangle_count` — ``(node, degree, n_triangles,
    clustering_coeff)``; NULL for degree-1 nodes (undefined, not 0).
    The community-density diagnostic read next to PageRank centrality.
    Cost = the triangle count plus one degree join; the ratio is one
    exact-integer division."""
    # both the triangle pass and the degree pass consume the edges —
    # checkpoint so an expensive upstream edge build runs once
    edges = edges.localCheckpoint(eager=False)
    tri = triangle_count(edges, src_col=src_col, dst_col=dst_col)
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    d = F.col("degree").cast("double")
    return tri.join(deg, "node").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        "n_triangles",
        dround(
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0) * F.col("n_triangles").cast("double") / (d * (d - 1.0)),
            ),
            round_to,
        ).alias("clustering_coeff"),
    )


def transitive_closure(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 16,
) -> DataFrame:
    """Bounded transitive closure with shortest hop-distance: one row per
    reachable ``(src, dst)`` pair with ``depth`` = minimum number of
    edges — lineage impact analysis ("everything downstream of this
    source"), dependency ordering, ancestor queries.

    Frontier BFS: depth-d pairs join the edge frame once per round
    (hash-partitioned on the frontier's dst), new pairs union in, known
    pairs prune via anti-join so a cycle terminates instead of looping;
    ``localCheckpoint`` per round keeps plans constant-size (the
    PageRank/CC discipline). Rounds = closure diameter, capped at
    ``max_depth`` — raises if the cap is hit with the frontier still
    growing (a silently-truncated closure would be wrong data). For
    lineage/dependency DAGs the diameter is the pipeline depth (a
    handful); this is NOT the operator for deep social graphs.
    """
    if max_depth < 1:
        raise ValueError("transitive_closure requires max_depth >= 1")
    base = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    closure = base.select("src", "dst", F.lit(1).alias("depth"))
    frontier = closure
    for _ in range(max_depth):
        nxt = (
            frontier.alias("f")
            .join(base.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("e.dst").alias("dst"),
                (F.col("f.depth") + 1).alias("depth"),
            )
            .where(F.col("src") != F.col("dst"))  # cycles fold to self-pairs: drop
            .join(closure.select("src", "dst"), ["src", "dst"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return closure
        # the frontier is checkpointed each round (bounded plans); the
        # closure stays a logical union of those checkpointed levels —
        # checkpointing the union itself trips Catalyst's union
        # constraint rewrite on 4.1 (NoSuchElementException on the
        # checkpointed attributes) and buys nothing: each level is
        # already materialized
        closure = closure.unionByName(nxt)
        frontier = nxt
    raise RuntimeError(
        f"transitive_closure did not close within max_depth={max_depth} — "
        "the graph is deeper than the budget; raise max_depth"
    )
