"""Persisted, incrementally-maintained IVF-PQ vector index.

The one-shot index builders in :mod:`databricks_demo_feature_store_spark.textops.similarity`
(``ivf_centroids`` / ``pq_codebooks`` / ``ivfpq_topk``) re-train and
re-encode inside every query — right for a benchmark, wrong for a
100 TB corpus, which builds its index ONCE and then maintains it:
new embeddings are assigned/encoded against the FROZEN quantizers
(FAISS's ``add`` after ``train``), deletions are tombstones folded out
at probe time, and a full rebuild happens only when quantizer drift
warrants it. This module persists the three index artifacts as
feature-store tables through
:class:`databricks_demo_feature_store_spark.featurestore.manager.FeatureStoreManager`:

* ``{name}_centroids`` — the coarse quantizer (``nlist`` rows).
* ``{name}_codebooks`` — the PQ codebooks (``m·pq_k`` rows).
* ``{name}_postings`` — one row per indexed vector:
  ``(id, cluster, codes, deleted)`` — the inverted lists + code bytes.

Maintenance discipline:

* ``upsert`` — assign + encode ONLY the new batch (O(batch), never a
  corpus rescan — the ``featurestore/incremental.py`` decomposition
  applied to inverted lists: per-vector assignment/encoding is
  row-local, so state(old ∪ new) == merge(state(old), state(new))
  exactly), then MERGE it on the id PK. Re-upserting an id clears its
  tombstone and moves it to its (possibly new) cluster.
* ``delete`` — CDC-style tombstones (the ``streaming/ops.py``
  discipline): the posting row stays, flagged ``deleted=true`` with its
  payload nulled; every read path folds tombstones out. A tombstone
  for an unknown id is a no-op insert of a dead row — idempotent.
* merged-index ≡ rebuilt-index: because the quantizers are frozen and
  per-vector encoding is row-local, the maintained postings are
  value-identical to re-encoding the current live corpus from scratch
  with the same quantizers (``rebuild_postings``) — the invariant the
  ``q_ext_index_refresh`` driver oracle checks, like
  ``q_incr_agg_refresh`` does for moment state.

Scale notes: centroids and codebooks are broadcast-sized by
construction; ``search`` touches ~nprobe/nlist of the postings and
reads code bytes, not vectors. ``partition_postings=True`` (r12)
writes the postings hive-partitioned by a string projection of the
cluster id (``cluster_pt=c0003``), so a probe is a PARTITION-PRUNED
scan of ~nprobe directories instead of a full postings read — the
merge path is unchanged because upserts touch only the clusters of
the batch's vectors, and the layout column rides through the
manager's spec (``FeatureTableSpec.partition_by``). The projection is
a string on purpose: hive partition-value inference would re-type a
numeric layout column on read.

Reference parity: the reference has no vector tier; its closest shape
is the MERGE-upsert feature writer (``notebooks/utils.py:1748-1758``)
this store persists through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.featurestore.manager import (
    EvolutionPolicy,
    FeatureStoreManager,
    FeatureTableSpec,
)
from databricks_demo_feature_store_spark.functions.rounding import dround
from databricks_demo_feature_store_spark.streaming.ops import drain_batches
from databricks_demo_feature_store_spark.textops.similarity import (
    _l2sq,
    _pq_subvectors,
    cosine_col,
    ivf_assign,
    ivf_centroids,
    pq_codebooks,
    pq_encode,
)


class VectorIndexStore:
    """A persisted IVF-PQ index over an embedding column, maintained
    incrementally through a :class:`FeatureStoreManager`."""

    #: hive layout column for partitioned postings — a STRING projection
    #: of ``cluster`` ("c0003"), because hive partition-value inference
    #: would silently re-type a numeric partition column on read (long →
    #: int), breaking schema-evolution checks on every later merge
    PART_COL = "cluster_pt"

    def __init__(
        self,
        manager: FeatureStoreManager,
        name: str = "vec_index",
        nlist: int = 8,
        m: int = 8,
        pq_k: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        partition_postings: bool = False,
    ):
        self.manager = manager
        self.name = name
        self.nlist = nlist
        self.m = m
        self.pq_k = pq_k
        self.id_col = id_col
        self.vec_col = vec_col
        # cluster-partitioned inverted lists: a probe becomes a
        # partition-pruned scan of ~nprobe directories instead of a full
        # postings read — the at-scale layout the module docstring names.
        # The merge path is unchanged (upserts touch only the batch's
        # clusters; the spec's partition_by rides through the manager).
        self.partition_postings = partition_postings

    def _part_col(self):
        """STRING partition value from the cluster id (NULL-safe: an
        unknown-id tombstone keeps NULL → hive default partition)."""
        return F.when(
            F.col("cluster").isNotNull(),
            F.format_string("c%04d", F.col("cluster").cast("int")),
        ).alias(self.PART_COL)

    # -- table names ---------------------------------------------------
    @property
    def centroids_table(self) -> str:
        return f"{self.name}_centroids"

    @property
    def codebooks_table(self) -> str:
        return f"{self.name}_codebooks"

    @property
    def postings_table(self) -> str:
        return f"{self.name}_postings"

    # -- stored artifacts ----------------------------------------------
    def centroids(self) -> DataFrame:
        return self.manager.read(self.centroids_table)

    def codebooks(self) -> DataFrame:
        return self.manager.read(self.codebooks_table)

    def postings(
        self,
        include_deleted: bool = False,
        clusters: list[int] | None = None,
    ) -> DataFrame:
        """The inverted lists; tombstones folded out unless asked for.
        The layout column (partitioned mode) is dropped — consumers see
        one schema regardless of layout. ``clusters`` restricts a
        partitioned store to the given lists via a STATIC partition
        filter (the probe path); on an unpartitioned store it degrades
        to a plain post-scan filter — same rows either way."""
        df = self.manager.read(self.postings_table)
        if clusters is not None:
            if self.partition_postings and self.PART_COL in df.columns:
                df = df.filter(
                    F.col(self.PART_COL).isin(
                        ["c%04d" % int(c) for c in clusters]
                    )
                )
            else:
                df = df.filter(F.col("cluster").isin([int(c) for c in clusters]))
        if self.PART_COL in df.columns:
            df = df.drop(self.PART_COL)
        return df if include_deleted else df.filter(~F.col("deleted"))

    # -- encode against the FROZEN quantizers ---------------------------
    def _encode(self, vectors: DataFrame) -> DataFrame:
        """(id, cluster, codes, deleted=false) for a batch — ONE map-side
        pass: both quantizers collapse to broadcast 1-row arrays
        (similarity.py `_centroid_array` / `_codebook_map`) and the
        assignment + PQ codes are computed in a single projection; the
        previous assign⋈encode join (plus its two upstream shuffles) is
        gone, so encoding never moves a vector over the network."""
        from databricks_demo_feature_store_spark.textops.similarity import (
            _centroid_array,
            _codebook_map,
            _nearest_centroid,
            _pq_codes,
        )

        out = (
            vectors.crossJoin(F.broadcast(_centroid_array(self.centroids())))
            .crossJoin(F.broadcast(_codebook_map(self.codebooks())))
            .where((F.size("__cents") > 0) & (F.size("__cb") > 0))
            .select(
                self.id_col,
                _nearest_centroid(F.col(self.vec_col))
                .cast("long")
                .alias("cluster"),
                _pq_codes(F.col(self.vec_col), self.m)
                .cast("array<int>")
                .alias("codes"),
                F.lit(False).alias("deleted"),
            )
        )
        if self.partition_postings:
            out = out.withColumn(self.PART_COL, self._part_col())
        return out

    @property
    def vectors_table(self) -> str:
        return f"{self.name}_vectors"

    def _vectors_spec(self) -> FeatureTableSpec:
        return FeatureTableSpec(
            self.vectors_table,
            primary_keys=(self.id_col,),
            description=f"flat refinement vectors for {self.name}",
        )

    # -- lifecycle -------------------------------------------------------
    def build(
        self,
        corpus: DataFrame,
        kmeans_iterations: int = 0,
        store_vectors: bool = False,
    ) -> None:
        """Train quantizers on ``corpus`` and (re)write all three tables.
        The ONLY full-corpus pass; everything after is per-batch.
        ``store_vectors=True`` additionally persists the raw vectors as
        ``{name}_vectors`` — the flat refinement tier (FAISS IVFPQR /
        DiskANN shape): searches can then ADC-shortlist from code bytes
        and exact-rerank ONLY the shortlist from flat storage
        (:meth:`search` with ``refine``), trading k·r vector reads per
        query for exact top-k ordering."""
        cents = ivf_centroids(
            corpus, self.nlist, self.id_col, self.vec_col, kmeans_iterations
        )
        cb = pq_codebooks(corpus, self.m, self.pq_k, self.id_col, self.vec_col)
        # Two overlap phases (guide §2.6 via manager.save_many — each
        # save's write tail leaves most cores idle; the sibling table's
        # training/encode jobs back-fill them). Phase 1: the two
        # quantizer trainings are independent of each other; phase 2:
        # _encode reads the SAVED quantizer tables so postings must wait
        # for phase 1, but the flat vector tier depends only on corpus.
        self.manager.save_many(
            [
                (
                    cents,
                    FeatureTableSpec(
                        self.centroids_table,
                        primary_keys=("centroid_id",),
                        description=f"IVF coarse quantizer for {self.name}",
                        tags={"nlist": str(self.nlist)},
                    ),
                ),
                (
                    cb,
                    FeatureTableSpec(
                        self.codebooks_table,
                        primary_keys=("sub", "code"),
                        description=f"PQ codebooks for {self.name}",
                        tags={"m": str(self.m), "pq_k": str(self.pq_k)},
                    ),
                ),
            ],
            mode="overwrite",
        )
        # build() trains on `corpus` then encodes the same frame — don't
        # recompute it per artifact
        phase2 = [(self._encode(corpus), self._postings_spec())]
        if store_vectors:
            phase2.append(
                (corpus.select(self.id_col, self.vec_col), self._vectors_spec())
            )
        self.manager.save_many(phase2, mode="overwrite")

    def upsert(self, vectors: DataFrame) -> None:
        """Fold a batch of new/changed vectors into the index: encode
        against the stored quantizers, MERGE on the id PK. A re-upserted
        id is re-assigned (and any tombstone cleared). When the flat
        refinement tier exists (``build(store_vectors=True)``), the raw
        vectors MERGE into it under the same PK — refinement state can
        never lag the code bytes."""
        items = [(self._encode(vectors), self._postings_spec())]
        if self.manager.exists(self.vectors_table):
            # distinct targets — overlap the two merges (guide §2.6)
            items.append(
                (vectors.select(self.id_col, self.vec_col), self._vectors_spec())
            )
        self.manager.save_many(items, mode="merge", policy=EvolutionPolicy.FAIL)

    def delete(self, ids: DataFrame) -> None:
        """Tombstone the given ids (one column frame or any frame
        carrying ``id_col``): code bytes nulled, ``deleted=true``, merged
        on the PK so reads fold the rows out. The tombstone KEEPS the
        row's cluster — that is what lets a cluster-partitioned postings
        table compact/vacuum tombstones with partition pruning at scale,
        and lets :meth:`health` attribute dead rows to their lists.
        Unknown ids insert inert dead rows (NULL cluster) — delete is
        idempotent and commutes with itself."""
        current = self.manager.read(self.postings_table).select(
            self.id_col, "cluster"
        )
        tombs = (
            ids.select(F.col(self.id_col))
            .join(current, on=self.id_col, how="left")
            .select(
                self.id_col,
                F.col("cluster").cast("long").alias("cluster"),
                F.lit(None).cast("array<int>").alias("codes"),
                F.lit(True).alias("deleted"),
            )
        )
        if self.partition_postings:
            tombs = tombs.withColumn(self.PART_COL, self._part_col())
        tombs = (
            tombs
            # materialize BEFORE the merge rewrites the postings files
            # this plan reads (self-referencing upsert)
            .localCheckpoint(eager=True)
        )
        self.manager.save(
            tombs, self._postings_spec(), mode="merge",
            policy=EvolutionPolicy.FAIL,
        )

    def upsert_stream(
        self,
        spark,
        input_path: str,
        checkpoint: str,
        schema: str,
        after_batch_hook=None,
    ):
        """Maintain the index from a STREAM of arriving embeddings:
        every micro-batch is assigned/encoded against the frozen
        quantizers and MERGEd into the postings table
        (``streaming/ops.py drain_batches``, same discipline as
        ``stream_features_to_store``). Exactly-once under crash replay
        WITHOUT version markers: :meth:`upsert` is idempotent —
        re-encoding the same vectors against the same frozen quantizers
        produces identical rows, and the MERGE on the id PK converges,
        so a batch replayed after a crash between the table write and
        the checkpoint commit lands the same state. Returns the
        StreamingQuery; ``after_batch_hook(batch_id)`` is a test seam
        for fault injection."""
        return drain_batches(
            spark.readStream.schema(schema).json(input_path),
            checkpoint,
            lambda batch_df, _: self.upsert(batch_df),
            after_batch_hook,
        )

    def vacuum_tombstones(self) -> int:
        """Physically drop tombstoned posting rows (logical deletes stay
        correct forever; this reclaims the bytes once every consumer of
        the dead ids has moved past them — the ``vacuum_cdc_table``
        discipline). Full-table rewrite through the manager's overwrite
        path; at real scale this compacts only partitions containing
        tombstones. Returns the number of rows removed."""
        # raw read: the layout column must survive the rewrite
        all_rows = self.manager.read(self.postings_table)
        dead = all_rows.filter(F.col("deleted")).count()
        if dead:
            # localCheckpoint BEFORE overwriting the files the plan reads
            live = all_rows.filter(~F.col("deleted")).localCheckpoint(eager=True)
            self.manager.save(live, self._postings_spec(), mode="overwrite")
        return dead

    def rebuild_postings(self, corpus: DataFrame) -> DataFrame:
        """Re-encode ``corpus`` from scratch with the STORED quantizers —
        the full-recompute side of the merged ≡ rebuilt invariant (not
        persisted; the oracle/test comparator)."""
        return self._encode(corpus)

    def _postings_spec(self) -> FeatureTableSpec:
        return FeatureTableSpec(
            self.postings_table,
            primary_keys=(self.id_col,),
            description=f"IVF-PQ inverted lists + code bytes for {self.name}",
            tags={"nlist": str(self.nlist), "m": str(self.m)},
            partition_by=(self.PART_COL,) if self.partition_postings else (),
        )

    def health(self, round_to: int = 6) -> DataFrame:
        """Per-cluster index health — the monitoring leg of the
        build→maintain→monitor lifecycle (`store_doctor` for inverted
        lists): live/tombstoned posting counts and the live share, the
        signals that drive operational decisions (skewed ``n_live`` →
        probe hotspots, so rebalance; low live share → vacuum; drifted
        assignment quality → retrain quantizers on fresh data). One
        hash aggregation over the postings (map-side combined) joined to
        the broadcast centroid table; clusters whose lists emptied are
        kept (n_live = 0) — invisible-empty lists are how probe recall
        silently rots. Ordered by cluster for stable output."""
        per_cluster = (
            self.postings(include_deleted=True)
            .groupBy("cluster")
            .agg(
                F.sum(F.when(~F.col("deleted"), 1).otherwise(0)).alias("n_live"),
                F.sum(F.when(F.col("deleted"), 1).otherwise(0)).alias("n_dead"),
            )
        )
        cents = self.centroids().select(
            F.col("centroid_id").cast("long").alias("cluster")
        )
        out = cents.join(per_cluster, on="cluster", how="left").select(
            "cluster",
            F.coalesce(F.col("n_live"), F.lit(0)).alias("n_live"),
            F.coalesce(F.col("n_dead"), F.lit(0)).alias("n_dead"),
        )
        return out.select(
            "cluster",
            "n_live",
            "n_dead",
            dround(
                F.col("n_live").cast("double")
                / F.greatest(F.col("n_live") + F.col("n_dead"), F.lit(1)).cast(
                    "double"
                ),
                round_to,
            ).alias("live_share"),
        ).orderBy("cluster")

    # -- drift-triggered rebuild policy ------------------------------------
    def drift_metrics(self) -> dict:
        """Operational drift signals folded from :meth:`health` (bounded:
        nlist rows collect). ``dead_fraction`` = tombstones over all
        postings; ``imbalance`` = largest live list over the mean live
        list (a frozen quantizer drifts as the data distribution moves —
        hot lists blow up probe cost, starved lists rot recall);
        ``empty_lists`` = lists with zero live vectors."""
        rows = self.health().collect()
        n_live = sum(r["n_live"] for r in rows)
        n_dead = sum(r["n_dead"] for r in rows)
        nlist = len(rows)
        mean_live = n_live / nlist if nlist else 0.0
        if mean_live > 0:
            imbalance = max((r["n_live"] for r in rows), default=0) / mean_live
        else:
            imbalance = float("inf") if n_dead else 0.0
        return {
            "dead_fraction": n_dead / max(n_live + n_dead, 1),
            "imbalance": imbalance,
            "empty_lists": sum(1 for r in rows if r["n_live"] == 0),
            "n_live": n_live,
            "n_dead": n_dead,
        }

    def rebuild_if_drifted(
        self,
        corpus: DataFrame | None = None,
        max_dead_fraction: float = 0.3,
        max_imbalance: float = 4.0,
        max_empty_lists: int | None = None,
        kmeans_iterations: int = 0,
    ) -> bool:
        """Close the doctor's loop: when a drift threshold trips, retrain
        the quantizers on the CURRENT live corpus and rebuild all three
        tables (:meth:`build` — tombstones vanish with the rewrite);
        below thresholds this is a no-op. Returns whether a rebuild ran.

        ``corpus=None`` sources the live vectors from the flat refinement
        tier (``build(store_vectors=True)``) — the maintained index can
        then heal itself without the caller re-materializing the corpus.
        Post-rebuild search recall against the brute-force ground truth
        is pinned ≥ the drifted index's recall in
        tests/test_index_store.py (the FAISS retrain-when-drifted
        discipline)."""
        m = self.drift_metrics()
        triggered = (
            m["dead_fraction"] > max_dead_fraction
            or m["imbalance"] > max_imbalance
            or (max_empty_lists is not None and m["empty_lists"] > max_empty_lists)
        )
        if not triggered:
            return False
        has_vectors = self.manager.exists(self.vectors_table)
        if corpus is None:
            if not has_vectors:
                raise ValueError(
                    "rebuild_if_drifted needs either a corpus frame or the "
                    "flat vector tier (build(store_vectors=True))"
                )
            live_ids = self.postings().select(self.id_col)
            corpus = self.manager.read(self.vectors_table).join(
                live_ids, on=self.id_col
            )
        # materialize BEFORE build() overwrites the tables this plan reads
        corpus = corpus.localCheckpoint(eager=True)
        self.build(
            corpus,
            kmeans_iterations=kmeans_iterations,
            store_vectors=has_vectors,
        )
        return True

    # -- search -----------------------------------------------------------
    def search(
        self,
        query: DataFrame,
        k: int = 10,
        nprobe: int = 2,
        query_id_col: str | None = None,
        refine: int = 0,
    ) -> DataFrame:
        """IVF-PQ top-k over the MAINTAINED index: pick each query's
        ``nprobe`` nearest stored centroids, ADC-score only the live
        code bytes in those lists. Identical plan shape to
        ``similarity.ivfpq_topk`` but reading persisted artifacts —
        centroids/codebooks/per-query LUTs broadcast, postings touched
        ~nprobe/nlist and pruned of tombstones at the scan.

        ``refine=r`` (needs ``build(store_vectors=True)``) switches on
        the flat refinement tier: ADC shortlists ``k·r`` candidates per
        query from code bytes, ONLY those join back to the stored raw
        vectors for an exact-cosine rerank, and the output becomes
        ``(query_id, id, cosine, rank ≤ k)`` ordered by true cosine —
        quantization error leaves the final ordering at the cost of
        k·r vector reads per query (never a corpus vector scan)."""
        from pyspark.sql import Window as W

        qid = query_id_col or self.id_col
        cents = self.centroids()
        cb = self.codebooks()

        q = query.select(
            F.col(qid).alias("query_id"), F.col(self.vec_col).alias("__qv")
        )
        qscore = q.crossJoin(F.broadcast(cents)).select(
            "query_id",
            "__qv",
            "centroid_id",
            cosine_col(F.col("__qv"), F.col("centroid")).alias("__cos"),
        )
        wq = W.partitionBy("query_id").orderBy(
            F.desc("__cos"), F.asc("centroid_id")
        )
        probes = (
            qscore.withColumn("__rn", F.row_number().over(wq))
            .where(F.col("__rn") <= nprobe)
            .select("query_id", "__qv", F.col("centroid_id").alias("cluster"))
        )
        if self.partition_postings:
            # Checkpoint BEFORE anything derives from probes: the lut
            # below is built from qsubs ← probes, the partition-pruning
            # collect reads probes, and the cand join reads probes again —
            # materializing here makes all three share ONE centroid
            # assignment instead of recomputing it per consumer (ADVICE
            # r12: a post-lut checkpoint left the lut on the un-materialized
            # plan, so the assignment still ran twice).
            probes = probes.localCheckpoint(eager=True)
        qsubs = (
            _pq_subvectors(
                probes.select("query_id", "__qv").dropDuplicates(["query_id"]),
                self.m,
                "query_id",
                "__qv",
            )
            .withColumnRenamed("__id", "query_id")
            .withColumnRenamed("__sv", "__qs")
        )
        lut = (
            qsubs.join(F.broadcast(cb), on="sub")
            .select(
                "query_id", "sub", "code",
                _l2sq(F.col("__qs"), F.col("centroid")).alias("__d"),
            )
            .groupBy("query_id", "sub")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("code", "__d")))
                ).alias("__dists")
            )
            .groupBy("query_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("sub", "__dists"))
                ).alias("__lut")
            )
        )
        live = self.postings()
        if self.partition_postings:
            # static partition pruning: the probed cluster set is bounded
            # by nlist (broadcast-sized by construction), so collecting it
            # and pushing an IN filter on the layout column turns the
            # postings read into a scan of ~nprobe directories — the
            # explicit form of what Delta/DPP would do at runtime.
            # (probes was checkpointed above, before the lut derivation,
            # so this collect reads the materialized assignment.)
            probed = sorted(
                int(r["cluster"])
                for r in probes.select("cluster").distinct().collect()
            )
            live = self.postings(clusters=probed)
        cand = (
            live
            .join(F.broadcast(probes.select("query_id", "cluster")), on="cluster")
            .join(F.broadcast(lut), on="query_id")
        )
        scored = cand.select(
            "query_id",
            self.id_col,
            F.aggregate(
                F.sequence(F.lit(0), F.lit(self.m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("__lut"), j),
                    F.element_at(F.col("codes"), j + 1),
                ),
            ).alias("__adc"),
        )
        w = W.partitionBy("query_id").orderBy(F.asc("__adc"), F.asc(self.id_col))
        if refine <= 0:
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    self.id_col,
                    dround(F.col("__adc"), 6).alias("adc_dist"),
                    "rank",
                )
            )
        if not self.manager.exists(self.vectors_table):
            raise ValueError(
                "search(refine>0) needs the flat refinement tier — "
                "build(store_vectors=True) first"
            )
        shortlist = (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= int(k) * int(refine))
            .select("query_id", self.id_col)
        )
        qvec = probes.select("query_id", "__qv").dropDuplicates(["query_id"])
        exact = (
            self.manager.read(self.vectors_table)
            .join(shortlist, on=self.id_col)  # k·r rows/query: shortlist side broadcasts
            .join(F.broadcast(qvec), on="query_id")
            .select(
                "query_id",
                self.id_col,
                dround(
                    cosine_col(F.col(self.vec_col), F.col("__qv")), 6
                ).alias("cosine"),
            )
        )
        wr = W.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc(self.id_col)
        )
        return (
            exact.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select("query_id", self.id_col, "cosine", "rank")
        )
