"""Persisted + incrementally-maintained IVF-PQ index
(`textops/index_store.py VectorIndexStore`): frozen-quantizer
maintenance must be value-identical to a from-scratch re-encode of the
live corpus (merged ≡ rebuilt), tombstones must fold out of every read
path, and re-upserts must resurrect deleted ids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def store(spark, tmp_path):
    from databricks_demo_feature_store_spark.featurestore.manager import FeatureStoreManager
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    mgr = FeatureStoreManager(spark, str(tmp_path / "fs"))
    return VectorIndexStore(mgr, name="t", nlist=4, m=4, pq_k=8)


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _rows(df):
    return {
        r.vec_id: (r.cluster, tuple(r.codes) if r.codes is not None else None, r.deleted)
        for r in df.collect()
    }


def test_index_maintenance_merged_equals_rebuilt(spark, store):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    store.build(base)
    n_base = base.count()
    assert store.postings().count() == n_base

    store.upsert(batch)
    store.delete(dels)

    live = emb.filter(
        (F.col("vec_id") % 10 != 6) | (F.col("vec_id") % 10 == 3)
    )  # %10==3 ∉ dels; dels only hit base rows
    maintained = _rows(store.postings())
    rebuilt = _rows(store.rebuild_postings(live))
    assert maintained == rebuilt  # clusters AND code bytes, bit-equal

    # tombstones exist physically, never logically
    dead = store.postings(include_deleted=True).filter(F.col("deleted"))
    assert dead.count() == dels.count()
    assert set(r.vec_id for r in dead.collect()) == {
        r.vec_id for r in dels.collect()
    }


def test_index_upsert_resurrects_and_delete_is_idempotent(spark, store):
    emb = _emb(spark).limit(60)
    store.build(emb)
    victim = emb.filter(F.col("vec_id") == 7)
    store.delete(victim.select("vec_id"))
    store.delete(victim.select("vec_id"))  # idempotent
    assert store.postings().filter(F.col("vec_id") == 7).count() == 0
    store.upsert(victim)
    got = store.postings().filter(F.col("vec_id") == 7).collect()
    assert len(got) == 1 and not got[0].deleted and got[0].codes is not None
    # unknown-id tombstone: inert, never visible
    unknown = spark.createDataFrame([(999_999,)], "vec_id long")
    store.delete(unknown)
    assert store.postings().filter(F.col("vec_id") == 999_999).count() == 0


def test_index_search_skips_tombstones_and_matches_bruteforce_adc(spark, store):
    from databricks_demo_feature_store_spark.textops.similarity import pq_adc_topk

    emb = _emb(spark)
    store.build(emb)
    q = emb.filter(F.col("vec_id") < 2)
    # full probe (= all lists) must equal exhaustive ADC over the codes
    full = store.search(q, k=5, nprobe=store.nlist)
    exhaustive = pq_adc_topk(
        store.postings().select("vec_id", "codes"),
        store.codebooks(),
        q,
        k=5,
        m=store.m,
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, exhaustive.collect())
    )
    # delete the top hit: it must vanish from subsequent searches
    top_id = (
        full.filter(F.col("rank") == 1).select("vec_id").limit(1).collect()[0].vec_id
    )
    store.delete(spark.createDataFrame([(top_id,)], "vec_id long"))
    after = store.search(q, k=5, nprobe=store.nlist)
    assert top_id not in {r.vec_id for r in after.collect()}


def test_index_vacuum_drops_tombstones_only(spark, store):
    emb = _emb(spark).limit(50)
    store.build(emb)
    store.delete(spark.createDataFrame([(1,), (2,)], "vec_id long"))
    before_live = _rows(store.postings())
    assert store.vacuum_tombstones() == 2
    assert store.postings(include_deleted=True).filter(F.col("deleted")).count() == 0
    assert _rows(store.postings()) == before_live  # live rows untouched
    assert store.vacuum_tombstones() == 0  # idempotent / no-op rewrite


def test_index_upsert_stream_crash_replay_converges(spark, store, tmp_path):
    """Streamed index maintenance: embeddings arrive in two waves through
    foreachBatch upserts; a crash AFTER the table MERGE but BEFORE the
    checkpoint commit replays the batch, and because frozen-quantizer
    encoding + PK MERGE is idempotent the final postings equal a batch
    rebuild over the full corpus."""
    import json as _json

    import pytest

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 3)
    store.build(base)

    inbox = tmp_path / "vec_inbox"
    inbox.mkdir()
    ckpt = str(tmp_path / "vec_ckpt")
    schema = "vec_id bigint, embedding array<float>, label int"

    def arrive(i, cond):
        rows = emb.filter(cond).collect()
        (inbox / f"w{i}.jsonl").write_text(
            "\n".join(
                _json.dumps(
                    {"vec_id": r.vec_id, "embedding": list(map(float, r.embedding)),
                     "label": r.label}
                )
                for r in rows
            )
        )

    arrive(0, (F.col("vec_id") % 10 == 3) & (F.col("vec_id") % 2 == 0))
    store.upsert_stream(spark, str(inbox), ckpt, schema).awaitTermination(120)

    def die(batch_id):
        raise RuntimeError("injected crash between MERGE and checkpoint commit")

    arrive(1, (F.col("vec_id") % 10 == 3) & (F.col("vec_id") % 2 == 1))
    q = store.upsert_stream(spark, str(inbox), ckpt, schema, after_batch_hook=die)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # provably mid-batch: wave-2 rows are already merged
    n_all = emb.count()
    assert store.postings().count() == n_all
    # replay with no fault: idempotent re-MERGE, then maintained == rebuilt
    store.upsert_stream(spark, str(inbox), ckpt, schema).awaitTermination(120)
    assert _rows(store.postings()) == _rows(store.rebuild_postings(emb))


def test_index_health_counts_and_empty_lists(spark, store):
    emb = _emb(spark)
    store.build(emb)
    h0 = {r.cluster: (r.n_live, r.n_dead, r.live_share) for r in store.health().collect()}
    assert sum(v[0] for v in h0.values()) == emb.count()
    assert all(v[1] == 0 for v in h0.values())
    # tombstone an entire cluster: it must STAY visible with n_live=0
    victim = max(h0, key=lambda c: h0[c][0])
    ids = store.postings().filter(F.col("cluster") == victim).select("vec_id")
    n_victim = ids.count()
    store.delete(ids.localCheckpoint(eager=True))
    h1 = {r.cluster: (r.n_live, r.n_dead, r.live_share) for r in store.health().collect()}
    assert set(h1) == set(h0)  # no cluster disappears
    assert h1[victim] == (0, n_victim, 0.0)
    assert sum(v[0] for v in h1.values()) == emb.count() - n_victim


def test_index_store_with_lloyd_refined_quantizers(spark, store):
    """A build with kmeans-refined centroids keeps the maintained ≡
    rebuilt invariant (maintenance never depends on HOW the frozen
    quantizers were trained) and search still excludes tombstones."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    store.build(base, kmeans_iterations=2)
    store.upsert(batch)
    store.delete(spark.createDataFrame([(11,), (22,)], "vec_id long"))
    live = emb.filter(~F.col("vec_id").isin(11, 22))
    assert _rows(store.postings()) == _rows(store.rebuild_postings(live))
    hits = store.search(emb.filter(F.col("vec_id") < 2), k=5,
                        nprobe=store.nlist).collect()
    assert len(hits) == 10 and not {11, 22} & {r.vec_id for r in hits}


def test_index_refine_exact_rerank(spark, store):
    """ADC-shortlist + exact-cosine rerank from the flat tier: with full
    probing and a shortlist covering the corpus, refined search equals
    brute-force cosine top-k; refined results track maintenance (a
    re-upserted changed vector reranks by its NEW values); refine
    without the tier raises."""
    import pytest

    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
    )

    emb = _emb(spark).limit(80).localCheckpoint(eager=True)
    store.build(emb, store_vectors=True)
    q = emb.filter(F.col("vec_id") < 2)
    got = store.search(q, k=5, nprobe=store.nlist, refine=16)
    exact = brute_force_topk(emb, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))

    other = store.__class__(store.manager, name="bare", nlist=4, m=4, pq_k=8)
    other.build(emb)  # no vectors tier
    with pytest.raises(ValueError, match="store_vectors"):
        other.search(q, k=5, refine=4).collect()


@pytest.fixture()
def pstore(spark, tmp_path):
    from databricks_demo_feature_store_spark.featurestore.manager import FeatureStoreManager
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    mgr = FeatureStoreManager(spark, str(tmp_path / "pfs"))
    return VectorIndexStore(mgr, name="t", nlist=4, m=4, pq_k=8, partition_postings=True)


def test_partitioned_layout_merged_equals_rebuilt(spark, store, pstore):
    """Partitioned postings: same maintained state (modulo layout
    column), same search results as the unpartitioned layout, and the
    merged ≡ rebuilt invariant holds through upsert + delete."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")
    for st in (store, pstore):
        st.build(base)
        st.upsert(batch)
        st.delete(dels)
    # consumer-visible postings identical across layouts
    assert _rows(store.postings(include_deleted=True)) == _rows(
        pstore.postings(include_deleted=True)
    )
    # merged ≡ rebuilt on the partitioned layout
    live_ids = pstore.postings().select("vec_id")
    rebuilt = pstore.rebuild_postings(emb.join(live_ids, on="vec_id"))
    got = _rows(pstore.postings())
    want = _rows(rebuilt.drop(pstore.PART_COL))
    assert got == want
    # search identical across layouts
    q = emb.filter(F.col("vec_id") < 3)
    a = sorted(tuple(r) for r in store.search(q, k=5, nprobe=2, query_id_col="vec_id").collect())
    b = sorted(tuple(r) for r in pstore.search(q, k=5, nprobe=2, query_id_col="vec_id").collect())
    assert a == b
    # vacuum keeps the layout and the results
    assert pstore.vacuum_tombstones() == dels.count()
    b2 = sorted(tuple(r) for r in pstore.search(q, k=5, nprobe=2, query_id_col="vec_id").collect())
    assert b2 == a


def test_partitioned_search_actually_prunes(spark, pstore):
    """The probe scan must read ONLY the probed partitions' files."""
    emb = _emb(spark)
    pstore.build(emb)
    path = pstore.manager.path(pstore.postings_table)
    # executed-scan evidence (inputFiles() reports the pre-pruning file
    # index): distinct _metadata.file_path of the rows actually read
    all_files = {
        r["f"]
        for r in spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    # one query, nprobe=1 → at most one cluster directory touched
    q = emb.filter(F.col("vec_id") == 0)
    cents = pstore.centroids()
    from databricks_demo_feature_store_spark.textops.similarity import ivf_assign

    probe_cluster = ivf_assign(q, cents, "vec_id", "embedding").first()["cluster"]
    pruned = spark.read.parquet(path).filter(
        F.col(pstore.PART_COL) == "c%04d" % int(probe_cluster)
    )
    pruned_files = {
        r["f"]
        for r in pruned.select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    assert pruned_files and pruned_files < all_files, (
        "partition filter must restrict the scan to a strict file subset"
    )
    # and the planner prunes STATICALLY: the optimized plan's partition
    # count is below the table's
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: []" not in plan
    # and the store's search path returns rows (end-to-end through the
    # pruned read)
    got = pstore.search(q, k=3, nprobe=1, query_id_col="vec_id")
    assert got.count() > 0


def test_manager_exists_sees_partitioned_tables(spark, tmp_path):
    """Regression (r12): exists() probed only the top directory, so a
    hive-partitioned table read as ABSENT and the next merge silently
    OVERWROTE it — data loss on the maintenance path."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )

    mgr = FeatureStoreManager(spark, str(tmp_path / "ex"))
    spec = FeatureTableSpec("pt", primary_keys=("id",), partition_by=("g",))
    df = spark.range(0, 20).select(
        F.col("id"), F.format_string("g%d", F.col("id") % 3).alias("g")
    )
    mgr.save(df, spec, mode="overwrite")
    assert mgr.exists("pt") is True
    upd = spark.range(20, 25).select(
        F.col("id"), F.format_string("g%d", F.col("id") % 3).alias("g")
    )
    mgr.save(upd, spec, mode="merge")
    assert mgr.read("pt").count() == 25  # merge, not bootstrap-overwrite


def test_rebuild_policy_noop_below_thresholds(spark, store):
    emb = _emb(spark)
    store.build(emb, store_vectors=True)
    before = _rows(store.postings(include_deleted=True))
    m = store.drift_metrics()
    assert m["dead_fraction"] == 0.0 and m["n_dead"] == 0
    assert store.rebuild_if_drifted() is False  # healthy index: no-op
    assert _rows(store.postings(include_deleted=True)) == before


def test_rebuild_policy_requires_corpus_or_vector_tier(spark, store):
    emb = _emb(spark)
    store.build(emb)  # no vector tier
    store.delete(emb.select("vec_id"))  # 100% dead — policy must trip
    with pytest.raises(ValueError, match="corpus"):
        store.rebuild_if_drifted(max_dead_fraction=0.5)


def test_rebuild_policy_fires_and_recall_does_not_regress(spark, store):
    """(c) of the policy contract: after the drift-triggered rebuild,
    search recall vs the brute-force ground truth on the live corpus is
    >= the drifted index's recall (retraining on the live distribution
    can only help the coarse quantizer)."""
    from databricks_demo_feature_store_spark.textops.similarity import brute_force_topk

    emb = _emb(spark)
    store.build(emb, store_vectors=True)
    # heavy skewed delete: wipe 60% of ids, leaving a shifted distribution
    dels = emb.filter(F.col("vec_id") % 5 != 0).select("vec_id")
    store.delete(dels)
    live = emb.filter(F.col("vec_id") % 5 == 0)
    q = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(live, q, 5, "vec_id", "embedding", "vec_id")
        .collect()
    }

    def recall(res):
        got = {(r["query_id"], r["vec_id"]) for r in res.collect()}
        return len(got & truth) / max(len(truth), 1)

    drifted = recall(store.search(q, k=5, nprobe=2, query_id_col="vec_id"))
    m = store.drift_metrics()
    assert m["dead_fraction"] > 0.5
    assert store.rebuild_if_drifted(max_dead_fraction=0.5, kmeans_iterations=3) is True
    # tombstones are gone with the rewrite; quantizers retrained on live
    assert store.postings(include_deleted=True).filter(F.col("deleted")).count() == 0
    assert store.postings().count() == live.count()
    rebuilt = recall(store.search(q, k=5, nprobe=2, query_id_col="vec_id"))
    assert rebuilt >= drifted
    # the vector tier healed itself too (only live vectors remain)
    assert store.manager.read(store.vectors_table).count() == live.count()


def test_partitioned_table_schema_evolution_keeps_layout(spark, tmp_path):
    """EVOLVE on a partitioned table forces an overwrite — the rewrite
    must keep the hive layout (partition dirs present afterwards)."""
    import os

    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
        FeatureTableSpec,
    )

    mgr = FeatureStoreManager(spark, str(tmp_path / "ev"))
    spec = FeatureTableSpec("pt", primary_keys=("id",), partition_by=("g",))
    df = spark.range(0, 12).select(
        F.col("id"), F.format_string("g%d", F.col("id") % 3).alias("g")
    )
    mgr.save(df, spec, mode="overwrite")
    # evolution: add a column -> merge updates matched rows' new column
    df2 = df.withColumn("extra", F.col("id") * 2)
    mgr.save(df2, spec, mode="merge")
    got = mgr.read("pt")
    assert got.count() == 12 and "extra" in got.columns
    dirs = [d for d in os.listdir(mgr.path("pt")) if d.startswith("g=")]
    assert sorted(dirs) == ["g=g0", "g=g1", "g=g2"]


def test_ivfpq_topk_equals_persisted_index_search(spark, tmp_path):
    """One search kernel: the in-memory ``ivfpq_topk`` (train, encode,
    search) and the persisted ``VectorIndexStore`` built from the same
    corpus with the same quantizer settings return the same rows."""
    from databricks_demo_feature_store_spark.featurestore.manager import FeatureStoreManager
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore
    from databricks_demo_feature_store_spark.textops.similarity import ivfpq_topk

    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    store = VectorIndexStore(
        FeatureStoreManager(spark, str(tmp_path / "fs")), name="eq", nlist=8, m=8, pq_k=16
    )
    store.build(emb)
    in_memory = ivfpq_topk(emb, q, k=5, nlist=8, nprobe=2, m=8, pq_k=16).collect()
    persisted = store.search(q, k=5, nprobe=2).collect()
    assert len(in_memory) == 25
    assert sorted(map(tuple, in_memory)) == sorted(map(tuple, persisted))
