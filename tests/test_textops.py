"""Unit tests for the training-data operators (text, dedup, similarity,
multimodal)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from databricks_demo_feature_store_spark.textops import (
    brute_force_topk,
    decode_features,
    duplicate_groups,
    embedding_near_dup_pairs,
    exact_dedup,
    lsh_topk,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    synthesize_media_from_documents,
    text_profile,
)
from databricks_demo_feature_store_spark.textops.dedup import shingles_col, simhash_col
from databricks_demo_feature_store_spark.textops.multimodal import real_decode_unavailable


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 1
        (3, "el rapido zorro marron salta sobre el perro", "es"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (5, "短 文本 例子", "zh"),
        (6, "completely different content about spark engines and data", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_text_profile(docs):
    out = {r.doc_id: r for r in text_profile(docs).collect()}
    assert out[1].n_tokens == 9
    assert out[1].lang_pred == "en"
    assert out[3].lang_pred == "es"
    assert out[5].lang_pred == "zh"
    assert out[1].fingerprint == out[4].fingerprint
    assert 0.0 <= out[1].quality_score <= 1.0


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 4 not in ids and 1 in ids  # representative = min id
    groups = duplicate_groups(docs)
    dup = groups.filter(F.col("n_docs") > 1).first()
    assert dup.n_docs == 2 and dup.representative_id == 1


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    got = [r[0] for r in df.select(shingles_col(F.col("text"), 3)).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == ["x y"]  # shorter than k → whole text


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert (1, 6) not in pairs


def test_ngram_jaccard_stop_shingle_cutoff(spark):
    """max_shingle_df drops hot shingles from the candidate index only.

    Ten documents all share one boilerplate shingle ('the same header');
    two of them are also near-identical. With the cutoff below the
    boilerplate's document frequency, the boilerplate-only pairs disappear
    (their sole shared prefix element is hot) while the truly-similar pair
    survives via its rare shingles, with an EXACT jaccard value."""
    boiler = "the same header"
    rows = [(i, f"{boiler} unique body {i} filler words {i}") for i in range(1, 9)]
    rows += [(9, f"{boiler} alpha beta gamma delta"), (10, f"{boiler} alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    }
    cut = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, k=3, threshold=0.5, max_shingle_df=5
        ).collect()
    }
    assert (9, 10) in exact and (9, 10) in cut
    assert cut[(9, 10)] == exact[(9, 10)] == 1.0  # verification stays exact
    assert set(cut) <= set(exact)  # cutoff can only lose pairs, never invent


def test_ngram_jaccard_cutoff_above_df_is_noop(docs):
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    cut = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, k=3, threshold=0.5, max_shingle_df=10_000
        ).collect()
    }
    assert cut == exact


def test_minhash_dedup_pairs(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(docs, num_hashes=16, bands=4, threshold=0.5).collect()
    }
    assert (1, 4) in pairs  # identical docs always collide in every band
    assert all(a < b for a, b in pairs)


def test_hot_bucket_cap_near_linear_on_dup_clique(spark):
    """VERDICT r6 tasks 2+4: a 1000-document exact-dup clique must emit
    ~O(n) candidates (min-id star per identical sketch), not the n²/2
    clique — for BOTH the MinHash hot-band cap and the SimHash
    hot-bucket cap — while downstream connected components still close
    the whole clique into one cluster."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_near_dup_pairs,
    )

    n = 1000
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(n)]
    rows += [
        (n + i, f"unique document number {i} with distinct content {i * 7} here")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sigs = minhash_signatures(df, num_hashes=16)
    mh = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)  # auto cap
    mh_n = mh.count()
    assert mh_n < 5 * n  # star, not the ~500k clique
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup_clusters(df, mh, id_col="doc_id").collect()
    }
    assert len({comp[i] for i in range(n)}) == 1  # clique stays one cluster

    sp = simhash_near_dup_pairs(df)  # default 64-bit geometry, auto cap
    sp_n = sp.count()
    assert sp_n < 5 * n
    comp2 = {
        r["doc_id"]: r["component_id"]
        for r in dedup_clusters(df, sp.select("id_a", "id_b"), id_col="doc_id").collect()
    }
    assert len({comp2[i] for i in range(n)}) == 1


def test_hot_bucket_cap_preserves_components_vs_exact(spark):
    """With a small forced cap, the capped candidate graph is a subset
    of the exact one but yields IDENTICAL connected components."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        dedup_clusters,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)]
    rows += [(100 + i, f"other text {i} nothing alike {i * 13} at all") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, num_hashes=16)
    exact = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4, max_band_size=None)
    capped = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4, max_band_size=5)
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    c = {(r.id_a, r.id_b) for r in capped.collect()}
    assert c <= e and len(c) < len(e)
    comp_e = {
        r["doc_id"]: r["component_id"]
        for r in dedup_clusters(df, exact, id_col="doc_id").collect()
    }
    comp_c = {
        r["doc_id"]: r["component_id"]
        for r in dedup_clusters(df, capped, id_col="doc_id").collect()
    }
    assert comp_e == comp_c


def test_simhash_identical_and_pairs(docs):
    h = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("sh")).collect()
    }
    assert h[1] == h[4]
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    assert (1, 4) in pairs


@pytest.fixture()
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(emb):
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    got = [(r.vec_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(0, 1), (1, 2)]  # self first, then the near-parallel vector


def test_lsh_topk_bucket_restriction(emb):
    out = lsh_topk(emb, emb.filter(F.col("vec_id") == 0), k=4, nbits=4)
    ids = {r.vec_id for r in out.collect()}
    assert 3 not in ids  # opposite-sign vector lives in another bucket
    assert 0 in ids


def test_embedding_near_dup(emb):
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(emb, nbits=4, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_multimodal_stub_roundtrip(docs):
    media = synthesize_media_from_documents(docs.select("doc_id", "text"))
    feats = {r.media_id: r for r in decode_features(media).collect()}
    assert feats[1].n_bytes == len("the quick brown fox jumps over the lazy dog".encode())
    assert feats[1].checksum == hashlib.md5(
        "the quick brown fox jumps over the lazy dog".encode()
    ).hexdigest()
    assert feats[1].decode_ok == "stub"
    with pytest.raises(NotImplementedError):
        real_decode_unavailable()


def test_resize_images_byte_exact(spark):
    from databricks_demo_feature_store_spark.textops.multimodal import (
        resize_images,
        synthesize_media_from_documents,
    )
    from databricks_demo_feature_store_spark.queries import load

    media = synthesize_media_from_documents(load(spark, "/root/testdata/sf0.001", "documents"))
    out = resize_images(media, width=8, height=4)
    rows = out.limit(10).collect()
    assert rows
    for r in rows:
        assert (r["width"], r["height"], r["resize_ok"]) == (8, 4, "stub")
        assert len(r["payload"]) == 32  # truncated/padded to width*height
    # fan-in check: only image rows survive
    n_images = media.filter("media_type = 'image'").count()
    assert out.count() == n_images


def test_media_repartition_metadata_sizing(spark, tmp_path):
    """The round-7 re-plan: partition count comes from METADATA (plan
    stats / file lengths), not from a pre-scan of the payloads."""
    from databricks_demo_feature_store_spark.sources.writers import (
        plan_size_estimate,
    )
    from databricks_demo_feature_store_spark.textops.multimodal import (
        _input_file_size,
        media_repartition,
        synthesize_media_from_documents,
    )
    from databricks_demo_feature_store_spark.queries import load

    media = synthesize_media_from_documents(
        load(spark, "/root/testdata/sf0.001", "documents")
    )
    path = str(tmp_path / "media")
    media.write.mode("overwrite").parquet(path)
    on_disk = spark.read.parquet(path)

    # file-scan path: both metadata probes agree with the actual file bytes
    file_bytes = sum(
        f.stat().st_size for f in (tmp_path / "media").glob("*.parquet")
    )
    assert _input_file_size(on_disk) == file_bytes
    est = plan_size_estimate(on_disk)
    assert est is not None and est >= file_bytes  # stats may pad, never undercount

    # target = half the table → 2..3 partitions, derived without scanning
    out = media_repartition(on_disk, target_bytes=max(1, file_bytes // 2),
                            method="metadata")
    assert 2 <= out.rdd.getNumPartitions() <= 3

    # derived in-memory frame: metadata-only raises loudly, scan still works
    derived = on_disk.limit(5).localCheckpoint()
    if plan_size_estimate(derived) is None:
        with pytest.raises(ValueError, match="no plan statistics"):
            media_repartition(derived, method="metadata")
    assert media_repartition(derived, target_bytes=10, method="scan").count() == 5


def test_ngram_jaccard_matches_bruteforce(spark):
    """PPJoin prefix+length+positional filtering must be EXACT — compare
    against a pure-Python all-pairs computation on a random corpus."""
    import itertools
    import random

    from databricks_demo_feature_store_spark.textops.dedup import ngram_jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.4:  # near-duplicate with a small edit
            dup = list(base)
            if rng.random() < 0.5 and len(dup) > 4:
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(dup)))

    def shingles(text, k=3):
        toks = text.split()
        if len(toks) >= k:
            return {" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)}
        return {text} if toks else set()

    t = 0.6
    expected = set()
    sh = {i: shingles(x) for i, x in docs}
    for (ia, sa), (ib, sb) in itertools.combinations(sorted(sh.items()), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= t:
            expected.add((ia, ib))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, k=3, threshold=t).collect()
    }
    assert got == expected


def test_repetition_signals_known_values(spark):
    from databricks_demo_feature_store_spark.textops.analysis import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 4 tokens, all same
            (2, "a b c d"),                       # all distinct
            (3, "x y x y x y"),                   # repeated bigram pattern
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in repetition_signals(df, "text").collect()
    }
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["distinct_token_ratio"] == 0.25
    assert r1["top_token_fraction"] == 1.0
    # bigrams: 3x "spam spam" -> 1 distinct of 3 -> dup fraction 2/3
    assert r1["dup_bigram_fraction"] == 0.666667
    assert r1["is_repetitive"]

    r2 = out[2]
    assert r2["distinct_token_ratio"] == 1.0
    assert r2["dup_bigram_fraction"] == 0.0
    assert not r2["is_repetitive"]

    r3 = out[3]
    # 6 tokens: bigrams = [x y, y x, x y, y x, x y] -> 2 distinct of 5
    assert r3["dup_bigram_fraction"] == 0.6
    assert r3["top_token_fraction"] == 0.5
    assert r3["is_repetitive"]


def test_stratified_sample_deterministic_and_rate(spark):
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.textops.sampling import (
        deterministic_stratified_sample,
    )

    d = load(spark, "/root/testdata/sf0.01", "documents")
    rates = {"en": 0.5, "zh": 0.25}
    a = deterministic_stratified_sample(d, "lang", rates, "doc_id", 0.1)
    b = deterministic_stratified_sample(d, "lang", rates, "doc_id", 0.1)
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ids_a == ids_b  # exactly reproducible
    # kept fraction tracks the stratum rate (500-doc corpus: loose bounds)
    from pyspark.sql import functions as F2

    kept = {r["lang"]: r["n"] for r in a.groupBy("lang").agg(F2.count("*").alias("n")).collect()}
    tot = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F2.count("*").alias("n")).collect()}
    assert 0.3 < kept["en"] / tot["en"] < 0.7
    assert kept.get("de", 0) / tot["de"] < 0.3
    # different seed -> different selection
    c = deterministic_stratified_sample(d, "lang", rates, "doc_id", 0.1, seed=1)
    ids_c = sorted(r["doc_id"] for r in c.select("doc_id").collect())
    assert ids_c != ids_a


def test_token_budget_shards_boundaries(spark):
    from databricks_demo_feature_store_spark.textops.sampling import (
        token_budget_shards,
    )

    rows = [("s", i, n) for i, n in enumerate([60, 60, 60, 10, 100, 5])]
    df = spark.createDataFrame(rows, ["src", "ord", "n_tok"])
    out = {
        r["ord"]: (r["cum_tokens"], r["shard"])
        for r in token_budget_shards(df, "n_tok", "src", "ord", budget=100).collect()
    }
    # cum:    60 120 180 190 290 295
    # before:  0  60 120 180 190 290
    # shard:   0   0   1   1   1   2
    assert [out[i][1] for i in range(6)] == [0, 0, 1, 1, 1, 2]
    assert out[5][0] == 295


def test_dedup_clusters_connected_components(spark):
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    # chain 1-2-3 (transitive closure needs >1 round), pair 5-6, isolates 0,4,7
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["component_id"] for r in dedup_clusters(docs, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_random_planes_deterministic_and_bounded():
    from databricks_demo_feature_store_spark.textops.similarity import random_planes

    a = random_planes(8, 4)
    assert a == random_planes(8, 4)
    assert a != random_planes(8, 4, seed=7)
    assert len(a) == 4 and all(len(p) == 8 for p in a)
    assert all(-1.0 <= c <= 1.0 for p in a for c in p)


def test_hyperplane_buckets_ignore_coordinate_order(spark):
    """The degenerate coordinate-sign bucket collapses when every vector's
    first coordinates share a sign; hyperplane buckets still split."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.textops.similarity import (
        random_planes,
        sign_bucket_col,
    )

    # all-positive leading coordinates -> one coordinate-sign bucket
    rows = [(i, [1.0, 1.0, float(i % 5) - 2.0, float((i * 7) % 11) - 5.0]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    coord = df.select(sign_bucket_col(F.col("embedding"), 2).alias("b")).distinct().count()
    planes = random_planes(4, 4)
    hyper = df.select(
        sign_bucket_col(F.col("embedding"), 4, planes).alias("b")
    ).distinct().count()
    assert coord == 1
    assert hyper > 1


def test_kmeans_refine_converges_and_ivf_works(spark):
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.textops.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    refined = ivf_centroids(emb, nlist=8, kmeans_iterations=2)
    rows = refined.collect()
    assert 1 <= len(rows) <= 8
    assert all(len(r["centroid"]) == 64 for r in rows)

    # refined centroids must partition the corpus completely
    assigned = ivf_assign(emb, refined)
    assert assigned.count() == emb.count()

    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 2), k=3, nlist=8, nprobe=8,
                   kmeans_iterations=1)
    per_q = {r["query_id"]: r for r in out.where(F.col("rank") == 1).collect()}
    # with all clusters probed, each query's own vector ranks first
    assert all(qid == r["vec_id"] for qid, r in per_q.items())


def test_bm25_semantics_small(spark):
    import math

    from databricks_demo_feature_store_spark.textops.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark flink"),
            (2, "spark flink flink flink"),
            (3, "duck duck duck goose"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["score"], r["rank"]) for r in bm25_topk(docs, ["spark"], k=3).collect()}
    # only docs containing the term appear; higher tf ranks first
    assert set(out) == {1, 2}
    assert out[1][1] == 1 and out[2][1] == 2
    # closed-form check: N=3, df=2, dl=4, avgdl=4
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    s1 = idf * 3 / (3 + 1.2 * (0.25 + 0.75 * 1.0))
    assert abs(out[1][0] - round(s1, 6)) < 1e-6


def test_tfidf_top_terms_pick_distinctive_word(spark):
    from databricks_demo_feature_store_spark.textops.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common unicorn"),
            (2, "common common dragon"),
            (3, "common common common"),
        ],
        ["doc_id", "text"],
    )
    top = {
        r["doc_id"]: r["term"]
        for r in tfidf_top_terms(docs, top_n=1).collect()
    }
    assert top[1] == "unicorn" and top[2] == "dragon"
    assert top[3] == "common"  # only word present, idf 0 but still ranked


def test_curation_flags_and_contamination(spark):
    from databricks_demo_feature_store_spark.textops.curation import (
        curate_corpus,
        ngram_contamination,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and keeps running far away " * 10),
            (2, "the quick brown fox jumps over the lazy dog and keeps running far away " * 10),
            (3, "zz xq jj"),  # und language, low quality
            (4, "the benchmark answer is forty two exactly as the test and the evaluation expect it to be " * 8),
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame(
        [(99, "the benchmark answer is forty two")], ["doc_id", "text"]
    )
    cont = {r["doc_id"]: r["n_shared_ngrams"] for r in ngram_contamination(docs, eval_docs).collect()}
    assert 4 in cont and cont[4] >= 3
    assert 3 not in cont

    out = {r["doc_id"]: r.asDict() for r in curate_corpus(docs, eval_docs).collect()}
    assert len(out) == 4
    assert out[1]["kept"] and out[1]["dedup_keep"]
    assert not out[2]["kept"] and not out[2]["dedup_keep"]  # exact dup of 1
    assert not out[3]["lang_ok"] or not out[3]["quality_ok"]
    assert not out[4]["not_contaminated"] and not out[4]["kept"]
    # no eval set: contamination flag vacuously true
    out2 = {r["doc_id"]: r.asDict() for r in curate_corpus(docs, None).collect()}
    assert out2[4]["not_contaminated"]


def test_winnowing_detects_partial_overlap(spark):
    from databricks_demo_feature_store_spark.textops.dedup import winnowing_fingerprints

    shared = "the stolen paragraph appears verbatim in both documents"
    docs = spark.createDataFrame(
        [
            (1, f"intro text alpha beta. {shared}. closing remarks one."),
            (2, f"completely different opening here. {shared}. and another ending."),
            (3, "no overlap with anything else at all in this one honestly."),
        ],
        ["doc_id", "text"],
    )
    fp = winnowing_fingerprints(docs, k=8, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # winnowing guarantee: a shared substring of length >= k + window - 1
    # yields at least one identical fingerprint in both docs
    assert by_doc[1] & by_doc[2]
    # and the unrelated doc shares (essentially) nothing
    assert len(by_doc[1] & by_doc[3]) == 0
    # sketches are much smaller than the k-gram count
    n_grams = len(f"intro text alpha beta. {shared}. closing remarks one.") - 8 + 1
    assert len(by_doc[1]) < n_grams


def test_two_phase_cc_matches_label_prop(spark):
    from databricks_demo_feature_store_spark.textops.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_dedup_pairs(d, num_hashes=16, bands=4, threshold=0.7)
    a = sorted(dedup_clusters(d, pairs).collect())
    b = sorted(dedup_clusters(d, pairs, algorithm="two-phase").collect())
    assert a == b


def test_two_phase_cc_closes_deep_chains(spark):
    import pytest

    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    n = 200  # path graph: diameter 199
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    # label-prop's diameter bound bites: budget exhausted -> loud failure
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iterations=10)
    # two-phase closes the same chain in O(log n) rounds
    out = dedup_clusters(docs, pairs, max_iterations=10, algorithm="two-phase")
    labels = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert set(labels.values()) == {0} and len(labels) == n


def test_multiprobe_lsh_recall_not_worse(spark):
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
        lsh_topk,
        random_planes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    planes = random_planes(64, 8)
    exact = {
        (r["query_id"], r["vec_id"]) for r in brute_force_topk(emb, q, k=5).collect()
    }

    def recall(probes):
        got = {
            (r["query_id"], r["vec_id"])
            for r in lsh_topk(emb, q, k=5, nbits=8, planes=planes, probes=probes).collect()
        }
        return len(got & exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0  # probing neighbor buckets can only add candidates
    # every query finds at least itself under multiprobe
    got1 = lsh_topk(emb, q, k=5, nbits=8, planes=planes, probes=1)
    firsts = {r["query_id"]: r["vec_id"] for r in got1.where(F.col("rank") == 1).collect()}
    assert all(qid == v for qid, v in firsts.items())


def test_token_budget_mixture_semantics(spark):
    from databricks_demo_feature_store_spark.textops.sampling import token_budget_mixture

    docs = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else "code", 100) for i in range(40)],
        ["doc_id", "source", "n_tokens"],
    )
    out = token_budget_mixture(
        docs, "source", "n_tokens", "doc_id", {"web": 500, "code": 250}
    )
    per = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # 100-token docs: web budget 500 -> 5 docs; code 250 -> overshoot rule
    # keeps docs while cum_before < 250 -> 3 docs (0, 100, 200 before)
    assert per == {"web": 5, "code": 3}
    # deterministic: same selection on rerun
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in token_budget_mixture(
            docs.repartition(5), "source", "n_tokens", "doc_id", {"web": 500, "code": 250}
        ).collect()
    )
    assert a == b


def test_ann_recall_matches_manual_computation(spark):
    from databricks_demo_feature_store_spark.textops.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        lsh_topk,
        random_planes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    planes = random_planes(64, 8)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = lsh_topk(emb, q, k=5, nbits=8, planes=planes).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    out = ann_recall_at_k(emb, q, k=5, nbits=8, planes=planes).collect()
    assert {r["query_id"] for r in out} == set(exact_sets)
    for r in out:
        want_hits = len(exact_sets[r["query_id"]] & approx_sets.get(r["query_id"], set()))
        assert r["n_hits"] == want_hits
        assert r["n_exact"] == len(exact_sets[r["query_id"]])
        assert r["recall"] == pytest.approx(want_hits / r["n_exact"], abs=1e-6)
    # recall is a fraction; a query always finds itself via its own bucket,
    # so recall > 0 everywhere
    assert all(0 < r["recall"] <= 1 for r in out)


def test_bigram_lm_scores_manual_corpus(spark):
    import math

    from databricks_demo_feature_store_spark.textops.analysis import bigram_lm_scores

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "z q"), (3, "single"), (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # corpus unigrams: a:3 b:3 z:1 q:1 single:1 → V=5
    # bigram counts: (a,b):2 ×2docs? doc0 has a b, b a, a b → (a,b):2, (b,a):1; doc1: (a,b):1 → C(a,b)=3, C(b,a)=1; (z,q):1
    V = 5
    p_ab = (3 + 1) / (3 + V)   # C(a,b)=3, C(a)=3
    p_ba = (1 + 1) / (3 + V)
    p_zq = (1 + 1) / (1 + V)
    r6 = lambda x: round(x, 6)
    lg = lambda p: r6(math.log2(p))
    # doc0: bigrams (a,b),(b,a),(a,b) → ce = -(2*lg(p_ab)+lg(p_ba))/3
    assert out[0]["n_bigrams"] == 3
    assert out[0]["cross_entropy_bits"] == pytest.approx(
        r6(-(2 * lg(p_ab) + lg(p_ba)) / 3), abs=2e-6
    )
    assert out[1]["n_bigrams"] == 1
    assert out[1]["cross_entropy_bits"] == pytest.approx(r6(-lg(p_ab)), abs=2e-6)
    assert out[2]["cross_entropy_bits"] == pytest.approx(r6(-lg(p_zq)), abs=2e-6)
    # docs without bigrams: present, NULL score
    assert out[3]["n_bigrams"] == 0 and out[3]["cross_entropy_bits"] is None
    assert out[4]["n_bigrams"] == 0 and out[4]["cross_entropy_bits"] is None
    # improbable transitions score strictly higher than common ones
    assert out[2]["cross_entropy_bits"] > out[1]["cross_entropy_bits"]


def test_dsir_weights_favor_target_like_docs(spark):
    import math

    from databricks_demo_feature_store_spark.textops.sampling import (
        dsir_importance_weights,
    )

    # source pool: two "code-like" docs, two "prose-like" docs; target
    # sample is prose — prose docs must out-weigh code docs
    source = spark.createDataFrame(
        [
            (0, "def foo bar return foo bar"),
            (1, "def baz qux return baz qux"),
            (2, "the cat sat on the mat"),
            (3, "the dog sat on the rug"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(100, "the bird sat on the branch"), (101, "the fish swam in the pond")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dsir_importance_weights(source, target, n_buckets=512).collect()}
    assert out[4]["n_feats"] == 0 and out[4]["log_weight"] is None
    prose = min(out[2]["log_weight"], out[3]["log_weight"])
    code = max(out[0]["log_weight"], out[1]["log_weight"])
    assert prose > code
    # every non-empty doc got uni+bigram features: 2n-1 for n tokens
    assert out[0]["n_feats"] == 2 * 6 - 1
    assert all(math.isfinite(out[i]["log_weight"]) for i in range(4))


def test_int8_quantization_roundtrip_quality(spark):
    from databricks_demo_feature_store_spark.textops.similarity import (
        quantization_error,
        quantize_embeddings_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings_int8(emb).collect()
    for r in q:
        if r["scale"] is None:
            assert r["qembedding"] is None
            continue
        assert all(-127 <= v <= 127 for v in r["qembedding"])
    err = quantization_error(emb).collect()
    finite = [r["recon_cosine"] for r in err if r["recon_cosine"] is not None]
    assert finite and min(finite) > 0.995  # int8 loses <0.5% cosine


def test_cap_per_key_deterministic_and_bounded(spark):
    from databricks_demo_feature_store_spark.textops.sampling import cap_per_key

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = cap_per_key(docs, "source", cap=3)
    counts = {r["source"]: r["n"] for r in a.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts and all(n <= 3 for n in counts.values())
    # rerun picks the identical survivors
    b = cap_per_key(docs, "source", cap=3)
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in b.select("doc_id").collect()
    )


def test_duplicated_spans_exact_regions(spark):
    """A 12-token run shared by two docs reports one maximal region per
    doc at the right offsets; a doc-internal repeat is found too; unique
    text reports nothing."""
    from databricks_demo_feature_store_spark.textops.dedup import duplicated_spans

    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, f"u1 u2 u3 {boiler} t1 t2"),           # region at pos 3..14
        (2, f"{boiler} v1 v2 v3 v4"),              # region at pos 0..11
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"),  # unique
        (4, f"x0 {boiler} x1 {boiler}"),           # internal repeat
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicated_spans(df, min_len=10).collect()
    }
    assert (1, 3, 14, 12) in out
    assert (2, 0, 11, 12) in out
    assert not any(d == 3 for d, *_ in out)
    # doc 4: two boiler copies at pos 1..12 and 14..25, separated by the
    # unique token at offset 13 — two maximal regions, NOT merged (their
    # covered intervals don't touch)
    d4 = sorted(t for t in out if t[0] == 4)
    assert d4 == [(4, 1, 12, 12), (4, 14, 25, 12)]


def test_hashed_linear_scores_exact(spark):
    """Exact sigmoid of the dyadic-weight dot product; out-of-vocab-only
    docs score sigmoid(intercept); collisions fold by summation."""
    import math

    from databricks_demo_feature_store_spark.textops.analysis import (
        hashed_linear_scores,
        vocab_weights,
    )

    df = spark.createDataFrame(
        [(1, "data data query junk"), (2, "junk junk"), (3, "")],
        ["doc_id", "text"],
    )
    w = vocab_weights(spark, {"data": 1.0, "query": 0.75, "slow": -0.5})
    out = {r["doc_id"]: r["score"] for r in
           hashed_linear_scores(df, w, intercept=-0.5).collect()}
    assert out[1] == round(1 / (1 + math.exp(-(2 * 1.0 + 0.75 - 0.5))), 6)
    assert out[2] == round(1 / (1 + math.exp(0.5)), 6)
    assert out[3] == round(1 / (1 + math.exp(0.5)), 6)


def test_duplicated_spans_matches_bruteforce(spark):
    """Windows/frequency/island-merge must match a pure-Python
    computation on random small-vocab corpora (high collision rate)."""
    import random
    from collections import Counter

    from databricks_demo_feature_store_spark.textops.dedup import duplicated_spans

    rng = random.Random(11)
    L = 4
    docs = []
    for doc_id in range(40):
        n = rng.randrange(0, 14)
        docs.append((doc_id, " ".join(rng.choice("abcde") for _ in range(n))))

    # brute force
    wins = []  # (doc, pos, window-tuple)
    for doc_id, text in docs:
        toks = text.split()
        for p in range(0, max(len(toks) - L + 1, 0)):
            wins.append((doc_id, p, tuple(toks[p : p + L])))
    freq = Counter(w for _, _, w in wins)
    marked = {}
    for doc_id, p, w in wins:
        if freq[w] > 1:
            marked.setdefault(doc_id, []).append(p)
    expected = set()
    for doc_id, ps in marked.items():
        ps.sort()
        start = prev = ps[0]
        for p in ps[1:]:
            if p - prev > L:
                expected.add((doc_id, start, prev + L - 1, prev - start + L))
                start = p
            prev = p
        expected.add((doc_id, start, prev + L - 1, prev - start + L))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicated_spans(df, min_len=L).collect()
    }
    assert got == expected and len(expected) > 5


def test_pq_codebooks_limits_before_the_exchange(spark):
    """The per-subspace sample is a row_number cut Spark turns into a
    WindowGroupLimit, so at most k subvectors per subspace per partition
    are shuffled; each subspace keeps codes 0..k-1."""
    from databricks_demo_feature_store_spark.textops.similarity import pq_codebooks

    emb = spark.range(0, 200, numPartitions=4).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1)) for j in range(16)]).alias("embedding"),
    )
    cb = pq_codebooks(emb, m=4, k=8)
    rows = cb.collect()
    assert "WindowGroupLimit" in cb._jdf.queryExecution().executedPlan().toString()
    codes = {}
    for r in rows:
        codes.setdefault(r["sub"], []).append(r["code"])
        assert len(r["centroid"]) == 4
    assert {s: sorted(c) for s, c in codes.items()} == {s: list(range(8)) for s in range(4)}


def test_pq_encode_and_adc(spark):
    """PQ codes are m codes in [0, k); ADC self-distance is small but
    nonzero (reconstruction error), and each query's exact nearest
    neighbor by cosine appears in the ADC top-5 for this corpus."""
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    cb = pq_codebooks(emb, m=8, k=16)
    assert cb.count() == 8 * 16
    codes = pq_encode(emb, cb, m=8)
    for r in codes.limit(20).collect():
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])

    q = emb.filter(F.col("vec_id") < 3)
    adc = pq_adc_topk(codes, cb, q, k=5, m=8)
    got = {}
    for r in adc.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["adc_dist"]))
    # exact cosine of every (query, candidate) pair for the quality check
    full = brute_force_topk(emb, q, k=10_000)
    cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in full.collect()}
    n_corpus = emb.count()
    for qid, rows in got.items():
        rows.sort()
        assert rows[0][1] == qid  # self is nearest despite quantization
        assert rows[0][2] > 0.0   # but not at distance zero
        # retrieval quality: untrained random codebooks on isotropic data
        # can miss the single true NN, but the PQ top-5 (minus self) must
        # still be far better than random draws from the corpus
        picked = [cos[(qid, v)] for _, v, _ in rows if v != qid]
        corpus_mean = sum(
            c for (q2, _), c in cos.items() if q2 == qid
        ) / n_corpus
        assert sum(picked) / len(picked) > corpus_mean + 0.1


def test_ivfpq_restricts_to_probed_clusters(spark):
    """IVF-PQ candidates all live in the query's nprobe nearest lists,
    self still ranks first, and within the probed subset the ranking
    equals full-corpus ADC restricted to those clusters."""
    from databricks_demo_feature_store_spark.queries import load
    from databricks_demo_feature_store_spark.textops.similarity import (
        ivf_assign,
        ivf_centroids,
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    out = ivfpq_topk(emb, q, k=5, nlist=8, nprobe=2)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1}

    cents = ivf_centroids(emb, nlist=8)
    clusters = {r["vec_id"]: r["cluster"] for r in ivf_assign(emb, cents).collect()}
    # every returned candidate must live in one of the query's own probe
    # clusters — recompute probes as the 2 clusters of highest centroid
    # cosine (same tie rule)
    import math

    evecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    cvecs = {r["centroid_id"]: r["centroid"] for r in cents.collect()}

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return num / (na * nb)

    for r in rows:
        qv = evecs[r["query_id"]]
        probed = sorted(cvecs, key=lambda c: (-cos(qv, cvecs[c]), c))[:2]
        assert clusters[r["vec_id"]] in probed
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]  # self's cluster is probed

    # rank parity vs full-corpus ADC restricted to the probed clusters
    cb = pq_codebooks(emb, m=8, k=16)
    codes = pq_encode(emb, cb, m=8)
    full = pq_adc_topk(codes, cb, q, k=10_000, m=8).collect()
    for qid in (0, 1):
        qv = evecs[qid]
        probed = sorted(cvecs, key=lambda c: (-cos(qv, cvecs[c]), c))[:2]
        expect = [
            r["vec_id"] for r in sorted(
                (r for r in full if r["query_id"] == qid
                 and clusters[r["vec_id"]] in probed),
                key=lambda r: r["rank"],
            )
        ][:5]
        got = [r["vec_id"] for r in sorted(
            (r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got == expect


def test_exact_k_sample_exact_and_prefix(spark):
    """Exactly k rows, deterministic across calls, and the k-sample is a
    prefix of the (k+m)-sample with the same seed."""
    from databricks_demo_feature_store_spark.textops.sampling import exact_k_sample

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    s20 = {r["doc_id"] for r in exact_k_sample(df, 20, "doc_id", seed=5).collect()}
    s50 = {r["doc_id"] for r in exact_k_sample(df, 50, "doc_id", seed=5).collect()}
    assert len(s20) == 20 and len(s50) == 50
    assert s20 < s50  # prefix property
    again = {r["doc_id"] for r in exact_k_sample(df, 20, "doc_id", seed=5).collect()}
    assert again == s20
    # k >= rows returns everything
    assert exact_k_sample(df, 5000, "doc_id").count() == 1000


def test_pq_refine_reduces_quantization_error(spark):
    """One Lloyd iteration must not increase the total per-subspace
    quantization SSE (k-means monotonicity), and usually reduces it."""
    import random

    from databricks_demo_feature_store_spark.textops.similarity import (
        _l2sq,
        _pq_subvectors,
        pq_codebooks,
        pq_refine_codebooks,
    )

    random.seed(13)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def total_sse(cb):
        subs = _pq_subvectors(emb, 4, "vec_id", "embedding")
        scored = subs.join(F.broadcast(cb), on="sub").select(
            "__id", "sub", _l2sq(F.col("__sv"), F.col("centroid")).alias("d")
        )
        per = scored.groupBy("__id", "sub").agg(F.min("d").alias("dmin"))
        return per.agg(F.sum("dmin")).collect()[0][0]

    cb0 = pq_codebooks(emb, m=4, k=8)
    cb1 = pq_refine_codebooks(emb, cb0, iterations=1, m=4)
    sse0, sse1 = total_sse(cb0), total_sse(cb1)
    assert sse1 <= sse0 + 1e-6
    assert sse1 < sse0 * 0.95  # random init leaves real room to improve
    # codebook stays (sub, code, centroid) with <= k entries per subspace
    per_sub = {r["sub"]: r["n"] for r in
               cb1.groupBy("sub").agg(F.count("*").alias("n")).collect()}
    assert set(per_sub) == {0, 1, 2, 3} and all(n <= 8 for n in per_sub.values())


def test_weighted_k_sample_biases_toward_weight(spark):
    """Exactly k rows; heavier rows are selected far more often than
    light ones; zero/NULL weights never selected; deterministic."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        weighted_k_sample,
    )

    # 500 light rows (w=1) + 100 heavy rows (w=50) + 10 ineligible
    df = spark.range(610).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, F.lit(1.0))
        .when(F.col("id") < 600, F.lit(50.0))
        .otherwise(F.lit(0.0))
        .alias("w"),
    )
    got = [r["doc_id"] for r in weighted_k_sample(df, 60, "doc_id", "w", seed=3).collect()]
    assert len(got) == 60 and len(set(got)) == 60
    assert all(i < 600 for i in got)  # zero-weight rows never drawn
    heavy = sum(1 for i in got if i >= 500)
    # heavy mass = 100*50 = 5000 vs light 500: expect ~91% heavy draws
    assert heavy > 40
    again = [r["doc_id"] for r in weighted_k_sample(df, 60, "doc_id", "w", seed=3).collect()]
    assert sorted(got) == sorted(again)


def test_random_projection_preserves_distances(spark):
    """JL property: projected pairwise distances correlate strongly with
    the originals (deterministic planes, no shuffle, exact re-run)."""
    import math
    import random

    from databricks_demo_feature_store_spark.textops.similarity import (
        random_projection,
    )

    random.seed(29)
    # varying radii give a wide spread of true pairwise distances (iid
    # gaussian points concentrate — every distance is ~equal, which
    # makes correlation meaningless, not the projection wrong)
    rows = [
        (i, [random.gauss(0, 1) * (1.0 + i / 5.0) for _ in range(32)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["projected"]
           for r in random_projection(df, 12, dim=32, seed=7).collect()}
    again = {r["vec_id"]: r["projected"]
             for r in random_projection(df, 12, dim=32, seed=7).collect()}
    assert out == again  # deterministic

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    orig = {r[0]: r[1] for r in rows}
    pairs = [(i, j) for i in range(0, 40, 4) for j in range(1, 40, 7) if i < j]
    d0 = [dist(orig[i], orig[j]) for i, j in pairs]
    d1 = [dist(out[i], out[j]) for i, j in pairs]
    # Pearson correlation of distance vectors
    n = len(pairs)
    m0, m1 = sum(d0) / n, sum(d1) / n
    cov = sum((a - m0) * (b - m1) for a, b in zip(d0, d1))
    var0 = math.sqrt(sum((a - m0) ** 2 for a in d0))
    var1 = math.sqrt(sum((b - m1) ** 2 for b in d1))
    assert cov / (var0 * var1) > 0.6


def test_pq_adc_handles_noncontiguous_codes(spark):
    """After Lloyd drop-out the codebook may keep codes {0,2,5}; the ADC
    lookup must key by CODE, not position, or distances silently come
    from the wrong entry."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    # 2 subspaces of dim 2; codebook with non-contiguous codes per sub
    cb_rows = [
        (0, 0, [0.0, 0.0]), (0, 2, [1.0, 1.0]), (0, 5, [5.0, 5.0]),
        (1, 1, [0.0, 0.0]), (1, 7, [2.0, 2.0]),
    ]
    cb = spark.createDataFrame(cb_rows, "sub int, code int, centroid array<double>")
    emb = spark.createDataFrame(
        [(10, [1.1, 0.9, 2.1, 1.9]), (11, [0.1, -0.1, 0.0, 0.2])],
        "vec_id long, embedding array<float>",
    )
    codes = pq_encode(emb, cb, m=2)
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert got[10] == [2, 7] and got[11] == [0, 1]

    q = spark.createDataFrame([(99, [1.0, 1.0, 2.0, 2.0])],
                              "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["adc_dist"] for r in
           pq_adc_topk(codes, cb, q, k=2, m=2).collect()}
    # query subvectors (1,1) and (2,2); vec 10 codes (2,7): d = 0 + 0 = 0
    # vec 11 codes (0,1): d = (1+1) + (4+4) = 10
    assert abs(out[10] - 0.0) < 1e-9
    assert abs(out[11] - 10.0) < 1e-9


def test_pack_sequences_tiles_exactly(spark):
    """Packing invariants: every bin except the last sums to exactly
    seq_len; per-document slices tile [0, n_tokens) contiguously;
    bin_offset is consistent with the stream layout; the packing is
    deterministic across reruns."""
    from databricks_demo_feature_store_spark.textops.sampling import pack_sequences

    rows = [(i, " ".join(f"w{j}" for j in range((i * 37) % 50 + 1))) for i in range(60)]
    rows.append((999, ""))  # empty doc: skipped
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    L = 64
    out = pack_sequences(df, seq_len=L, seed="t").collect()
    total_tokens = sum((i * 37) % 50 + 1 for i in range(60))

    # global: slices cover the whole stream exactly once
    assert sum(r["slice_len"] for r in out) == total_tokens
    assert all(r["doc_id"] != 999 for r in out)

    # per-bin: full bins except the last
    by_bin = {}
    for r in out:
        by_bin.setdefault(r["bin_id"], []).append(r)
    last_bin = max(by_bin)
    for b, slices in by_bin.items():
        s = sum(r["slice_len"] for r in slices)
        assert s == L if b != last_bin else s <= L
        # slices inside a bin tile contiguously from offset 0 (or the
        # bin starts mid-document with bin_offset 0 anyway by layout)
        slices.sort(key=lambda r: r["bin_offset"])
        pos = 0
        for r in slices:
            assert r["bin_offset"] == pos
            pos += r["slice_len"]

    # per-doc: slices tile [0, n_tokens)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, slices in by_doc.items():
        slices.sort(key=lambda r: r["doc_offset"])
        pos = 0
        for r in slices:
            assert r["doc_offset"] == pos
            pos += r["slice_len"]
        assert pos == slices[0]["n_tokens"]

    # determinism
    again = pack_sequences(df, seq_len=L, seed="t").collect()
    key = lambda r: (r["bin_id"], r["doc_id"])
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # different seed → different layout (shuffle really depends on seed)
    other = pack_sequences(df, seq_len=L, seed="u").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_cross_corpus_dedup_pairs(spark):
    """A re-ingested batch doc must match its corpus origin at jaccard
    1.0 without the corpus ever self-joining; the witness cap bounds
    boilerplate buckets while keeping at least one witness."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        cross_corpus_dedup_pairs,
    )

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight again"),
        (2, "totally unrelated text about spark executors and shuffles"),
        (3, "a third document with its own completely distinct words"),
    ]
    # boilerplate clique in the corpus: 30 identical docs
    corpus_rows += [(100 + i, "same boilerplate header text repeated everywhere") for i in range(30)]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (900, "the quick brown fox jumps over the lazy dog tonight again"),  # dup of 1
            (901, "an entirely new never seen piece of content right here"),     # novel
            (902, "same boilerplate header text repeated everywhere"),           # dup of clique
        ],
        ["doc_id", "text"],
    )

    exact = cross_corpus_dedup_pairs(batch, corpus, max_bucket_witnesses=None)
    e = {(r.id_batch, r.id_corpus): r.jaccard for r in exact.collect()}
    assert e[(900, 1)] == 1.0
    assert not any(b == 901 for b, _ in e)           # novel doc: no pairs
    assert sum(1 for b, _ in e if b == 902) == 30    # full clique witnessed

    capped = cross_corpus_dedup_pairs(batch, corpus, max_bucket_witnesses=5)
    c = {(r.id_batch, r.id_corpus): r.jaccard for r in capped.collect()}
    assert c[(900, 1)] == 1.0                        # ordinary docs unaffected
    hits_902 = [k for k in c if k[0] == 902]
    assert 1 <= len(hits_902) <= 5                   # bounded witnesses...
    assert min(cid for _, cid in hits_902) == 100    # ...deterministic min-id first
    assert set(c) <= set(e)                          # cap only loses pairs


def test_hybrid_topk_rrf(spark):
    """RRF fusion: a doc ranked by BOTH arms outranks docs ranked by one;
    one-armed docs carry NULL for the missing side's score/rank."""
    from databricks_demo_feature_store_spark.textops.search import hybrid_topk_rrf

    docs = spark.createDataFrame(
        [
            (1, "spark streaming join engine"),   # lexical hit
            (2, "spark vector search index"),     # lexical hit + vector hit
            (3, "cooking recipes and gardens"),   # neither
            (4, "unrelated text entirely"),       # vector hit only
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),
            (2, [1.0, 0.1]),
            (3, [0.0, -1.0]),
            (4, [0.9, 0.2]),
            (7, [1.0, 0.0]),  # the query vector row
        ],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_topk_rrf(
        docs, emb, ["spark", "join", "vector"],
        emb.filter("vec_id = 7"), k=4, k_each=3,
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert out[0]["doc_id"] == 2  # both arms → top fused rank
    assert rows[2]["lex_rank"] is not None and rows[2]["vec_rank"] is not None
    # vector-only doc: lexical side NULL, still present via its vec arm
    assert rows[4]["bm25"] is None and rows[4]["vec_rank"] is not None
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    # rrf is exactly the two-term reciprocal sum
    r2 = rows[2]
    expect = 1.0 / (60 + r2["lex_rank"]) + 1.0 / (60 + r2["vec_rank"])
    assert abs(r2["rrf"] - expect) < 1e-9


def test_ndcg_at_k_hand_computed(spark):
    """NDCG against hand arithmetic: perfect ranking = 1.0; a swap
    discounts by the position; unjudged docs gain 0; a query with no
    positive judgment yields NULL ndcg."""
    import math

    from databricks_demo_feature_store_spark.textops.search import ndcg_at_k

    runs = spark.createDataFrame(
        [  # q1 ranks rel-3 first (ideal); q2 inverts; q3 retrieves junk
            ("q1", "a", 1), ("q1", "b", 2), ("q1", "x", 3),
            ("q2", "b", 1), ("q2", "a", 2),
            ("q3", "x", 1), ("q3", "y", 2),
        ],
        ["query_id", "doc_id", "rank"],
    )
    qrels = spark.createDataFrame(
        [("q1", "a", 3), ("q1", "b", 1), ("q2", "a", 3), ("q2", "b", 1),
         ("q3", "z", 0)],
        ["query_id", "doc_id", "rel"],
    )
    out = {r["query_id"]: r for r in ndcg_at_k(runs, qrels, k=3).collect()}

    ideal = 7.0 / math.log2(2) + 1.0 / math.log2(3)
    assert abs(out["q1"]["ndcg"] - 1.0) < 1e-6
    assert abs(out["q1"]["dcg"] - ideal) < 1e-6
    swapped = 1.0 / math.log2(2) + 7.0 / math.log2(3)
    assert abs(out["q2"]["ndcg"] - swapped / ideal) < 1e-6
    assert out["q3"]["ndcg"] is None and out["q3"]["n_rel"] == 0
    assert out["q1"]["n_rel"] == 2


def test_ndcg_at_k_truncation_and_unjudged(spark):
    """Rank > k rows are ignored; IDCG uses only the top-k judgments."""
    from databricks_demo_feature_store_spark.textops.search import ndcg_at_k

    runs = spark.createDataFrame(
        [("q", f"d{i}", i) for i in range(1, 6)], ["query_id", "doc_id", "rank"]
    )
    qrels = spark.createDataFrame(
        [("q", f"d{i}", 1) for i in range(1, 6)], ["query_id", "doc_id", "rel"]
    )
    r = ndcg_at_k(runs, qrels, k=2).collect()[0]
    # only ranks 1-2 counted on both sides -> perfect
    assert abs(r["ndcg"] - 1.0) < 1e-6 and r["n_rel"] == 2


def test_pmi_collocations_hand_value(spark):
    """PMI of a perfectly-bound bigram is log(N / n) at matched margins;
    min_count prunes the hapax tail but margins still count everything."""
    import math

    from databricks_demo_feature_store_spark.textops.analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [("new york new york",), ("new york",), ("old york rare pair",)],
        ["text"],
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in pmi_collocations(docs, min_count=2).collect()
    }
    ny = out[("new", "york")]
    # bigrams: (new,york)x3, (york,new)x1, (old,york), (york,rare), (rare,pair) -> N=7
    # left margin new=3, right margin york=4
    assert ny["n_ab"] == 3 and ny["n_a"] == 3 and ny["n_b"] == 4
    assert abs(ny["pmi"] - math.log(3 * 7 / (3 * 4))) < 1e-6
    assert ("rare", "pair") not in out  # count 1 < min_count
    assert len(out) == 1


def test_vocab_coverage_rank_and_cumulative_share(spark):
    """Counts, deterministic (count DESC, token ASC) ranking, cumulative
    coverage, and the top_n truncation — hand-checked on a tiny corpus."""
    from databricks_demo_feature_store_spark.textops.analysis import vocab_coverage

    docs = spark.createDataFrame(
        [("d1", "b a b c"), ("d2", "B b  a"), ("d3", "")],
        ["doc_id", "text"],
    )
    rows = {r["token"]: r for r in vocab_coverage(docs, top_n=2).collect()}
    # counts: b=4, a=2, c=1 (7 total); top_n=2 keeps b, a
    assert set(rows) == {"b", "a"}
    assert (rows["b"]["n"], rows["b"]["vocab_rank"], rows["b"]["cum_count"]) == (4, 1, 4)
    assert (rows["a"]["n"], rows["a"]["vocab_rank"], rows["a"]["cum_count"]) == (2, 2, 6)
    assert rows["b"]["coverage"] == round(4 / 7, 6)
    assert rows["a"]["coverage"] == round(6 / 7, 6)

    # tie on count orders lexicographically
    tied = spark.createDataFrame([("d", "z y")], ["doc_id", "text"])
    got = [(r["token"], r["vocab_rank"]) for r in
           vocab_coverage(tied, top_n=2).orderBy("vocab_rank").collect()]
    assert got == [("y", 1), ("z", 2)]


def _encode_png(pixels, color_type, filters):
    """Minimal stdlib PNG encoder for the decode test: ``pixels`` is a
    list of rows, each row a list of per-channel byte tuples; ``filters``
    gives the filter type to APPLY per scanline (0-4), so the decoder's
    un-filtering of every RFC 2083 filter is exercised with real bytes."""
    import struct
    import zlib

    nch = {0: 1, 2: 3, 6: 4}[color_type]
    h = len(pixels)
    w = len(pixels[0])

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    prev = bytearray(w * nch)
    for row, ftype in zip(pixels, filters):
        line = bytearray(v for px in row for v in px)
        out = bytearray(len(line))
        for i in range(len(line)):
            left = line[i - nch] if i >= nch else 0
            up = prev[i]
            ul = prev[i - nch] if i >= nch else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1,
                    4: paeth(left, up, ul)}[ftype]
            out[i] = (line[i] - pred) & 0xFF
        raw += bytes([ftype]) + out
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_real_bytes(spark):
    """NON-STUB decode path: real PNG payloads (every scanline filter
    type) go through the Arrow mapInPandas contract and come back with
    bit-exact dimensions and pixel sums."""
    from databricks_demo_feature_store_spark.textops.multimodal import (
        decode_image_features,
    )

    gray = _encode_png(
        [[(10,), (20,), (30,)], [(40,), (50,), (60,)]], 0, [0, 2]
    )  # 3x2 grayscale, sum 210
    rgb_rows = [
        [(1, 2, 3), (4, 5, 6), (7, 8, 9), (250, 251, 252)],
        [(9, 8, 7), (6, 5, 4), (3, 2, 1), (0, 128, 255)],
        [(100, 100, 100), (0, 0, 0), (255, 255, 255), (42, 43, 44)],
    ]
    rgb = _encode_png(rgb_rows, 2, [1, 2, 4])  # 4x3 RGB, Sub/Up/Paeth
    rgb_sum = sum(v for row in rgb_rows for px in row for v in px)
    rgba = _encode_png(
        [[(1, 2, 3, 4), (5, 6, 7, 8)], [(9, 10, 11, 12), (13, 14, 15, 16)]],
        6,
        [3, 3],
    )  # 2x2 RGBA, Average filter, sum 136
    rows = [
        (1, "image", bytearray(gray)),
        (2, "image", bytearray(rgb)),
        (3, "image", bytearray(rgba)),
        (4, "image", bytearray(b"not a png at all")),
        (5, "audio", bytearray(gray)),  # filtered out: not an image row
    ]
    media = spark.createDataFrame(rows, ["media_id", "media_type", "payload"])
    out = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert set(out) == {1, 2, 3, 4}
    g = out[1]
    assert (g["width"], g["height"], g["channels"], g["bit_depth"]) == (3, 2, 1, 8)
    assert g["mean_intensity"] == "210/6" and g["decode_ok"] == "ok"
    r = out[2]
    assert (r["width"], r["height"], r["channels"]) == (4, 3, 3)
    assert r["mean_intensity"] == f"{rgb_sum}/36" and r["decode_ok"] == "ok"
    a = out[3]
    assert (a["width"], a["height"], a["channels"]) == (2, 2, 4)
    assert a["mean_intensity"] == "136/16" and a["decode_ok"] == "ok"
    assert out[4]["decode_ok"] == "not_png" and out[4]["width"] is None


def test_exact_k_per_group(spark):
    """Exactly min(k, group size) rows per group, deterministic, and
    prefix-composable (the k=1 pick is contained in the k=2 pick)."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        exact_k_per_group,
    )

    rows = [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(3)] + [(200, "c")]
    df = spark.createDataFrame(rows, "id long, g string")

    def pick(k):
        out = {}
        for r in exact_k_per_group(df, "g", k, "id", seed=5).collect():
            out.setdefault(r["g"], set()).add(r["id"])
        return out

    two = pick(2)
    assert {g: len(v) for g, v in two.items()} == {"a": 2, "b": 2, "c": 1}
    one = pick(1)
    assert all(one[g] <= two[g] for g in one)  # prefix property
    assert pick(2) == two  # deterministic replay


def test_truncated_dim_recall(spark):
    """Hand-built 4-dim vectors where the 2-dim prefix inverts the
    ranking for one query: recall@1 must be 0 there and 1 where the
    prefix preserves the winner."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        truncated_dim_recall_at_k,
    )

    # query 0 = [1,0,0,0]:
    #   full cosine: doc 1 [1,0,0,0] = 1.0 wins over doc 2 [0.5,0,0,0.9]
    #   2-dim prefix: doc 1 [1,0] = 1.0 still wins            -> recall 1
    # query 10 = [0,1,0.9,0]:
    #   full: doc 3 [0,1,0.9,0] = 1.0 beats doc 4 [0,1,-0.9,0]
    #   2-dim prefix: both [0,1] tie at 1.0 -> id tiebreak -> doc 3 wins?
    # make it a genuine inversion instead: query 10 full winner is doc 4,
    # prefix winner is doc 3 (smaller prefix cosine for doc 4)
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.5, 0.0, 0.0, 0.9]),
            (3, [0.1, 1.0, 0.0, 0.0]),
            (4, [0.9, 1.0, 4.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),     # full + prefix winner: doc 1
            (10, [0.0, 0.5, 2.0, 0.0]),    # full winner: doc 4; prefix [0,0.5] winner: doc 3
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["query_id"]: r for r in truncated_dim_recall_at_k(
        corpus, queries, k=1, trunc_dim=2).collect()}
    assert out[0]["recall"] == 1.0 and out[0]["n_exact"] == 1
    assert out[10]["recall"] == 0.0 and out[10]["n_hits"] == 0


def test_two_stage_topk_matches_bruteforce_when_candidates_cover(spark):
    """With candidates >= corpus size the two-stage result must equal
    exact brute force (the rerank sees everything); with a starved
    candidate budget the stage-1 prefix can evict the true winner."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
        two_stage_topk,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.5, 0.0, 0.0, 0.9]),
            (3, [0.1, 1.0, 0.0, 0.0]),
            (4, [0.9, 1.0, 4.0, 0.0]),  # prefix loser, full winner for q10
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [0.0, 0.5, 2.0, 0.0])], "vec_id long, embedding array<double>"
    )

    def rows(df):
        return [(r["query_id"], r["vec_id"], r["rank"]) for r in
                df.orderBy("query_id", "rank").collect()]

    exact = rows(brute_force_topk(corpus, queries, k=2))
    covered = rows(two_stage_topk(corpus, queries, k=2, candidates=4, trunc_dim=2))
    assert covered == exact  # full candidate coverage → identical
    starved = rows(two_stage_topk(corpus, queries, k=2, candidates=1, trunc_dim=2))
    # stage-1 on [0, 0.5] prefix picks doc 3 (cos 1.0 on prefix); the
    # true full-dim winner doc 4 never reaches the rerank
    assert starved == [(10, 3, 1)]


def _encode_wav(samples, sample_rate=8000, channels=1, depth=16):
    """Minimal stdlib WAV encoder for the decode test: interleaved
    sample tuples → RIFF/fmt/data container."""
    import struct

    flat = [v for frame in samples for v in frame]
    if depth == 16:
        pcm = struct.pack(f"<{len(flat)}h", *flat)
    else:
        pcm = bytes((v + 128) & 0xFF for v in flat)
    block = channels * depth // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, depth
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decode_real_bytes(spark):
    """NON-STUB audio decode: real RIFF/PCM WAV payloads through the
    Arrow mapInPandas contract, with bit-exact sample-sum recovery for
    16-bit stereo and 8-bit mono; non-WAV and compressed payloads
    degrade to status values."""
    import struct

    from databricks_demo_feature_store_spark.textops.multimodal import (
        decode_audio_features,
    )

    stereo = _encode_wav(
        [(1000, -1000), (32767, -32768), (0, 5)], sample_rate=16000, channels=2
    )  # sum_abs = 1000+1000+32767+32768+0+5 = 67540, 3 frames
    mono8 = _encode_wav([(100,), (-100,), (0,)], sample_rate=8000,
                        channels=1, depth=8)  # sum_abs = 200
    # format tag 3 (float) → unsupported
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    floatwav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 0))
    rows = [
        (1, "audio", bytearray(stereo)),
        (2, "audio", bytearray(mono8)),
        (3, "audio", bytearray(floatwav)),
        (4, "audio", bytearray(b"ID3 not a wav")),
        (5, "image", bytearray(stereo)),  # filtered: not an audio row
    ]
    media = spark.createDataFrame(rows, ["media_id", "media_type", "payload"])
    out = {r["media_id"]: r for r in decode_audio_features(media).collect()}
    assert set(out) == {1, 2, 3, 4}
    s = out[1]
    assert (s["sample_rate"], s["channels"], s["bit_depth"]) == (16000, 2, 16)
    assert s["n_frames"] == 3 and s["sum_abs"] == "67540"
    assert s["duration_ms"] == 0 and s["decode_ok"] == "ok"  # 3/16000 s
    m = out[2]
    assert (m["sample_rate"], m["channels"], m["bit_depth"]) == (8000, 1, 8)
    assert m["sum_abs"] == "200" and m["decode_ok"] == "ok"
    assert out[3]["decode_ok"] == "unsupported" and out[3]["sample_rate"] == 8000
    assert out[4]["decode_ok"] == "not_wav"


def test_filtered_ann_ivf_recall_and_exactness(spark):
    """The exact strategy returns the true filtered top-k (every hit
    satisfies the predicate); the IVF strategy's oversampled probing
    recovers most of the exact set and never returns a filtered-out row."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        filtered_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    pred = F.col("label").isin(2, 4)

    exact = filtered_topk(emb, queries, pred, k=5, strategy="exact")
    labels = {r.label for r in exact.join(emb, "vec_id").select("label").collect()}
    assert labels <= {2, 4}

    ivf = filtered_topk(
        emb, queries, pred, k=5, strategy="ivf", nlist=8, nprobe=2, oversample=4
    )
    ivf_labels = {r.label for r in ivf.join(emb, "vec_id").select("label").collect()}
    assert ivf_labels <= {2, 4}

    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    iv = {(r.query_id, r.vec_id) for r in ivf.collect()}
    # oversample=4 on nlist=8 probes every cluster -> recall must be total
    assert iv == ex

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        filtered_topk(emb, queries, pred, k=5, strategy="hnsw")


def test_semantic_contamination_threshold_and_ties(spark):
    """Flags exactly the at-or-above-threshold corpus items, reports the
    best benchmark match (ties on rounded cosine -> smallest bench id),
    and composes with a left-anti join for the actual scrub."""
    from databricks_demo_feature_store_spark.textops.curation import (
        semantic_contamination,
    )

    def row(vid, vec):
        return (vid, [float(x) for x in vec])

    corpus = spark.createDataFrame(
        [
            row(10, [1, 0, 0, 0]),   # cos 1.0 with bench 1 AND bench 2 (tie)
            row(11, [0, 1, 0, 0]),   # orthogonal to all: clean
            row(12, [1, 1, 0, 0]),   # cos ~0.707 with bench 1/2: above 0.5
        ],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [row(2, [1, 0, 0, 0]), row(1, [2, 0, 0, 0]), row(3, [0, 0, 1, 0])],
        "vec_id long, embedding array<float>",
    )
    out = semantic_contamination(corpus, bench, threshold=0.5)
    got = {r.vec_id: (r.bench_id, r.cosine) for r in out.collect()}
    assert set(got) == {10, 12}
    assert got[10] == (1, 1.0)       # tie at cos 1.0 -> smallest bench id
    assert got[12][0] == 1 and abs(got[12][1] - 0.707107) < 1e-6

    clean = corpus.join(out.select("vec_id"), "vec_id", "left_anti")
    assert {r.vec_id for r in clean.collect()} == {11}


def test_semantic_contamination_string_bench_ids(spark):
    """The (cos DESC, bid ASC) tie-break must not do arithmetic on the
    benchmark id (ADVICE r10: `-bid` broke for string ids under ANSI):
    string ids tie-break lexicographically smallest-first."""
    from databricks_demo_feature_store_spark.textops.curation import (
        semantic_contamination,
    )

    def row(vid, vec):
        return (vid, [float(x) for x in vec])

    corpus = spark.createDataFrame(
        [row("doc-1", [1, 0]), row("doc-2", [0, 1])],
        "vec_id string, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [row("mmlu", [2, 0]), row("gsm8k", [1, 0]), row("arc", [0, 1])],
        "vec_id string, embedding array<float>",
    )
    out = semantic_contamination(corpus, bench, threshold=0.5)
    got = {r.vec_id: (r.bench_id, r.cosine) for r in out.collect()}
    # doc-1 ties at cos 1.0 between gsm8k and mmlu -> lexicographic min
    assert got == {"doc-1": ("gsm8k", 1.0), "doc-2": ("arc", 1.0)}


def test_url_canonicalization_hand_cases(spark):
    """Canonical form collapses tracking params, fragments, case,
    default ports and param order; non-URLs go to NULL; registered
    domain handles ccTLD second-level registries."""
    from databricks_demo_feature_store_spark.textops.urls import (
        canonicalize_url_col,
        registered_domain_col,
        url_host_col,
    )

    rows = [
        ("HTTP://WWW.Ex.COM:80/a/b?utm_source=x&b=2&a=1#frag",),
        ("http://www.ex.com/a/b?a=1&b=2",),
        ("https://ex.com:443",),
        ("https://ex.com:8443/",),
        ("https://shop.example.co.uk/p?gclid=z",),
        ("not a url",),
    ]
    df = spark.createDataFrame(rows, "url string").select(
        "url",
        canonicalize_url_col(F.col("url")).alias("canon"),
        registered_domain_col(url_host_col(F.col("url"))).alias("dom"),
    )
    got = {r.url: (r.canon, r.dom) for r in df.collect()}
    assert got[rows[0][0]] == ("http://www.ex.com/a/b?a=1&b=2", "ex.com")
    assert got[rows[1][0]] == ("http://www.ex.com/a/b?a=1&b=2", "ex.com")
    assert got[rows[2][0]] == ("https://ex.com/", "ex.com")
    assert got[rows[3][0]] == ("https://ex.com:8443/", "ex.com")  # non-default port kept
    assert got[rows[4][0]] == ("https://shop.example.co.uk/p", "example.co.uk")
    assert got["not a url"] == (None, "")


def test_trigram_backoff_branches(spark):
    """Each backoff level must fire and produce the documented value:
    seen trigram → MLE ratio; unseen trigram with seen bigram → λ·ratio;
    unseen bigram → λ²·add-1 unigram floor (finite for OOV)."""
    import math

    from databricks_demo_feature_store_spark.textops.analysis import (
        trigram_backoff_scores,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b d")], "doc_id long, text string"
    )
    # N = 9 tokens, V = 4 (a b c d)
    held = spark.createDataFrame(
        [
            (10, "a b c"),   # seen trigram: C(abc)/C(ab)=2/3
            (11, "b c d"),   # unseen tri, seen bigrams? C(bcd)=0; C(cd)? 0; C(d)=1 → λ²·(1+1)/(9+4)
            (12, "c a b"),   # seen trigram c a b (from doc 1: "c a b")
            (13, "a b z"),   # OOV z: λ²·(0+1)/13
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["cross_entropy_bits"]
        for r in trigram_backoff_scores(held, corpus, lam=0.4).collect()
    }

    def r6(x):
        import decimal
        return float(
            decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-6"),
                                              rounding=decimal.ROUND_HALF_UP)
        )

    assert got[10] == -r6(math.log2(2 / 3))
    assert got[12] == -r6(math.log2(1 / 1))  # C(cab)=1, C(ca)=1
    assert got[11] == -r6(math.log2(0.16 * 2 / 13))
    assert got[13] == -r6(math.log2(0.16 * 1 / 13))


def test_leakage_safe_split_groups_duplicates(spark):
    from databricks_demo_feature_store_spark.textops.sampling import (
        leakage_safe_split,
    )

    # 30 distinct texts, each duplicated 1-3x with whitespace variants
    rows, did = [], 0
    for i in range(30):
        text = f"document number {i} with shared content"
        for copy in range(1 + i % 3):
            variant = text if copy == 0 else ("  " + text.replace(" ", "  ") + " ")
            rows.append((did, variant))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(docs, test_fraction=0.3, val_fraction=0.2)
    joined = out.join(docs, "doc_id").collect()
    # whitespace-normalized duplicates must share a split
    import re
    by_norm = {}
    for r in joined:
        key = re.sub(r"\s+", " ", r["text"].strip().lower())
        by_norm.setdefault(key, set()).add(r["split"])
    assert all(len(v) == 1 for v in by_norm.values()), {
        k: v for k, v in by_norm.items() if len(v) > 1
    }
    # all three sides populated and deterministic across reruns
    splits = {r["split"] for r in joined}
    assert splits == {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in
             leakage_safe_split(docs, test_fraction=0.3, val_fraction=0.2).collect()}
    assert again == {r["doc_id"]: r["split"] for r in joined}


def test_dhash_col_matches_python_reference(spark):
    """dhash_col (pure column algebra) vs a pure-Python dHash on the
    same grids — ties (equal neighbors), negatives and the full bit
    range all exercised."""
    import random

    from databricks_demo_feature_store_spark.textops.multimodal import dhash_col
    from pyspark.sql import functions as F

    rng = random.Random(7)
    grids = []
    for g in range(20):
        grids.append((g, [[rng.randint(-50, 50) for _ in range(8)] for _ in range(8)]))
    grids.append((100, [[5] * 8 for _ in range(8)]))  # all ties → hash 0
    grids.append((101, [list(range(8)) for _ in range(8)]))  # ascending → 0
    grids.append((102, [list(range(8, 0, -1)) for _ in range(8)]))  # descending → all bits

    def py_dhash(px):
        h, pos = 0, 0
        for i in range(8):
            for j in range(7):
                if px[i][j] > px[i][j + 1]:
                    h |= 1 << pos
                pos += 1
        return h

    df = spark.createDataFrame(grids, "gid int, px array<array<int>>")
    got = {r.gid: r.h for r in df.select("gid", dhash_col(F.col("px")).alias("h")).collect()}
    want = {gid: py_dhash(px) for gid, px in grids}
    assert got == want
    assert want[100] == 0 and want[101] == 0 and want[102] == (1 << 56) - 1


def test_dhash_col_rejects_oversized_grid(spark):
    import pytest as _pytest

    from databricks_demo_feature_store_spark.textops.multimodal import dhash_col
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError, match="63"):
        dhash_col(F.col("x"), rows=8, cols=10)


def test_dsir_target_filter_matches_separate_target(spark):
    """Round-15 rewrite guard: dsir_importance_weights(target_filter=p)
    must equal dsir_importance_weights(target=source.where(p)) exactly —
    the filtered path reuses the single featurization pass."""
    from pyspark.sql import functions as F

    from databricks_demo_feature_store_spark.textops.sampling import (
        dsir_importance_weights,
    )

    rows = [
        (1, "alpha beta gamma", "en"),
        (2, "beta gamma delta", "en"),
        (3, "delta epsilon", "fr"),
        (4, "", "fr"),
        (5, "alpha alpha beta", "en"),
    ]
    src = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    via_target = dsir_importance_weights(
        src, src.where(F.col("lang") == "en"), n_buckets=64
    )
    via_filter = dsir_importance_weights(
        src, target_filter=F.col("lang") == "en", n_buckets=64
    )
    a = {r["doc_id"]: (r["n_feats"], r["log_weight"]) for r in via_target.collect()}
    b = {r["doc_id"]: (r["n_feats"], r["log_weight"]) for r in via_filter.collect()}
    assert a == b and len(a) == 5

    import pytest as _p
    with _p.raises(ValueError, match="exactly one"):
        dsir_importance_weights(src, src, target_filter=F.lit(True))
    with _p.raises(ValueError, match="exactly one"):
        dsir_importance_weights(src)
