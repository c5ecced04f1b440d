"""Extension queries: training-data operators (text analysis, dedup,
similarity search, multimodal, sessionization) with DuckDB oracles.

The dedup/similarity oracles replicate the *full* pipelines (shingling,
portable md5 hashing, MinHash banding, SimHash bit votes, LSH buckets) in
SQL, so the correctness gate checks the algorithms end-to-end, not just row
counts. Portability rests on two invariants verified empirically:

- ``conv(substr(md5(x),1,15),16,10)`` (Spark) ==
  ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)`` (DuckDB)
- both engines' list ops (intersect/min/filter/inner_product) agree with
  Spark's array ops on distinct-element semantics and sequential double
  accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround, oracle_dround
from databricks_demo_feature_store_spark.queries import load, register
from databricks_demo_feature_store_spark.textops.analysis import (
    LANG_MARKERS,
    bpe_ish_token_count_col,
    lang_id_col,
    punct_ratio_col,
    quality_score_col,
    stopword_ratio_col,
    token_count_col,
)
from databricks_demo_feature_store_spark.textops.dedup import (
    duplicate_groups,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from databricks_demo_feature_store_spark.textops.multimodal import (
    decode_features,
    synthesize_media_from_documents,
)
from databricks_demo_feature_store_spark.textops.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
    random_planes,
)

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments
# ---------------------------------------------------------------------------

# tokens of normalized text (empty text → empty list, matching tokens_col)
_O_TOKS = r"""
    toks AS (
      SELECT doc_id, text,
             CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             END AS toks
      FROM documents
    )
"""

# distinct word 3-shingles of single-space-normalized text (with_shingle_hashes)
_O_SHINGLES = r"""
    normed AS (
      SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE
               WHEN len(t) >= 3 THEN list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' ')))
               WHEN len(t) > 0 AND norm <> '' THEN [norm]
               ELSE CAST([] AS VARCHAR[])
             END AS sh
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM normed)
    )
"""


def _o_hash(expr: str, seed) -> str:
    """DuckDB twin of portable_hash_col."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 1, 15)) AS BIGINT)"
    )


def _o_hash64(expr: str, seed) -> str:
    """DuckDB twin of portable_hash64_col: low 60 bits from md5 hex chars
    1-15, bits 60-63 from char 16 — the top nibble's bit 3 contributes
    -2^63 so every arithmetic step stays inside signed BIGINT (verified
    identical to the Spark expression on both engines)."""
    hi = f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 16, 1)) AS BIGINT)"
    return (
        f"({_o_hash(expr, seed)} + (({hi} & 7) << 60)"
        f" + CASE WHEN {hi} >= 8 THEN -9223372036854775808 ELSE 0 END)"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q_ext_text_stats",
    oracle=f"""
    WITH {_O_TOKS},
    base AS (
      SELECT doc_id, text,
             len(toks) AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS n_pieces,
             length(text) AS n_chars_utf8,
             length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
             length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct,
             len(list_filter(toks, t -> t IN ({", ".join(repr(m) for m in LANG_MARKERS["en"])}))) AS stophits
      FROM toks
    )
    SELECT doc_id, n_tokens, n_pieces, n_chars_utf8,
           CASE WHEN nonspace > 0 THEN {oracle_dround('CAST(punct AS DOUBLE) / nonspace', 6)} END AS punct_ratio,
           CASE WHEN n_tokens > 0 THEN {oracle_dround('CAST(stophits AS DOUBLE) / n_tokens', 6)} END AS stopword_ratio
    FROM base
    """,
)
def q_ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), char counts, punctuation
    and stopword ratios — pure codegen'd column expressions."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_col(t).alias("n_tokens"),
        bpe_ish_token_count_col(t).alias("n_pieces"),
        F.length(t).alias("n_chars_utf8"),
        punct_ratio_col(t).alias("punct_ratio"),
        stopword_ratio_col(t).alias("stopword_ratio"),
    )


def _lang_oracle() -> str:
    score = {
        lang: f"len(list_intersect(toks, [{', '.join(repr(m) for m in markers)}]))"
        for lang, markers in LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(score.values())})"
    case_langs = " ".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
    WITH {_O_TOKS},
    scored AS (
      SELECT doc_id, text, toks, {best} AS best FROM toks
    )
    SELECT scored.doc_id, documents.lang,
           CASE WHEN regexp_matches(scored.text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                WHEN best <= 0 THEN 'und'
                {case_langs}
           END AS lang_pred
    FROM scored JOIN documents ON scored.doc_id = documents.doc_id
    """


@register("q_ext_lang_id", oracle=_lang_oracle())
def q_ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID vs. the table's labeled ``lang``."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id_col(F.col("text")).alias("lang_pred"))


@register(
    "q_ext_fingerprint_dedup",
    oracle=r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS representative_id
    FROM documents
    GROUP BY 1
    """,
)
def q_ext_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups keyed on the md5 fingerprint of normalized text."""
    return duplicate_groups(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------


_NGRAM_ORACLE = f"""
    WITH {_O_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS common,
             len(a.sh) AS n_a, len(b.sh) AS n_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
    )
    SELECT id_a, id_b,
           {oracle_dround('CAST(common AS DOUBLE) / (n_a + n_b - common)', 6)} AS jaccard
    FROM pairs
    WHERE {oracle_dround('CAST(common AS DOUBLE) / (n_a + n_b - common)', 6)} >= 0.8
    """


@register("q_ext_ngram_jaccard", oracle=_NGRAM_ORACLE)
def q_ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via the shingle inverted index
    (no all-pairs scan on the Spark side; the oracle may brute-force).

    ``max_shingle_df=None``: the gated query is provably exact at ANY
    scale factor — its equivalence to the brute-force oracle doesn't
    depend on corpus statistics. The stop-shingle cutoff path (the
    100 TB-safe configuration) is exercised and differentially checked by
    the separate ``q_ext_ngram_jaccard_cutoff``."""
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.8, max_shingle_df=None
    )


@register("q_ext_ngram_jaccard_cutoff", oracle=_NGRAM_ORACLE)
def q_ext_ngram_jaccard_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-shingle-cutoff configuration of ``ngram_jaccard_pairs``,
    with the cutoff DERIVED from corpus statistics (``max(50, 2·⌈√n⌉)``)
    rather than a fixed constant, so the hot-bucket bound scales with the
    corpus. Differentially checked against the same exact brute-force
    oracle as ``q_ext_ngram_jaccard`` — on corpora where the hottest
    shingle's prefix-frequency stays under the derived cutoff the result
    is identical; a divergence here flags boilerplate-heavy data, not a
    bug in the exact gated query."""
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.8, max_shingle_df="auto"
    )


def _minhash_sig_sql(num_hashes: int) -> str:
    from databricks_demo_feature_store_spark.textops.dedup import MINHASH_P, minhash_params

    base = f"({_o_hash('s', 0)}) % {MINHASH_P}"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * ({base}) + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"sigs AS (SELECT doc_id, {mins} FROM sh)"


@register(
    "q_ext_minhash_sig",
    oracle=f"""
    WITH {_O_SHINGLES},
    {_minhash_sig_sql(4)}
    SELECT doc_id, mh0, mh1, mh2, mh3 FROM sigs
    """,
)
def q_ext_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (first 4 components) — verifies shingling +
    portable hashing + array_min end-to-end for every document."""
    sigs = minhash_signatures(load(spark, sf_dir, "documents"), num_hashes=4)
    return sigs.select(
        F.col("id").alias("doc_id"),
        *[F.element_at("signature", i + 1).alias(f"mh{i}") for i in range(4)],
    )


def _minhash_pairs_ctes(num_hashes: int = 16, bands: int = 4) -> str:
    """The shared CTE chain text→shingles→signatures→bands→candidates→
    verified pairs, reused by the pair and cluster oracles."""
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
            md5(concat_ws(',', {", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))})) AS band_key
            FROM sigs"""
        for b in range(bands)
    )
    return f"""{_O_SHINGLES},
    {_minhash_sig_sql(num_hashes)},
    bands AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             {oracle_dround('CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh)))', 6)} AS jaccard
      FROM cands c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
    )"""


def _minhash_dedup_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.7) -> str:
    return f"""
    WITH {_minhash_pairs_ctes(num_hashes, bands)}
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


@register("q_ext_minhash_dedup", oracle=_minhash_dedup_oracle())
def q_ext_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH dedup: 16 hashes, 4 bands → candidates → exact
    Jaccard verification ≥ 0.7. The oracle replays the identical banding,
    so even the candidate-generation behavior is checked."""
    return minhash_dedup_pairs(
        load(spark, sf_dir, "documents"), num_hashes=16, bands=4, threshold=0.7
    )


def _simhash_oracle(bits: int = 16) -> str:
    contribs = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {i}) & 1 = 1)) - len(hs) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH normed AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    hashes AS (
      SELECT doc_id,
             list_transform(list_distinct(string_split(norm, ' ')),
                            t -> {_o_hash('t', 'simhash')}) AS hs
      FROM normed
    )
    SELECT doc_id, CAST({contribs} AS BIGINT) AS simhash16 FROM hashes
    """


@register("q_ext_simhash", oracle=_simhash_oracle())
def q_ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash (Charikar) — bit-vote majority over
    portable token hashes, fully oracle-checked. (The 64-bit token hash's
    low 60 bits equal the classic portable hash, so the narrow width is
    unchanged by the round-7 64-bit default.)"""
    from databricks_demo_feature_store_spark.textops.dedup import with_simhash

    d = load(spark, sf_dir, "documents")
    return with_simhash(d, "text", "simhash16", bits=16).select("doc_id", "simhash16")


def _simhash_pairs_oracle(max_hamming: int = 3, block_bits: int = 16) -> str:
    bits = 64
    contribs = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {i}) & 1 = 1)) - len(hs) > 0 "
        f"THEN {-(1 << 63) if i == 63 else (1 << i)} ELSE 0 END)"
        for i in range(bits)
    )
    nblocks = max_hamming + 1
    mask = (1 << block_bits) - 1
    block_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {i} AS blk, (sh >> {i * block_bits}) & {mask} AS blkval FROM sh"
        for i in range(nblocks)
    )
    return f"""
    WITH normed AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    hashes AS (
      SELECT doc_id,
             list_transform(list_distinct(string_split(norm, ' ')),
                            t -> {_o_hash64('t', 'simhash')}) AS hs
      FROM normed
    ),
    sh AS (SELECT doc_id, CAST({contribs} AS BIGINT) AS sh FROM hashes),
    blocks AS ({block_rows}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sh AS sh_a, b.sh AS sh_b
      FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blkval = b.blkval
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cands WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


@register("q_ext_simhash_pairs", oracle=_simhash_pairs_oracle())
def q_ext_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the production geometry fixed in round 7
    (the round-6 `weak`): 64-bit hash, Hamming ≤ 3, pigeonhole blocking
    into max_hamming+1 = four 16-bit blocks (Manku/Jain/Das Sarma WWW'07)
    — 65,536 values per block keeps candidate buckets ~n/65,536 instead
    of the old 16-bit/4-bit geometry's 64 buckets (~n²/64 candidates).
    ``max_bucket=None`` pins the provably-exact candidate cliques so the
    oracle replays blocking + verification verbatim; the hot-bucket star
    reduction (``max_bucket="auto"``, connectivity-preserving for
    downstream CC) is property-tested in tests/test_textops.py and
    measured in the scaling harness."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        simhash_near_dup_pairs,
    )

    d = load(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        d, bits=64, max_hamming=3, block_bits=16, max_bucket=None
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_O_EMB = """
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
"""

_O_COS = (
    "list_inner_product(e.v, q.qv)"
    " / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv)))"
)


@register(
    "q_ext_cosine_topk",
    oracle=f"""
    WITH {_O_EMB},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id, {oracle_dround(_O_COS, 6)} AS cosine
      FROM e CROSS JOIN q
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 query vectors against the corpus —
    the exact-ANN baseline (JVM-side zip_with/aggregate dot products)."""
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


def _o_plane_bucket(v: str, planes: list[list[float]]) -> str:
    """DuckDB twin of sign_bucket_col(planes=...): the identical md5-seeded
    plane constants are inlined as list literals, so both engines compute
    sign(v · p_j) over the same numbers."""
    bits = " || ".join(
        f"(CASE WHEN list_inner_product({v}, [{', '.join(repr(c) for c in p)}]) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"({bits})"


_EMB_DIM = 64  # embeddings.parquet vector width (TESTDATA.md)
_LSH_PLANES_8 = random_planes(_EMB_DIM, 8)
_LSH_PLANES_6 = random_planes(_EMB_DIM, 6)


@register(
    "q_ext_ann_lsh",
    oracle=f"""
    WITH {_O_EMB},
    eb AS (SELECT vec_id, v, {_o_plane_bucket("v", _LSH_PLANES_8)} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id, {oracle_dround(_O_COS, 6)} AS cosine
      FROM eb e JOIN q ON e.bucket = q.bucket
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign-LSH approximate top-5: candidates restricted
    to the query's 8-bit bucket (≈1/256 of the corpus at scale). Buckets
    come from md5-seeded hyperplanes (Charikar SimHash family — robust to
    correlated coordinates), with the identical plane constants inlined
    into the DuckDB oracle."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, nbits=8, planes=_LSH_PLANES_8
    )


@register(
    "q_ext_ann_recall",
    oracle=f"""
    WITH {_O_EMB},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle_dround(_O_COS, 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM e CROSS JOIN q
      ) WHERE rank <= 5
    ),
    eb AS (SELECT vec_id, v, {_o_plane_bucket("v", _LSH_PLANES_8)} AS bucket FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 8),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT qb.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qb.query_id
                 ORDER BY {oracle_dround("list_inner_product(e.v, qb.qv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(qb.qv, qb.qv)))", 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM eb e JOIN qb ON e.bucket = qb.bucket
      ) WHERE rank <= 5
    )
    SELECT x.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           {oracle_dround('CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*)', 6)} AS recall
    FROM exact x
    LEFT JOIN approx a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    """,
)
def q_ext_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 8-bit random-hyperplane LSH index vs the exact
    brute-force ranking, for 8 sample queries — the measured-recall loop
    an ANN deployment tunes ``nbits``/``probes`` with. Both sides are
    deterministic (md5-seeded planes, tie-broken rankings), so even this
    evaluation is exact-checked against DuckDB."""
    from databricks_demo_feature_store_spark.textops.similarity import ann_recall_at_k

    emb = load(spark, sf_dir, "embeddings")
    return ann_recall_at_k(
        emb, emb.filter(F.col("vec_id") < 8), k=5, nbits=8, planes=_LSH_PLANES_8
    )


@register(
    "q_ext_embedding_near_dup",
    oracle=f"""
    WITH {_O_EMB},
    eb AS (SELECT vec_id, v, {_o_plane_bucket("v", _LSH_PLANES_6)} AS bucket FROM e),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {oracle_dround("list_inner_product(a.v, b.v) / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))", 6)} AS cosine
      FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.4
    """,
)
def q_ext_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs inside 6-bit random-hyperplane
    LSH blocks (same inlined-plane oracle scheme as q_ext_ann_lsh)."""
    return embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), nbits=6, threshold=0.4, planes=_LSH_PLANES_6
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (Arrow-batched mapInPandas with stub decode)
# ---------------------------------------------------------------------------


@register(
    "q_ext_multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           64 AS feature_dim,
           'stub' AS decode_ok
    FROM documents
    """,
)
def q_ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns through the Arrow-batched mapInPandas decode
    path (stub decoder: byte stats + md5 checksum). Verifies schema,
    batching, and byte-level fidelity of the binary plumbing."""
    media = synthesize_media_from_documents(load(spark, sf_dir, "documents"))
    return decode_features(media)


# ---------------------------------------------------------------------------
# Event sessionization (batch form of the streaming session_window)
# ---------------------------------------------------------------------------


@register(
    "q_ext_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_idx
    """,
)
def q_ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → new session, via
    lag + cumulative sum (the batch twin of streaming session_window)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap_us > 30 * 60 * 1_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = flagged.withColumn("session_idx", F.sum("is_new").over(cum))
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


def _quality_oracle() -> str:
    markers = ", ".join(repr(m) for m in LANG_MARKERS["en"])
    punct = oracle_dround(
        "CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)"
        " / length(regexp_replace(text, '\\s+', '', 'g'))", 6)
    stop = oracle_dround(
        f"CAST(len(list_filter(toks, t -> t IN ({markers}))) AS DOUBLE) / len(toks)", 6)
    return f"""
    WITH {_O_TOKS},
    b AS (
      SELECT doc_id,
             least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) AS length_score,
             COALESCE(CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
                           THEN {punct} END, 0.0) AS punct,
             COALESCE(CASE WHEN len(toks) > 0 THEN {stop} END, 0.0) AS stop
      FROM toks
    )
    SELECT doc_id,
           {oracle_dround(
               "0.4 * length_score"
               " + 0.3 * greatest(0.0, 1.0 - punct * 4.0)"
               " + 0.3 * least(stop * 5.0, 1.0)", 6)} AS quality_score
    FROM b
    """


@register("q_ext_quality_score", oracle=_quality_oracle())
def q_ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4-style quality heuristic (length / punctuation /
    prose-likeness) — pure codegen'd column algebra, oracle-replicated
    term by term."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score_col(F.col("text")).alias("quality_score"))


_O_CENTS = """
    cents AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM e
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
      LIMIT 16
    )
"""

_O_COS_CV = (
    "list_inner_product(e.v, c.cv)"
    " / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.cv, c.cv)))"
)


@register(
    "q_ext_ann_ivf",
    oracle=f"""
    WITH {_O_EMB},
    {_O_CENTS},
    ascored AS (
      SELECT e.vec_id, e.v, c.centroid_id, {_O_COS_CV} AS cos
      FROM e CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, v, centroid_id AS cluster
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos DESC, centroid_id ASC) AS rn
            FROM ascored)
      WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    qscored AS (
      SELECT q.query_id, q.qv, c.centroid_id,
             list_inner_product(q.qv, c.cv)
               / (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(c.cv, c.cv))) AS cos
      FROM q CROSS JOIN cents c
    ),
    probes AS (
      SELECT query_id, qv, centroid_id AS cluster
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, centroid_id ASC) AS rn
            FROM qscored)
      WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             {oracle_dround("list_inner_product(a.v, p.qv) / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(p.qv, p.qv)))", 6)} AS cosine
      FROM assign a JOIN probes p ON a.cluster = p.cluster
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: deterministic hash-sampled coarse quantizer (16
    lists), nearest-centroid assignment, 4-probe search — the
    cluster-sharded scale path where each query scans ~nprobe/nlist of
    the corpus (partition-pruned when the assignment is persisted
    partitioned by cluster). Oracle replays quantizer, assignment, probe
    selection, and ranking exactly."""
    from databricks_demo_feature_store_spark.textops.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=5, nlist=16, nprobe=4)


@register(
    "q_ext_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS base
      FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 2
    ),
    frames AS (
      SELECT media_id,
             CAST(unnest(range(0, least(1 + n_bytes // 512, 6))) AS INT) AS frame_idx
      FROM vids
    )
    SELECT f.media_id, f.frame_idx,
           CAST(f.frame_idx * 1000 AS BIGINT) AS frame_ts_ms,
           md5(v.base || ':' || CAST(f.frame_idx AS VARCHAR)) AS frame_checksum
    FROM frames f JOIN vids v ON f.media_id = v.media_id
    """,
)
def q_ext_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one binary row fans out to N frame
    rows through Arrow-batched mapInPandas (stub demuxer — deterministic
    per-frame checksums); the oracle replays the fan-out with
    generate_series."""
    from databricks_demo_feature_store_spark.textops.multimodal import (
        sample_frames,
        synthesize_media_from_documents,
    )

    media = synthesize_media_from_documents(load(spark, sf_dir, "documents"))
    return sample_frames(media, every_ms=1000, max_frames=6)


_O_REP = f"""
    WITH t AS (
      SELECT doc_id, str_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bg,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END AS tg
      FROM t
    ),
    f AS (
      SELECT doc_id,
             CAST(n AS INT) AS n_tokens,
             CASE WHEN n > 0 THEN {oracle_dround('CAST(len(list_distinct(toks)) AS DOUBLE) / n', 6)} END AS distinct_token_ratio,
             CASE WHEN n > 0 THEN {oracle_dround('CAST(list_max(list_transform(list_distinct(toks), u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / n', 6)} END AS top_token_fraction,
             CASE WHEN len(bg) > 0 THEN {oracle_dround('1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)', 6)} END AS dup_bigram_fraction,
             CASE WHEN len(tg) > 0 THEN {oracle_dround('1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)', 6)} END AS dup_trigram_fraction
      FROM s
    )
    SELECT *,
           COALESCE(top_token_fraction, 0) > 0.30
           OR COALESCE(dup_bigram_fraction, 0) > 0.30
           OR COALESCE(dup_trigram_fraction, 0) > 0.30 AS is_repetitive
    FROM f
"""


@register("q_ext_repetition", oracle=_O_REP)
def q_ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (distinct-token
    ratio, top-token fraction, duplicate bi/trigram fractions) + the
    filter verdict — pure codegen'd column algebra, no shuffle, the
    standard corpus pre-filter alongside q_ext_quality_score."""
    from databricks_demo_feature_store_spark.textops.analysis import repetition_signals

    d = load(spark, sf_dir, "documents")
    return repetition_signals(d, "text").select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        "top_token_fraction",
        "dup_bigram_fraction",
        "dup_trigram_fraction",
        "is_repetitive",
    )


@register(
    "q_ext_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 1000000
          < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 100000 END
    """,
)
def q_ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (keep 50% en, 25% zh, 10%
    elsewhere) via a portable hash bucket per doc — a pure filter, no
    shuffle, exactly reproducible across reruns/engines (rand() sampling
    is neither)."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        deterministic_stratified_sample,
    )

    d = load(spark, sf_dir, "documents")
    return deterministic_stratified_sample(
        d, "lang", {"en": 0.5, "zh": 0.25}, "doc_id", default_rate=0.1
    ).select("doc_id", "lang", "source")


@register(
    "q_ext_token_shards",
    oracle=r"""
    WITH c AS (
      SELECT doc_id, source,
             CASE WHEN trim(lower(text)) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
             END AS n_tok
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_tok AS INT) AS n_tokens,
           CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tokens,
           CAST(FLOOR(CAST(SUM(n_tok) OVER w - n_tok AS DOUBLE) / 2048) AS INT) AS shard
    FROM c
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_ext_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding (sequence packing for training batches):
    cumulative token count per source, shard = floor(tokens-before /
    2048) — ONE window exchange, no driver loop."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        token_budget_shards,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_col(F.col("text")).alias("n_tokens")
    )
    return token_budget_shards(d, "n_tokens", "source", "doc_id", 2048)


def _dedup_clusters_oracle(threshold: float = 0.7, tail: str | None = None) -> str:
    """Recursive-CTE closure of the MinHash pair graph. ``tail`` replaces
    the final SELECT (it sees a ``comp(doc_id, component_id)`` CTE) so
    downstream oracles — e.g. the near-dup split — can build on the
    component assignment without duplicating the chain."""
    comp_select = """
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS component_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """
    body = f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= {threshold}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    """
    if tail is None:
        return body + comp_select
    return body + f", comp AS ({comp_select})\n" + tail


@register("q_ext_dedup_clusters", oracle=_dedup_clusters_oracle())
def q_ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs closed into connected
    components (component_id = min reachable doc id) by distributed
    min-label propagation — the keep-one-per-cluster dedup step. The
    oracle closes the same pair graph with a recursive CTE."""
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, num_hashes=16, bands=4, threshold=0.7)
    return dedup_clusters(d, pairs)


# ---------------------------------------------------------------------------
# Lexical retrieval: BM25 / TF-IDF (textops/search.py)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.textops.search import (  # noqa: E402
    bm25_topk,
    tfidf_top_terms,
)

_BM25_TERMS = ["join", "vector", "streaming"]


@register(
    "q_ext_bm25_topk",
    oracle=f"""
    WITH {_O_TOKS},
    lens AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM lens),
    postings AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (
        SELECT t.doc_id, l.dl, unnest(t.toks) AS term
        FROM toks t JOIN lens l ON l.doc_id = t.doc_id
      )
      WHERE term IN ('join', 'vector', 'streaming')
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
    parts AS (
      SELECT p.doc_id,
             CAST(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
             AS DECIMAL(25,10)) AS part
      FROM postings p JOIN dfreq d ON p.term = d.term CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, {oracle_dround('CAST(SUM(part) AS DOUBLE)', 6)} AS score
      FROM parts GROUP BY 1
    )
    SELECT doc_id, score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank FROM agg
    ) WHERE rank <= 10
    """,
)
def q_ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 3-term query over the documents corpus: inverted
    index pruned to the query terms BEFORE the shuffle, corpus stats and
    idf broadcast, DECIMAL-routed per-doc score sum (order-independent
    hash parity with the oracle)."""
    return bm25_topk(load(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


@register(
    "q_ext_tfidf_terms",
    oracle=f"""
    WITH {_O_TOKS},
    lens AS (SELECT doc_id, len(toks) AS dl FROM toks),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (
        SELECT t.doc_id, l.dl, unnest(t.toks) AS term
        FROM toks t JOIN lens l ON l.doc_id = t.doc_id
      )
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             {oracle_dround('(CAST(tf.tf AS DOUBLE) / tf.dl) * ln(CAST(n.n_docs AS DOUBLE) / d.df)', 6)} AS tfidf
      FROM tf JOIN dfreq d ON tf.term = d.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, term_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
      FROM scored
    ) WHERE term_rank <= 3
    """,
)
def q_ext_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (document topic fingerprints):
    one inverted-index shuffle, broadcast idf, per-doc window."""
    return tfidf_top_terms(load(spark, sf_dir, "documents"), top_n=3)


# ---------------------------------------------------------------------------
# Corpus curation: decontamination + composed keep/drop (textops/curation.py)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.textops.curation import (  # noqa: E402
    curate_corpus,
    ngram_contamination,
)

#: deterministic stand-in benchmark: every 25th document is "eval"
_EVAL_PRED = "doc_id % 25 = 0"


@register(
    "q_ext_contamination",
    oracle=f"""
    WITH {_O_SHINGLES},
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE {_EVAL_PRED}),
    corpus AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    shared AS (SELECT DISTINCT c.doc_id, c.s FROM corpus c JOIN ev ON c.s = ev.s)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM shared GROUP BY 1
    """,
)
def q_ext_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    3-grams shared with the eval subset. The eval shingle set broadcasts,
    so the corpus is never shuffled; the oracle joins shingle STRINGS
    while Spark joins their 60-bit hashes (collision odds 2^-60)."""
    d = load(spark, sf_dir, "documents")
    return ngram_contamination(d, d.where(F.expr(_EVAL_PRED)), k=3)


def _curation_oracle() -> str:
    markers = ", ".join(repr(m) for m in LANG_MARKERS["en"])
    punct = oracle_dround(
        "CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)"
        " / length(regexp_replace(text, '\\s+', '', 'g'))", 6)
    stop = oracle_dround(
        f"CAST(len(list_filter(toks, t -> t IN ({markers}))) AS DOUBLE) / len(toks)", 6)
    score = {
        lang: f"len(list_intersect(toks, [{', '.join(repr(m) for m in ms)}]))"
        for lang, ms in LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(score.values())})"
    case_langs = " ".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    quality = oracle_dround(
        "0.4 * least(CAST(len(toks) AS DOUBLE) / 200.0, 1.0)"
        " + 0.3 * greatest(0.0, 1.0 - COALESCE(CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0"
        f" THEN {punct} END, 0.0) * 4.0)"
        f" + 0.3 * least(COALESCE(CASE WHEN len(toks) > 0 THEN {stop} END, 0.0) * 5.0, 1.0)", 6)
    return f"""
    WITH {_O_TOKS},
    {_O_SHINGLES.strip().lstrip()},
    sig AS (
      SELECT doc_id, toks, text, {best} AS best,
             {quality} AS q,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM toks
    ),
    langed AS (
      SELECT doc_id, q, fp,
             CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                  WHEN best <= 0 THEN 'und'
                  {case_langs}
             END AS lang_pred
      FROM sig
    ),
    reps AS (SELECT fp, MIN(doc_id) AS rep FROM sig GROUP BY 1),
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE {_EVAL_PRED}),
    cont AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh) c JOIN ev ON c.s = ev.s
    )
    SELECT l.doc_id,
           l.lang_pred IN ('en') AS lang_ok,
           l.q >= 0.5 AS quality_ok,
           l.doc_id = r.rep AS dedup_keep,
           c.doc_id IS NULL AS not_contaminated,
           (l.lang_pred IN ('en') AND l.q >= 0.5 AND l.doc_id = r.rep
            AND c.doc_id IS NULL) AS kept
    FROM langed l
    JOIN reps r ON l.fp = r.fp
    LEFT JOIN cont c ON l.doc_id = c.doc_id
    """


@register("q_ext_curate_corpus", oracle=_curation_oracle())
def q_ext_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation verdict — language + quality + exact-dup
    representative + decontamination flags ANDed into ``kept``, one
    auditable row per document. Two shuffles (fingerprint agg +
    contamination count); everything else is codegen'd column algebra
    with broadcast joins."""
    d = load(spark, sf_dir, "documents")
    return curate_corpus(d, d.where(F.expr(_EVAL_PRED)), quality_threshold=0.5)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash local sketches, textops/dedup.py)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.textops.dedup import (  # noqa: E402
    winnowing_fingerprints,
)


def _winnow_oracle(k: int = 8, w: int = 4) -> str:
    gram_hash = _o_hash(f"substr(norm, CAST(i AS INT), {k})", 0)
    return f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CASE WHEN length(norm) >= {k}
                  THEN list_transform(range(1, length(norm) - {k} + 2),
                                      i -> {gram_hash})
                  ELSE CAST([] AS BIGINT[]) END AS hs
      FROM n
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {w}
                  THEN list_distinct(list_transform(range(1, len(hs) - {w} + 2),
                                                    i -> list_min(hs[CAST(i AS INT):CAST(i + {w} - 1 AS INT)])))
                  WHEN len(hs) > 0 THEN [list_min(hs)]
                  ELSE CAST([] AS BIGINT[]) END AS sk
      FROM h
    )
    SELECT doc_id, unnest(sk) AS fingerprint FROM m
    """


@register("q_ext_winnowing", oracle=_winnow_oracle())
def q_ext_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash sketches: char-8-gram hashes →
    sliding-window-of-4 minima → distinct survivors, one (doc_id,
    fingerprint) row each. Detects partial overlap (any shared substring
    of length ≥ 11 yields an identical fingerprint in both docs) that
    whole-document fingerprints miss."""
    return winnowing_fingerprints(load(spark, sf_dir, "documents"), k=8, window=4)


# ---------------------------------------------------------------------------
# Token-budget mixture sampling (textops/sampling.py)
# ---------------------------------------------------------------------------

from databricks_demo_feature_store_spark.textops.sampling import (  # noqa: E402
    token_budget_mixture,
)

_MIX_BUDGETS = {"src1": 4000, "src3": 2500, "src5": 1000}


@register(
    "q_ext_token_mixture",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source, n_chars,
             CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS bucket,
             CASE source WHEN 'src1' THEN 4000 WHEN 'src3' THEN 2500
                         WHEN 'src5' THEN 1000 END AS budget
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_chars, budget,
             CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY bucket ASC, doc_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_chars AS BIGINT) AS cum_before
      FROM b WHERE budget IS NOT NULL
    )
    SELECT doc_id, source, n_chars FROM c WHERE cum_before < budget
    """,
)
def q_ext_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: per-source char budgets filled in
    deterministic hash order (the "mix N tokens of source A with M of
    source B" recipe). One sort exchange on the stratum key; overshoot
    bounded by one document per stratum; unlisted sources dropped."""
    d = load(spark, sf_dir, "documents")
    return token_budget_mixture(
        d, strata_col="source", token_col="n_chars", key_col="doc_id",
        budgets=_MIX_BUDGETS,
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Corpus vocabulary heavy hitters (exact, oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "q_ext_frequent_items",
    oracle=f"""
    WITH {_O_TOKS},
    flat AS (SELECT unnest(toks) AS value FROM toks),
    counts AS (SELECT value, COUNT(*) AS cnt FROM flat GROUP BY value),
    tot AS (SELECT COUNT(*) AS total FROM flat)
    SELECT value, cnt, {oracle_dround('cnt / total', 6)} AS share
    FROM counts, tot
    WHERE cnt >= total * 0.01
    ORDER BY cnt DESC, value
    LIMIT 20
    """,
)
def q_ext_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the corpus vocabulary: tokens with ≥1%
    share of all token occurrences, top 20 by count.

    groupBy(token) with map-side partial agg + a broadcast one-row total —
    the output is bounded by construction, so the exact form scales; the
    orderBy+limit is a TakeOrdered (no global sort materialization).
    """
    from databricks_demo_feature_store_spark.operators.sketches import frequent_items
    from databricks_demo_feature_store_spark.textops.analysis import tokens_col

    docs = load(spark, sf_dir, "documents")
    flat = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    return frequent_items(flat, "token", min_share=0.01, max_items=20)


# ---------------------------------------------------------------------------
# Sketch profile (approximate NDV + quantiles; rows-only gate by design)
# ---------------------------------------------------------------------------


def _sketch_audit_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_orderkey"]
    parts = [
        f"""
        SELECT '{c}' AS "column", COUNT({c}) AS n_rows,
               COUNT(DISTINCT {c}) AS exact_ndv,
               TRUE AS ndv_ok, TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
        FROM lineitem
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


@register("q_ext_sketch_profile", oracle=_sketch_audit_oracle())
def q_ext_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-auditing sketch profile of three lineitem measures: HLL++
    approximate NDV and KLL-style approximate quantiles, audited in-query
    against the exact answers. Raw sketch values are engine-specific, so
    the gated output is (exact n_rows, exact NDV, within-bound booleans)
    — DuckDB recomputes the exact counts and expects every verdict TRUE,
    making the sketch error guarantees themselves value-hash-checked.
    Raw sketch output stays covered by ``tests/test_sketches.py``."""
    from databricks_demo_feature_store_spark.operators.sketches import (
        sketch_profile_audit,
    )

    li = load(spark, sf_dir, "lineitem")
    return sketch_profile_audit(li, ["l_quantity", "l_extendedprice", "l_orderkey"])


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup) — full Lloyd replay oracle
# ---------------------------------------------------------------------------
#
# The Lloyd chain IS SQL-replayable because kmeans_refine quantizes each
# refined centroid component to float32 (CAST(avg AS REAL)): the only
# cross-engine nondeterminism is the summation order inside avg(), whose
# last-ulp drift is crushed by the ~1e-7 float32 quantization step. Every
# other arithmetic step (dot-product folds, sqrt, division, argmax
# tie-breaks) is an identical IEEE754 sequential computation in both
# engines. The within-cluster drop replays semantic_dedup's gram-matrix
# verdict as a SQL pair filter (unit-normalize once, dot >= threshold,
# zero vectors never match); tests/test_sketches.py pins the Arrow path
# against a brute-force replay.


def _sem_cos(v: str, cv: str) -> str:
    return (
        f"CASE WHEN sqrt(list_inner_product({v}, {v}))"
        f"          * sqrt(list_inner_product({cv}, {cv})) > 0"
        f" THEN list_inner_product({v}, {cv})"
        f" / (sqrt(list_inner_product({v}, {v})) * sqrt(list_inner_product({cv}, {cv})))"
        f" END"
    )


def _sem_assign(src: str, cents: str, out_cols: str = "vec_id, v") -> str:
    """One nearest-centroid assignment CTE body (max cosine, min-id tie)."""
    return f"""
      SELECT {out_cols}, centroid_id AS cluster
      FROM (SELECT s.*, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.vec_id
                     ORDER BY {_sem_cos('s.v', 'c.cv')} DESC NULLS LAST,
                              c.centroid_id ASC) AS rn
            FROM {src} s CROSS JOIN {cents} c)
      WHERE rn = 1
    """


def _sem_refine(assign: str) -> str:
    """Lloyd update: per-(cluster,pos) mean quantized to float32, lists
    re-assembled in position order — the exact kmeans_refine computation."""
    return f"""
      SELECT cluster AS centroid_id,
             list_transform(list(m ORDER BY pos), x -> CAST(x AS DOUBLE)) AS cv
      FROM (SELECT cluster, i AS pos, CAST(AVG(v[i + 1]) AS REAL) AS m
            FROM {assign}, LATERAL (SELECT unnest(range(len(v))) AS i)
            GROUP BY cluster, i)
      GROUP BY cluster
    """


_SEMDEDUP_ORACLE = f"""
    WITH {_O_EMB},
    c0 AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    a1 AS ({_sem_assign('e', 'c0')}),
    c1 AS ({_sem_refine('a1')}),
    a2 AS ({_sem_assign('e', 'c1')}),
    c2 AS ({_sem_refine('a2')}),
    af AS ({_sem_assign('e', 'c2')}),
    u AS (
      SELECT vec_id, cluster,
             CASE WHEN sqrt(list_inner_product(v, v)) > 0
                  THEN list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
             END AS uv
      FROM af
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM u a JOIN u b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE list_inner_product(a.uv, b.uv) >= 0.9
    )
    SELECT af.vec_id, af.cluster
    FROM af LEFT JOIN dropped d ON af.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
"""


@register("q_ext_semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def q_ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: Lloyd-refined IVF clusters,
    then drop within-cluster cosine near-duplicates (≥0.9), keeping the
    lowest-id representative per duplicate set.

    The oracle replays the ENTIRE chain in SQL — md5-sampled seed
    centroids, two Lloyd iterations (float32-quantized means make the
    distributed avg engine-portable), final assignment, and the
    within-cluster lower-id-wins drop — so the gate is an exact-value
    check, not rows-only."""
    from databricks_demo_feature_store_spark.textops.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, nlist=8, threshold=0.9, kmeans_iterations=2
    ).select("vec_id", "cluster")


# ---------------------------------------------------------------------------
# Corpus bigram-LM cross-entropy (textops/analysis.bigram_lm_scores)
# ---------------------------------------------------------------------------


@register(
    "q_ext_lm_score",
    oracle=f"""
    WITH {_O_TOKS},
    bigrams AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
      WHERE len(toks) >= 2
    ),
    unigrams AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(toks) AS w FROM toks)
      GROUP BY w
    ),
    vocab AS (SELECT COUNT(*) AS V FROM unigrams),
    bigram_counts AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2
    ),
    model AS (
      SELECT bc.w1, bc.w2,
             {oracle_dround('log2((bc.c2 + 1.0) / (u.c1 + 1.0 * v.V))', 6)} AS logp
      FROM bigram_counts bc
      JOIN unigrams u ON u.w = bc.w1
      CROSS JOIN vocab v
    ),
    per_doc AS (
      SELECT b.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             -(CAST(SUM(CAST(m.logp AS DECIMAL(25,6))) AS DOUBLE)) / COUNT(*) AS ce_raw
      FROM bigrams b
      JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           {oracle_dround('p.ce_raw', 6)} AS cross_entropy_bits
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def q_ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (bits/transition) under a
    Laplace-smoothed corpus bigram LM — the CCNet-style perplexity
    quality signal, exact-checked against DuckDB replaying the identical
    model."""
    from databricks_demo_feature_store_spark.textops.analysis import bigram_lm_scores

    return bigram_lm_scores(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# DSIR importance weighting (textops/sampling.dsir_importance_weights)
# ---------------------------------------------------------------------------

_DSIR_B = 4096


def _o_dsir_feats(table_filter: str) -> str:
    """DuckDB twin of hashed_ngram_features_col over `documents`
    (normalized tokens → tag-prefixed unigrams+bigrams → portable hash
    mod B), one row per feature occurrence."""
    return f"""
      SELECT doc_id, {_o_hash("f", 0)} % {_DSIR_B} AS bucket
      FROM (
        SELECT doc_id, unnest(
          list_concat(
            list_transform(t, w -> concat('u:', w)),
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)), i -> concat('b:', t[i], ' ', t[i + 1]))
                 ELSE CAST([] AS VARCHAR[]) END
          )
        ) AS f
        FROM (
          SELECT doc_id,
                 CASE WHEN regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')
                 END AS t
          FROM documents {table_filter}
        )
      )
    """


@register(
    "q_ext_dsir_weights",
    oracle=f"""
    WITH sf AS ({_o_dsir_feats("")}),
    tf AS ({_o_dsir_feats("WHERE lang = 'en'")}),
    tc AS (SELECT bucket, COUNT(*) AS ct FROM tf GROUP BY bucket),
    sc AS (SELECT bucket, COUNT(*) AS cs FROM sf GROUP BY bucket),
    nt AS (SELECT SUM(ct) AS nt FROM tc),
    ns AS (SELECT SUM(cs) AS ns FROM sc),
    ratios AS (
      SELECT COALESCE(tc.bucket, sc.bucket) AS bucket,
             {oracle_dround(f"ln(((COALESCE(tc.ct, 0) + 1.0) / (nt.nt + 1.0 * {_DSIR_B})) / ((COALESCE(sc.cs, 0) + 1.0) / (ns.ns + 1.0 * {_DSIR_B})))", 6)} AS lr
      FROM tc FULL OUTER JOIN sc ON tc.bucket = sc.bucket
      CROSS JOIN nt CROSS JOIN ns
    ),
    per_doc AS (
      SELECT sf.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             {oracle_dround('CAST(SUM(CAST(r.lr AS DECIMAL(25,6))) AS DOUBLE)', 6)} AS log_weight
      FROM sf JOIN ratios r ON r.bucket = sf.bucket
      GROUP BY sf.doc_id
    )
    SELECT d.doc_id, COALESCE(p.n_feats, 0) AS n_feats, p.log_weight
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
)
def q_ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights of every document toward the English
    subcorpus (hashed uni+bigram bag models, Laplace-smoothed log ratio
    sum) — the data-selection scorer that shifts a raw crawl toward a
    target domain. Exact-checked: DuckDB replays the identical hashed
    featurization and smoothing."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        dsir_importance_weights,
    )

    docs = load(spark, sf_dir, "documents")
    # target ⊂ source: featurize once, filter the same pass (r15)
    return dsir_importance_weights(
        docs, target_filter=F.col("lang") == "en", n_buckets=_DSIR_B
    )


@register("q_ext_dedup_clusters_twophase", oracle=_dedup_clusters_oracle())
def q_ext_dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME near-dup closure as q_ext_dedup_clusters, computed by the
    alternating large-star/small-star algorithm (Kiveris et al. SoCC'14,
    O(log n) rounds regardless of component diameter) instead of
    min-label propagation — both checked against one recursive-CTE
    oracle, so the two distributed CC implementations are proven
    equivalent on real pair graphs, not just unit fixtures."""
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, num_hashes=16, bands=4, threshold=0.7)
    return dedup_clusters(d, pairs, algorithm="two-phase")


@register(
    "q_ext_ann_multiprobe",
    oracle=f"""
    WITH {_O_EMB},
    eb AS (SELECT vec_id, v, {_o_plane_bucket("v", _LSH_PLANES_8)} AS bucket FROM e),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 3),
    qp AS (
      SELECT query_id, qv,
             unnest(list_concat(
               [bucket],
               list_transform(range(1, 9), i ->
                 substr(bucket, 1, i - 1)
                 || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
                 || substr(bucket, i + 1, 8 - i))
             )) AS probe
      FROM qb
    ),
    scored AS (
      SELECT qp.query_id, e.vec_id,
             {oracle_dround("list_inner_product(e.v, qp.qv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(qp.qv, qp.qv)))", 6)} AS cosine
      FROM eb e JOIN qp ON e.bucket = qp.probe
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ext_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-5: each query additionally searches every
    bucket one bit-flip away (~(nbits+1)× candidates for the recall of
    nbits+1 independent tables, still a pure equi-join — only the query
    side explodes). The oracle regenerates the identical probe strings by
    bit-flipping in SQL, so the probing logic itself is exact-checked."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 3),
        k=5,
        nbits=8,
        planes=_LSH_PLANES_8,
        probes=1,
    )


@register(
    "q_ext_chunk_documents",
    oracle=r"""
    WITH normed AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split(norm, ' ') END AS toks
      FROM normed
    ),
    c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 0 THEN 0
                  ELSE 1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT)
             END AS n_chunks
      FROM t
    ),
    chunks AS (
      SELECT doc_id, toks, unnest(range(0, n_chunks)) AS ci FROM c WHERE n_chunks > 0
    )
    SELECT doc_id,
           CAST(ci AS INT) AS chunk_idx,
           CAST(len(toks[ci * 24 + 1 : ci * 24 + 32]) AS INT) AS n_chunk_tokens,
           array_to_string(toks[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
    FROM chunks
    """,
)
def q_ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded document chunking (32-token chunks, 8-token overlap
    → stride 24) — the pre-tokenization splitting step, shuffle-free
    column algebra, exact-checked against DuckDB recomputing the same
    chunk geometry and text."""
    from databricks_demo_feature_store_spark.textops.sampling import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


@register(
    "q_ext_contamination_bloom",
    oracle=f"""
    WITH {_O_SHINGLES},
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE {_EVAL_PRED}),
    corpus AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    shared AS (SELECT DISTINCT c.doc_id, c.s FROM corpus c JOIN ev ON c.s = ev.s)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM shared GROUP BY 1
    """,
)
def q_ext_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constant-memory decontamination path: a Bloom filter over the
    eval shingle hashes pre-filters the corpus before the exact join.
    Checked against the SAME oracle as q_ext_contamination — Bloom
    filters have no false negatives and the exact join verifies every
    survivor, so the scale path provably returns identical results."""
    d = load(spark, sf_dir, "documents")
    return ngram_contamination(
        d, d.where(F.expr(_EVAL_PRED)), k=3, bloom_fpp=0.01,
        bloom_expected_items=100_000,
    )


@register(
    "q_ext_quantization_error",
    oracle=f"""
    WITH {_O_EMB},
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS raw_scale
      FROM e
    ),
    q AS (
      SELECT vec_id, v,
             CASE WHEN raw_scale > 0 THEN raw_scale END AS scale
      FROM s
    ),
    r AS (
      SELECT vec_id, scale, v,
             CASE WHEN scale IS NOT NULL
                  THEN list_transform(v, x -> round(x / scale) * scale)
             END AS recon
      FROM q
    )
    SELECT vec_id,
           {oracle_dround('scale', 6)} AS scale,
           {oracle_dround("list_inner_product(v, recon) / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(recon, recon)))", 6)} AS recon_cosine
    FROM r
    """,
)
def q_ext_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding-quantization reconstruction quality for every
    corpus vector (symmetric per-vector scale, round-half-away codes) —
    the measured cost of 4× smaller embedding storage. DuckDB replays
    the identical quantize→dequantize→cosine chain."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        quantization_error,
    )

    return quantization_error(load(spark, sf_dir, "embeddings"))


@register(
    "q_ext_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_o_hash("CAST(doc_id AS VARCHAR)", 0)} % 1000000 ASC, doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 15
    """,
)
def q_ext_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (≤15 per source, deterministic hash
    ranking) — the RefinedWeb-style guard against one origin dominating
    the corpus. The oracle replays the identical hash ordering."""
    from databricks_demo_feature_store_spark.textops.sampling import cap_per_key

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_key(d, "source", cap=15)


_SPAN_K = 5  # words per span — 5-word windows repeat across the synthetic
# corpus even at sf0.01 (~226 duplicated spans), keeping the oracle
# comparison non-vacuous at every gate scale


@register(
    "q_ext_paragraph_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id,
             array_to_string(t[i*{_SPAN_K}+1 : i*{_SPAN_K}+{_SPAN_K}], ' ') AS span
      FROM toks, LATERAL (SELECT unnest(range(0, len(t) // {_SPAN_K})) AS i)
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(span)), '\s+', ' ', 'g')) AS fingerprint
      FROM spans
    ),
    grp AS (
      SELECT fingerprint,
             COUNT(*) AS n_occurrences,
             COUNT(DISTINCT doc_id) AS n_docs,
             MIN(doc_id) AS representative_id
      FROM fp GROUP BY fingerprint
    )
    SELECT fingerprint, n_occurrences, n_docs, representative_id
    FROM grp WHERE n_occurrences > 1
    """,
)
def q_ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (span-level) exact dedup: chunk each document into
    non-overlapping 5-word spans, fingerprint each span, and report every
    span occurring more than once (boilerplate repeated across the corpus
    — the C4/RefinedWeb intra-document dedup shape; real pipelines span
    on sentences/lines, which is just a different splitter). Composition
    of existing primitives: tokenize → windowed slice+explode →
    fingerprint_col → hash groupBy; the shuffle carries (hash, doc_id)
    only, never span text."""
    from databricks_demo_feature_store_spark.textops.analysis import fingerprint_col

    k = _SPAN_K
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    nspans = F.floor(F.size("t") / k).cast("int")
    idx = F.when(nspans > 0, F.sequence(F.lit(0), nspans - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i * F.lit(k) + 1, F.lit(k))
                ),
            )
        ).alias("span"),
    )
    fp = spans.select("doc_id", fingerprint_col(F.col("span")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("representative_id"),
        )
        .where(F.col("n_occurrences") > 1)
    )


# fastText-style hashed linear quality classifier: explicit term weights
# (multiples of 0.25 — dyadic, so every tf·w product and partial sum is an
# EXACT double on both engines regardless of accumulation order; only the
# final sigmoid needs dround)
_CLF_VOCAB: dict[str, float] = {
    "data": 1.0,
    "query": 0.75,
    "join": 0.5,
    "vector": 0.5,
    "stream": 0.25,
    "slow": -0.5,
    "the": -0.25,
    "a": -0.25,
}
_CLF_DIM = 1 << 18
_CLF_B = -0.5


@register(
    "q_ext_quality_classifier",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, ({_o_hash('tok', 0)}) % {_CLF_DIM} AS bucket,
             COUNT(*) AS tf
      FROM toks GROUP BY 1, 2
    ),
    vocab(term, w) AS (VALUES {", ".join(f"('{t}', CAST({w!r} AS DOUBLE))" for t, w in sorted(_CLF_VOCAB.items()))}),
    wt AS (
      SELECT ({_o_hash('term', 0)}) % {_CLF_DIM} AS bucket, SUM(w) AS weight
      FROM vocab GROUP BY 1
    ),
    contrib AS (
      SELECT tf.doc_id, SUM(tf.tf * wt.weight) AS z
      FROM tf JOIN wt USING (bucket) GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           {oracle_dround(f'1.0 / (1.0 + exp(-(COALESCE(c.z, 0.0) + ({_CLF_B}))))', 6)} AS score
    FROM documents d LEFT JOIN contrib c ON d.doc_id = c.doc_id
    """,
)
def q_ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear (fastText-style) quality classifier scoring — the
    GPT-3/LLaMA-shaped corpus quality filter: term-frequency features
    through the hashing trick, broadcast weight table, sigmoid score per
    document. The oracle replays bucket hashing, collision-folded
    weights, and the exact dyadic-weight dot product."""
    from databricks_demo_feature_store_spark.textops.analysis import (
        hashed_linear_scores,
        vocab_weights,
    )

    d = load(spark, sf_dir, "documents")
    w = vocab_weights(spark, _CLF_VOCAB, dim=_CLF_DIM)
    return hashed_linear_scores(d, w, dim=_CLF_DIM, intercept=_CLF_B)


_SUB_L = 10  # tokens per duplicated-substring window (Lee et al. use 50
# BPE tokens at web scale; 10 keeps the synthetic corpus non-vacuous —
# ~2000 duplicated windows at sf0.01)


@register(
    "q_ext_substring_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT doc_id, i AS pos,
             {_o_hash(f"array_to_string(t[i+1 : i+{_SUB_L}], chr(31))", 0)} AS h
      FROM toks, LATERAL (
        SELECT unnest(range(0, greatest(len(t) - {_SUB_L} + 1, 0))) AS i)
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
    m AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
    fl AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos - LAG(pos) OVER w > {_SUB_L}
                  THEN 1 ELSE 0 END AS is_new
      FROM m
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos ASC)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos ASC
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM fl
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + {_SUB_L} - 1 AS INT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {_SUB_L} AS INT) AS n_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def q_ext_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated substring regions (Lee et al. 2021 substring
    dedup, Spark-shaped): overlapping 10-token window hashes → frequency
    groupBy → per-doc gaps-and-islands merge into maximal repeated runs.
    Catches repeated boilerplate that document-level (fingerprint) and
    span-level (q_ext_paragraph_dedup) dedup both miss. The oracle
    replays window hashing, the >1 frequency filter, and the island
    merge exactly."""
    from databricks_demo_feature_store_spark.textops.dedup import duplicated_spans

    d = load(spark, sf_dir, "documents")
    return duplicated_spans(d, min_len=_SUB_L)


def _keep_best_oracle(threshold: float = 0.7) -> str:
    """Clusters (recursive CTE) × per-doc quality → per-cluster argmax."""
    quality_body = _quality_oracle().split("WITH", 1)[1].lstrip()
    # _quality_oracle is "WITH <ctes> SELECT ..." — keep its CTE chain and
    # its final SELECT as a named CTE
    ctes, final_select = quality_body.rsplit("SELECT doc_id,", 1)
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= {threshold}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS component_id
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    {ctes.rstrip().rstrip(",")},
    quality AS (SELECT doc_id,{final_select}),
    ranked AS (
      SELECT c.component_id, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (
               PARTITION BY c.component_id
               ORDER BY q.quality_score DESC, c.doc_id ASC
             ) AS rn
      FROM comp c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT component_id, doc_id AS kept_doc_id, quality_score
    FROM ranked WHERE rn = 1
    """


@register("q_ext_dedup_keep_best", oracle=_keep_best_oracle())
def q_ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup resolution loop: MinHash-LSH pairs → connected
    components → keep the HIGHEST-QUALITY document per cluster (C4-style
    composite score, doc-id tiebreak) instead of the naive min-id pick —
    what a production corpus pipeline actually ships. One window over
    the (small) cluster assignment; quality is codegen'd column algebra;
    the oracle replays pairs, closure and the argmax."""
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, num_hashes=16, bands=4, threshold=0.7)
    clusters = dedup_clusters(d, pairs)
    quality = d.select("doc_id", quality_score_col(F.col("text")).alias("quality_score"))
    ranked = clusters.join(quality, on="doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("component_id").orderBy(
                F.desc("quality_score"), F.asc("doc_id")
            )
        ),
    )
    return ranked.where(F.col("rn") == 1).select(
        "component_id",
        F.col("doc_id").alias("kept_doc_id"),
        "quality_score",
    )


@register(
    "q_ext_corpus_roundtrip",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def q_ext_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-ingestion round-trip: export the documents table to JSONL,
    re-ingest through ``read_corpus`` (the JSONL crawl path), and
    hash-match the original — proving the ingestion source preserves
    ids, text bytes and metadata exactly."""
    import os

    from databricks_demo_feature_store_spark.sources.corpus import read_corpus

    from databricks_demo_feature_store_spark.queries import scratch_dir

    root = scratch_dir("corpus_roundtrip")
    path = os.path.join(root, "docs_jsonl")
    load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    ).write.json(path)
    out = read_corpus(spark, path, fmt="jsonl", id_field="doc_id")
    return out.select("doc_id", "text", "lang", "source")


@register(
    "q_ext_session_features",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_idx,
             COUNT(*) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
             SUM(CAST(value AS DECIMAL(25,6))) AS value_dec
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(duration_us) AS BIGINT) AS total_duration_us,
           CAST(MAX(duration_us) AS BIGINT) AS max_duration_us,
           CAST(SUM(value_dec) AS DOUBLE) AS total_value
    FROM per_session
    GROUP BY user_id
    """,
)
def q_ext_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral features derived from sessionized events —
    the events→sessions→entity-features composite a behavioral feature
    store ships (session counts, total/max session duration, exact value
    sums). Both window passes share one (user_id, ts, event_id) sort;
    the two aggregations are map-side combinable."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap_us > 30 * 60 * 1_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = flagged.withColumn("session_idx", F.sum("is_new").over(cum))
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("value_dec"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum("duration_us").alias("total_duration_us"),
        F.max("duration_us").alias("max_duration_us"),
        F.sum("value_dec").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — encode + ADC search
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_D = 8, 16, 8  # 64-dim → 8 subvectors of 8, 16 codes each

_PQ_ORACLE = f"""
    WITH {_O_EMB},
    subs AS (
      SELECT e.vec_id AS id, j.sub,
             list_transform(e.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM e, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM subs)
      WHERE code < {_PQ_K}
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM subs s JOIN cb USING (sub))
      WHERE rn = 1
    ),
    qlut AS (
      SELECT q.id AS query_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {_PQ_D} + 1),
               i -> (q.sv[i] - cb.centroid[i]) * (q.sv[i] - cb.centroid[i]))) AS d
      FROM subs q JOIN cb USING (sub)
      WHERE q.id < 3
    ),
    adc AS (
      SELECT l.query_id, e.id AS vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
      FROM enc e JOIN qlut l ON l.sub = e.sub AND l.code = e.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, {oracle_dround('dist', 6)} AS adc_dist, rank
    FROM ranked WHERE rank <= 5
"""


@register("q_ext_pq_adc_topk", oracle=_PQ_ORACLE)
def q_ext_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): md5-sampled
    per-subspace codebooks, m-byte encoding (32× smaller than float32 at
    d=64/m=8), and asymmetric-distance top-5 for 3 sample queries — the
    IVF-PQ storage tier that makes 100 TB embedding stores searchable
    from bytes, not vectors. The oracle replays codebook sampling,
    argmin encoding, the per-query LUT, and the fold-ordered ADC sum
    exactly."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m=_PQ_M, k=_PQ_K).localCheckpoint(eager=False)
    codes = pq_encode(emb, cb, m=_PQ_M)
    return pq_adc_topk(
        codes, cb, emb.filter(F.col("vec_id") < 3), k=5, m=_PQ_M
    )


_IVFPQ_ORACLE = f"""
    WITH {_O_EMB},
    cents8 AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_O_COS_CV} DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM e CROSS JOIN cents8 c)
      WHERE rn = 1
    ),
    subs AS (
      SELECT e.vec_id AS id, j.sub,
             list_transform(e.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM e, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM subs)
      WHERE code < {_PQ_K}
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM subs s JOIN cb USING (sub))
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT e.vec_id AS query_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_O_COS_CV} DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM e CROSS JOIN cents8 c
        WHERE e.vec_id < 3)
      WHERE rn <= 2
    ),
    qlut AS (
      SELECT q.id AS query_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {_PQ_D} + 1),
               i -> (q.sv[i] - cb.centroid[i]) * (q.sv[i] - cb.centroid[i]))) AS d
      FROM subs q JOIN cb USING (sub)
      WHERE q.id < 3
    ),
    adc AS (
      SELECT l.query_id, en.id AS vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
      FROM enc en
      JOIN assign a ON a.vec_id = en.id
      JOIN probes p ON p.cluster = a.cluster
      JOIN qlut l ON l.query_id = p.query_id AND l.sub = en.sub AND l.code = en.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, {oracle_dround('dist', 6)} AS adc_dist, rank
    FROM ranked WHERE rank <= 5
"""


@register("q_ext_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def q_ext_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ index: coarse quantizer shards the corpus into
    inverted lists, PQ compresses every vector to m bytes, a query
    probes its 2 nearest lists and ADC-scores only the code bytes in
    them — the two cost cuts (nprobe/nlist of the corpus, bytes not
    vectors) multiply, which is how FAISS-scale indexes search 10^11
    vectors. Oracle replays coarse assignment, codebooks, encoding,
    probe selection, and the cluster-restricted fold-ordered ADC."""
    from databricks_demo_feature_store_spark.textops.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, nlist=8, nprobe=2,
        m=_PQ_M, pq_k=_PQ_K,
    )


@register(
    "q_ext_exact_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, text, lang, source, n_chars,
             CAST(concat('0x', substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hh
      FROM documents
    ),
    rn AS (
      SELECT doc_id, text, lang, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY hh ASC, doc_id ASC) AS r
      FROM h
    )
    SELECT doc_id, text, lang, source, n_chars FROM rn WHERE r <= 137
    """,
)
def q_ext_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-137-document uniform sample (the k smallest portable key
    hashes win): reproducible across engines and partitionings, a prefix
    of any larger sample with the same seed, and computed with the
    distributed global rank — no single-partition row_number window, no
    driver-side top-k. The oracle replays the md5 hash order."""
    from databricks_demo_feature_store_spark.textops.sampling import exact_k_sample

    d = load(spark, sf_dir, "documents")
    return exact_k_sample(d, 137, "doc_id", seed=7)


_PQ_REFINED_ORACLE = f"""
    WITH {_O_EMB},
    subs AS (
      SELECT e.vec_id AS id, j.sub,
             list_transform(e.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM e, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb0 AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM subs)
      WHERE code < {_PQ_K}
    ),
    enc0 AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb0.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb0.centroid[i]) * (s.sv[i] - cb0.centroid[i]))) ASC,
                          cb0.code ASC) AS rn
        FROM subs s JOIN cb0 USING (sub))
      WHERE rn = 1
    ),
    means AS (
      SELECT e0.sub, e0.code, p.pos, AVG(s.sv[p.pos]) AS mval
      FROM enc0 e0
      JOIN subs s ON s.id = e0.id AND s.sub = e0.sub,
           LATERAL (SELECT unnest(range(1, {_PQ_D} + 1)) AS pos) p
      GROUP BY 1, 2, 3
    ),
    cb AS (
      SELECT sub, code,
             list_transform(list(CAST(mval AS FLOAT) ORDER BY pos),
                            x -> CAST(x AS DOUBLE)) AS centroid
      FROM means GROUP BY sub, code
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM subs s JOIN cb USING (sub))
      WHERE rn = 1
    ),
    qlut AS (
      SELECT q.id AS query_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {_PQ_D} + 1),
               i -> (q.sv[i] - cb.centroid[i]) * (q.sv[i] - cb.centroid[i]))) AS d
      FROM subs q JOIN cb USING (sub)
      WHERE q.id < 3
    ),
    adc AS (
      SELECT l.query_id, e.id AS vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
      FROM enc e JOIN qlut l ON l.sub = e.sub AND l.code = e.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, {oracle_dround('dist', 6)} AS adc_dist, rank
    FROM ranked WHERE rank <= 5
"""


@register("q_ext_pq_refined_topk", oracle=_PQ_REFINED_ORACLE)
def q_ext_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with Lloyd-TRAINED codebooks (the full Jegou et al. recipe):
    md5-sampled seeds, one k-means iteration per subspace (assign by L2
    argmin, recompute per-code element-wise means — float-quantized so
    both engines agree), then m-byte encoding and asymmetric-distance
    top-5. The oracle replays seeding, the full Lloyd iteration, the
    re-encode and the fold-ordered ADC sum exactly."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        pq_refine_codebooks,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb0 = pq_codebooks(emb, m=_PQ_M, k=_PQ_K)
    cb = pq_refine_codebooks(emb, cb0, iterations=1, m=_PQ_M)
    codes = pq_encode(emb, cb, m=_PQ_M)
    return pq_adc_topk(
        codes, cb, emb.filter(F.col("vec_id") < 3), k=5, m=_PQ_M
    )


@register(
    "q_ext_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, text, lang, source, n_chars,
             (CAST(CAST(concat('0x', substr(md5(concat('11:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u,
             CAST(n_chars AS DOUBLE) AS wt
      FROM documents
    ),
    r AS (
      SELECT doc_id, text, lang, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY ln(u) / wt DESC, doc_id ASC) AS rk
      FROM w WHERE wt > 0
    )
    SELECT doc_id, text, lang, source, n_chars FROM r WHERE rk <= 100
    """,
)
def q_ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis):
    exactly 100 documents drawn with probability proportional to length
    — deterministic hash-uniform u, the 100 largest u^(1/w) win (ranked
    as ln(u)/w), selection via the distributed global rank. The oracle
    replays the hash, the E-S key and the rank."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        weighted_k_sample,
    )

    d = load(spark, sf_dir, "documents")
    return weighted_k_sample(d, 100, "doc_id", "n_chars", seed=11)


_RP_ORACLE = f"""
    WITH {_O_EMB}
    SELECT vec_id,
           CAST(ROUND(CAST(list_sum(list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * ([-0.064113, -0.539127, -0.620158, -0.569755, -0.437852, 0.61256, -0.24038, -0.529875, 0.625046, -0.295765, 0.333412, -0.752215, -0.496563, 0.390374, -0.213188, 0.092528, 0.329603, -0.978485, -0.695153, -0.173355, -0.200237, 0.819493, -0.840855, 0.703475, -0.755122, 0.3379, -0.289847, 0.242299, 0.204507, -0.272478, 0.514454, 0.482399, -0.213308, -0.067969, -0.422501, 0.603418, 0.489533, -0.847143, -0.360862, -0.216764, -0.029191, 0.891881, 0.534924, 0.665285, 0.77717, 0.887236, 0.33438, -0.794415, 0.766987, 0.697363, -0.904101, 0.290417, -0.742368, 0.378102, -0.755625, 0.851998, 0.430252, -0.174234, -0.880308, 0.249107, -0.258191, 0.512569, 0.955036, -0.369498])[i])) * 0.5 AS DECIMAL(38,10)), 6) AS DOUBLE) AS p0,
             CAST(ROUND(CAST(list_sum(list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * ([0.05604, 0.889333, 0.85842, -0.330686, -0.049243, -0.357802, 0.867421, -0.102364, -0.238208, -0.887434, -0.560235, 0.978981, 0.647856, -0.829176, -0.504167, 0.975673, -0.627938, 0.746442, 0.422507, -0.312166, 0.94562, -0.047667, 0.784596, 0.987821, -0.129188, 0.056537, 0.574885, 0.816647, -0.079191, -0.425647, 0.669717, 0.914127, 0.866242, -0.166026, -0.403765, -0.023744, -0.832129, 0.943708, 0.113227, -0.239719, -0.969648, -0.248542, 0.320343, 0.082448, -0.168758, 0.05245, 0.273396, 0.947011, -0.954262, 0.312623, -0.003977, 0.685901, -0.895667, 0.1585, -0.448145, 0.34967, 0.649381, -0.141731, 0.123696, -0.785469, 0.613568, 0.766729, -0.148632, 0.781866])[i])) * 0.5 AS DECIMAL(38,10)), 6) AS DOUBLE) AS p1,
             CAST(ROUND(CAST(list_sum(list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * ([0.754309, -0.573216, 0.339286, 0.606362, -0.131759, 0.21667, -0.365564, 0.658278, 0.722004, 0.721943, 0.114378, -0.013933, 0.050017, -0.352027, -0.327113, 0.170287, 0.863397, -0.044443, -0.146346, -0.147029, -0.629848, 0.869322, 0.55633, -0.69794, -0.391054, -0.47581, -0.538222, -0.754144, 0.764134, -0.435583, 0.202133, 0.50689, -0.606307, 0.803888, -0.510706, 0.868849, -0.37175, -0.529745, -0.052808, -0.674009, 0.347464, 0.42117, 0.396561, -0.595353, 0.2585, -0.046551, 0.939787, 0.592396, 0.114283, -0.325747, 0.775326, 0.444584, 0.404695, 0.527198, 0.645191, 0.638497, -0.450251, -0.420168, -0.14032, -0.555066, 0.010412, 0.882112, 0.617091, -0.778775])[i])) * 0.5 AS DECIMAL(38,10)), 6) AS DOUBLE) AS p2,
             CAST(ROUND(CAST(list_sum(list_transform(range(1, 65), i -> CAST(v[i] AS DOUBLE) * ([-0.23538, -0.65588, 0.639121, -0.479667, 0.36144, 0.297699, 0.245983, -0.277522, -0.247815, 0.039612, -0.26794, -0.27268, 0.607682, -0.949773, 0.324404, 0.99891, -0.604824, -0.942847, 0.388598, -0.921141, -0.759941, -0.097646, -0.561955, -0.498959, -0.398938, 0.58598, -0.601978, -0.977169, 0.251586, 0.461231, 0.017113, 0.382699, -0.664982, -0.51957, -0.746612, 0.769192, -0.17384, -0.271187, 0.17226, -0.920801, 0.27059, 0.103753, -0.798624, 0.315912, 0.5655, 0.673618, 0.767354, 0.145429, -0.989233, -0.710493, -0.341563, -0.876956, 0.231369, 0.688229, -0.155878, 0.241626, -0.63685, 0.185928, -0.609979, -0.899875, 0.444606, 0.450076, 0.017415, -0.850032])[i])) * 0.5 AS DECIMAL(38,10)), 6) AS DOUBLE) AS p3
    FROM e
"""


@register("q_ext_random_projection", oracle=_RP_ORACLE)
def q_ext_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 4 dims with
    md5-derived deterministic planes (the sign-LSH plane family):
    distance-preserving dimensionality reduction as pure column algebra
    (one fold per output component over broadcast-inlined constants, no
    shuffle, no Python). The oracle replays every projected component
    with the identical inlined plane literals."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        random_projection,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = random_projection(e, 4, dim=64)
    # the driver gate canonicalizes with pandas sort_values, which cannot
    # sort array cells — emit the four components as scalar columns
    return proj.select(
        "vec_id",
        *[F.element_at("projected", j + 1).alias(f"p{j}") for j in range(4)],
    )


_PACK_L = 256


def _pack_sequences_oracle(L: int = _PACK_L) -> str:
    ordh = _o_hash("CAST(doc_id AS VARCHAR)", "pack")
    return f"""
    WITH {_O_TOKS},
    t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, {ordh} AS ord
      FROM toks WHERE len(toks) > 0
    ),
    c AS (
      SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY ord ASC, doc_id ASC) AS BIGINT) AS cend
      FROM t
    ),
    s AS (SELECT doc_id, n, cend - n AS cstart, cend FROM c),
    e AS (
      SELECT doc_id, n, cstart, cend,
             unnest(range(cstart // {L}, (cend - 1) // {L} + 1)) AS bin_id
      FROM s
    )
    SELECT bin_id, doc_id,
           CAST(greatest(cstart, bin_id * {L}) - cstart AS INT) AS doc_offset,
           CAST(greatest(cstart, bin_id * {L}) - bin_id * {L} AS INT) AS bin_offset,
           CAST(least(cend, (bin_id + 1) * {L}) - greatest(cstart, bin_id * {L}) AS INT)
             AS slice_len,
           CAST(n AS INT) AS n_tokens
    FROM e
    """


@register("q_ext_pack_sequences", oracle=_pack_sequences_oracle())
def q_ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (zero-padding GPT-style
    training bins): deterministic hash-shuffled corpus order, the
    distributed global prefix sum lays every document's token span on
    one stream, and each span explodes to its covered fixed-size bins
    with exact slice bookkeeping. Only (doc_id, n_tokens) ever moves —
    the text never shuffles. The oracle replays the layout with a
    plain global window (fine at oracle scale; the engine side uses the
    range-partitioned prefix-sum machinery the KS statistic certifies).
    """
    from databricks_demo_feature_store_spark.textops.sampling import pack_sequences

    d = load(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=_PACK_L)


_XC_OFFSET = 10_000_000


def _cross_corpus_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.7, cap: int = 64
) -> str:
    from databricks_demo_feature_store_spark.textops.dedup import (
        MINHASH_P,
        minhash_params,
    )

    rows = num_hashes // bands
    base = f"({_o_hash('s', 0)}) % {MINHASH_P}"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * ({base}) + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
            md5(concat_ws(',', {", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))})) AS band_key
            FROM sigs"""
        for b in range(bands)
    )
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_XC_OFFSET} AS doc_id, text FROM documents
      WHERE doc_id % 7 = 0
    ),
    normed AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM src
    ),
    sh AS (
      SELECT doc_id,
             CASE
               WHEN len(t) >= 3 THEN list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' ')))
               WHEN len(t) > 0 AND norm <> '' THEN [norm]
               ELSE CAST([] AS VARCHAR[])
             END AS sh
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM normed)
    ),
    sigs AS (SELECT doc_id, {mins} FROM sh),
    bands AS ({band_selects}),
    wit AS (
      SELECT band, band_key, doc_id AS id_corpus,
             ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
      FROM bands WHERE doc_id < {_XC_OFFSET}
    ),
    cands AS (
      SELECT DISTINCT b.doc_id AS id_batch, w.id_corpus
      FROM bands b
      JOIN wit w ON b.band = w.band AND b.band_key = w.band_key
      WHERE b.doc_id >= {_XC_OFFSET} AND w.rn <= {cap}
    )
    SELECT c.id_batch, c.id_corpus,
           {oracle_dround('CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh)))', 6)} AS jaccard
    FROM cands c
    JOIN sh x ON x.doc_id = c.id_batch
    JOIN sh y ON y.doc_id = c.id_corpus
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}
    """


@register("q_ext_cross_corpus_dedup", oracle=_cross_corpus_oracle())
def q_ext_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch AGAINST an existing corpus (the
    continuous-crawl shape): corpus bands never self-join; the batch's
    bands equi-join corpus bands with a deterministic 64-witness cap per
    bucket, then exact-Jaccard verification runs on candidates only.
    The batch here is every 7th document re-ingested under a new id —
    each must match its origin at jaccard 1.0 plus any true near-dups —
    and the oracle replays banding, witness cap, and verification
    verbatim."""
    from databricks_demo_feature_store_spark.textops.dedup import (
        cross_corpus_dedup_pairs,
    )

    corpus = load(spark, sf_dir, "documents")
    batch = corpus.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + _XC_OFFSET
    )
    return cross_corpus_dedup_pairs(
        batch, corpus, num_hashes=16, bands=4, threshold=0.7,
        max_bucket_witnesses=64,
    )


def _hybrid_rrf_oracle(k: int = 10, k_each: int = 50, rrf_k: int = 60) -> str:
    terms_sql = ", ".join(repr(t) for t in _BM25_TERMS)
    return f"""
    WITH {_O_TOKS},
    lens AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM lens),
    postings AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (
        SELECT t.doc_id, l.dl, unnest(t.toks) AS term
        FROM toks t JOIN lens l ON l.doc_id = t.doc_id
      )
      WHERE term IN ({terms_sql})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
    parts AS (
      SELECT p.doc_id,
             CAST(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
             AS DECIMAL(25,10)) AS part
      FROM postings p JOIN dfreq d ON p.term = d.term CROSS JOIN stats s
    ),
    bagg AS (
      SELECT doc_id, {oracle_dround('CAST(SUM(part) AS DOUBLE)', 6)} AS bm25
      FROM parts GROUP BY 1
    ),
    blex AS (
      SELECT doc_id, bm25, lex_rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
               AS lex_rank
        FROM bagg
      ) WHERE lex_rank <= {k_each}
    ),
    {_O_EMB},
    q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
    vscored AS (
      SELECT e.vec_id AS doc_id, {oracle_dround(_O_COS, 6)} AS cosine
      FROM e CROSS JOIN q
    ),
    vtop AS (
      SELECT doc_id, cosine, vec_rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
               AS vec_rank
        FROM vscored
      ) WHERE vec_rank <= {k_each}
    ),
    fused AS (
      SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
             b.bm25, b.lex_rank, v.cosine, v.vec_rank,
             {oracle_dround(
                 f'COALESCE(1.0 / ({rrf_k} + b.lex_rank), 0.0)'
                 f' + COALESCE(1.0 / ({rrf_k} + v.vec_rank), 0.0)', 9)} AS rrf
      FROM blex b FULL OUTER JOIN vtop v ON b.doc_id = v.doc_id
    )
    SELECT doc_id, bm25, lex_rank, cosine, vec_rank, rrf, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
      FROM fused
    ) WHERE rank <= {k}
    """


@register("q_ext_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def q_ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: BM25 top-50 for the
    3-term lexical query fused with exact cosine top-50 for the query
    embedding (vec_id 7, passed as a 1-row DataFrame — no collect), RRF
    score 1/(60+rank) summed per side, fused top-10. Both arms are
    top-k-bounded before the fusion join, so the fusion cost is O(k)
    regardless of corpus size; the oracle replays both arms and the
    fusion verbatim."""
    from databricks_demo_feature_store_spark.textops.search import hybrid_topk_rrf

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return hybrid_topk_rrf(
        docs, emb, _BM25_TERMS, emb.filter(F.col("vec_id") == 7), k=10, k_each=50
    )


def _minhash_recall_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.7, rate: float = 0.2
) -> str:
    from databricks_demo_feature_store_spark.textops.sampling import RESOLUTION

    cut = int(round(rate * RESOLUTION))
    bucket = f"({_o_hash('CAST(doc_id AS VARCHAR)', 'dedupeval')}) % {RESOLUTION}"
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
            md5(concat_ws(',', {", ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))})) AS band_key
            FROM sigs"""
        for b in range(bands)
    )
    return f"""
    WITH samp AS (
      SELECT doc_id, text FROM documents WHERE {bucket} < {cut}
    ),
    normed AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM samp
    ),
    sh AS (
      SELECT doc_id,
             CASE
               WHEN len(t) >= 3 THEN list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' ')))
               WHEN len(t) > 0 AND norm <> '' THEN [norm]
               ELSE CAST([] AS VARCHAR[])
             END AS sh
      FROM (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM normed)
    ),
    truth AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            >= {threshold} * len(list_distinct(list_concat(x.sh, y.sh)))
    ),
    {_minhash_sig_sql(num_hashes)},
    bands AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
      FROM cands c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_docs_sampled,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT COUNT(*) FROM verified WHERE jaccard >= {threshold}) AS BIGINT)
             AS n_found_pairs,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
             {oracle_dround(
                 'CAST((SELECT COUNT(*) FROM verified WHERE jaccard >= ' + str(threshold) + ') AS DOUBLE)'
                 ' / (SELECT COUNT(*) FROM truth)', 6)}
           END AS recall
    """


@register("q_ext_minhash_recall", oracle=_minhash_recall_oracle())
def q_ext_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure-before-deploy for the LSH geometry: on a deterministic 20%
    hash sample, banding recall = verified-pair count / exact all-pairs
    ground truth at the same Jaccard threshold (precision is 1 by
    construction — candidates are exactly verified). The oracle replays
    the sample, the quadratic ground truth, and the production banding
    pipeline."""
    from databricks_demo_feature_store_spark.textops.dedup import minhash_recall_eval

    d = load(spark, sf_dir, "documents")
    return minhash_recall_eval(d, sample_rate=0.2)


def _ndcg_oracle(k: int = 10, n_queries: int = 16) -> str:
    g9 = lambda expr: (  # noqa: E731
        f"CAST({oracle_dround(expr, 9)} AS DECIMAL(38,9))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id % {n_queries} AS query_id, vec_id AS doc_id,
             CAST(label % 4 AS INT) AS rel,
             {oracle_dround('CAST(embedding[3] AS DOUBLE)', 6)} AS s
      FROM embeddings
    ),
    runs AS (
      SELECT query_id, doc_id, rel,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY s DESC, doc_id ASC
             ) AS pos
      FROM q
    ),
    dcg AS (
      SELECT query_id,
             SUM({g9('(pow(2.0, rel) - 1.0) / log2(pos + 1.0)')}) AS dcg
      FROM runs WHERE pos <= {k} GROUP BY query_id
    ),
    ipos AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rel DESC, doc_id ASC
             ) AS ip
      FROM q WHERE rel > 0
    ),
    ideal AS (
      SELECT query_id,
             SUM({g9('(pow(2.0, rel) - 1.0) / log2(ip + 1.0)')}) AS idcg,
             COUNT(*) AS nrel
      FROM ipos WHERE ip <= {k} GROUP BY query_id
    )
    SELECT d.query_id,
           {oracle_dround('CAST(d.dcg AS DOUBLE)', 6)} AS dcg,
           {oracle_dround('CAST(COALESCE(i.idcg, 0) AS DOUBLE)', 6)} AS idcg,
           CASE WHEN COALESCE(i.idcg, 0) > 0 THEN
             {oracle_dround('CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE)', 6)}
           END AS ndcg,
           CAST(COALESCE(i.nrel, 0) AS BIGINT) AS n_rel
    FROM dcg d LEFT JOIN ideal i USING (query_id)
    """


@register("q_ext_ndcg_eval", oracle=_ndcg_oracle())
def q_ext_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a deterministic retrieval run against graded judgments
    (exponential-gain Järvelin–Kekäläinen form) — the ranking-quality
    tier that closes the retrieval-evaluation loop next to recall@k
    (`q_ext_ann_recall`) and the fused ranker (`q_ext_hybrid_rrf`).
    Queries are the vec_id mod-16 classes, the run ranks docs by a
    rounded embedding coordinate (rounding makes cross-engine ordering
    exact; ties break on doc_id), judgments grade label mod 4. Gains are
    rounded to 9 decimals and summed in DECIMAL(38,9), so the per-query
    DCG/IDCG/NDCG hash-match DuckDB bit-for-bit."""
    from databricks_demo_feature_store_spark.textops.search import ndcg_at_k

    emb = load(spark, sf_dir, "embeddings")
    qrels = emb.select(
        (F.col("vec_id") % 16).alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        (F.col("label") % 4).cast("int").alias("rel"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("__s"), F.asc("doc_id"))
    runs = (
        emb.select(
            (F.col("vec_id") % 16).alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            dround(F.element_at("embedding", 3).cast("double"), 6).alias("__s"),
        )
        .select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 10)
    )
    return ndcg_at_k(runs, qrels, k=10)


@register(
    "q_ext_pmi_collocations",
    oracle=f"""
    WITH n AS (
      SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    toks AS (SELECT string_split(norm, ' ') AS t FROM n WHERE norm <> ''),
    bg AS (
      SELECT UNNEST(list_transform(range(1, len(t)),
                                   i -> {{'w1': t[i], 'w2': t[i+1]}})) AS s
      FROM toks WHERE len(t) >= 2
    ),
    counts AS (SELECT s.w1 AS w1, s.w2 AS w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
    l AS (SELECT w1, SUM(n_ab) AS n_a FROM counts GROUP BY w1),
    r AS (SELECT w2, SUM(n_ab) AS n_b FROM counts GROUP BY w2),
    tot AS (SELECT SUM(n_ab) AS nn FROM counts)
    SELECT c.w1, c.w2,
           CAST(c.n_ab AS BIGINT) AS n_ab,
           CAST(l.n_a AS BIGINT) AS n_a,
           CAST(r.n_b AS BIGINT) AS n_b,
           {oracle_dround('ln(CAST(c.n_ab AS DOUBLE) * tot.nn / (CAST(l.n_a AS DOUBLE) * r.n_b))', 6)} AS pmi
    FROM counts c
    JOIN l ON c.w1 = l.w1 JOIN r ON c.w2 = r.w2 CROSS JOIN tot
    WHERE c.n_ab >= 5
    """,
)
def q_ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over the document corpus: adjacent-bigram PMI
    with exact contingency margins, hapax tail pruned at count >= 5 —
    the multi-word-unit detector a tokenizer/curation pipeline runs
    before vocabulary decisions. The oracle replays the tokenization,
    margin sums, and log-ratio."""
    from databricks_demo_feature_store_spark.textops.analysis import (
        pmi_collocations,
    )

    d = load(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5)


def _mmr_oracle(k: int = 5, k_each: int = 12, lam: float = 0.7) -> str:
    l6 = repr(float(lam))
    om = repr(1.0 - float(lam))
    steps = []
    prev_sel = "s1"
    for t in range(2, k + 1):
        sel_union = " UNION ALL ".join(f"SELECT q, id FROM s{j}" for j in range(1, t))
        steps.append(f"""
    rem{t} AS (
      SELECT c.q, c.id, c.rel FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM ({sel_union}) s
                        WHERE s.q = c.q AND s.id = c.id)
    ),
    pen{t} AS (
      SELECT p.q, p.ida AS id, MAX(p.sim) AS pen
      FROM psim p JOIN ({sel_union}) s ON p.q = s.q AND p.idb = s.id
      GROUP BY p.q, p.ida
    ),
    sc{t} AS (
      SELECT r.q, r.id, r.rel,
             {l6} * r.rel - {om} * COALESCE(pen.pen, 0.0) AS mmr
      FROM rem{t} r LEFT JOIN pen{t} pen ON r.q = pen.q AND r.id = pen.id
    ),
    s{t} AS (
      SELECT q, id, rel, mmr, {t} AS step FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY mmr DESC, id ASC) AS rn
        FROM sc{t}
      ) WHERE rn = 1
    )""")
        prev_sel = f"s{t}"
    all_steps = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, k + 1))
    return f"""
    WITH {_O_EMB},
    qv AS (SELECT vec_id AS q, v AS qvec FROM e WHERE vec_id < 4),
    cand AS (
      SELECT q, vec_id AS id, rel FROM (
        SELECT qv.q, e.vec_id,
               {oracle_dround(_O_COS.replace('q.qv', 'qv.qvec'), 6)} AS rel,
               ROW_NUMBER() OVER (
                 PARTITION BY qv.q
                 ORDER BY {oracle_dround(_O_COS.replace('q.qv', 'qv.qvec'), 6)} DESC,
                          e.vec_id ASC
               ) AS rnk
        FROM e CROSS JOIN qv
      ) WHERE rnk <= {k_each}
    ),
    cv AS (SELECT c.q, c.id, c.rel, e.v FROM cand c JOIN e ON c.id = e.vec_id),
    psim AS (
      SELECT a.q, a.id AS ida, b.id AS idb,
             {oracle_dround(
                 'COALESCE(list_inner_product(a.v, b.v) / '
                 '(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 0.0)',
                 6)} AS sim
      FROM cv a JOIN cv b ON a.q = b.q AND a.id <> b.id
    ),
    s1 AS (
      SELECT q, id, rel, {l6} * rel AS mmr, 1 AS step FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q ORDER BY {l6} * rel DESC, id ASC) AS rn
        FROM cand
      ) WHERE rn = 1
    ),{",".join(steps)}
    SELECT q AS query_id, id AS vec_id, CAST(step AS INT) AS mmr_rank,
           {oracle_dround('rel', 6)} AS relevance,
           {oracle_dround('mmr', 6)} AS mmr_score
    FROM ({all_steps})
    """


@register("q_ext_mmr_rerank", oracle=_mmr_oracle())
def q_ext_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity re-ranking of brute-force
    cosine top-12 candidates for 4 queries (k = 5, λ = 0.7) — the
    post-retrieval pass that keeps a RAG context window from filling
    with paraphrases. The entire greedy trajectory (rounded pairwise
    sims, penalty maxima, id tie-breaks) is replayed by the oracle as
    five unrolled CTE steps."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    emb = load(spark, sf_dir, "embeddings")
    cands = brute_force_topk(emb, emb.filter(F.col("vec_id") < 4), k=12)
    return mmr_rerank(cands, emb, k=5, lam=0.7)


@register(
    "q_ext_vocab_coverage",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY token
    ),
    tot AS (SELECT SUM(n) AS t FROM counts),
    ranked AS (
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS vocab_rank,
             SUM(n) OVER (ORDER BY n DESC, token ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_n
      FROM counts
    )
    SELECT token, CAST(n AS BIGINT) AS n,
           CAST(vocab_rank AS BIGINT) AS vocab_rank,
           CAST(cum_n AS BIGINT) AS cum_count,
           {oracle_dround('CAST(cum_n AS DOUBLE) / tot.t', 6)} AS coverage
    FROM ranked CROSS JOIN tot
    WHERE vocab_rank <= 500
    """,
)
def q_ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary sizing with coverage accounting: the 500 most frequent
    corpus tokens, each with its frequency rank and the cumulative share
    of all token occurrences a vocabulary truncated there would cover —
    the OOV-rate sweep behind tokenizer-vocabulary and hashing-width
    decisions. Rank and cumulative sum run on the distributed
    `attach_global_rank`/`attach_global_cumsum` primitives (no
    single-task ORDER BY window); the oracle replays the tokenization,
    the (count DESC, token ASC) total order, and the one exact-integer
    division per row."""
    from databricks_demo_feature_store_spark.textops.analysis import (
        vocab_coverage,
    )

    d = load(spark, sf_dir, "documents")
    return vocab_coverage(d, top_n=500)


@register(
    "q_ext_group_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(concat('7:',
                  CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY hv ASC, doc_id ASC) AS rn
      FROM h
    )
    SELECT doc_id, lang FROM r WHERE rn <= 3
    """,
)
def q_ext_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-group exact-k sampling: exactly 3 documents per
    language, the 3 smallest portable key-hashes winning per group —
    the per-language eval-fixture builder (uniform within group, stable
    across engines, prefix-composable as k grows). One partitioned
    window, one shuffle on the group key. The oracle replays the hash
    permutation and the per-group ranking."""
    from databricks_demo_feature_store_spark.textops.sampling import (
        exact_k_per_group,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return exact_k_per_group(d, "lang", 3, "doc_id", seed=7)


@register(
    "q_ext_matryoshka_recall",
    oracle=f"""
    WITH {_O_EMB},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    full_k AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle_dround(_O_COS, 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM e CROSS JOIN q
      ) WHERE rank <= 5
    ),
    et AS (SELECT vec_id, v[1:16] AS v FROM e),
    qt AS (SELECT vec_id AS query_id, v[1:16] AS qv FROM e WHERE vec_id < 8),
    trunc_k AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle_dround("list_inner_product(e.v, q.qv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv)))", 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM et e CROSS JOIN qt q
      ) WHERE rank <= 5
    )
    SELECT x.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           {oracle_dround('CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*)', 6)} AS recall
    FROM full_k x
    LEFT JOIN trunc_k a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    """,
)
def q_ext_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: recall@5 of the exact ranking
    on the first 16 of 64 embedding dims vs the full-dimension exact
    ranking, for 8 sample queries — the measurement that justifies
    serving a nested embedding's cheap prefix for first-stage retrieval
    (4× cheaper distances) before a full-dim rerank. Both rankings are
    deterministic; the oracle replays both and the intersection."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        truncated_dim_recall_at_k,
    )

    emb = load(spark, sf_dir, "embeddings")
    return truncated_dim_recall_at_k(
        emb, emb.filter(F.col("vec_id") < 8), k=5, trunc_dim=16
    )


@register(
    "q_ext_two_stage_topk",
    oracle=f"""
    WITH {_O_EMB},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    et AS (SELECT vec_id, v[1:16] AS v FROM e),
    qt AS (SELECT vec_id AS query_id, v[1:16] AS qv FROM e WHERE vec_id < 8),
    stage1 AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle_dround("list_inner_product(e.v, q.qv) / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv)))", 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM et e CROSS JOIN qt q
      ) WHERE rank <= 20
    ),
    rerank AS (
      SELECT s.query_id, e.vec_id,
             {oracle_dround(_O_COS, 6)} AS cosine
      FROM stage1 s
      JOIN e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM rerank
    ) WHERE rank <= 5
    """,
)
def q_ext_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval end-to-end: 16-of-64-dim prefix scan keeps 20
    candidates per query (4× cheaper distances over the corpus), the
    full-dimension cosine reranks only those 20 and returns the top 5 —
    the deployable cheap-retrieve/exact-rerank shape the Matryoshka
    recall measurement justifies. The oracle replays both stages and
    the final ranking."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        two_stage_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    return two_stage_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, candidates=20, trunc_dim=16
    )


@register(
    "q_ext_filtered_ann",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
    survivors AS (SELECT * FROM e WHERE label IN (1, 3, 5)),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {oracle_dround(_O_COS, 6)} AS cosine
      FROM survivors e CROSS JOIN q
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def q_ext_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact top-5 by cosine among vectors whose
    label is in {1,3,5}, for 4 query vectors — the vector-database
    metadata-filter staple. The predicate is row-local, so it pushes into
    the corpus scan (row-group pruning at scale) BEFORE any scoring; the
    IVF variant of the same operator additionally prunes by probed
    cluster partition (recall-vs-oversample measured in pytest)."""
    from databricks_demo_feature_store_spark.textops.similarity import (
        filtered_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    return filtered_topk(
        emb,
        emb.filter(F.col("vec_id") < 4),
        predicate=F.col("label").isin(1, 3, 5),
        k=5,
        strategy="exact",
    )


@register(
    "q_ext_semantic_contamination",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 50 = 7),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 <> 7),
    scored AS (
      SELECT c.cid, b.bid,
             {oracle_dround("list_inner_product(c.cv, b.bv) / (sqrt(list_inner_product(c.cv, c.cv)) * sqrt(list_inner_product(b.bv, b.bv)))", 6)} AS cos
      FROM c CROSS JOIN b
    ),
    hits AS (SELECT * FROM scored WHERE cos >= 0.25),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
                                   ORDER BY cos DESC, bid ASC) AS rn
      FROM hits
    )
    SELECT cid AS vec_id, bid AS bench_id, cos AS cosine
    FROM best WHERE rn = 1
    """,
)
def q_ext_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level benchmark decontamination: corpus vectors whose
    cosine to any held-out 'benchmark' vector (every 50th id) reaches
    0.25 are flagged with their best match — catches paraphrased eval
    leakage that shares no shingles with the training text. Benchmark
    broadcast, corpus scanned once, per-item max collapses map-side."""
    from databricks_demo_feature_store_spark.textops.curation import (
        semantic_contamination,
    )

    emb = load(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 50 == 7)
    corpus = emb.where(F.col("vec_id") % 50 != 7)
    return semantic_contamination(corpus, bench, threshold=0.25)


_INDEX_REFRESH_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    base AS (SELECT * FROM e WHERE vec_id % 10 <> 3),
    live AS (SELECT * FROM e WHERE vec_id % 10 <> 6),
    cents AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT l.vec_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY l.vec_id
                 ORDER BY list_inner_product(l.v, c.cv)
                   / (sqrt(list_inner_product(l.v, l.v))
                      * sqrt(list_inner_product(c.cv, c.cv)))
                   DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM live l CROSS JOIN cents c)
      WHERE rn = 1
    ),
    bsubs AS (
      SELECT b.vec_id AS id, j.sub,
             list_transform(b.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM base b, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM bsubs)
      WHERE code < {_PQ_K}
    ),
    lsubs AS (
      SELECT l.vec_id AS id, j.sub,
             list_transform(l.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM live l, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM lsubs s JOIN cb USING (sub))
      WHERE rn = 1
    )
    SELECT a.vec_id, a.cluster,
           string_agg(CAST(en.code AS VARCHAR), '-' ORDER BY en.sub) AS codes_str
    FROM assign a JOIN enc en ON en.id = a.vec_id
    GROUP BY a.vec_id, a.cluster
"""


@register("q_ext_index_refresh", oracle=_INDEX_REFRESH_ORACLE)
def q_ext_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted + incrementally-MAINTAINED IVF-PQ index (the
    `textops/index_store.py VectorIndexStore` lifecycle): build on a
    base corpus (the only full-corpus pass — quantizers frozen), upsert
    a new embedding batch (assign+encode O(batch) against the stored
    broadcast quantizers, MERGE on the id PK), tombstone-delete a slice
    (the CDC discipline), and return the maintained inverted lists +
    code bytes. The oracle re-encodes the LIVE corpus from scratch with
    the base-trained quantizers — merged-index ≡ rebuilt-index, the
    invariant that makes incremental maintenance trustworthy at 100 TB
    (the `q_incr_agg_refresh` proof applied to inverted lists)."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base)
    store.upsert(batch)
    store.delete(dels)
    return store.postings().select(
        "vec_id",
        "cluster",
        F.concat_ws(
            "-", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes_str"),
    )


_STREAM_INDEX_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    base AS (SELECT * FROM e WHERE vec_id % 10 <> 3),
    cents AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT l.vec_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY l.vec_id
                 ORDER BY list_inner_product(l.v, c.cv)
                   / (sqrt(list_inner_product(l.v, l.v))
                      * sqrt(list_inner_product(c.cv, c.cv)))
                   DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM e l CROSS JOIN cents c)
      WHERE rn = 1
    ),
    bsubs AS (
      SELECT b.vec_id AS id, j.sub,
             list_transform(b.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM base b, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM bsubs)
      WHERE code < {_PQ_K}
    ),
    lsubs AS (
      SELECT l.vec_id AS id, j.sub,
             list_transform(l.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM e l, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM lsubs s JOIN cb USING (sub))
      WHERE rn = 1
    )
    SELECT a.vec_id, a.cluster,
           string_agg(CAST(en.code AS VARCHAR), '-' ORDER BY en.sub) AS codes_str
    FROM assign a JOIN enc en ON en.id = a.vec_id
    GROUP BY a.vec_id, a.cluster
"""


@register("q_stream_index_upserts", oracle=_STREAM_INDEX_ORACLE)
def q_stream_index_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED vector-index maintenance: the index is built once on the
    base corpus (frozen quantizers), then the held-out embeddings ARRIVE
    as two stream waves folded in by foreachBatch upserts — assign +
    encode O(batch) against the broadcast quantizers, MERGE on the id
    PK, exactly-once by idempotence (re-encoding the same vectors
    converges; the crash-replay pytest interrupts this exact path).
    Returns the maintained postings over the FULL corpus; the oracle
    re-encodes everything from scratch with the base-trained quantizers
    — streamed-maintained ≡ rebuilt."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    import os as _os

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    arriving = emb.filter(F.col("vec_id") % 10 == 3)

    root = scratch_dir("stream_index")
    mgr = FeatureStoreManager(spark, _os.path.join(root, "fs"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base)

    inbox = _os.path.join(root, "inbox")
    ckpt = _os.path.join(root, "ckpt")
    for r in range(2):
        arriving.filter(F.col("vec_id") % 2 == r).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("append").json(inbox)
        store.upsert_stream(
            spark, inbox, ckpt, schema="vec_id bigint, embedding array<float>"
        ).awaitTermination()
    return store.postings().select(
        "vec_id",
        "cluster",
        F.concat_ws(
            "-", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes_str"),
    )


_INDEX_SEARCH_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    base AS (SELECT * FROM e WHERE vec_id % 10 <> 3),
    live AS (SELECT * FROM e WHERE vec_id % 10 <> 6),
    cents AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT l.vec_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY l.vec_id
                 ORDER BY list_inner_product(l.v, c.cv)
                   / (sqrt(list_inner_product(l.v, l.v))
                      * sqrt(list_inner_product(c.cv, c.cv)))
                   DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM live l CROSS JOIN cents c)
      WHERE rn = 1
    ),
    bsubs AS (
      SELECT b.vec_id AS id, j.sub,
             list_transform(b.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM base b, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    cb AS (
      SELECT sub, code, sv AS centroid FROM (
        SELECT sub, sv,
               ROW_NUMBER() OVER (
                 PARTITION BY sub
                 ORDER BY md5(CAST(sub AS VARCHAR) || ':' || CAST(id AS VARCHAR)) ASC,
                          id ASC) - 1 AS code
        FROM bsubs)
      WHERE code < {_PQ_K}
    ),
    lsubs AS (
      SELECT l.vec_id AS id, j.sub,
             list_transform(l.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM live l, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j
    ),
    enc AS (
      SELECT id, sub, code FROM (
        SELECT s.id, s.sub, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY list_sum(list_transform(range(1, {_PQ_D} + 1),
                   i -> (s.sv[i] - cb.centroid[i]) * (s.sv[i] - cb.centroid[i]))) ASC,
                          cb.code ASC) AS rn
        FROM lsubs s JOIN cb USING (sub))
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT q.vec_id AS query_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_inner_product(q.v, c.cv)
                   / (sqrt(list_inner_product(q.v, q.v))
                      * sqrt(list_inner_product(c.cv, c.cv)))
                   DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM e q CROSS JOIN cents c
        WHERE q.vec_id < 3)
      WHERE rn <= 2
    ),
    qlut AS (
      SELECT q.vec_id AS query_id, cb.sub, cb.code,
             list_sum(list_transform(range(1, {_PQ_D} + 1),
               i -> (qs.sv[i] - cb.centroid[i]) * (qs.sv[i] - cb.centroid[i]))) AS d
      FROM e q,
           LATERAL (SELECT unnest(range(0, {_PQ_M})) AS sub) j,
           LATERAL (SELECT list_transform(
                      q.v[j.sub*{_PQ_D}+1 : j.sub*{_PQ_D}+{_PQ_D}],
                      x -> CAST(x AS DOUBLE)) AS sv) qs
      JOIN cb ON cb.sub = j.sub
      WHERE q.vec_id < 3
    ),
    adc AS (
      SELECT l.query_id, en.id AS vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
      FROM enc en
      JOIN assign a ON a.vec_id = en.id
      JOIN probes p ON p.cluster = a.cluster
      JOIN qlut l ON l.query_id = p.query_id AND l.sub = en.sub AND l.code = en.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, {oracle_dround('dist', 6)} AS adc_dist, rank
    FROM ranked WHERE rank <= 5
"""


@register("q_ext_index_search", oracle=_INDEX_SEARCH_ORACLE)
def q_ext_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the MAINTAINED index (the state q_ext_index_refresh
    certifies): after build-on-base + upsert + tombstone-delete, three
    query vectors probe their 2 nearest stored centroids and ADC-score
    only the LIVE code bytes in those lists — deleted vectors can never
    be returned because the tombstone fold happens at the postings scan,
    below scoring. The oracle replays probe selection, the per-query
    LUT and the cluster-restricted fold-ordered ADC over the live set
    with the base-trained quantizers."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index_search"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base)
    store.upsert(batch)
    store.delete(dels)
    return store.search(
        emb.filter(F.col("vec_id") < 3), k=5, nprobe=2, query_id_col="vec_id"
    )


# rebuild-policy oracle: the SAME probe/LUT/ADC replay as the search
# oracle, but with quantizers retrained on the post-delete LIVE corpus —
# exactly what rebuild_if_drifted does once the dead-fraction threshold
# trips (kmeans_iterations=0 ⇒ deterministic md5-ordered seeding, so the
# oracle can replay training).
_INDEX_REBUILD_ORACLE = _INDEX_SEARCH_ORACLE.replace(
    "base AS (SELECT * FROM e WHERE vec_id % 10 <> 3)",
    "base AS (SELECT * FROM e WHERE vec_id % 10 NOT IN (4, 5, 6))",
).replace(
    "live AS (SELECT * FROM e WHERE vec_id % 10 <> 6)",
    "live AS (SELECT * FROM e WHERE vec_id % 10 NOT IN (4, 5, 6))",
)


@register("q_ext_index_rebuild_policy", oracle=_INDEX_REBUILD_ORACLE)
def q_ext_index_rebuild_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-drift-triggered rebuild (VectorIndexStore
    rebuild_if_drifted) — the loop-closure on q_ext_index_doctor's
    health signals: build-on-base + upsert + a 30% tombstone wave trips
    the dead-fraction threshold, the policy retrains the quantizers on
    the CURRENT live corpus (sourced from the flat vector tier — the
    index heals itself) and rebuilds the postings; the gated output is
    the post-rebuild search. The oracle independently replays quantizer
    training on the live set + probe/LUT/ADC — value equality proves
    the policy rebuilt from exactly the live corpus with exactly the
    frozen-seed training. The recall-non-regression half (post-rebuild
    ≥ drifted) and the below-threshold no-op are pinned in
    tests/test_index_store.py."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(
        (F.col("vec_id") % 10 >= 4) & (F.col("vec_id") % 10 <= 6)
    ).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index_rebuild"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base, store_vectors=True)
    store.upsert(batch)
    store.delete(dels)
    fired = store.rebuild_if_drifted(max_dead_fraction=0.2)
    assert fired, "the 30% tombstone wave must trip the rebuild policy"
    return store.search(
        emb.filter(F.col("vec_id") < 3), k=5, nprobe=2, query_id_col="vec_id"
    )


@register("q_ext_index_partitioned", oracle=_INDEX_SEARCH_ORACLE)
def q_ext_index_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME maintained-index lifecycle and search as
    q_ext_index_search, on the CLUSTER-PARTITIONED postings layout
    (``VectorIndexStore(partition_postings=True)``): the inverted lists
    are hive-partitioned by a string projection of the cluster id, so
    the probe is a PARTITION-PRUNED scan of ~nprobe directories — the
    at-scale layout. Identical oracle proves pruned search ≡ full-scan
    search through build → upsert → tombstone-delete; the pruning
    effectiveness itself (probe reads only probed partitions' files)
    is pinned in tests/test_index_store.py."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index_part"))
    store = VectorIndexStore(
        mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K, partition_postings=True
    )
    store.build(base)
    store.upsert(batch)
    store.delete(dels)
    return store.search(
        emb.filter(F.col("vec_id") < 3), k=5, nprobe=2, query_id_col="vec_id"
    )


@register(
    "q_ext_index_doctor",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    base AS (SELECT * FROM e WHERE vec_id % 10 <> 3),
    cents AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM base ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cluster FROM (
        SELECT l.vec_id, c.centroid_id AS cluster,
               ROW_NUMBER() OVER (PARTITION BY l.vec_id
                 ORDER BY list_inner_product(l.v, c.cv)
                   / (sqrt(list_inner_product(l.v, l.v))
                      * sqrt(list_inner_product(c.cv, c.cv)))
                   DESC NULLS LAST, c.centroid_id ASC) AS rn
        FROM e l CROSS JOIN cents c)
      WHERE rn = 1
    ),
    counts AS (
      SELECT cluster,
             CAST(SUM(CASE WHEN vec_id % 10 <> 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
             CAST(SUM(CASE WHEN vec_id % 10 = 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dead
      FROM assign GROUP BY cluster
    )
    SELECT c.centroid_id AS cluster,
           COALESCE(k.n_live, 0) AS n_live,
           COALESCE(k.n_dead, 0) AS n_dead,
           {oracle_dround('CAST(COALESCE(k.n_live, 0) AS DOUBLE) / CAST(GREATEST(COALESCE(k.n_live, 0) + COALESCE(k.n_dead, 0), 1) AS DOUBLE)', 6)}
             AS live_share
    FROM cents c LEFT JOIN counts k ON k.cluster = c.centroid_id
    ORDER BY cluster
    """,
)
def q_ext_index_doctor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index HEALTH after maintenance — the monitoring leg of the
    build→maintain→monitor vector-index lifecycle: per inverted list,
    live/tombstoned posting counts and the live share (skewed n_live →
    rebalance; low live share → vacuum; both are the rebuild triggers an
    operator watches). Tombstones keep their cluster precisely so this
    attribution — and partition-pruned compaction at scale — is
    possible. The oracle recomputes every count from the base-trained
    assignment of the full corpus."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index_doctor"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base)
    store.upsert(batch)
    store.delete(dels)
    return store.health()


_URL_SYNTH = """
      concat(
        CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END, '://',
        CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END,
        'site', CAST(doc_id % 7 AS VARCHAR), '.example.',
        CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END,
        CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END,
        '/p/', CAST(doc_id % 11 AS VARCHAR),
        CASE WHEN doc_id % 2 = 0 THEN '?utm_source=news&b=2&a=1'
             ELSE '?a=1&b=2' END,
        CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END)
"""


@register(
    "q_ext_url_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_SYNTH} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
             regexp_extract(url, '\\?([^#]*)', 1) AS rawq
      FROM raw
    ),
    norm AS (
      SELECT doc_id, scheme,
             regexp_replace(auth, ':[0-9]+$', '') AS host,
             regexp_extract(auth, ':([0-9]+)$', 1) AS port,
             CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
             list_sort(list_filter(string_split(rawq, '&'),
               p -> p <> '' AND NOT regexp_matches(p,
                 '^(utm_[^=]*|gclid|fbclid|msclkid|ref|mc_cid|mc_eid)=')))
               AS params
      FROM parts
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' ||
             CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN host ELSE host || ':' || port END ||
             path ||
             CASE WHEN len(params) = 0 THEN ''
                  ELSE '?' || array_to_string(params, '&') END AS canonical_url,
             host
      FROM norm
    ),
    dom AS (
      SELECT doc_id, canonical_url,
             CASE
               WHEN len(string_split(host, '.')) <= 1 THEN host
               WHEN len(string_split(host, '.')) >= 3
                    AND len(string_split(host, '.')[-1]) = 2
                    AND string_split(host, '.')[-2]
                        IN ('co','com','net','org','gov','edu','ac')
               THEN array_to_string(string_split(host, '.')[-3:], '.')
               ELSE array_to_string(string_split(host, '.')[-2:], '.')
             END AS registered_domain
      FROM canon
    )
    SELECT canonical_url, registered_domain,
           COUNT(*) AS n_variants,
           MIN(doc_id) AS keeper_id
    FROM dom
    GROUP BY canonical_url, registered_domain
    """,
)
def q_ext_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the step a web-crawl pipeline runs BEFORE any
    content hashing: deterministic re-fetch variants of each logical
    page (tracking params, fragments, case, default ports, param order)
    collapse under canonicalization; per canonical URL the variant
    count and the min-id keeper, with the registered domain attached
    for the per-site caps/stats that follow. All row-local column
    expressions (scan-speed, codegen) + ONE (canonical_url) hash agg —
    the exact-dedup shuffle shape. The oracle replays the component
    regexes, the tracking-param filter+sort, default-port and ccTLD
    second-level-registry rules."""
    from databricks_demo_feature_store_spark.textops.urls import (
        canonicalize_url_col,
        registered_domain_col,
        url_host_col,
    )

    d = load(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_URL_SYNTH.replace("VARCHAR", "STRING")).alias("url"))
    return (
        raw.select(
            "doc_id",
            canonicalize_url_col(F.col("url")).alias("canonical_url"),
            registered_domain_col(url_host_col(F.col("url"))).alias(
                "registered_domain"
            ),
        )
        .groupBy("canonical_url", "registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


_INDEX_REFINE_ORACLE = _INDEX_SEARCH_ORACLE.replace(
    """    ranked AS (
      SELECT query_id, vec_id, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, {}
    FROM ranked WHERE rank <= 5
""".format(oracle_dround('dist', 6) + " AS adc_dist, rank"),
    """    shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist ASC, vec_id ASC) AS rn
        FROM adc)
      WHERE rn <= 15
    ),
    rerank AS (
      SELECT s.query_id, s.vec_id,
             {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY {cos} DESC, s.vec_id ASC) AS rank
      FROM shortlist s
      JOIN live v ON v.vec_id = s.vec_id
      JOIN e q ON q.vec_id = s.query_id
    )
    SELECT query_id, vec_id, {rcos} AS cosine, rank
    FROM rerank WHERE rank <= 5
""".format(
        cos="(list_inner_product(v.v, q.v) / (sqrt(list_inner_product(v.v, v.v)) * sqrt(list_inner_product(q.v, q.v))))",
        rcos=oracle_dround("cosine", 6),
    ),
)


@register("q_ext_index_refine", oracle=_INDEX_REFINE_ORACLE)
def q_ext_index_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined search over the maintained index — the FAISS-IVFPQR /
    DiskANN two-tier shape: ADC shortlists k·3 candidates per query
    from the probed live code bytes, ONLY the shortlist joins back to
    the flat vector tier (maintained next to the postings by the same
    MERGE) for an exact-cosine rerank, so quantization error leaves the
    final ordering at the cost of 15 vector reads per query, never a
    corpus vector scan. The oracle replays probe selection, the ADC
    shortlist cutoff and the exact rerank."""
    from databricks_demo_feature_store_spark.featurestore.manager import (
        FeatureStoreManager,
    )
    from databricks_demo_feature_store_spark.queries import scratch_dir
    from databricks_demo_feature_store_spark.textops.index_store import VectorIndexStore

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    dels = emb.filter(F.col("vec_id") % 10 == 6).select("vec_id")

    mgr = FeatureStoreManager(spark, scratch_dir("vec_index_refine"))
    store = VectorIndexStore(mgr, name="emb", nlist=8, m=_PQ_M, pq_k=_PQ_K)
    store.build(base, store_vectors=True)
    store.upsert(batch)
    store.delete(dels)
    return store.search(
        emb.filter(F.col("vec_id") < 3), k=5, nprobe=2,
        query_id_col="vec_id", refine=3,
    )


# --------------------------------------------------------------------------
# BPE tokenizer induction (textops/tokenizer.py)
# --------------------------------------------------------------------------


@register(
    "q_ext_bpe_pair_stats",
    oracle="""
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents) t
      WHERE w <> ''
    ), wf AS (
      SELECT w || '▁' AS word, COUNT(*) AS weight FROM words GROUP BY w
    ), pairs AS (
      SELECT substr(word, CAST(i AS INT), 1) AS l,
             substr(word, CAST(i AS INT) + 1, 1) AS r,
             weight
      FROM wf, unnest(range(1, length(word))) AS t(i)
    )
    SELECT l, r, CAST(SUM(weight) AS BIGINT) AS cnt
    FROM pairs GROUP BY l, r
    ORDER BY cnt DESC, l, r
    LIMIT 20
    """,
)
def q_ext_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round-0 pair statistics — the aggregation a single merge round
    of `learn_bpe_merges` runs, exposed with an exact oracle: corpus →
    ONE word-frequency hash agg (the only corpus-sized pass), then
    adjacent-symbol pair counts weighted by word frequency over the
    vocab-bounded word table. Top-20 with the learner's exact tie-break
    (count desc, then lexicographic), so the oracle pins the ordering
    the sequential learner depends on.
    """
    from databricks_demo_feature_store_spark.textops.tokenizer import bpe_word_table

    docs = load(spark, sf_dir, "documents")
    words = bpe_word_table(docs).select(
        "weight", F.split(F.col("word"), "(?!$)").alias("symbols")
    )
    return (
        words.select(
            "weight",
            F.explode(
                F.zip_with(
                    F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                    F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("weight").alias("cnt"))
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(20)
    )


@register(
    "q_ext_bpe_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(length(array_to_string(list_filter(
             string_split_regex(lower(text), '\\s+'), x -> x <> ''), '')) AS BIGINT)
             AS n_chars_packed,
           md5(array_to_string(list_filter(
             string_split_regex(lower(text), '\\s+'), x -> x <> ''), ''))
             AS recon_hash
    FROM documents
    ORDER BY doc_id
    """,
)
def q_ext_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer lifecycle with a LOSSLESSNESS oracle: learn 12
    BPE merges from the corpus (vocab-bounded rounds, the corpus scanned
    once), encode every document with the learned ranking (Arrow-batched,
    merge table in the closure, per-batch distinct-word memo), then
    reconstruct each document by concatenating its subword tokens and
    stripping the end-of-word sentinels. The oracle computes the same
    packed text independently (DuckDB never sees the tokenizer), so a
    hash match proves the learned tokenization is exactly lossless —
    and the learner itself is pinned merge-for-merge against a
    pure-Python Sennrich reference in tests/test_tokenizer.py.
    """
    from databricks_demo_feature_store_spark.textops.tokenizer import (
        EOW,
        bpe_encode,
        learn_bpe_merges,
    )

    docs = load(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=12, checkpoint_every=6)
    # mapInPandas is opaque to column pruning (guide §4.1): project to the
    # two columns the encode needs, or lang/source/n_chars cross the
    # Python boundary twice (and ride the scan fan-out exchange) unused
    enc = bpe_encode(docs.select("doc_id", "text"), merges)
    recon = F.regexp_replace(F.concat_ws("", "tokens"), EOW, "")
    return enc.select(
        "doc_id",
        F.length(recon).cast("long").alias("n_chars_packed"),
        F.md5(recon).alias("recon_hash"),
    ).orderBy("doc_id")


_BPE_DIM = 1 << 18

# shared 2-round GD training CTE chain (ends at w2 = the trained model);
# reused by the train query's oracle and the end-to-end filter's oracle
def _cls_train_ctes():
    from databricks_demo_feature_store_spark.functions.rounding import oracle_dround

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, ({_o_hash('tok', 0)}) % {_BPE_DIM} AS bucket,
             COUNT(*) AS tf
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ), y AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    r0 AS (
      SELECT doc_id, {oracle_dround('0.5 - y', 12)} AS r FROM y
    ), g0 AS (
      SELECT bucket,
             CAST(SUM(CAST(tf.tf * r0.r AS DECIMAL(38,12))) AS DOUBLE) AS g
      FROM tf JOIN r0 USING (doc_id) GROUP BY bucket
    ), w1 AS (
      SELECT bucket, -1.0 * (g / (SELECT n FROM nn)) AS w FROM g0
    ), z1 AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(tf.tf * w1.w AS DECIMAL(38,12))) AS DOUBLE) AS z
      FROM tf JOIN w1 USING (bucket) GROUP BY tf.doc_id
    ), r1 AS (
      SELECT y.doc_id,
             {oracle_dround('1.0/(1.0 + exp(-COALESCE(z1.z, 0.0))) - y.y', 12)} AS r
      FROM y LEFT JOIN z1 USING (doc_id)
    ), g1 AS (
      SELECT bucket,
             CAST(SUM(CAST(tf.tf * r1.r AS DECIMAL(38,12))) AS DOUBLE) AS g
      FROM tf JOIN r1 USING (doc_id) GROUP BY bucket
    ), w2 AS (
      SELECT w1.bucket AS bucket, w1.w - 1.0 * (g1.g / (SELECT n FROM nn)) AS w
      FROM w1 JOIN g1 USING (bucket)
    )"""


@register(
    "q_ext_classifier_train",
    oracle=_cls_train_ctes()
    + f"""
    SELECT bucket, {oracle_dround('w', 6)} AS weight
    FROM w2
    ORDER BY ABS({oracle_dround('w', 6)}) DESC, bucket
    LIMIT 25
    """,
)
def q_ext_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED training of the hashed-linear quality classifier
    (textops/analysis.py train_hashed_linear) — two full-batch logistic
    gradient-descent rounds on an English-vs-rest label, each round ONE
    map-side-combinable DECIMAL aggregation plus a model-sized driver
    update. The oracle replays BOTH rounds in pure SQL (chained CTEs:
    residual → per-bucket gradient → weight update → margin → …) using
    the portable md5 hash twin — so the learned weights, not just a
    downstream score, are verified cross-engine. Top-25 by |weight|.
    """
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.textops.analysis import (
        train_hashed_linear,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "__label", (F.col("lang") == "en").cast("double")
    )
    w = train_hashed_linear(
        docs, label_col="__label", dim=_BPE_DIM, n_rounds=2, lr=1.0
    )
    rounded = w.select("bucket", dround(F.col("weight"), 6).alias("weight"))
    return rounded.orderBy(F.abs(F.col("weight")).desc(), "bucket").limit(25)


@register(
    "q_ext_quality_filter_e2e",
    oracle=_cls_train_ctes()
    + f"""
    , z2 AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(tf.tf * w2.w AS DECIMAL(38,12))) AS DOUBLE) AS z
      FROM tf JOIN w2 USING (bucket) GROUP BY tf.doc_id
    ), scored AS (
      SELECT d.doc_id, d.lang,
             {oracle_dround('1.0/(1.0 + exp(-COALESCE(z2.z, 0.0)))', 6)} AS score
      FROM documents d LEFT JOIN z2 USING (doc_id)
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN score > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_ext_quality_filter_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end model-based corpus filtering — the GPT-3/LLaMA curation
    recipe as one pipeline: TRAIN the hashed-linear classifier on a
    seed label (English-vs-rest, 2 GD rounds), SCORE every document
    with the learned weights, FILTER at score > 0.5, and report
    keep-rates per language. The oracle replays the ENTIRE chain —
    training CTEs, scoring join, sigmoid, threshold — in pure SQL, so
    the whole train→score→filter pipeline is verified cross-engine
    end-to-end (scores dround-stabilized before the threshold so both
    engines compare identical values).
    """
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.textops.analysis import (
        hashed_linear_scores,
        train_hashed_linear,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "__label", (F.col("lang") == "en").cast("double")
    )
    w = train_hashed_linear(docs, "__label", dim=_BPE_DIM, n_rounds=2, lr=1.0)
    scored = hashed_linear_scores(docs, w, dim=_BPE_DIM).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(dround(F.col("score"), 6) > 0.5, 1).otherwise(0)
            ).cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "q_ext_curriculum_mixture",
    oracle=_cls_train_ctes()
    + f"""
    , z2 AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(tf.tf * w2.w AS DECIMAL(38,12))) AS DOUBLE) AS z
      FROM tf JOIN w2 USING (bucket) GROUP BY tf.doc_id
    ), tiered AS (
      SELECT d.doc_id, d.n_chars,
             CASE WHEN {oracle_dround('1.0/(1.0 + exp(-COALESCE(z2.z, 0.0)))', 6)} >= 0.8
                    THEN 'high'
                  WHEN {oracle_dround('1.0/(1.0 + exp(-COALESCE(z2.z, 0.0)))', 6)} >= 0.2
                    THEN 'mid'
                  ELSE 'low' END AS tier
      FROM documents d LEFT JOIN z2 USING (doc_id)
    ), b AS (
      SELECT doc_id, tier, n_chars,
             CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS bucket,
             CASE tier WHEN 'high' THEN 6000 WHEN 'mid' THEN 3000 END AS budget
      FROM tiered
    ), c AS (
      SELECT doc_id, tier, n_chars, budget,
             CAST(SUM(n_chars) OVER (PARTITION BY tier ORDER BY bucket ASC, doc_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_chars AS BIGINT) AS cum_before
      FROM b WHERE budget IS NOT NULL
    )
    SELECT doc_id, tier, n_chars FROM c WHERE cum_before < budget
    ORDER BY tier, doc_id
    """,
)
def q_ext_curriculum_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum / quality-tiered data mixture — the corpus-assembly
    recipe composed end-to-end: TRAIN the quality classifier on the
    seed label, SCORE and TIER every document (high ≥ 0.8, mid ≥ 0.2,
    low dropped), then fill per-tier TOKEN budgets deterministically
    (token_budget_mixture: hash-ordered docs, budget checked before
    each doc). The oracle replays training, scoring, tiering AND the
    budget window in pure SQL — the assembled mixture itself is
    verified cross-engine, document for document.
    """
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.textops.analysis import (
        hashed_linear_scores,
        train_hashed_linear,
    )
    from databricks_demo_feature_store_spark.textops.sampling import (
        token_budget_mixture,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "__label", (F.col("lang") == "en").cast("double")
    )
    w = train_hashed_linear(docs, "__label", dim=_BPE_DIM, n_rounds=2, lr=1.0)
    s6 = dround(F.col("score"), 6)
    tiered = (
        hashed_linear_scores(docs, w, dim=_BPE_DIM)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "n_chars",
            F.when(s6 >= 0.8, "high").when(s6 >= 0.2, "mid").otherwise("low").alias("tier"),
        )
    )
    return (
        token_budget_mixture(
            tiered,
            strata_col="tier",
            token_col="n_chars",
            key_col="doc_id",
            budgets={"high": 6000, "mid": 3000},
        )
        .select("doc_id", "tier", "n_chars")
        .orderBy("tier", "doc_id")
    )


@register(
    "q_ext_lm_backoff",
    oracle=f"""
    WITH toksall AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    ctoks AS (SELECT * FROM toksall WHERE doc_id % 5 <> 0),
    stoks AS (SELECT * FROM toksall WHERE doc_id % 5 = 0),
    c3 AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2,
             t[CAST(i AS INT)+2] AS w3, COUNT(*) AS c3
      FROM ctoks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3 GROUP BY 1, 2, 3
    ),
    c2 AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2, COUNT(*) AS c2
      FROM ctoks, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2 GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w, COUNT(*) AS c1 FROM (SELECT unnest(t) AS w FROM ctoks) GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS N, CAST(COUNT(*) AS DOUBLE) AS V FROM c1),
    tri AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT)+1] AS w2,
             t[CAST(i AS INT)+2] AS w3
      FROM stoks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    scored AS (
      SELECT tri.doc_id,
             {oracle_dround('''log2(CASE
               WHEN c3.c3 IS NOT NULL THEN CAST(c3.c3 AS DOUBLE) / CAST(c2a.c2 AS DOUBLE)
               WHEN c2b.c2 IS NOT NULL THEN 0.4 * CAST(c2b.c2 AS DOUBLE) / CAST(c1a.c1 AS DOUBLE)
               ELSE 0.16 * (COALESCE(CAST(c1b.c1 AS DOUBLE), 0.0) + 1.0)
                    / ((SELECT N FROM tot) + (SELECT V FROM tot)) END)''', 6)} AS logp
      FROM tri
      LEFT JOIN c3  ON c3.w1 = tri.w1 AND c3.w2 = tri.w2 AND c3.w3 = tri.w3
      LEFT JOIN c2 c2a ON c2a.w1 = tri.w1 AND c2a.w2 = tri.w2
      LEFT JOIN c2 c2b ON c2b.w1 = tri.w2 AND c2b.w2 = tri.w3
      LEFT JOIN c1 c1a ON c1a.w = tri.w2
      LEFT JOIN c1 c1b ON c1b.w = tri.w3
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             {oracle_dround('-CAST(SUM(CAST(logp AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 6)}
               AS cross_entropy_bits
      FROM scored GROUP BY doc_id
    )
    SELECT s.doc_id,
           COALESCE(p.n_trigrams, 0) AS n_trigrams,
           p.cross_entropy_bits
    FROM stoks s LEFT JOIN per_doc p USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def q_ext_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM scoring of HELD-OUT documents
    (textops/analysis.py trigram_backoff_scores): the model trains on
    4/5 of the corpus, the remaining 1/5 scores under it — unseen
    trigrams fall through the backoff chain (trigram → λ·bigram →
    λ²·add-1 unigram), which a self-scored corpus never exercises. The
    oracle replays model building, the three-level CASE and the
    DECIMAL-mean cross-entropy in pure SQL.
    """
    from databricks_demo_feature_store_spark.textops.analysis import (
        trigram_backoff_scores,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    held_out = docs.filter(F.col("doc_id") % 5 == 0)
    return trigram_backoff_scores(held_out, corpus, lam=0.4).orderBy("doc_id")


@register(
    "q_ext_cluster_split",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ), rep AS (
      SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY f
    ), b AS (
      SELECT fp.doc_id,
             ({_o_hash("CAST(rep.rep AS VARCHAR)", 42)}) % 10000 AS bucket
      FROM fp JOIN rep ON rep.f = fp.f
    )
    SELECT doc_id,
           CASE WHEN bucket < 2000 THEN 'test'
                WHEN bucket < 3000 THEN 'val'
                ELSE 'train' END AS split
    FROM b ORDER BY doc_id
    """,
)
def q_ext_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe corpus splitting (textops/sampling.py
    leakage_safe_split): every exact-dedup fingerprint group is assigned
    to train/val/test AS A UNIT by a deterministic hash of its
    representative id — duplicated documents can never straddle the
    eval boundary (the contamination mode row-level splits guarantee on
    a duplicate-bearing corpus). Fingerprinting, representative
    selection and the split hash all replay in SQL via the portable md5
    twins.
    """
    from databricks_demo_feature_store_spark.textops.sampling import (
        leakage_safe_split,
    )

    docs = load(spark, sf_dir, "documents")
    return leakage_safe_split(
        docs, test_fraction=0.2, val_fraction=0.1
    ).orderBy("doc_id")


@register(
    "q_ext_neardup_split",
    oracle=_dedup_clusters_oracle(
        tail=f"""
    SELECT comp.doc_id,
           CASE WHEN ({_o_hash("CAST(comp.component_id AS VARCHAR)", 42)}) % 10000 < 2000
                  THEN 'test'
                WHEN ({_o_hash("CAST(comp.component_id AS VARCHAR)", 42)}) % 10000 < 3000
                  THEN 'val'
                ELSE 'train' END AS split
    FROM comp ORDER BY comp.doc_id
    """
    ),
)
def q_ext_neardup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-aware leakage-safe splitting — the stronger eval guard:
    MinHash-LSH pairs close into connected components and the WHOLE
    component is assigned to train/val/test by a deterministic hash of
    its id, so even paraphrase-level near-duplicates (Jaccard ≥ 0.7)
    can never straddle the eval boundary. Composes the CC machinery
    with the deterministic split column; the oracle extends the
    recursive-CTE component closure with the same split hash.
    """
    from databricks_demo_feature_store_spark.functions.feature_generation import (
        train_test_split_col,
    )
    from databricks_demo_feature_store_spark.textops.dedup import dedup_clusters

    d = load(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(d, num_hashes=16, bands=4, threshold=0.7)
    comp = dedup_clusters(d, pairs)
    return comp.select(
        "doc_id",
        train_test_split_col(
            F.col("component_id"), test_fraction=0.2, val_fraction=0.1
        ).alias("split"),
    ).orderBy("doc_id")


@register(
    "q_ext_image_dhash",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS p
      FROM embeddings
    ),
    tiles AS (
      SELECT vec_id AS tile_id, p FROM e
      UNION ALL
      SELECT vec_id + 100000 AS tile_id, p FROM e
    ),
    h AS (
      SELECT tile_id,
             CAST(list_sum(list_transform(range(0, 56), b ->
               CASE WHEN p[CAST(b // 7 AS INT) * 8 + CAST(b % 7 AS INT) + 1]
                       > p[CAST(b // 7 AS INT) * 8 + CAST(b % 7 AS INT) + 2]
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS dhash
      FROM tiles
    )
    SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_tiles,
           MIN(tile_id) AS keeper
    FROM h
    GROUP BY dhash
    HAVING COUNT(*) >= 2
    ORDER BY dhash
    """,
)
def q_ext_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) image near-dup groups
    (textops/multimodal.py dhash_col): each 64-dim embedding row stands
    in for a decoded 8×8 grayscale tile (the deterministic fixture for
    the env-blocked image codecs — the Arrow decode tier is
    q_ext_multimodal_decode's surface), quantized to integer pixels; the
    corpus is unioned with re-encoded copies of itself (same pixels, new
    ids — the classic exact-perceptual-duplicate case dHash exists for);
    the 56-bit difference hash is PURE column algebra at scan speed, and
    grouping by hash yields the duplicate groups with their keeper.
    The oracle replays quantization, the row-major neighbor-sign bit
    pack and the grouping with DuckDB list functions — the hash itself
    is certified cross-engine, not just the group shapes."""
    from databricks_demo_feature_store_spark.textops.multimodal import dhash_col

    emb = load(spark, sf_dir, "embeddings")
    px = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 100).cast("long"),
    )
    base = emb.select(F.col("vec_id").alias("tile_id"), px.alias("p"))
    grid = F.array(
        *[
            F.array(*[F.element_at(F.col("p"), i * 8 + j + 1) for j in range(8)])
            for i in range(8)
        ]
    )
    # the re-encoded copy has the same pixels, hence the same hash: hash
    # the base corpus ONCE and explode the (original, re-encoded) tile-id
    # pair, instead of unioning two branches that each re-run the scan +
    # quantize + 56-term hash (guide §2.4/§1.2 — same row multiset, half
    # the scan/compute; the old union re-executed the whole subtree per
    # branch)
    hashed = base.select("tile_id", dhash_col(grid, 8, 8).alias("dhash")).select(
        F.explode(
            F.array(F.col("tile_id"), F.col("tile_id") + F.lit(100000))
        ).alias("tile_id"),
        "dhash",
    )
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tiles"),
            F.min("tile_id").alias("keeper"),
        )
        .where(F.col("n_tiles") >= 2)
        .orderBy("dhash")
    )


@register(
    "q_ext_embedding_pca",
    oracle="""
    WITH ex AS (
      SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i)
      WHERE i < 4
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT pos AS dim,
           (SELECT n FROM nn) AS n,
           CAST(ROUND(CAST(
             (CAST(SUM(CAST(x * x AS DECIMAL(25,12))) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(25,12))) AS DOUBLE)
                * CAST(SUM(CAST(x AS DECIMAL(25,12))) AS DOUBLE)
                / (SELECT n FROM nn))
             / (SELECT n FROM nn)
           AS DECIMAL(38,10)), 9) AS DOUBLE) AS var_exact,
           TRUE AS trace_ok,
           TRUE AS orthonormal_ok,
           TRUE AS explained_monotone_ok,
           TRUE AS recon_ok
    FROM ex
    GROUP BY pos
    ORDER BY dim
    """,
)
def q_ext_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings corpus (textops/pca.py): the
    dimensionality-reduction step before semantic dedup / ANN at scale.
    The fit is two map-side-combinable corpus passes — per-Arrow-batch
    moment partials (n, Σx, Σxxᵀ) reduced DISTRIBUTED to d² cells, only
    the 64×64 gram reaching the driver for eigh — and the gated surface
    is the q_ext_sketch_profile audit pattern: exact DECIMAL-routed
    per-dim variances (cross-engine reproducible) plus verdict booleans
    the oracle expects TRUE — the trace identity Σλ == Σvar (driver
    eigensum vs the DISTRIBUTED exact variances), component
    orthonormality, spectrum monotonicity, and the optimal-rank-k
    residual identity E‖x − x̂‖² == Σ_{i>k} λ_i re-measured by an
    independent distributed reconstruction pass. Projection round-trip
    values are pinned in tests/test_pca.py."""
    from databricks_demo_feature_store_spark.textops.pca import pca_audit

    emb = load(spark, sf_dir, "embeddings")
    return pca_audit(emb, vec_col="embedding", k=8, report_dims=4)


@register(
    "q_ext_pca_two_stage",
    oracle=f"""
    WITH raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
      FROM embeddings
    ),
    e AS (
      SELECT vec_id,
             list_concat(list_transform(v0[1:8], x -> x * 5.0), v0[9:]) AS v
      FROM raw
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % 40 = 0 AND vec_id < 2000),
    exact AS (
      SELECT query_id, vec_id, cosine, rank FROM (
        SELECT q.query_id, e.vec_id,
               {oracle_dround(_O_COS, 6)} AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle_dround(_O_COS, 6)} DESC, e.vec_id ASC
               ) AS rank
        FROM e CROSS JOIN q
      ) WHERE rank <= 10
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           MAX(CASE WHEN rank = 1 THEN vec_id END) AS top1_id,
           MAX(CASE WHEN rank = 1 THEN cosine END) AS top1_cosine,
           TRUE AS recall_ok
    FROM exact
    GROUP BY query_id
    ORDER BY query_id
    """,
)
def q_ext_pca_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-space two-stage ANN (textops/pca.py pca_two_stage_topk): fit
    the top-8 basis on the corpus, retrieve 50 candidates per query by
    cosine in 8-dim PCA space (the scan reads 8-dim projections, not
    64-dim vectors), exact full-dim rerank of ONLY the candidates —
    the data-adaptive twin of the Matryoshka prefix-dim retriever
    (q_ext_two_stage_topk). Spectral truncation is only meaningful on
    an ANISOTROPIC corpus: the raw synthetic embeddings are unit-norm
    with a flat spectrum (top-8 explained variance 0.205 vs the 0.125
    isotropic floor — measured, BASELINE.md round 14), where ANY linear
    dim-reduction is provably uninformative, so the query constructs
    the anisotropy it audits by amplifying the leading 8-dim block ×5
    — replayed IDENTICALLY in the oracle (double-promoted before
    scaling on both engines). The PCA basis is a float
    eigendecomposition (deterministic per engine, not SQL-replayable),
    so the gate is the pca_audit pattern: the EXACT brute-force side
    stays value-hash-checked per query (n_exact + the top-1 neighbor id
    and cosine, which the two-stage result must reproduce for recall to
    hold) while the approximate side reports recall >= 0.6 as a verdict
    the oracle expects TRUE (measured ≥ 0.9 at sf0.01 AND sf0.1; raw
    recalls pinned in tests/test_pca.py). The audit's query sample is
    CAPPED (vec_id < 2000 ∧ %40 — ≤ 50 queries at any scale), the
    q_ext_ann_recall discipline: ground truth is a per-query corpus
    pass, so an uncapped fraction would make the audit quadratic even
    though the production retriever itself is not."""
    from databricks_demo_feature_store_spark.textops.pca import (
        pca_two_stage_recall,
    )

    emb = load(spark, sf_dir, "embeddings")
    vd = "transform(embedding, x -> cast(x as double))"
    stretched = emb.select(
        "vec_id",
        F.expr(
            f"concat(transform(slice({vd}, 1, 8), x -> x * 5.0D), "
            f"slice({vd}, 9, size(embedding) - 8))"
        ).alias("embedding"),
    )
    return pca_two_stage_recall(
        stretched,
        stretched.filter((F.col("vec_id") % 40 == 0) & (F.col("vec_id") < 2000)),
        k=10,
        m=50,
        pca_k=8,
        min_recall=0.6,
    ).orderBy("query_id")
