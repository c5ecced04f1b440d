"""Ranked keyword retrieval over the document corpus: TF-IDF term
weights and BM25 top-k — the lexical-search tier a training-data pipeline
uses for targeted corpus slicing (topic mining, contamination checks,
eval-set retrieval) next to the embedding ANN tier in
:mod:`~databricks_demo_feature_store_spark.textops.similarity`.

Net-new vs the reference (no text-search surface there). Spark-first
shape, built for inverted-index scale:

- tokenize → explode → per-(doc, term) counts is the standard inverted
  index build: ONE shuffle on the term key.
- the query-term filter lands BEFORE the aggregation, so scoring a
  handful of terms only ever shuffles postings for those terms — at
  100 TB the exploded token stream is pruned at the map side, not
  after the index materializes.
- corpus stats (N, avgdl) are a 1-row aggregate broadcast into the
  scoring join; document lengths ride along the postings, so scoring is
  postings ⋈ broadcast(idf) ⋈ broadcast(stats) — no shuffle wider than
  the per-term posting lists, then a per-doc SUM on the doc key.

Determinism (oracle hash-parity): every per-(doc, term) BM25 component
is computed in IEEE double (identical in both engines for identical
inputs), but the SUM across a document's matched terms is routed through
DECIMAL(25, 10) so accumulation order can't change the hash; the final
score is ``dround(…, 6)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround
from databricks_demo_feature_store_spark.textops.analysis import tokens_col


def term_postings(
    df: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, term) → tf postings for the given terms, plus the document
    length. The ``isin(terms)`` filter sits under the aggregation, so only
    matching tokens shuffle."""
    # explode_outer + null-filter instead of explode: avoids the inferred
    # size(arr) > 0 filter that re-tokenizes every row (see curation.py)
    toks = (
        df.select(F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks"))
        .select("doc_id", F.size("__toks").alias("dl"), F.explode_outer("__toks").alias("term"))
        .where(F.col("term").isNotNull())
    )
    return (
        toks.where(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _doc_lengths(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), F.size(tokens_col(F.col(text_col))).alias("dl")
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25
    (Robertson/Spärck Jones; the ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    idf variant that stays positive for common terms).

    score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl))

    Ties break on ascending doc id. Returns (doc_id, score, rank).
    """
    terms = list(dict.fromkeys(terms))  # dedupe, keep order
    lengths = _doc_lengths(df, text_col, id_col)
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    postings = term_postings(df, terms, text_col, id_col)
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        postings.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).cast("decimal(25,10)").alias("__part"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        dround(F.sum("__part").cast("double"), 6).alias("score")
    )
    # TakeOrdered first (distributed per-partition top-k + merge), THEN the
    # rank window over the k survivors — never a single-partition sort of
    # every matched document
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", "rank"
    )


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-N characteristic terms by smoothed TF-IDF
    (``tf/dl · ln(N/df)``) — document keywording / topic fingerprints for
    corpus slicing. One inverted-index shuffle + one per-doc window; the
    idf table is a broadcast."""
    toks = (
        df.select(F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks"))
        .select("doc_id", F.size("__toks").alias("dl"), F.explode_outer("__toks").alias("term"))
        .where(F.col("term").isNotNull())
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") >= min_df)
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            dround(
                (F.col("tf").cast("double") / F.col("dl"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
        .select("doc_id", "term", "tfidf", "term_rank")
    )


def hybrid_topk_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: Sequence[str],
    query_vec: DataFrame,
    k: int = 10,
    k_each: int = 50,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with Reciprocal Rank Fusion
    (Cormack/Clarke/Büttcher, SIGIR'09): BM25 top-``k_each`` for the
    bag-of-terms query and exact cosine top-``k_each`` for the query
    vector are full-outer joined on the document id and scored
    ``rrf = Σ_sides 1/(rrf_k + rank_side)`` (absent side contributes 0),
    returning the fused top-``k`` with both per-side scores and ranks —
    the standard production shape for RAG retrieval where neither pure
    BM25 nor pure ANN dominates.

    ``query_vec`` is a 1..few-row DataFrame carrying the query embedding
    (no driver-side vector literal, no collect). Scale shape: both arms
    are already top-k-bounded (term-pruned inverted index + broadcast
    query), so the fusion join and final TakeOrdered touch ≤ 2·k_each
    rows regardless of corpus size. Rank arithmetic on integers makes
    the fusion engine-exact; the rrf column is decimal-rounded only for
    cross-engine hash parity of the displayed score.
    """
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
    )

    lex = bm25_topk(
        docs, list(terms), k=int(k_each), text_col=text_col, id_col=id_col
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col("score").alias("bm25"),
        F.col("rank").alias("lex_rank"),
    )
    vec = brute_force_topk(
        embeddings, query_vec, k=int(k_each), id_col=vec_id_col, vec_col=vec_col
    ).select(
        F.col(vec_id_col).alias("doc_id"),
        F.col("cosine"),
        F.col("rank").alias("vec_rank"),
    )
    fused = lex.join(vec, on="doc_id", how="full_outer")
    rrf = dround(
        F.coalesce(F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("vec_rank")), F.lit(0.0)),
        9,
    )
    top = (
        fused.select("doc_id", "bm25", "lex_rank", "cosine", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(int(k))
    )
    w = W.orderBy(F.desc("rrf"), F.asc("doc_id"))  # ≤ k rows (GlobalLimit)
    return top.select("*", F.row_number().over(w).alias("rank"))


def ndcg_at_k(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_to: int = 6,
) -> DataFrame:
    """Exact NDCG@k of a ranked retrieval run against graded relevance
    judgments (Järvelin & Kekäläinen, TOIS'02 — the exponential-gain
    form standard in TREC): one row per query,
    ``(query_id, dcg, idcg, ndcg, n_rel)`` with
    ``DCG = Σ_{i≤k} (2^rel_i − 1) / log2(i + 1)`` over the run's rank
    order and IDCG the same sum over the top-k judgments sorted by
    grade. Unjudged retrieved documents score rel = 0 (TREC
    convention); queries with no positive judgment emit ndcg = NULL
    (0/0 is undefined, not zero).

    Scale shape: the run is pre-bounded to k rows per query before the
    join, so the qrels join moves ≤ k·|queries| rows; the ideal ranking
    is a window PARTITIONED by query over the judged documents only
    (bounded per query by the assessment-pool size, never corpus-sized).
    Determinism: each position's gain is computed in IEEE double
    (identical inputs → identical doubles in both engines), rounded to
    9 decimals via DECIMAL, and SUMMED in DECIMAL(38,9) — accumulation
    order can't change the hash; a last-ulp disagreement in ``log2``
    would have to land within 5e-10 of a rounding boundary to matter.
    """
    if k < 1:
        raise ValueError("ndcg_at_k requires k >= 1")
    dec = "decimal(38,9)"
    gain = lambda rel, pos: dround(  # noqa: E731
        (F.pow(F.lit(2.0), rel.cast("double")) - F.lit(1.0))
        / F.log2(pos.cast("double") + F.lit(1.0)),
        9,
    ).cast(dec)

    r = runs.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__d"),
        F.col(rank_col).cast("int").alias("__pos"),
    ).where(F.col("__pos") <= int(k))
    j = qrels.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__d"),
        F.col(rel_col).cast("int").alias("__rel"),
    )
    hit = r.join(j, ["__q", "__d"], "left").select(
        "__q", gain(F.coalesce(F.col("__rel"), F.lit(0)), F.col("__pos")).alias("__g")
    )
    dcg = hit.groupBy("__q").agg(F.sum("__g").alias("__dcg"))

    w = W.partitionBy("__q").orderBy(F.desc("__rel"), F.asc("__d"))
    ideal = (
        j.where(F.col("__rel") > 0)
        .select("__q", "__rel", "__d", F.row_number().over(w).alias("__ipos"))
        .where(F.col("__ipos") <= int(k))
        .select("__q", gain(F.col("__rel"), F.col("__ipos")).alias("__g"))
        .groupBy("__q")
        .agg(F.sum("__g").alias("__idcg"), F.count("*").alias("__nrel"))
    )
    out = dcg.join(ideal, "__q", "left")
    idcg = F.coalesce(F.col("__idcg"), F.lit(0).cast(dec))
    ndcg = F.when(
        idcg > 0, F.col("__dcg").cast("double") / idcg.cast("double")
    )
    return out.select(
        F.col("__q").alias(query_col),
        dround(F.col("__dcg").cast("double"), round_to).alias("dcg"),
        dround(idcg.cast("double"), round_to).alias("idcg"),
        dround(ndcg, round_to).alias("ndcg"),
        F.coalesce(F.col("__nrel"), F.lit(0)).cast("long").alias("n_rel"),
    )
