"""Text analysis for large-scale training-data pipelines: tokenization
stats, quality scoring, language ID, document fingerprinting.

All pure JVM column expressions (split/regexp/aggregate) — no Python UDFs —
so they run inside whole-stage codegen and scale linearly with no shuffle
(per-row ops) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround

# Tiny high-frequency marker sets per language. Deliberately small so the
# language-ID heuristic is cheap (array_intersect on a literal array) and
# portable to the SQL oracle.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "del", "una"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
}
CJK_PATTERN = "[一-鿿]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text; empty string → empty array."""
    trimmed = F.trim(F.lower(text))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """A BPE-ish proxy: count word pieces + digits + punctuation runs.

    Splits on the boundaries a byte-pair tokenizer typically respects
    (letter-runs, digit-runs, single punctuation marks).
    """
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), 0
    )
    return F.size(pieces)


def punct_ratio_col(text: Column) -> Column:
    """Punctuation chars / total non-space chars (NULL when no chars)."""
    nonspace = F.length(F.regexp_replace(text, r"\s+", ""))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(nonspace > 0, dround(punct / nonspace, 6))


def stopword_ratio_col(text: Column, markers: list[str] | None = None) -> Column:
    """Fraction of tokens that are (english, by default) stopwords."""
    markers = markers or LANG_MARKERS["en"]
    toks = tokens_col(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*markers))  # type: ignore[arg-type]
    )
    return F.when(F.size(toks) > 0, dround(hits / F.size(toks), 6))


def quality_score_col(text: Column) -> Column:
    """Composite quality heuristic in [0, 1].

    Rewards reasonable length (saturating at 200 tokens), penalizes
    punctuation-heavy text, rewards stopword presence (prose-likeness) —
    the standard cheap pre-filter stack for web-scale corpus cleaning
    (C4-style rules re-expressed as column algebra).
    """
    ntok = token_count_col(text).cast("double")
    length_score = F.least(ntok / F.lit(200.0), F.lit(1.0))
    punct = F.coalesce(punct_ratio_col(text), F.lit(0.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct * 4.0)
    stop = F.coalesce(stopword_ratio_col(text), F.lit(0.0))
    stop_score = F.least(stop * 5.0, F.lit(1.0))
    return dround(
        0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score, 6
    )


def lang_id_col(text: Column) -> Column:
    """n-gram/marker-based language ID over {en, es, fr, de, zh}.

    CJK characters present → ``zh``; otherwise argmax of distinct marker
    hits with a fixed priority order (en, es, fr, de) on ties; no hits →
    ``und``. Deterministic and expressible in any SQL engine.
    """
    toks = tokens_col(text)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.when(text.rlike(CJK_PATTERN), F.lit("zh")).when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # fixed priority order resolves ties
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def fingerprint_col(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (the cheap exact-dup key)."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def word_ngrams_col(toks: Column, n: int) -> Column:
    """All (non-distinct) word n-grams of a token array; empty when the
    doc has fewer than ``n`` tokens."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), the
    standard corpus-quality pre-filter for excessive within-document
    repetition — re-expressed as pure column algebra (whole-stage
    codegen, zero shuffle, linear scan at 100 TB):

    - ``distinct_token_ratio``: |distinct tokens| / |tokens|;
    - ``top_token_fraction``: occurrences of the most frequent token
      over all tokens (O(d·n) array ops per row — documents are short,
      the constant is trivial next to the scan);
    - ``dup_bigram_fraction`` / ``dup_trigram_fraction``: fraction of
      n-grams that are repeats of an earlier n-gram;
    - ``is_repetitive``: the filter verdict at Gopher-ish thresholds
      (top token > 0.30, or duplicate bi/trigram fraction > 0.30).

    The token and n-gram arrays are staged in their own projections so
    each is materialized once per row — inlining them into every signal
    column re-runs the split/regexp per signal (measured ~10× slower).
    """
    staged = df.select(
        "*", tokens_col(F.col(text_col)).alias("__toks")
    ).select(
        "*",
        F.size("__toks").alias("__n"),
        word_ngrams_col(F.col("__toks"), 2).alias("__bg"),
        word_ngrams_col(F.col("__toks"), 3).alias("__tg"),
    )
    toks, n = F.col("__toks"), F.col("__n")
    bg, tg = F.col("__bg"), F.col("__tg")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks), lambda u: F.size(F.filter(toks, lambda x: x == u))
        )
    )
    out = staged.select(
        "*",
        n.alias("n_tokens"),
        F.when(n > 0, dround(F.size(F.array_distinct(toks)) / n, 6)).alias(
            "distinct_token_ratio"
        ),
        F.when(n > 0, dround(top_cnt / n, 6)).alias("top_token_fraction"),
        F.when(
            F.size(bg) > 0,
            dround(1.0 - F.size(F.array_distinct(bg)) / F.size(bg), 6),
        ).alias("dup_bigram_fraction"),
        F.when(
            F.size(tg) > 0,
            dround(1.0 - F.size(F.array_distinct(tg)) / F.size(tg), 6),
        ).alias("dup_trigram_fraction"),
    ).drop("__toks", "__n", "__bg", "__tg")
    return out.withColumn(
        "is_repetitive",
        (F.coalesce(F.col("top_token_fraction"), F.lit(0.0)) > 0.30)
        | (F.coalesce(F.col("dup_bigram_fraction"), F.lit(0.0)) > 0.30)
        | (F.coalesce(F.col("dup_trigram_fraction"), F.lit(0.0)) > 0.30),
    )


# ---------------------------------------------------------------------------
# Corpus-LM cross-entropy scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document cross-entropy under a corpus bigram language model —
    the CCNet/KenLM-style quality signal: documents whose token
    transitions are improbable under the corpus LM (gibberish, wrong
    language, boilerplate soup) score high and get filtered or
    down-weighted.

    Model: Laplace-smoothed bigram MLE over the WHOLE input corpus,
    ``P(w2|w1) = (C(w1 w2) + α) / (C(w1) + α·V)`` with ``C(w1)`` the
    corpus unigram count and ``V`` the unigram vocabulary size. Score =
    ``-mean log2 P`` over the document's bigrams (bits per token
    transition); docs with < 2 tokens have no bigrams → NULL score.

    Scale shape: two hash aggregations build the model (bigram counts,
    unigram counts — both map-side-combinable), one equi-join on the
    bigram key scores every occurrence, one final per-doc aggregation.
    The vocabulary scalar V and the per-w1 counts travel with the bigram
    table — nothing collects to the driver. At 100 TB the model tables
    are themselves data-scale (that IS the point: the model improves with
    corpus size); prune with a min-count threshold before the scoring
    join if the long tail dominates.

    Determinism: per-bigram log2 is rounded (6 dp) before the exact
    DECIMAL mean, the same discipline the BM25 scorer uses for its log
    IDF terms.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
    )
    bigrams = (
        toks.select(
            "doc_id",
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - 1),
                    lambda i: F.struct(
                        F.element_at("__toks", i).alias("w1"),
                        F.element_at("__toks", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")).alias("__bg"),
        )
        .select("doc_id", F.explode_outer("__bg").alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    unigrams = (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = unigrams.select(F.count(F.lit(1)).alias("V"))
    bigram_counts = (
        bigrams.where(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    model = (
        bigram_counts.join(unigrams.withColumnRenamed("w", "w1"), on="w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            dround(
                F.log2(
                    (F.col("c2") + F.lit(alpha))
                    / (F.col("c1") + F.lit(alpha) * F.col("V"))
                ),
                6,
            ).alias("__logp"),
        )
    )
    scored = bigrams.where(F.col("w1").isNotNull()).join(model, on=["w1", "w2"])
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            -(F.sum(F.col("__logp").cast("decimal(25,6)")).cast("double"))
            / F.count(F.lit(1))
        ).alias("__ce_raw"),
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        dround(F.col("__ce_raw"), 6).alias("cross_entropy_bits"),
    )


def hashed_linear_scores(
    df: DataFrame,
    weights: DataFrame,
    dim: int = 1 << 18,
    intercept: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with a hashed bag-of-words linear classifier
    — the fastText-style quality-filter shape (GPT-3 / LLaMA corpus
    curation): ``p = sigmoid(b + Σ_buckets tf(bucket) · w(bucket))``
    with tokens mapped to ``dim`` buckets by the portable 60-bit hash
    (hashing trick; collisions fold, as in the real model).

    ``weights`` is the model: ``(bucket int, weight double)`` — tiny
    (≤ dim rows), broadcast. Scale shape: tokens explode map-side, per-doc
    term frequencies are ONE hash aggregation on (doc, bucket), the model
    join is a broadcast hash join, and the final score is a second
    map-side-combinable aggregation — the corpus text itself never
    shuffles. Train the weights wherever (sklearn/fastText on a sample),
    then ship them as this table; :func:`vocab_weights` builds one from
    an explicit term→weight dict for interpretable heuristics.

    Returns ``(doc_id, score)`` for every input row; docs with no
    in-model tokens score ``sigmoid(intercept)``.
    """
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("__tok"),
    )
    tf = (
        toks.where(F.col("__tok").isNotNull())
        .select(
            "doc_id", F.pmod(portable_hash_col(F.col("__tok")), F.lit(dim)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    contrib = tf.join(F.broadcast(weights), on="bucket").groupBy("doc_id").agg(
        F.sum(F.col("__tf") * F.col("weight")).alias("__z")
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    z = F.coalesce(F.col("__z"), F.lit(0.0)) + F.lit(float(intercept))
    return base.join(contrib, on="doc_id", how="left").select(
        "doc_id",
        dround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
    )


def vocab_weights(
    spark: SparkSession, term_weights: dict[str, float], dim: int = 1 << 18
) -> DataFrame:
    """Hashed weight table from an explicit term→weight dict (buckets via
    the same portable hash as :func:`hashed_linear_scores`); colliding
    terms sum, exactly as training on hashed features would."""
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    rows = spark.createDataFrame(
        [(t, float(w)) for t, w in sorted(term_weights.items())], ["term", "w"]
    )
    return (
        rows.select(
            F.pmod(portable_hash_col(F.col("term")), F.lit(dim)).alias("bucket"),
            F.col("w"),
        )
        .groupBy("bucket")
        .agg(F.sum("w").alias("weight"))
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks, CL'90): adjacent-token bigrams scored
    ``pmi = log( n_ab · N / (n_a · n_b) )`` where N is the total bigram
    count and unigram counts are taken over the same bigram positions
    (left events = bigram-initial tokens, right events = bigram-final
    tokens — the contingency margins of the bigram table, so the
    independence baseline is exact). One row per surviving bigram:
    ``(w1, w2, n_ab, n_a, n_b, pmi)``; high-PMI pairs are the
    multi-word units ("new york") corpus curation treats as single
    tokens.

    Scale shape: ONE explode of adjacent pairs, one count aggregation,
    then two broadcast-joined margin frames (vocabulary-sized). The
    ``min_count`` prune lands BEFORE the margin joins, killing the
    hapax tail (the bulk of distinct bigrams) early; margins must
    still count every occurrence, so they aggregate the unpruned pair
    frame — state is vocabulary-sized, never corpus-sized. ``top_n``
    bounds the output by (pmi, w1, w2) TakeOrdered."""
    if min_count < 1:
        raise ValueError("pmi_collocations requires min_count >= 1")
    toks = tokens_col(F.col(text_col))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    left = counts.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
    right = counts.groupBy("w2").agg(F.sum("n_ab").alias("n_b"))
    total = counts.agg(F.sum("n_ab").alias("__N"))
    scored = (
        counts.where(F.col("n_ab") >= int(min_count))
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            dround(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("__N").cast("double"))
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                ),
                round_to,
            ).alias("pmi"),
        )
    )
    if top_n is not None:
        return scored.orderBy(
            F.desc("pmi"), F.asc("w1"), F.asc("w2")
        ).limit(int(top_n))
    return scored


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Vocabulary builder with coverage accounting: the ``top_n`` most
    frequent tokens, each annotated with its frequency rank, count, and
    the CUMULATIVE share of all token occurrences covered by the
    vocabulary up to and including it —
    ``(token, n, vocab_rank, cum_count, coverage)``. The last row's
    ``1 − coverage`` is the OOV rate a ``top_n``-entry vocabulary
    would leave; sweep ``top_n`` by reading the coverage column. The
    sizing tool for tokenizer vocabularies and hashing-trick widths.

    Scale shape: one explode + one hash aggregation collapse the corpus
    to (token, count) — vocabulary-sized state, never corpus-sized —
    then `attach_global_rank`/`attach_global_cumsum` order and
    accumulate WITHOUT a single-task sort of the vocabulary (web-scale
    vocabularies run to hundreds of millions of distinct tokens; a
    global-ORDER-BY window there is the classic driver-killer).
    Deterministic ties: equal counts order lexicographically."""
    if top_n < 1:
        raise ValueError("vocab_coverage requires top_n >= 1")
    from databricks_demo_feature_store_spark.functions.feature_generation import (
        attach_global_cumsum,
    )

    counts = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__tot"))
    order = [F.col("n").desc(), F.col("token").asc()]
    # ONE prefix-sum pass attaches both outputs: the running sum of ``n``
    # is the cumulative count, and the running sum of a constant 1 in the
    # same total order IS the row number — half the exchanges of a
    # rank-then-cumsum chain over the identical range partitioning
    cum = attach_global_cumsum(
        counts.withColumn("__one", F.lit(1).cast("long")), order, ["n", "__one"],
        prefix="cum_",
    ).withColumnRenamed("cum___one", "vocab_rank")
    return (
        cum.where(F.col("vocab_rank") <= int(top_n))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("n").cast("long").alias("n"),
            F.col("vocab_rank").cast("long").alias("vocab_rank"),
            F.col("cum_n").cast("long").alias("cum_count"),
            dround(
                F.col("cum_n").cast("double") / F.col("__tot").cast("double"),
                round_to,
            ).alias("coverage"),
        )
    )


def train_hashed_linear(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 18,
    n_rounds: int = 3,
    lr: float = 1.0,
    scale: int = 12,
) -> DataFrame:
    """Train the hashed bag-of-words logistic classifier DISTRIBUTEDLY —
    closing the loop :func:`hashed_linear_scores` left open ("train the
    weights wherever"): full-batch gradient descent where each round is
    ONE map-side-combinable aggregation over the featurized corpus and a
    model-sized driver update (the Spark-MLlib treeAggregate shape).

    Per round: per-doc margin ``z = Σ tf·w`` (broadcast model join, exact
    DECIMAL sum), residual ``r = sigmoid(z) − y`` (rounded to ``scale``
    decimals so the engine's exp ulps can't leak into the state),
    per-bucket gradient ``g = Σ_docs tf·r`` (exact DECIMAL sum — the
    ONLY cross-row reduction, order-independent by construction), then
    ``w ← w − lr·g/n`` in plain driver floats. The collected gradient is
    ≤ dim rows — the same model-fits-on-driver premise every distributed
    LR implementation makes. The featurized corpus is checkpointed once
    and re-scanned per round; the text never shuffles.

    Determinism: every cross-row sum goes through DECIMAL(38, scale), so
    the learned weights are a pure function of the corpus — independent
    of partitioning, and replayable bit-for-bit by a sequential
    reference (tests/test_tokenizer.py's BPE pattern, applied to GD).

    Returns the ``(bucket, weight)`` model table
    :func:`hashed_linear_scores` consumes.
    """
    from databricks_demo_feature_store_spark.functions.rounding import dround
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    spark = docs.sparkSession
    dec = f"decimal(38,{scale})"
    labeled = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("double").alias("__y")
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("__tok"),
    )
    tf = (
        toks.where(F.col("__tok").isNotNull())
        .select(
            "doc_id",
            F.pmod(portable_hash_col(F.col("__tok")), F.lit(dim)).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .localCheckpoint(eager=True)
    )
    n = labeled.count()
    if n == 0:
        raise ValueError("train_hashed_linear: empty training frame")
    weights: dict[int, float] = {}
    for _ in range(n_rounds):
        if weights:
            wdf = spark.createDataFrame(
                sorted(weights.items()), "bucket long, weight double"
            )
            z = (
                tf.join(F.broadcast(wdf), "bucket")
                .groupBy("doc_id")
                .agg(
                    F.sum((F.col("__tf") * F.col("weight")).cast(dec))
                    .cast("double")
                    .alias("__z")
                )
            )
            scored = labeled.join(z, "doc_id", "left").select(
                "doc_id", "__y", F.coalesce(F.col("__z"), F.lit(0.0)).alias("__z")
            )
        else:
            scored = labeled.select("doc_id", "__y", F.lit(0.0).alias("__z"))
        resid = scored.select(
            "doc_id",
            dround(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__z"))) - F.col("__y"),
                scale,
            ).alias("__r"),
        )
        grad = (
            tf.join(resid, "doc_id")
            .groupBy("bucket")
            .agg(
                F.sum((F.col("__tf") * F.col("__r")).cast(dec))
                .cast("double")
                .alias("__g")
            )
            .collect()
        )
        for row in grad:
            b = row["bucket"]
            weights[b] = weights.get(b, 0.0) - lr * (row["__g"] / n)
    return spark.createDataFrame(
        sorted(weights.items()), "bucket long, weight double"
    )


def trigram_backoff_scores(
    df: DataFrame,
    corpus: DataFrame,
    lam: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under a TRIGRAM stupid-backoff LM built
    from ``corpus`` (Brants et al. 2007, "Large Language Models in
    Machine Translation" — the web-scale scoring rule that replaces
    normalized smoothing with a fixed backoff multiplier):

    ``S(w3|w1w2) = C(w1w2w3)/C(w1w2)``, else ``λ·C(w2w3)/C(w2)``, else
    ``λ²·(C(w3)+1)/(N+V)`` (add-1 at the unigram floor so OOV words get
    a finite score). Score = ``−mean log2 S`` over the doc's trigrams;
    docs with < 3 tokens → NULL.

    Separating ``df`` (scored) from ``corpus`` (model) is the point:
    scoring held-out text exercises the backoff chain — a corpus scored
    under its own model never leaves the trigram branch.

    Scale shape: three map-side-combinable count aggregations build the
    model; scoring is a chain of equi-joins of the doc's trigram
    occurrences against the count tables (all data-scale, never
    collected); per-doc mean through exact DECIMAL of 6-dp-rounded
    per-trigram logs — the bigram scorer's determinism discipline.
    """
    def _toks(frame):
        return frame.select(
            F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("__toks")
        )

    def _ngrams(toks, n):
        return (
            toks.select(
                "doc_id",
                F.when(
                    F.size("__toks") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                        lambda i: F.array(
                            *[F.element_at("__toks", i + j) for j in range(n)]
                        ),
                    ),
                )
                .otherwise(F.array().cast("array<array<string>>"))
                .alias("__ng"),
            )
            # explode_outer + null-filter, NOT plain explode: explode lets
            # Catalyst infer size(__ng) > 0 and collapse the staged
            # projection, re-evaluating the whole transform PER OUTPUT ROW
            # — O(len²) per document (the SCALING.md round-5 lesson;
            # measured 27.8 s → 2.8 s on this operator at sf0.1)
            .select("doc_id", F.explode_outer("__ng").alias("ng"))
            .where(F.col("ng").isNotNull())
            .select(
                "doc_id",
                *[F.element_at("ng", j + 1).alias(f"w{j+1}") for j in range(n)],
            )
        )

    ctoks = _toks(corpus)
    c3 = _ngrams(ctoks, 3).groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    c2 = _ngrams(ctoks, 2).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        ctoks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    totals = c1.agg(
        F.sum("c1").cast("double").alias("N"), F.count(F.lit(1)).cast("double").alias("V")
    )

    t = _ngrams(_toks(df), 3)
    s = (
        t.join(c3, on=["w1", "w2", "w3"], how="left")
        .join(c2, on=["w1", "w2"], how="left")
        .join(
            c2.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c2").alias("c23")
            ),
            on=["w2", "w3"],
            how="left",
        )
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1_2")), on="w2", how="left")
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("c1_3")), on="w3", how="left")
        .crossJoin(F.broadcast(totals))
    )
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2").cast("double"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(lam) * F.col("c23").cast("double") / F.col("c1_2").cast("double"),
        )
        .otherwise(
            F.lit(lam * lam)
            * (F.coalesce(F.col("c1_3").cast("double"), F.lit(0.0)) + F.lit(1.0))
            / (F.col("N") + F.col("V"))
        )
    )
    per_doc = (
        s.select("doc_id", dround(F.log2(score), 6).alias("__logp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            (
                -(F.sum(F.col("__logp").cast("decimal(25,6)")).cast("double"))
                / F.count(F.lit(1))
            ).alias("__ce_raw"),
        )
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        dround(F.col("__ce_raw"), 6).alias("cross_entropy_bits"),
    )
