"""Distributed PCA over an embedding column.

The dimensionality-reduction step a training-data pipeline runs before
semantic dedup / ANN at scale: project d-dim embeddings onto the top-k
principal components so downstream cosine blocking works in k ≪ d dims.
Complements the prefix-dim path (`truncated_dim_recall_at_k`,
``textops/similarity.py``) with a data-adaptive basis.

Scale shape — two corpus passes, both map-side-combinable, model-sized
driver state only (the GD-update precedent, ``textops/analysis.py``):

1. **Moments pass**: one Arrow `mapInPandas` emits per-batch partials
   ``(n, Σx, Σxxᵀ)`` — each batch of any size collapses to d + d² doubles
   — which reduce DISTRIBUTED via posexplode + one hash aggregation to
   d² rows; only the final d×d gram (64² = 4 KB here) reaches the
   driver for the eigendecomposition. The corpus itself never moves: the
   single shuffle carries `num_batches × d²` partial cells.
2. **Projection pass**: components broadcast as a closure constant; one
   `mapInPandas` matrix-multiplies each Arrow batch (NumPy BLAS) —
   zero shuffles.

Eigenvector signs are normalized (largest-|loading| entry made positive,
lowest index on ties) so the fitted basis is deterministic across runs
and partitionings; eigh of the same float64 matrix is deterministic.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.functions.rounding import dround


@dataclass(frozen=True)
class PCAModel:
    mean: tuple[float, ...]          # d
    components: tuple[tuple[float, ...], ...]  # k rows of d loadings
    eigenvalues: tuple[float, ...]   # all d, descending
    n_rows: int

    @property
    def dim(self) -> int:
        return len(self.mean)

    @property
    def k(self) -> int:
        return len(self.components)


def _moment_partials(vec_col: str, dim: int):
    """mapInPandas fn: one (n, sums, gram-flat) row per Arrow batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != dim:
                raise ValueError(
                    f"embedding dim {x.shape[1]} != expected {dim}"
                )
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    return fn


def fit_pca(
    corpus: DataFrame, vec_col: str = "embedding", k: int = 8
) -> PCAModel:
    """Fit PCA on the corpus' ``vec_col`` (array<float>); returns the
    top-``k`` components plus the FULL eigenvalue spectrum (needed for
    explained-variance and residual-error accounting)."""
    dim = len(
        corpus.select(vec_col).limit(1).collect()[0][0]
    )  # 1-row dimension probe (bounded, see similarity.py precedent)
    partials = corpus.select(vec_col).mapInPandas(
        _moment_partials(vec_col, dim),
        schema="n long, s array<double>, g array<double>",
    )
    # Distributed reduce of the batch partials: explode to (pos, cell),
    # ONE hash aggregation; d² rows total, never the corpus.
    reduced = (
        partials.select(
            "n",
            F.posexplode(
                F.concat(F.col("s"), F.col("g"))
            ).alias("pos", "cell"),
        )
        .groupBy("pos")
        .agg(
            F.sum("cell").alias("cell"),
            # n repeats once per cell; recover it from pos 0 only
            F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("n_at0"),
        )
        .collect()
    )
    cells = {r["pos"]: r["cell"] for r in reduced}
    n = int(next(r["n_at0"] for r in reduced if r["pos"] == 0))
    if n < 2:
        raise ValueError("PCA needs at least 2 rows")
    s = np.array([cells[i] for i in range(dim)])
    g = np.array([cells[dim + i] for i in range(dim * dim)]).reshape(dim, dim)
    mean = s / n
    cov = g / n - mean[:, None] * mean[None, :]
    cov = (cov + cov.T) / 2.0
    w, v = np.linalg.eigh(cov)          # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    # Deterministic sign: largest-|loading| entry positive, first on ties.
    for j in range(dim):
        col = v[:, j]
        i = int(np.argmax(np.abs(col)))
        if col[i] < 0:
            v[:, j] = -col
    comps = tuple(tuple(float(x) for x in v[:, j]) for j in range(min(k, dim)))
    return PCAModel(
        mean=tuple(float(x) for x in mean),
        components=comps,
        eigenvalues=tuple(float(x) for x in w),
        n_rows=n,
    )


def project_pca(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append ``out_col`` = Vᵀ(x − μ) as array<double>; zero shuffles —
    the components travel as a broadcast closure constant."""
    mu = np.array(model.mean)
    vt = np.array(model.components)  # k × d
    in_cols = df.columns

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = (x - mu) @ vt.T
            out = pdf[in_cols].copy()
            out[out_col] = list(proj)
            yield out

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(fn, schema=f"{schema}, `{out_col}` array<double>")


def pca_audit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    report_dims: int = 4,
    rel_tol: float = 1e-6,
) -> DataFrame:
    """Self-auditing PCA fit, value-hash-checkable cross-engine (the
    ``q_ext_sketch_profile`` pattern): eigen outputs are float-path
    engine-specific, so the gated surface is (exact per-dim variance
    through DECIMAL, exact n) plus within-bound verdict booleans an
    oracle recomputing only the exact side expects TRUE:

    - ``trace_ok``: Σ eigenvalues == Σ per-dim variances (trace identity)
    - ``orthonormal_ok``: ‖VVᵀ − I_k‖∞ ≤ tol
    - ``explained_monotone_ok``: spectrum is non-increasing
    - ``recon_ok``: mean ‖x − reconstruction‖² == Σ_{i>k} λ_i (the
      optimal-rank-k residual identity, checked distributed)

    One row per reported dim (``dim``, ``n``, ``var_exact``, verdicts).
    """
    model = fit_pca(corpus, vec_col=vec_col, k=k)
    dim, n = model.dim, model.n_rows
    lam = np.array(model.eigenvalues)

    # Exact per-dim variance: DECIMAL sums (order-independent, identical
    # in DuckDB), divisions in double.
    ex = corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x")).filter(
        F.col("pos") < report_dims
    )
    dec = lambda c: F.sum(c.cast("decimal(25,12)"))  # noqa: E731
    xd = F.col("x").cast("double")  # promote BEFORE multiplying: float*float
    # would round in single precision, diverging from the oracle's
    # double-path product of the same values.
    exact = (
        ex.groupBy("pos")
        .agg(dec(xd).alias("sx"), dec(xd * xd).alias("sxx"))
        .select(
            F.col("pos").alias("dim"),
            F.lit(n).alias("n"),
            # dround: the DECIMAL sums are engine-identical but each
            # engine's decimal→double conversion can differ by one ulp;
            # quantizing at 1e-9 absorbs it (repo determinism contract).
            dround(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double") / n
                )
                / n,
                9,
            ).alias("var_exact"),
        )
    )

    # Verdicts (driver-side model math + one distributed residual pass).
    trace = float(np.sum(lam))
    scale = max(1.0, abs(trace))
    vt = np.array(model.components)
    gram_err = float(np.max(np.abs(vt @ vt.T - np.eye(model.k))))
    monotone = bool(np.all(np.diff(lam) <= rel_tol * scale))

    mu = np.array(model.mean)
    residual_target = float(np.sum(lam[model.k :]))

    def resid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c = x - mu
            err = c - (c @ vt.T) @ vt
            yield pd.DataFrame({"sq": [float((err * err).sum())], "m": [len(x)]})

    rs = (
        corpus.select(vec_col)
        .mapInPandas(resid, schema="sq double, m long")
        .agg(F.sum("sq").alias("sq"), F.sum("m").alias("m"))
        .collect()[0]
    )
    mean_resid = float(rs["sq"]) / int(rs["m"])

    # trace identity vs the exact DECIMAL variances over ALL dims
    full = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(dec(xd).alias("sx"), dec(xd * xd).alias("sxx"))
        .select(
            (
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double") / n
                )
                / n
            ).alias("v")
        )
        .agg(F.sum("v").alias("tv"))
        .collect()[0]
    )
    trace_exact = float(full["tv"])
    tol = rel_tol * scale
    trace_ok = math.isclose(trace, trace_exact, abs_tol=max(tol, 1e-9))
    recon_ok = math.isclose(
        mean_resid, residual_target, abs_tol=max(tol, 1e-9)
    )
    return exact.select(
        "dim",
        "n",
        "var_exact",
        F.lit(trace_ok).alias("trace_ok"),
        F.lit(gram_err <= rel_tol).alias("orthonormal_ok"),
        F.lit(monotone).alias("explained_monotone_ok"),
        F.lit(recon_ok).alias("recon_ok"),
    ).orderBy("dim")


def pca_two_stage_topk(
    corpus: DataFrame,
    query: DataFrame,
    model: PCAModel,
    k: int = 10,
    m: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Two-stage ANN through the learned basis: stage 1 retrieves ``m``
    candidates per query by cosine in PCA space (k′ ≪ d dims — the scan
    reads k′-dim projections, not full vectors), stage 2 reranks ONLY
    the m candidates with exact full-dim cosine and keeps the top ``k``.

    The data-adaptive twin of ``similarity.two_stage_topk`` (prefix
    dims): where Matryoshka-style prefixes need embeddings trained for
    it, PCA gives any embedding table an importance-ordered basis. Same
    scale shape — the full-dim rerank touches |queries|·m rows, never
    the corpus.
    """
    from databricks_demo_feature_store_spark.textops.similarity import (
        _exact_rerank,
        _queries,
        brute_force_topk,
    )

    qid = query_id_col or id_col
    c_proj = project_pca(
        corpus.select(id_col, vec_col), model, vec_col, out_col="__p"
    ).select(id_col, F.col("__p").alias(vec_col))
    q_proj = project_pca(
        query.select(F.col(qid).alias("query_id"), vec_col),
        model,
        vec_col,
        out_col="__p",
    ).select("query_id", F.col("__p").alias(vec_col))
    cands = brute_force_topk(
        c_proj, q_proj, k=m, id_col=id_col, vec_col=vec_col,
        query_id_col="query_id",
    ).select("query_id", id_col)
    return _exact_rerank(
        cands, corpus.select(id_col, vec_col), _queries(query, qid, vec_col), k,
        id_col, vec_col,
    )


def pca_two_stage_recall(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 50,
    pca_k: int = 8,
    min_recall: float = 0.6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Recall audit of the PCA two-stage retriever vs the exact ranking.

    The PCA basis is a float eigendecomposition — deterministic on one
    engine, not SQL-replayable — so the gated surface is the
    ``pca_audit`` pattern: the EXACT brute-force side stays
    value-hash-checked (query_id, n_exact, plus the exact top-1
    neighbor id/cosine per query, which two-stage must also return for
    recall to hold) while the approximate side reports a
    ``recall_ok = recall >= min_recall`` verdict the oracle expects
    TRUE. Raw recalls stay pinned by tests/test_pca.py.
    """
    from databricks_demo_feature_store_spark.textops.similarity import (
        brute_force_topk,
    )

    model = fit_pca(corpus, vec_col=vec_col, k=pca_k)
    exact = brute_force_topk(corpus, query, k, id_col, vec_col, query_id_col)
    approx = pca_two_stage_topk(
        corpus, query, model, k=k, m=m, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    hits = exact.join(
        approx.select("query_id", id_col), on=["query_id", id_col], how="left_semi"
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.min_by(F.col(id_col), F.col("rank")).alias("top1_id"),
        F.max(F.when(F.col("rank") == 1, F.col("cosine"))).alias("top1_cosine"),
    )
    n_hits = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_exact.join(n_hits, on="query_id", how="left")
        .select(
            "query_id",
            "n_exact",
            "top1_id",
            "top1_cosine",
            (
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact").cast("double")
                >= min_recall
            ).alias("recall_ok"),
        )
    )
