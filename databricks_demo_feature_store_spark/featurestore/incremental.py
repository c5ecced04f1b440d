"""Incremental aggregate-feature maintenance: mergeable per-key moment
state (count / exact DECIMAL sum / sum-of-squares) that folds new event
batches in WITHOUT rescanning history, plus the finalizer that turns
state into the served feature columns (mean / std / sum / count).

The reference recomputes its per-entity aggregate features from full
table scans every run (e.g. the monthly spend aggregations feeding
``fs_cus_payment_behavior``); at 100 TB a daily refresh must instead be
O(day's data): aggregate the new batch into the SAME state shape and
cell-sum it into the stored state — the classic incremental-view-
maintenance decomposition, valid because count/sum/sumsq are commutative
monoids. This module is the aggregate-feature twin of
``featurestore/training.py refresh_training_set`` (which does the same
for as-of lookup features).

Exactness contract: sums are DECIMAL(38, scale) (order-independent,
engine-independent); x² is one IEEE multiply (bit-exact everywhere)
rounded to the same DECIMAL; finalization does its divisions in double
at the very end. Merged state is therefore BIT-IDENTICAL to
single-pass state, and the driver gate proves merged-vs-full equality
rather than assuming it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def _moment_aggs(value_col: str, scale: int) -> list:
    """The three moment aggregate expressions (shared by the plain and
    the fused state builders so both produce identical values)."""
    v = F.col(value_col)
    vdec = v.cast(f"decimal(38,{scale})")
    v2dec = (v * v).cast(f"decimal(38,{scale})")
    return [
        F.count(v).alias("n"),
        F.coalesce(F.sum(vdec), F.lit(0).cast(f"decimal(38,{scale})")).alias("s"),
        F.coalesce(F.sum(v2dec), F.lit(0).cast(f"decimal(38,{scale})")).alias("s2"),
    ]


def _hist_aggs(value_col: str, lo: float, hi: float, nbins: int) -> list:
    """The per-bin count aggregate expressions (shared like
    :func:`_moment_aggs`)."""
    if nbins < 1:
        raise ValueError("histogram_state requires nbins >= 1")
    if not hi > lo:
        raise ValueError("histogram_state requires hi > lo")
    v = F.col(value_col).cast("double")
    w = (float(hi) - float(lo)) / int(nbins)
    raw_bin = F.floor((v - F.lit(float(lo))) / F.lit(w)).cast("int")
    b = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(int(nbins) - 1))
    return [
        F.sum(
            F.when(v.isNotNull() & (b == i), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias(f"hist_{i}")
        for i in range(int(nbins))
    ]


def aggregate_state(
    events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    scale: int = 2,
    hist: tuple[float, float, int] | None = None,
) -> DataFrame:
    """Per-key moment state of ``value_col``: ``n`` (rows with a
    non-null value), ``s`` (exact DECIMAL sum), ``s2`` (exact DECIMAL
    sum of squares). One hash aggregation with map-side combine — the
    state is ≤ one row per key however large the batch.

    ``hist=(lo, hi, nbins)`` additionally appends the fixed-bin
    histogram columns of :func:`histogram_state` to the SAME
    aggregation — value-identical to ``aggregate_state(...).join(
    histogram_state(...), keys)`` (both group the same rows by the same
    keys), but in ONE hash aggregate instead of two aggs plus a join
    exchange (round-14 guide §2.4: two operations keyed the same way
    share one pass)."""
    keys = list(keys)
    aggs = _moment_aggs(value_col, scale)
    if hist is not None:
        aggs += _hist_aggs(value_col, float(hist[0]), float(hist[1]), int(hist[2]))
    return events.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    state_a: DataFrame, state_b: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Cell-sum two states (union + one hash agg): every non-key column,
    in ``state_a``'s column order — moments, histogram bins, sketch
    cells alike. Because each cell is a commutative monoid,
    ``merge(state(A), state(B)) == state(A ∪ B)`` bit-for-bit — the
    property the incremental refresh and any N-way tree of merges rely
    on."""
    keys = list(keys)
    return (
        state_a.unionByName(state_b)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in state_a.columns if c not in keys])
    )


def finalize_aggregates(
    state: DataFrame,
    keys: Sequence[str],
    prefix: str,
) -> DataFrame:
    """Serve-ready feature columns from moment state: count, exact sum,
    mean and POPULATION std (``sqrt((s2 - s²/n)/n)``, clamped at 0 for
    the 1-ulp negative a perfect-constant key can produce). Divisions
    and the square root happen once, in double, at the end — on
    identical state both engines produce identical doubles."""
    keys = list(keys)
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    s2 = F.col("s2").cast("double")
    var = (s2 - (s * s) / n) / n
    return state.select(
        *keys,
        F.col("n").alias(f"{prefix}_count"),
        s.alias(f"{prefix}_sum"),
        (s / n).alias(f"{prefix}_mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias(f"{prefix}_std"),
    )


def histogram_state(
    events: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Per-key fixed-bin HISTOGRAM state of ``value_col`` — the
    mergeable building block for quantile-type aggregate features
    (trailing p50/p90 spend/latency), the feature kind moment state
    cannot serve. ``hist[i]`` counts non-null values in
    ``[lo + i·w, lo + (i+1)·w)`` with ``w = (hi−lo)/nbins``; values
    below ``lo`` clamp into bin 0 and values at/above ``hi`` into the
    last bin (explicit boundary-loss semantics — pick [lo, hi) from a
    profile first). Bin counts are a commutative monoid under
    element-wise sum, so histogram state merges exactly like moment
    state (:func:`merge_aggregate_state`): ``merge(state(A), state(B))
    == state(A ∪ B)`` bit-for-bit. One hash aggregation with map-side
    combine; state is nbins longs per key regardless of event volume.
    """
    keys = list(keys)
    return events.groupBy(*keys).agg(*_hist_aggs(value_col, lo, hi, nbins))


def quantile_from_hist(
    prob: float, lo: float, hi: float, nbins: int, prefix: str = "hist"
) -> "F.Column":
    """Column expression: the histogram-quantile ESTIMATOR at ``prob``
    from bin-count columns ``{prefix}_0 … {prefix}_{nbins-1}`` — find
    the bin where the cumulative count crosses ``ceil(prob·n)`` and
    linearly interpolate inside it (the classic equi-width estimator;
    exact GIVEN the bins, so two engines computing it from identical
    bins produce identical doubles — which is what makes it oracle-able
    where a true streaming percentile is not). NULL when the histogram
    is empty. Error is bounded by one bin width.
    """
    if not 0.0 <= prob <= 1.0:
        raise ValueError("prob must be in [0, 1]")
    w = (float(hi) - float(lo)) / int(nbins)
    cols = [F.coalesce(F.col(f"{prefix}_{i}"), F.lit(0)).cast("double")
            for i in range(int(nbins))]
    n = cols[0]
    for c in cols[1:]:
        n = n + c
    target = F.ceil(F.lit(float(prob)) * n).cast("double")
    # first bin whose cumulative count reaches the target wins;
    # interpolate position inside it. FLAT coalesce of per-bin
    # candidates, not a nested when-chain re-embedding the running
    # expression — that doubles the expression tree per bin (2^nbins
    # nodes; nbins=16 hung Catalyst analysis), while this stays
    # O(nbins²) from the linear cum nesting alone.
    candidates = []
    cum = F.lit(0.0)
    for i in range(int(nbins)):
        cum_next = cum + cols[i]
        inside = (
            F.lit(float(lo) + i * w)
            + (target - cum) / F.greatest(cols[i], F.lit(1.0)) * F.lit(w)
        )
        candidates.append(
            F.when((cum_next >= target) & (cols[i] > 0) & (n > 0), inside)
        )
        cum = cum_next
    return F.coalesce(*candidates, F.lit(None).cast("double"))


def refresh_join_view(
    view: DataFrame,
    delta: DataFrame | None,
    other: DataFrame,
    on: str | tuple[str, str],
    replace_key: str,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Incremental maintenance of a materialized EQUI-JOIN view — the
    join-side companion of :func:`merge_aggregate_state` (classic IVM
    delta propagation: ``ΔV = ΔA ⋈ B``, stale rows replaced by key).

    ``view`` is the materialized join; ``delta`` holds the changed rows
    of ONE side (upserts keyed by ``replace_key``), ``other`` is the
    unchanged side, ``on`` their equi-join column (a shared name, or a (delta_col, other_col) pair when the sides name the key differently), and ``deletes`` an
    optional key frame of removed rows. The refresh:

    1. drops every view row whose ``replace_key`` appears in the delta
       or the deletes (a broadcast anti-join — the touched-key set is
       delta-sized by nature), then
    2. re-derives exactly the touched rows: ``delta ⋈ other``.

    Fact-side refresh: ``replace_key`` = the fact's pk, ``on`` = the dim
    key, ``other`` = the dim. Dim-side refresh: ``replace_key = on`` =
    the dim key, ``other`` = the fact (every fact row of a changed dim
    key re-joins — the inherent fanout of dim updates). Either way the
    view's history is never re-scanned beyond one keyed anti-join, and
    the result is row-identical to recomputing the join on the post-
    delta tables (inner-join semantics; proven by the gate, not
    assumed).
    """
    frames = []
    if delta is not None:
        frames.append(delta.select(F.col(replace_key).alias("__touched")))
    if deletes is not None:
        frames.append(deletes.select(F.col(replace_key).alias("__touched")))
    if not frames:
        return view
    touched = frames[0]
    for f in frames[1:]:
        touched = touched.unionByName(f)
    touched = touched.distinct()
    kept = view.join(
        F.broadcast(touched), view[replace_key] == touched["__touched"], "left_anti"
    )
    if delta is None:
        return kept
    if isinstance(on, tuple):
        add = delta.join(other, delta[on[0]] == other[on[1]])
    else:
        add = delta.join(other, on)
    return kept.unionByName(add.select(*view.columns))


def cdf_deltas(
    changes: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """Split a change feed (``VersionedTable.changes_between`` /
    Delta ``table_changes`` schema) into the ``(delta, deletes)`` pair
    :func:`refresh_join_view` consumes: post-image rows (inserts +
    update post-images, CDF meta columns dropped) and deleted keys.
    Update PRE-images drop — IVM replaces by key, so only the new row
    matters; the delete frame carries keys that left the table."""
    post = changes.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type", "_commit_version")
    dels = changes.where(F.col("_change_type") == "delete").select(key)
    return post, dels


def _version_range(versioned, v_from: int | None, v_to: int | None) -> tuple[int, int]:
    """The ``(v_from, v_to)`` a CDF refresh diffs: ``v_to`` defaults to the
    latest commit, ``v_from`` to the commit before ``v_to``."""
    versions = sorted(v.version for v in versioned.history())
    if v_to is None:
        if not versions:
            raise ValueError("versioned table has no commits")
        v_to = versions[-1]
    if v_from is None:
        older = [v for v in versions if v < v_to]
        if not older:
            raise ValueError(f"no version before {v_to} to diff against")
        v_from = older[-1]
    return v_from, v_to


def refresh_join_view_from_cdf(
    view: DataFrame,
    versioned,
    key: str,
    other: DataFrame,
    on: str | tuple[str, str],
    v_from: int | None = None,
    v_to: int | None = None,
) -> DataFrame:
    """CDF-driven incremental join-view maintenance: derive the Δ frames
    FROM a versioned table's change feed instead of making the caller
    construct them — the Delta Live Tables pattern (CDF → MV refresh).
    ``versioned`` is a :class:`~...sources.versioned.VersionedTable` (or
    anything with ``history()`` + ``changes_between()``); by default the
    refresh covers the last commit (previous version → latest).

    The change feed costs ONE full-outer key join between the two
    versions (`changes_between`); the view refresh then touches only
    changed keys (broadcast anti-join + delta-sized re-join) — the view's
    history is never rescanned, so a daily refresh is O(day's changes)
    no matter how large the view has grown. Equality with a full
    recompute of the join on the post-commit table is proven by the
    driver gate (``q_incr_cdf_refresh``), not assumed.
    """
    v_from, v_to = _version_range(versioned, v_from, v_to)
    # Pin the change feed before splitting it: cdf_deltas fans `changes`
    # out to THREE plan consumers (delta→touched, deletes→touched,
    # delta→re-join), and without materialization each consumer re-runs
    # the full-outer version diff — 3 two-snapshot joins per refresh
    # (verified in plans/r14/q_incr_cdf_refresh_before.txt: three
    # SortMergeJoin FullOuter nodes, zero ReusedExchange). The feed
    # itself is delta-sized, so the checkpoint is cheap at any scale.
    changes = versioned.changes_between(v_from, v_to, [key]).localCheckpoint(
        eager=True
    )
    delta, deletes = cdf_deltas(changes, key)
    return refresh_join_view(
        view, delta, other, on=on, replace_key=key, deletes=deletes
    )


def cdf_aggregate_delta(
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Signed moment state of a change feed: pre-images (deletes, update
    pre-images) contribute NEGATED cells, post-images contribute plain
    cells — the invertible-monoid half of aggregate IVM. ONE hash
    aggregation over the feed; because every cell is an exact DECIMAL
    (or integer) sum, the negation is exact, so folding the delta into
    stored state reproduces full-recompute state bit-for-bit —
    something IEEE doubles could not promise."""
    keys = list(keys)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    v = F.col(value_col)
    dec = f"decimal(38,{scale})"
    return changes.groupBy(*keys).agg(
        F.coalesce(
            F.sum(F.when(v.isNotNull(), sign)), F.lit(0)
        ).cast("long").alias("n"),
        F.coalesce(F.sum((sign * v).cast(dec)), F.lit(0).cast(dec)).alias("s"),
        F.coalesce(
            F.sum((sign * v * v).cast(dec)), F.lit(0).cast(dec)
        ).alias("s2"),
    )


def refresh_aggregate_state_from_cdf(
    state: DataFrame,
    versioned,
    id_keys: Sequence[str],
    agg_keys: Sequence[str],
    value_col: str,
    scale: int = 2,
    v_from: int | None = None,
    v_to: int | None = None,
) -> DataFrame:
    """CDF-driven AGGREGATE view maintenance: fold a versioned fact
    table's change feed into stored per-key moment state — updates and
    deletes included, not just appends (``merge_aggregate_state`` alone
    only covers the append-only case). Pre-images subtract, post-images
    add; both land in the same cell-sum merge, and keys whose state
    empties out drop (a full recompute would not emit them — exact when
    ``value_col`` is non-null on every row; a key carrying ONLY null
    values keeps a zero row, the one divergence, documented here).

    ``id_keys`` identify a ROW in the versioned table (drive the change
    feed); ``agg_keys`` are the state's grouping. The refresh is
    O(changed rows): one version diff + one delta-sized hash agg + one
    state-sized cell-sum — fact history is never rescanned.
    """
    v_from, v_to = _version_range(versioned, v_from, v_to)
    changes = versioned.changes_between(v_from, v_to, list(id_keys))
    delta = cdf_aggregate_delta(changes, agg_keys, value_col, scale=scale)
    merged = merge_aggregate_state(state, delta, keys=list(agg_keys))
    zero = F.lit(0).cast(f"decimal(38,{scale})")
    return merged.where(
        ~(
            (F.col("n") == 0)
            & (F.col("s").eqNullSafe(zero))
            & (F.col("s2").eqNullSafe(zero))
        )
    )
