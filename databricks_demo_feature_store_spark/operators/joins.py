"""Join operators: equi-join, point-in-time (as-of) join, anti-join, month spine.

Parity targets in the reference:

- ``make_join`` — ``src/packages/preprocessing/merge_tables/joins.py:11-112``
- ``point_in_time_join`` — ``joins.py:115-238``
- ``exclude_ids_leftjoin`` — ``joins.py:241-268``
- month-spine cross join — ``notebooks/development/fs_cus_demographic.py:64-113``
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.sources.writers import (
    plan_size_estimate,
    scan_splits,
)


def make_join(
    df_left: DataFrame,
    df_right: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str] | None = None,
    how: str = "inner",
    drop_na: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join with different-named keys and left-wins duplicate resolution.

    Semantics of the reference's ``make_join`` (``joins.py:11-112``):
    right-side keys are renamed to the left names (:79-87); non-key columns
    present on both sides are kept from the *left* only (:89-94); optional
    ``dropna()`` afterwards (:106-108). Unlike the reference we never run an
    eager ``count()`` for logging, and we expose ``broadcast_right`` for
    small dimension tables (Catalyst auto-broadcasts below the threshold,
    but an explicit hint is free insurance for dims we *know* are small).
    """
    right_keys = list(right_keys or left_keys)
    left_keys = list(left_keys)
    if len(left_keys) != len(right_keys):
        raise ValueError("left_keys and right_keys must have equal length")

    renames = {r: l for r, l in zip(right_keys, left_keys) if r != l}
    if renames:
        df_right = df_right.withColumnsRenamed(renames)

    dup_cols = [
        c for c in df_right.columns if c in df_left.columns and c not in left_keys
    ]
    if dup_cols:
        df_right = df_right.drop(*dup_cols)

    if broadcast_right:
        df_right = F.broadcast(df_right)

    joined = df_left.join(df_right, on=left_keys, how=how)
    if drop_na:
        joined = joined.dropna()
    return joined


def point_in_time_join(
    df_spine: DataFrame,
    df_features: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    feature_time: str,
    feature_cols: Sequence[str] | None = None,
    tolerance_expr: str | None = None,
    feature_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """As-of join: latest feature row at-or-before each spine timestamp.

    Matches the reference's ``point_in_time_join`` (``joins.py:115-238``):
    left join on ``spine.time >= feature.time AND keys equal`` (:213-215),
    then ``row_number()`` over ``partitionBy(keys + spine_time)
    .orderBy(feature_time DESC)`` keeping ``row_num == 1 OR row_num IS
    NULL`` (:229-236) so unmatched spine rows survive with NULL features.

    A one-lookup call of :func:`point_in_time_multi_join`, which replaces
    the reference's quadratic ``>=`` theta join with a linear union +
    carry. ``tolerance_expr`` (e.g. ``"INTERVAL 90 DAYS"``) discards
    matches older than ``spine_time - tolerance``; ``feature_tiebreak``
    orders feature rows that share one ``feature_time`` (the last wins).
    A feature column named like a spine column raises ``ValueError``.
    """
    return point_in_time_multi_join(
        df_spine,
        [
            {
                "features": df_features,
                "feature_time": feature_time,
                "feature_cols": feature_cols,
                "tolerance_expr": tolerance_expr,
                "feature_tiebreak": feature_tiebreak,
            }
        ],
        keys=keys,
        spine_time=spine_time,
    )


def point_in_time_multi_join(
    df_spine: DataFrame,
    lookups: Sequence[Mapping],
    keys: Sequence[str],
    spine_time: str,
    direction: str = "backward",
) -> DataFrame:
    """The engine's one as-of join kernel: for every spine row and every
    feature table in ``lookups``, the feature row nearest in time on the
    ``direction`` side, all tables in at most ONE shuffle.
    :func:`point_in_time_join`, :func:`asof_join` and
    :func:`scd2_dim_join` are calls to it; ``featurestore/training.py
    create_training_set`` runs the same carry in two stages,
    :func:`asof_feature_state` and :func:`asof_state_lookup`.

    Each entry of ``lookups`` is a mapping with:

    - ``features``: the feature DataFrame
    - ``feature_time``: its as-of timestamp column
    - ``feature_cols`` (optional): payload columns (default: all non-key,
      non-time columns)
    - ``tolerance_expr`` (optional): e.g. ``"INTERVAL 90 DAYS"`` — a
      match farther than this from the spine time is NULLed for that
      lookup; applied to each side BEFORE the nearest choice, so an
      out-of-tolerance backward match never shadows an in-tolerance
      forward one
    - ``feature_tiebreak`` (optional): columns ordering this table's rows
      that share one ``(keys, feature_time)``, ascending — the LAST one
      wins. Without it such ties make the carried row order-dependent.
    - ``matched_time_col`` (optional): emit the matched feature
      timestamp under this name (NULL when unmatched)

    ``direction``, for the whole call:

    - ``"backward"``: latest feature row at-or-before the spine time
      (the reference's ``>=``, ``joins.py:213-215``)
    - ``"forward"``: earliest feature row at-or-after the spine time
    - ``"nearest"``: whichever of the two is closer in absolute time;
      exact ties resolve to the backward match

    Scale shape: spine rows and every table's rows are tagged into ONE
    union on the shared ``(keys, time)`` axis; ONE window partitioned by
    ``keys`` carries each table's latest row forward as its own struct
    (``last(ignorenulls)`` per struct — whole-row atomicity per table,
    independent carries across tables), and spine rows project all N
    matches out. ``forward`` uses the mirror window (time DESCENDING);
    ``nearest`` uses both, and the two sorts share one hash partitioning.
    Linear in rows, and the spine moves through ONE exchange regardless
    of N, or none for small inputs.

    Small inputs run as ONE task with no exchange: when the Catalyst
    estimates of the spine and of every feature frame, each taken on its
    own, sum to one scan split (``writers.scan_splits``: with more than
    one core, at most ``spark.sql.files.openCostInBytes``), each input and
    the union are coalesced to one partition, which already satisfies the
    window's distribution. The wide tagged union (every payload struct
    side by side) exceeds ``spark.sql.codegen.maxFields``, so its
    projections are generated per partition; one partition generates
    them once and shuffles nothing. That trades wall time for CPU — one
    core instead of all of them, the small-task trade Spark recommends
    for busy clusters (``coalescePartitions.parallelismFirst=false``).
    Larger inputs, or any input without an estimate (e.g. a
    ``createDataFrame`` over driver-side rows), keep the shuffle plan.
    The decision launches no job.

    Feature rows sort before spine rows at equal time, so a same-instant
    feature is visible in every direction. Each table's tiebreak columns
    are NULL on every other row and sort ``asc_nulls_first`` after
    ``(time, is_spine)``, so one table's tiebreak never reorders another
    table's carry.

    Construction: the plan is built from SQL expression strings, one per
    output slot, so building it costs O(lookups) Py4J calls whatever the
    payload width. Each table's payload (its time last, as ``__ft{i}``)
    is one ``struct(...)`` expression; the union's NULL slots come from
    ``unionByName(allowMissingColumns=True)``; tolerance and the nearest
    choice act on whole structs, so a match out of tolerance NULLs every
    field of it; the output star-expands each struct and then drops or
    renames (``matched_time_col``) its time field.

    Output: keys, ``spine_time``, the other spine columns, then each
    lookup's feature columns (and matched time column) in lookup order.
    Output names must be disjoint from the spine's columns and across
    lookups (validated).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    keys, lookups = list(keys), list(lookups)
    one_task = _fits_one_split([df_spine, *(lk["features"] for lk in lookups)])
    if one_task:
        df_spine = df_spine.coalesce(1)
    payloads = [_payload(lk, keys) for lk in lookups]
    renames = _check_names(
        df_spine, keys, spine_time, payloads, [lk.get("matched_time_col") for lk in lookups]
    )
    unioned, order = _tagged_union(lookups, payloads, keys, one_task)
    unioned = _spine_branch(df_spine, keys, spine_time).unionByName(
        unioned, allowMissingColumns=True
    )
    if one_task:
        unioned = unioned.coalesce(1)

    # under backward/forward the one side carried is the match
    qkeys = [_q(k) for k in keys]
    back, fwd = ("__back", "__fwd") if direction == "nearest" else ("__feat",) * 2
    carries, sides = [], []
    for i, lk in enumerate(lookups):
        tol = lk.get("tolerance_expr")
        if direction != "forward":
            carries.append(_carry(f"__feat{i}", _window(qkeys, "ASC", order), f"{back}{i}"))
            sides.append(f"{_within_tol(f'{back}{i}', i, tol, True)} AS {back}{i}")
        if direction != "backward":
            carries.append(_carry(f"__feat{i}", _window(qkeys, "DESC", order), f"{fwd}{i}"))
            sides.append(f"{_within_tol(f'{fwd}{i}', i, tol, False)} AS {fwd}{i}")
    # every match is a whole struct: a tolerance miss NULLs all its fields
    matched = (
        unioned.selectExpr(*qkeys, "__t", "__is_spine", "__spine_payload", *carries)
        .where("__is_spine = 1")
        .selectExpr(*qkeys, "__t", "__spine_payload", *sides)
    )
    if direction == "nearest":
        matched = matched.selectExpr(
            *qkeys,
            "__spine_payload",
            *[
                f"CASE WHEN __back{i} IS NULL THEN __fwd{i} "
                f"WHEN __fwd{i} IS NULL THEN __back{i} "
                f"WHEN unix_micros(__t) - unix_micros(__back{i}.__ft{i}) "
                f"<= unix_micros(__fwd{i}.__ft{i}) - unix_micros(__t) "
                f"THEN __back{i} ELSE __fwd{i} END AS __feat{i}"  # exact tie -> backward
                for i in range(len(lookups))
            ],
        )
    return _expand(matched, qkeys, len(lookups), renames)


def asof_feature_state(
    lookups: Sequence[Mapping], keys: Sequence[str]
) -> tuple[DataFrame, int | None]:
    """Stage one of a two-stage backward as-of join: the part that
    depends only on the feature tables, so one state answers any number
    of spines (:func:`asof_state_lookup`). ``lookups`` entries are those
    of :func:`point_in_time_multi_join` (``features``, ``feature_time``,
    ``feature_cols``, ``feature_tiebreak``); tolerance belongs to the
    lookup stage.

    The state is the kernel's tagged union of the feature tables,
    carried by the same per-table ``last(__feat{i}, true)`` window, then
    cut to the last row of each ``(keys, time)`` peer group (a NULL time
    is one peer group too). It holds one row per distinct ``(keys,
    time)``: ``keys``, ``__t`` and ``__state``, a struct of every table's
    latest row as of ``__t`` (``__feat{i}``, its time last as
    ``__ft{i}``; NULL before the table's first row). Rows sharing one
    ``(keys, time)`` resolve by each table's tiebreak exactly as in the
    single-pass kernel.

    Returns the state and the sum of the feature frames' own Catalyst
    estimates (None when one is missing), which the lookup adds to the
    spine's for its one-task decision: the state plan's own estimate
    counts the union's NULL slots and overstates its bytes several times
    over. Feature frames that fit one scan split build the state in one
    task with no exchange, and then building or checkpointing it lazily
    launches no job; under AQE a bigger state's plan runs its shuffle
    stage when it is checkpointed.

    ``create_training_set`` keeps this state per ``FeatureStoreManager``
    as a ``localCheckpoint(eager=False)``, keyed by the group's lookups
    and each table's ``table_generation`` token. The first build on a
    store version runs the single-pass kernel; the second builds the
    state, whose first action computes it once, for about 1.3 times the
    CPU of one single-pass kernel call on the benchmark's five-table
    store; every later build on that version sorts only the spine and
    the state. A commit makes the next build release the state, so a
    frame built on it before the commit raises from then on rather than
    returning rows."""
    keys, lookups = list(keys), list(lookups)
    size = _estimate([lk["features"] for lk in lookups])
    one_task = size is not None and scan_splits(lookups[0]["features"].sparkSession, size) == 1
    payloads = [_payload(lk, keys) for lk in lookups]
    unioned, order = _tagged_union(lookups, payloads, keys, one_task)
    if one_task:
        unioned = unioned.coalesce(1)
    qkeys = [_q(k) for k in keys]
    window = _window(qkeys, "ASC", order)
    feats = [f"__feat{i}" for i in range(len(lookups))]
    state = (
        unioned.selectExpr(
            *qkeys,
            "__t",
            *[_carry(f, window, f) for f in feats],
            f"lead(struct(__t)) OVER ({window}) AS __next",
        )
        # the peer group's last row; NULL-safe, so NULL times form one group
        .where("NOT (__next <=> struct(__t))")
        .selectExpr(*qkeys, "__t", f"struct({', '.join(feats)}) AS __state")
    )
    return state, size


def asof_state_lookup(
    df_spine: DataFrame,
    state: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    tolerances: Sequence[str | None],
    features_size: int | None,
) -> DataFrame:
    """Stage two: the backward as-of match of every spine row against an
    :func:`asof_feature_state` ``state``, equal to
    :func:`point_in_time_multi_join` over the state's lookups with the
    ``tolerances`` (one per lookup, e.g. ``"INTERVAL 90 DAYS"`` or None).

    The spine is unioned with the state on ``(keys, time)``, ONE packed
    struct is carried (the kernel's carry, with state rows before spine
    rows at equal time), each lookup's match past its tolerance is
    NULLed, and the structs are star-expanded: only the spine and the
    state's rows are sorted, never the feature tables. Output columns as
    in the kernel, feature columns read from the state's schema.

    Runs as one task with no exchange when the spine's estimate plus
    ``features_size`` (from :func:`asof_feature_state`) is one scan
    split; building it launches no job."""
    keys = list(keys)
    packed = state.schema["__state"].dataType
    payloads = [
        [n for n in packed[f"__feat{i}"].dataType.names if n != f"__ft{i}"]
        for i in range(len(packed.names))
    ]
    one_task = _fits_one_split([df_spine], features_size)
    if one_task:
        df_spine, state = df_spine.coalesce(1), state.coalesce(1)
    renames = _check_names(df_spine, keys, spine_time, payloads, [None] * len(payloads))
    qkeys = [_q(k) for k in keys]
    unioned = _spine_branch(df_spine, keys, spine_time).unionByName(
        state.selectExpr(*qkeys, "__t", "0 AS __is_spine", "__state"),
        allowMissingColumns=True,
    )
    if one_task:
        unioned = unioned.coalesce(1)
    matched = (
        unioned.selectExpr(
            *qkeys,
            "__t",
            "__is_spine",
            "__spine_payload",
            _carry("__state", _window(qkeys, "ASC", ""), "__state"),
        )
        .where("__is_spine = 1")
        .selectExpr(
            *qkeys,
            "__spine_payload",
            *[
                f"{_within_tol(f'__state.__feat{i}', i, tol, True)} AS __feat{i}"
                for i, tol in enumerate(tolerances)
            ],
        )
    )
    return _expand(matched, qkeys, len(payloads), renames)


def _payload(lookup: Mapping, keys: Sequence[str]) -> list[str]:
    """The lookup's payload columns: ``feature_cols``, else every column
    but the keys and the feature time."""
    fcols = lookup.get("feature_cols")
    if fcols is not None:
        return list(fcols)
    ftime = lookup["feature_time"]
    return [c for c in lookup["features"].columns if c not in keys and c != ftime]


def _check_names(
    df_spine: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    payloads: Sequence[Sequence[str]],
    matched_times: Sequence[str | None],
) -> dict[str, str]:
    """Raise unless every lookup's output names are disjoint from the
    spine's output columns, the per-lookup time fields and each other;
    return the ``__ft{i}`` → ``matched_time_col`` renames."""
    # a feature column named like any of them would silently yield a
    # duplicate output column name — later select-by-name becomes ambiguous
    seen: set[str] = set(df_spine.columns) | set(keys) | {spine_time}
    seen |= {f"__ft{i}" for i in range(len(payloads))}
    renames = {}
    for i, (fcols, mtime) in enumerate(zip(payloads, matched_times)):
        names = [*fcols, *([mtime] if mtime is not None else [])]
        dup = {n for n in names if n in seen}
        seen.update(names)
        if dup:
            raise ValueError(
                f"as-of join: output columns {sorted(dup)} collide with the "
                "spine's columns/keys or another lookup — rename before joining"
            )
        if mtime is not None:
            renames[f"__ft{i}"] = mtime
    return renames


def _spine_branch(df_spine: DataFrame, keys: Sequence[str], spine_time: str) -> DataFrame:
    """The spine tagged onto the ``(keys, __t)`` axis, its other columns
    packed into ``__spine_payload``."""
    spine_cols = [c for c in df_spine.columns if c not in keys and c != spine_time]
    return df_spine.selectExpr(
        *[_q(k) for k in keys],
        f"CAST({_q(spine_time)} AS TIMESTAMP) AS __t",
        "1 AS __is_spine",
        f"struct({', '.join(map(_q, [spine_time, *spine_cols]))}) AS __spine_payload",
    )


def _tagged_union(
    lookups: Sequence[Mapping],
    payloads: Sequence[Sequence[str]],
    keys: Sequence[str],
    one_task: bool,
) -> tuple[DataFrame, str]:
    """Every feature table tagged onto the ``(keys, __t)`` axis as
    ``__feat{i}`` (its payload, time last as ``__ft{i}``), unioned with
    NULLs in the other tables' slots; and the ORDER BY suffix of the
    tables' tiebreak columns (``__tb{i}_{j}``, NULL on other rows)."""
    qkeys = [_q(k) for k in keys]
    unioned, tiebreaks = None, []
    for i, (lk, fcols) in enumerate(zip(lookups, payloads)):
        features = lk["features"].coalesce(1) if one_task else lk["features"]
        tbs = [(f"__tb{i}_{j}", c) for j, c in enumerate(lk.get("feature_tiebreak") or ())]
        tiebreaks += [tb for tb, _ in tbs]
        ft = f"CAST({_q(lk['feature_time'])} AS TIMESTAMP)"
        branch = features.selectExpr(
            *qkeys,
            f"{ft} AS __t",
            "0 AS __is_spine",
            f"struct({''.join(_q(c) + ', ' for c in fcols)}{ft} AS __ft{i}) AS __feat{i}",
            *[f"{_q(c)} AS {tb}" for tb, c in tbs],
        )
        unioned = (
            branch if unioned is None
            else unioned.unionByName(branch, allowMissingColumns=True)
        )
    return unioned, "".join(f", {tb} ASC NULLS FIRST" for tb in tiebreaks)


def _window(qkeys: Sequence[str], time_order: str, order: str) -> str:
    """The carry window: the key partition in ``(__t, __is_spine)``
    order — feature rows before spine rows at equal time — then the
    tiebreaks ``order``."""
    return (
        f"PARTITION BY {', '.join(qkeys)} ORDER BY __t {time_order}, "
        f"__is_spine ASC{order}"
    )


def _carry(col: str, window: str, name: str) -> str:
    """The as-of carry: the last non-NULL ``col`` up to the current row
    of ``window``, as ``name``."""
    return (
        f"last({col}, true) OVER ({window} ROWS BETWEEN UNBOUNDED PRECEDING "
        f"AND CURRENT ROW) AS {name}"
    )


def _within_tol(side: str, i: int, tol: str | None, is_back: bool) -> str:
    """The match struct ``side`` of lookup ``i``, NULL when its time
    ``__ft{i}`` is farther than ``tol`` from the spine's ``__t``."""
    if tol is None:
        return side
    far = f"{side}.__ft{i} < __t - ({tol})" if is_back else f"{side}.__ft{i} > __t + ({tol})"
    return f"CASE WHEN {far} THEN NULL ELSE {side} END"


def _expand(matched: DataFrame, qkeys: Sequence[str], n: int, renames: Mapping) -> DataFrame:
    """Star-expand the spine payload and the ``n`` match structs, then
    drop each ``__ft{i}`` or rename it (``renames``)."""
    out = matched.selectExpr(
        *qkeys, "__spine_payload.*", *[f"__feat{i}.*" for i in range(n)]
    )
    drops = [f"__ft{i}" for i in range(n) if f"__ft{i}" not in renames]
    if drops:
        out = out.drop(*drops)
    return out.withColumnsRenamed(renames) if renames else out


def _estimate(frames: Sequence[DataFrame]) -> int | None:
    """The sum of ``frames``' Catalyst estimates, each taken on its own —
    a tagged union's NULL payload slots would inflate Catalyst's row
    width several times over. None when any estimate is missing.
    Launches no job."""
    total = 0
    for df in frames:
        size = plan_size_estimate(df)
        if size is None:
            return None
        total += size
    return total


def _fits_one_split(frames: Sequence[DataFrame], known: int | None = 0) -> bool:
    """Do ``frames`` plus ``known`` more bytes fit in one scan split
    (:func:`scan_splits` of the sum of their :func:`_estimate`)? False
    when any estimate, or ``known``, is missing."""
    size = _estimate(frames)
    if size is None or known is None:
        return False
    return scan_splits(frames[0].sparkSession, size + known) == 1


def _q(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def exclude_ids_anti_join(
    df: DataFrame,
    df_exclude: DataFrame,
    keys: Sequence[str],
    exclude_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Drop rows whose keys appear in the exclusion DataFrame.

    Reference: ``exclude_ids_leftjoin`` (``joins.py:241-268``) — distinct
    exclusion keys then ``how="leftanti"`` (:265-266). The ``distinct()`` is
    unnecessary for correctness of an anti-join; we skip it and let Spark
    build the hash set directly (one less shuffle).
    """
    exclude_keys = list(exclude_keys or keys)
    keys = list(keys)
    renames = {e: k for e, k in zip(exclude_keys, keys) if e != k}
    right = df_exclude.select(*exclude_keys)
    if renames:
        right = right.withColumnsRenamed(renames)
    return df.join(right, on=keys, how="left_anti")


def month_spine(
    df_entities: DataFrame,
    entity_keys: Sequence[str],
    start_date: str,
    end_date: str,
    date_col: str = "release_dt",
    open_date_col: str | None = None,
) -> DataFrame:
    """Month-start spine cross-joined to entities.

    The reference builds the month range in driver-side pandas then
    ``CROSS JOIN``s it (``fs_cus_demographic.py:64-113``). We generate the
    range distributed with ``sequence()`` + ``explode`` (no driver work) and
    broadcast the tiny month dim into the cross join. The optional
    ``open_date_col`` filter reproduces the
    ``release_dt >= fecha_apertura`` predicate (:109-113).
    """
    months = (
        df_entities.sparkSession.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.trunc(F.lit(start_date).cast("date"), "month"),
                    F.trunc(F.lit(end_date).cast("date"), "month"),
                    F.expr("INTERVAL 1 MONTH"),
                )
            ).alias(date_col)
        )
    )
    spine = df_entities.select(*entity_keys, *( [open_date_col] if open_date_col else [] )).distinct()
    out = spine.crossJoin(F.broadcast(months))
    if open_date_col:
        out = out.filter(F.col(date_col) >= F.trunc(F.col(open_date_col), "month"))
    return out


def salted_join(
    df_big: DataFrame,
    df_small: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Equi-join with deterministic key salting for skewed hot keys.

    AQE's skew-join split handles most skew at runtime
    (``spark.sql.adaptive.skewJoin.enabled``); this explicit form is for
    the pathological case AQE can't fix — one reducer key so hot its
    single partition exceeds memory even after splitting. The big side
    gets ``salt = pmod(xxhash64(salt_source or all columns), buckets)``;
    the small side is exploded ``buckets``× (size multiplier — keep the
    small side genuinely small) so every (key, salt) pair matches.
    Deterministic (hash-derived, no rand()), so results are reproducible
    run to run.

    Only ``inner`` and ``left`` joins are supported: the exploded small
    side would emit unmatched right/full-outer rows once per salt bucket.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how in {{'inner', 'left'}}, got {how!r}: "
            "the exploded small side duplicates unmatched right-side rows"
        )
    keys = list(keys)
    salt_cols = (
        [F.col(salt_source)] if salt_source else [F.col(c) for c in df_big.columns]
    )
    big = df_big.withColumn(
        "__salt", F.pmod(F.xxhash64(*salt_cols), F.lit(salt_buckets)).cast("int")
    )
    small = df_small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return big.join(small, on=keys + ["__salt"], how=how).drop("__salt")


def interval_join(
    df_left: DataFrame,
    df_right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float = 0.0,
    upper_seconds: float = 3600.0,
) -> DataFrame:
    """Range (interval) join: pairs where ``right_ts`` falls inside
    ``[left_ts + lower, left_ts + upper]``, equi-matched on ``keys``.

    Net-new vs the reference (its only temporal join is the PIT as-of,
    ``src/packages/preprocessing/merge_tables/joins.py:115-238``); this is
    the bounded-window companion (event attribution, feature windows).

    Scale design — the naive formulation is a theta join (per-key cross
    product then range filter), quadratic in rows per key. Instead the
    time axis is bucketed by the window width: each right row lands in
    exactly ONE bucket, each left row explodes to the (at most two)
    buckets its window can touch, and the join becomes a pure equi-join
    on ``keys + [bucket]`` — hash-partitioned, AQE-splittable, no
    per-key cross product. The exact range predicate then prunes the
    bucket-coarse candidates; bucket membership is unique per right row
    so no post-join dedup is needed.
    """
    if upper_seconds < lower_seconds:
        raise ValueError("upper_seconds must be >= lower_seconds")
    if left_ts == right_ts:
        # The post-join range predicate references both timestamp columns
        # by name; identical names would resolve ambiguously after the join
        # (the streaming twin documents the same requirement).
        raise ValueError(
            "interval_join requires distinct timestamp column names; "
            f"rename one side (both are {left_ts!r})"
        )
    keys = list(keys)
    lower_us = int(lower_seconds * 1_000_000)
    upper_us = int(upper_seconds * 1_000_000)
    width_us = max(upper_us - lower_us, 1)

    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    left = df_left.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor((l_us + F.lit(lower_us)) / F.lit(width_us)),
                F.floor((l_us + F.lit(upper_us)) / F.lit(width_us)),
            )
        ),
    )
    right = df_right.withColumn("__bkt", F.floor(r_us / F.lit(width_us)))
    return (
        left.join(right, on=keys + ["__bkt"], how="inner")
        .where(
            (r_us >= l_us + F.lit(lower_us)) & (r_us <= l_us + F.lit(upper_us))
        )
        .drop("__bkt")
    )


def asof_join(
    df_spine: DataFrame,
    df_features: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    feature_time: str,
    direction: str = "backward",
    feature_cols: Sequence[str] | None = None,
    tolerance_expr: str | None = None,
    matched_time_col: str | None = None,
) -> DataFrame:
    """Direction-aware as-of join — the pandas ``merge_asof`` surface:
    a one-lookup call of :func:`point_in_time_multi_join`.

    ``direction`` is ``"backward"`` (latest feature row at-or-before the
    spine time, identical to :func:`point_in_time_join`), ``"forward"``
    (EARLIEST feature row at-or-after) or ``"nearest"`` (whichever is
    closer in absolute time; exact ties resolve to the backward match).
    Every direction moves the spine through at most one shuffle.

    ``tolerance_expr`` (e.g. ``"INTERVAL 2 HOURS"``) bounds the match
    distance on EACH side before the nearest choice is made — an
    out-of-tolerance backward match never shadows an in-tolerance
    forward match. Unmatched spine rows keep NULL features.
    ``matched_time_col`` optionally emits the matched feature timestamp.

    Determinism contract: (keys, feature_time) must be unique in the
    feature table (several feature rows at one instant would make the
    carried row order-dependent) — same contract as ``merge_asof`` needs
    for reproducibility; pre-dedup with a tiebreak when in doubt.
    """
    return point_in_time_multi_join(
        df_spine,
        [
            {
                "features": df_features,
                "feature_time": feature_time,
                "feature_cols": feature_cols,
                "tolerance_expr": tolerance_expr,
                "matched_time_col": matched_time_col,
            }
        ],
        keys=keys,
        spine_time=spine_time,
        direction=direction,
    )


def scd2_dim_join(
    df_facts: DataFrame,
    df_dim: DataFrame,
    keys: Sequence[str],
    fact_time: str,
    valid_from: str = "effective_from",
    valid_to: str = "effective_to",
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Temporal fact⋈SCD2-dimension join: attach the dimension version
    whose validity interval ``[valid_from, valid_to)`` contains each
    fact's timestamp (``valid_to`` NULL = current/open version, the
    :func:`databricks_demo_feature_store_spark.operators.history.build_scd2` output shape).
    Facts in a coverage GAP (no version active at their instant) keep
    NULL dimension attributes — the honest answer, not the stale row.

    Scale shape: a direct theta join (``key equal AND from <= ts < to``)
    degrades to a per-key version scan. Instead this rides the linear
    as-of carry (:func:`point_in_time_join`) on ``valid_from`` — one
    hash shuffle of facts + versions, per-key history never multiplies —
    and then applies the ``valid_to`` residual row-locally, nulling the
    carried attributes where the matched version had already expired.
    Non-overlap of versions per key is the SCD2 contract the builder
    (`build_scd2`) guarantees by construction.
    """
    keys = list(keys)
    if dim_cols is None:
        dim_cols = [
            c
            for c in df_dim.columns
            if c not in keys and c not in (valid_from, valid_to)
        ]
    dim_cols = list(dim_cols)
    # valid_to rides through the PIT join, so the kernel's collision
    # check rejects a same-named fact column exactly like a dim column
    joined = point_in_time_join(
        df_facts,
        df_dim,
        keys=keys,
        spine_time=fact_time,
        feature_time=valid_from,
        feature_cols=[*dim_cols, valid_to],
    )
    ts = F.col(fact_time).cast("timestamp")
    expired = F.col(valid_to).isNotNull() & (ts >= F.col(valid_to).cast("timestamp"))
    return joined.select(
        *[c for c in df_facts.columns],
        *[
            F.when(expired, F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in dim_cols
        ],
    )


def bloom_filtered_join(
    df_left: DataFrame,
    df_right: DataFrame,
    left_on: str,
    right_on: str,
    how: str = "inner",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Semi-join reduction: pre-filter the probe side with a broadcast
    Bloom filter of the build side's keys BEFORE the shuffle join.

    The fact-fact join killer at 100 TB is shuffling probe rows that
    can never match (a selective filter on the build side leaves 1%% of
    keys, but 100%% of the probe still crosses the wire). Engines solve
    this with runtime filters (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` does it inside
    AQE); this operator is the explicit, engine-portable form over the
    repo's column-algebra Bloom (`operators/sketches.py bloom_build`):

    - ONE pass over the build side's keys folds into a one-row
      ``map<int,bigint>`` filter (a few MB regardless of key count),
    - the probe side crossJoins the broadcast row and keeps rows whose
      key MIGHT be present (codegen'd bit tests at scan speed — no
      shuffle, no Python),
    - the exact join then runs on the reduced probe side. Bloom false
      positives cost only wasted shuffle rows; false negatives cannot
      happen, so the join result is EXACTLY the plain join's.

    Keys of any type are bridged through ``xxhash64`` (both sides hashed
    identically); the ``bloom`` helper column never leaks into the
    output. ``how`` covers inner/left_semi — shapes where dropping
    non-matching probe rows early is semantics-preserving.
    """
    from databricks_demo_feature_store_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain_dense,
    )

    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_filtered_join: how={how!r} not supported — the Bloom "
            "pre-filter drops probe rows, which only preserves inner/"
            "left_semi semantics"
        )
    # mask the hash non-negative: Spark's % keeps the dividend's sign, so
    # a raw xxhash64 would scatter bits to NEGATIVE positions — fine for
    # the sparse map (negative keys round-trip) but out of range for the
    # dense array probe. Same mask on both sides keeps build/probe aligned.
    def _key(c):
        return F.xxhash64(c).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))

    keys = df_right.select(_key(F.col(right_on)).alias("__bloom_key"))
    bloom = bloom_build(keys, "__bloom_key", n_bits=n_bits, n_hashes=n_hashes)
    # Collect the one-row filter and inject it as a LITERAL dense array —
    # exactly what Spark's own runtime bloom filter does (build, collect
    # at the driver, inject into the probe's scan filter). The literal is
    # evaluated once under codegen; attaching the filter via a crossJoin
    # instead makes every probed UnsafeRow COPY the array bytes (measured
    # 20x slower at 1<<20 bits), and a sparse-map probe pays an O(set
    # words) scan per element_at. Driver traffic = n_bits/8 bytes once.
    word_map = bloom.collect()[0]["bloom"] or {}
    n_words = (n_bits + 63) // 64
    dense = [word_map.get(i, 0) for i in range(n_words)]
    # ONE parsed expression, constant-folded to a single array literal.
    # (F.lit(list) builds the array from n_words separate Column objects —
    # 16k py4j round-trips, measured ~8 s at the default sizing.)
    arr = F.expr("array(" + ",".join(f"{w}L" for w in dense) + ")")
    reduced = df_left.filter(
        bloom_might_contain_dense(
            arr, _key(F.col(left_on)), n_bits=n_bits, n_hashes=n_hashes
        )
    )
    # frame-qualified condition: unqualified F.col(left_on) is ambiguous
    # whenever both sides carry the key under the same name
    return reduced.join(df_right, reduced[left_on] == df_right[right_on], how)
