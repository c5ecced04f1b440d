"""Training-set assembly: point-in-time lookup of feature tables for a
label/spine DataFrame.

This is the Feature Store capability the reference delegates to the
Databricks client (``fs.register_table`` / ``create_training_set``; see
``notebooks/utils.py:1778-1836``) — here re-expressed on the engine's own
scalable as-of join (``databricks_demo_feature_store_spark.operators.joins``),
the union+last_value linear-shuffle form rather than the reference's
quadratic ``>=`` theta join
(``src/packages/preprocessing/merge_tables/joins.py:115-238``), run as a
per-store-version cached feature state plus a per-spine lookup.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window, functions as F

from databricks_demo_feature_store_spark.operators.joins import (
    asof_feature_state,
    asof_state_lookup,
    point_in_time_multi_join,
)
from databricks_demo_feature_store_spark.sources.writers import table_generation

if TYPE_CHECKING:
    from databricks_demo_feature_store_spark.featurestore.manager import FeatureStoreManager


@dataclass(frozen=True)
class FeatureLookup:
    table: str
    lookup_keys: tuple[str, ...]
    feature_names: tuple[str, ...] = ()  # empty = all non-key columns
    tolerance: str | None = None  # e.g. "INTERVAL 90 DAYS"


@dataclass(frozen=True)
class WindowLookup:
    """A trailing-window aggregate feature view (the Feast/Tecton
    "window aggregation" shape): per spine row, exact sums/counts of the
    table's EVENT rows over one or more trailing windows anchored at the
    spine timestamp — half-open ``[t - w, t)``, leakage-safe.

    ``windows`` is ``((suffix, interval), ...)``; ``sum_cols`` is
    ``((output_name, SQL expression), ...)`` (conditional measures
    welcome); each output lands as ``{name}_{suffix}``. The event-time
    column comes from the table's registry ``timestamp_keys`` like every
    other lookup."""

    table: str
    lookup_keys: tuple[str, ...]
    windows: tuple[tuple[str, str], ...]
    sum_cols: tuple[tuple[str, str], ...] = ()
    count_col: str | None = None
    scale: int = 2

    def output_names(self) -> list[str]:
        names = []
        for sfx, _interval in self.windows:
            names.extend(f"{out}_{sfx}" for out, _src in self.sum_cols)
            if self.count_col is not None:
                names.append(f"{self.count_col}_{sfx}")
        return names


def create_training_set(
    manager: FeatureStoreManager,
    spine: DataFrame,
    lookups: Sequence[FeatureLookup | WindowLookup],
    spine_time: str,
) -> DataFrame:
    """Left-join each feature table onto the spine as-of ``spine_time``;
    :class:`WindowLookup` entries additionally attach trailing-window
    aggregates of their table's event rows anchored at the spine
    timestamps (each window lookup is one prefix-sum union shuffle —
    `operators/windows.py trailing_multi_window_features`).

    For every lookup the feature table's own timestamp key (from registry
    metadata) is used as the as-of time; the latest feature row at or
    before the spine timestamp wins; spine rows with no history keep NULL
    features (reference PIT semantics, ``joins.py:229-236``).

    Scale shape: lookups are grouped by ``lookup_keys`` in order of first
    appearance. A group is joined either by one call of the single-pass
    kernel :func:`point_in_time_multi_join`, or in the kernel's two
    stages (``operators/joins.py``): the group's feature state
    (:func:`asof_feature_state`, one row per distinct ``(keys, time)``
    with every table's latest row as of it) and the spine's lookup
    against it (:func:`asof_state_lookup`), which sorts only the spine
    and the state, never the feature tables. A group whose spine and
    feature tables together fit one scan split (the Catalyst estimates
    summed: on more than one core, at most
    ``spark.sql.files.openCostInBytes``, 4 MB by default) runs as one
    task with no exchange — less CPU, more wall time, since one core
    does the work. A bigger group joins in ONE shuffle: the spine moves
    through one exchange per key group, not one per table. Building the
    frame launches no job. The output keeps the feature columns in
    lookup order, after the spine's columns.

    State cache: ``manager`` keeps one slot per lookup-key group
    (:class:`StateCache`), keyed by the group's lookups (table and
    feature names; not the tolerance, which the lookup applies) and each
    table's ``table_generation`` token; a second manager over the same
    root keeps its own. A build that does not match its group's slot
    (the first on a store version, or other lookups) takes the slot and
    runs the single-pass kernel, at the kernel's cost. The second
    matching build builds the state as a ``localCheckpoint(eager=False)``
    — the first action over it computes the state once and then looks the
    spine up, about 1.3 times the CPU of one single-pass join on the
    benchmark's five-table store. Every later matching build reads no
    registry DataFrame (its columns come from the slot, whose tokens vouch
    for the sidecar) and scans the state instead of the tables. A state
    whose blocks were lost with an executor is rebuilt.

    A commit into any of the group's tables (a save, or an outside write)
    changes its token, and the next build releases the group's state: a
    frame built on that state before the commit raises from then on
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, or a missing data file if the
    state was never computed) instead of returning rows. A state whose
    slot other lookups took is not released, so frames built on it keep
    working; ``FeatureStoreManager.release_training_states`` releases
    every state.

    Payload column names must be disjoint across lookups AND from the
    spine's own columns — a collision is validated up front and raises
    (checked here across key groups and window lookups, which one kernel
    call cannot see). Rename feature columns before assembling.
    """
    window_lookups = [lk for lk in lookups if isinstance(lk, WindowLookup)]
    lookups = [lk for lk in lookups if not isinstance(lk, WindowLookup)]

    groups: dict[tuple[str, ...], list[FeatureLookup]] = {}
    for lk in lookups:
        groups.setdefault(tuple(lk.lookup_keys), []).append(lk)
    states = {
        gkeys: manager._training_states.resolve(manager, gkeys, lks)
        for gkeys, lks in groups.items()
    }

    # each lookup's payload columns, in lookup order
    group_cols = {gkeys: iter(state.feature_cols) for gkeys, (state, _e) in states.items()}
    resolved = [(lk, next(group_cols[tuple(lk.lookup_keys)])) for lk in lookups]

    # validate payload-name disjointness up front: each kernel call sees
    # only its own key group, and window lookups are joined after it
    seen: dict[str, str] = {c: "the spine" for c in spine.columns}
    for lk, fcols in resolved:
        for c in fcols:
            if c in seen:
                raise ValueError(
                    f"create_training_set: feature column {c!r} from table "
                    f"{lk.table!r} collides with {seen[c]} — rename before "
                    "assembling"
                )
            seen[c] = f"table {lk.table!r}"
    for wl in window_lookups:
        for c in wl.output_names():
            if c in seen:
                raise ValueError(
                    f"create_training_set: windowed feature column {c!r} from "
                    f"table {wl.table!r} collides with {seen[c]} — rename "
                    "before assembling"
                )
            seen[c] = f"window lookup on table {wl.table!r}"

    feature_names = [c for _lk, fcols in resolved for c in fcols]
    out, lead = spine, None
    for gkeys, lks in groups.items():
        state, entries = states[gkeys]
        if entries is None:
            out = asof_state_lookup(
                out,
                state.frame,
                keys=list(gkeys),
                spine_time=spine_time,
                tolerances=[lk.tolerance for lk in lks],
                features_size=state.features_size,
            )
        else:
            for e, lk in zip(entries, lks):
                e["tolerance_expr"] = lk.tolerance
            out = point_in_time_multi_join(out, entries, keys=list(gkeys), spine_time=spine_time)
        if lead is None and len(groups) > 1:
            lead = [c for c in out.columns if c not in feature_names]
    if lead is not None:
        # a later group's call carries the earlier groups' features as
        # spine payload; restore the lookup order
        out = out.select(*lead, *feature_names)

    from databricks_demo_feature_store_spark.operators.windows import (
        trailing_multi_window_features,
    )

    for wl in window_lookups:
        events, etime = _resolve(manager, wl.table)
        out = trailing_multi_window_features(
            out,
            events,
            keys=list(wl.lookup_keys),
            spine_time=spine_time,
            event_time=etime,
            windows=list(wl.windows),
            sum_cols=list(wl.sum_cols),
            count_col=wl.count_col,
            scale=wl.scale,
        )
    return out


@dataclass(frozen=True)
class _GroupState:
    """A key group's lookups at one store version (``StateCache``)."""

    sig: tuple  # each lookup's (table, feature_names)
    tokens: tuple  # each table's table_generation
    feature_cols: tuple[tuple[str, ...], ...]  # per lookup
    frame: DataFrame | None = None  # asof_feature_state, locally checkpointed
    rdd: object = None  # the checkpointed RDD (a Py4J handle)
    features_size: int | None = None  # the feature frames' summed estimate


class StateCache:
    """``create_training_set``'s as-of feature states for one
    ``FeatureStoreManager``: one slot per lookup-key group, holding the
    group's last lookups at the store version they were built on.

    A build whose lookups or tokens differ from the slot's takes the slot
    and runs the single-pass kernel; a second build of the same lookups
    at the same tokens builds the state, and later ones look up in it.
    Only a commit (same lookups, new tokens) or lost blocks unpersist a
    state; a slot taken by other lookups drops its state unreleased, and
    Spark's ContextCleaner frees its blocks once no frame refers to it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._slots: dict[tuple[str, ...], _GroupState] = {}

    def resolve(
        self,
        manager: FeatureStoreManager,
        gkeys: tuple[str, ...],
        lks: Sequence[FeatureLookup],
    ) -> tuple[_GroupState, list[dict] | None]:
        """The group's slot, and the kernel entries when this build
        reads the feature tables (None when it looks up in the state)."""
        sig = tuple((lk.table, lk.feature_names) for lk in lks)
        with self._lock:
            # taken before any read: a commit racing the build leaves newer
            # rows under an older token, which the next build replaces
            tokens = tuple(table_generation(manager.path(lk.table)) for lk in lks)
            slot = self._slots.get(gkeys)
            again = slot is not None and slot.sig == sig and slot.tokens == tokens
            if slot is not None and slot.sig == sig and slot.frame is not None:
                if again and not _blocks_lost(manager.spark._jvm, slot.rdd):
                    return slot, None
                slot.rdd.unpersist(False)  # a commit, or lost blocks
            entries = []
            for lk in lks:
                features, ftime = _resolve(manager, lk.table)
                fcols = list(lk.feature_names) or [
                    c for c in features.columns if c not in gkeys and c != ftime
                ]
                entries.append(
                    {"features": features, "feature_time": ftime, "feature_cols": fcols}
                )
            fcols = tuple(tuple(e["feature_cols"]) for e in entries)
            if not again:
                self._slots[gkeys] = _GroupState(sig, tokens, fcols)
                return self._slots[gkeys], entries
            frame, size = asof_feature_state(entries, keys=list(gkeys))
            frame = frame.localCheckpoint(eager=False)
            rdd = frame._jdf.queryExecution().logical().rdd()
            self._slots[gkeys] = _GroupState(sig, tokens, fcols, frame, rdd, size)
            return self._slots[gkeys], None

    def clear(self) -> None:
        """Unpersist every state and empty every slot."""
        with self._lock:
            for slot in self._slots.values():
                if slot.frame is not None:
                    slot.rdd.unpersist(False)
            self._slots.clear()


def _resolve(manager: FeatureStoreManager, table: str) -> tuple[DataFrame, str]:
    """The table's live rows and its as-of time (first timestamp key)."""
    features, meta = manager.read_registered(table)
    ts_keys = meta.get("timestamp_keys") or []
    if not ts_keys:
        raise ValueError(
            f"Feature table {table!r} has no timestamp_keys in its registry metadata"
        )
    return features, ts_keys[0]


def _blocks_lost(jvm, rdd) -> bool:
    """True when a computed local checkpoint lost blocks (an executor
    holding them is gone): it has no lineage to recompute them from.
    Asks the block manager master, as the checkpoint itself does."""
    if not rdd.isCheckpointed():
        return False
    # one fully qualified lookup each: a package walk is one Py4J
    # round trip, and a failed class load in the JVM, per name segment
    master = getattr(jvm, "org.apache.spark.SparkEnv").get().blockManager().master()
    block, rid = getattr(jvm, "org.apache.spark.storage.RDDBlockId"), rdd.id()
    return not all(master.contains(block(rid, i)) for i in range(rdd.getNumPartitions()))


def latest_features(
    features: DataFrame,
    primary_keys: Sequence[str],
    timestamp_key: str,
    as_of: str | None = None,
) -> DataFrame:
    """Online-serving snapshot: the latest feature row per entity,
    optionally as of a fixed timestamp — what an online store would
    materialize for low-latency lookups (the batch twin of the Databricks
    ``publish_table`` online sync).

    One ``max_by`` hash aggregation — map-side partial combine collapses
    each entity's history before the shuffle, so the exchange carries one
    row per (entity, partition), NOT the history; a row_number window
    would shuffle and sort every historical row. At 100 TB the feature
    table is already partitioned by the timestamp key, so an ``as_of``
    snapshot prunes future partitions at scan time.

    Requires (primary_keys, timestamp_key) unique — the feature-table
    contract the manager's primary-key spec enforces; ties would
    otherwise pick an arbitrary row.
    """
    pks = [k for k in primary_keys if k != timestamp_key]
    f = features
    if as_of is not None:
        f = f.filter(
            F.col(timestamp_key) <= F.lit(as_of).cast("timestamp")
        )
    payload = [c for c in f.columns if c not in pks]
    agg = f.groupBy(*pks).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]), F.col(timestamp_key)
        ).alias("__latest")
    )
    return agg.select(*pks, "__latest.*")


def negative_samples(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    items: DataFrame,
    k: int,
    seed: int | str = "neg",
    oversample: int = 4,
) -> DataFrame:
    """Deterministic uniform NEGATIVE sampling for recommender / ranking
    training pairs: for every user with at least one interaction, up to
    ``k`` items the user has NOT interacted with, drawn uniformly from
    the ``items`` dimension — the contrastive counterpart every implicit-
    feedback trainer needs next to its positives. Returns
    ``(user, item, slot)`` with ``slot`` the draw index that produced
    the pair (stable, replayable ordering).

    Scale shape — the naive form (user × item cartesian, anti-join, rank)
    is O(U·I) and dead at any scale. Here each user gets
    ``k·oversample`` hash-indexed DRAW SLOTS (a literal-array explode,
    no shuffle): slot i draws item index ``hash60(seed, user, i) mod n``
    — candidates are O(U·k), independent of item-dimension size. The
    index joins the positionally-ranked item dimension (one shuffle, or
    a broadcast when the dim is small), positives drop with one
    anti-join, same-item re-draws collapse to their FIRST slot, and a
    per-user window (k·oversample rows per user, never the item dim)
    keeps the first ``k`` survivors in slot order. Deterministic across
    runs, partitionings and engines (md5-based portable hash).

    A user whose draws all collide with positives/other draws can emit
    fewer than ``k`` negatives — raise ``oversample`` (the miss
    probability decays geometrically in it).

    The item count ``n`` is read with one ``count()`` of the item
    dimension (metadata-scale action; the modulo needs a literal).
    """
    if k < 1:
        raise ValueError("negative_samples requires k >= 1")
    if oversample < 1:
        raise ValueError("negative_samples requires oversample >= 1")
    from databricks_demo_feature_store_spark.functions.feature_generation import (
        attach_global_rank,
    )
    from databricks_demo_feature_store_spark.textops.dedup import portable_hash_col

    n = items.select(item_col).distinct().count()
    if n == 0:
        raise ValueError("negative_samples: empty item dimension")
    m = int(k) * int(oversample)
    indexed = attach_global_rank(
        items.select(item_col).distinct(),
        [F.col(item_col).asc()],
        rank_col="__rk",
    ).select((F.col("__rk") - 1).alias("__idx"), F.col(item_col).alias("__item"))
    users = interactions.select(F.col(user_col).alias("__u")).distinct()
    cand = users.select(
        "__u", F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("slot")
    ).select(
        "__u",
        "slot",
        F.pmod(
            portable_hash_col(
                F.concat(F.col("__u").cast("string"), F.lit(":"), F.col("slot").cast("string")),
                seed=seed,
            ),
            F.lit(n),
        ).alias("__idx"),
    )
    drawn = cand.join(F.broadcast(indexed) if n <= 1_000_000 else indexed, "__idx")
    pos = interactions.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__item")
    ).distinct()
    neg = drawn.join(pos, ["__u", "__item"], "left_anti")
    firsts = neg.groupBy("__u", "__item").agg(F.min("slot").alias("slot"))
    w = Window.partitionBy("__u").orderBy(F.col("slot").asc())
    return (
        firsts.select("__u", "__item", "slot", F.row_number().over(w).alias("__rn"))
        .where(F.col("__rn") <= int(k))
        .select(
            F.col("__u").alias(user_col),
            F.col("__item").alias(item_col),
            F.col("slot").cast("int").alias("slot"),
        )
    )


def refresh_training_set(
    spine: DataFrame,
    old_training: DataFrame,
    features_old: DataFrame,
    features_new: DataFrame,
    keys: Sequence[str],
    spine_time: str,
    feature_time: str,
    feature_cols: Sequence[str] | None = None,
    tolerance_expr: str | None = None,
) -> DataFrame:
    """Incrementally refresh an assembled training set after a feature
    table changes version: spine rows whose entity's feature HISTORY
    differs between ``features_old`` and ``features_new`` get their PIT
    lookup recomputed against the new version; every other row of
    ``old_training`` is kept untouched. The PIT lookup is per-entity
    decomposable (an entity's as-of match depends only on that entity's
    history), so the result equals a full reassembly — the driver gate
    proves that equality against a full-recompute oracle rather than
    assuming it.

    Changed entities are found with a symmetric row difference
    (``exceptAll`` both ways) over (keys, time, payload) — the parquet
    twin of reading a Delta CDF — then collapsed to a distinct key set.
    Scale shape: the diff touches the two feature versions (each one
    hash shuffle), the recompute runs the union+last_value PIT on the
    CHANGED SLICE of the spine only (semi-join pruned; AQE turns the
    prune and the keep-side anti-join into broadcasts when the change
    set is small — no explicit hint, because a backfill touching most
    entities must degrade to a shuffle join instead of OOMing the
    driver on an entity-cardinality broadcast), and the kept rows move
    through an anti-join — at a typical daily change rate the refresh
    is a small fraction of reassembly.
    """
    keys = list(keys)
    from databricks_demo_feature_store_spark.operators.joins import (
        point_in_time_join,
    )

    cols = (
        [*keys, feature_time, *(feature_cols or [])]
        if feature_cols is not None
        else None
    )
    old_rows = features_old.select(*cols) if cols else features_old
    new_rows = features_new.select(*cols) if cols else features_new
    changed = (
        old_rows.exceptAll(new_rows)
        .unionByName(new_rows.exceptAll(old_rows))
        .select(*keys)
        .distinct()
    )
    spine_changed = spine.join(changed, on=keys, how="left_semi")
    recomputed = point_in_time_join(
        spine_changed,
        features_new,
        keys=keys,
        spine_time=spine_time,
        feature_time=feature_time,
        feature_cols=list(feature_cols) if feature_cols else None,
        tolerance_expr=tolerance_expr,
    )
    kept = old_training.join(changed, on=keys, how="left_anti")
    return kept.unionByName(recomputed.select(*old_training.columns))
