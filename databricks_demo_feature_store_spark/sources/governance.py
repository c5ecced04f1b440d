"""Row-level security and column masking: governed reads.

The Unity-Catalog-style governance surface a feature-store table grows
the day it holds PII: a *row filter* hides rows from readers outside a
group, and a *column mask* replaces sensitive values unless the reader
is exempt. The reference repo ships tables with phone / name / balance
columns straight to every consumer (e.g. the demographic pipeline's raw
customer read); this module is the missing policy layer, applied at read
time so no unmasked copy ever materializes.

Policies are STRUCTURED specs, not raw SQL from config — the mask kinds
are an allowlisted enum (hash / redact / partial-last / nullify) matching
the repo's name-dispatch discipline (see
``functions/feature_generation.py``), and row filters reuse the AND-fold
contract of ``operators/filters.py`` so every conjunct stays
scan-pushable.

Scale shape: pure projection + filter — zero shuffles, zero UDFs. Masks
compile to JVM expressions (``sha2``, ``substring``, literals) inside
whole-stage codegen; row filters are ordinary pushable predicates, so a
governed read of a 100 TB table scans only the files whose min/max
survive the filter, same as an ungoverned one.

Group exemptions are resolved at PLAN time against the reader's
``ReadContext`` (driver-side set membership — no per-row evaluation):
an exempt reader's plan simply never contains the mask expression.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from databricks_demo_feature_store_spark.operators.filters import (
    filter_by_fixed_conditions,
)

MASK_KINDS = ("hash", "redact", "partial_last", "nullify")


@dataclass(frozen=True)
class ColumnMask:
    """Masking policy for one column.

    kind:
      - ``hash``: sha2-256 hex digest of the string value (joinable
        pseudonym — equal values stay equal).
      - ``redact``: replace with the constant ``param`` (default
        ``"[REDACTED]"``).
      - ``partial_last``: keep the last ``param`` characters (default 4),
        prefix the rest with ``***`` — the phone/card display form.
      - ``nullify``: NULL of the column's own type.

    ``exempt_groups``: readers holding any of these groups see the raw
    column.
    """

    column: str
    kind: str = "redact"
    param: object | None = None
    exempt_groups: frozenset[str] = frozenset()

    def __post_init__(self) -> None:
        if self.kind not in MASK_KINDS:
            raise ValueError(
                f"mask kind {self.kind!r} not in allowlist {MASK_KINDS}"
            )


@dataclass(frozen=True)
class RowFilter:
    """Row-level security rule: readers OUTSIDE ``exempt_groups`` only see
    rows satisfying ``condition`` (one SQL boolean conjunct, AND-folded
    with the other applicable filters — each stays pushdown-eligible)."""

    condition: str
    exempt_groups: frozenset[str] = frozenset()


@dataclass(frozen=True)
class ReadContext:
    """Who is reading: drives plan-time policy resolution."""

    principal: str = "anonymous"
    groups: frozenset[str] = frozenset()


@dataclass(frozen=True)
class TablePolicy:
    """The governance bundle attached to one table."""

    row_filters: tuple[RowFilter, ...] = ()
    column_masks: tuple[ColumnMask, ...] = ()


def _mask_expr(df: DataFrame, mask: ColumnMask) -> F.Column:
    col = F.col(mask.column)
    if mask.kind == "hash":
        return F.sha2(col.cast("string"), 256)
    if mask.kind == "redact":
        return F.lit(mask.param if mask.param is not None else "[REDACTED]")
    if mask.kind == "partial_last":
        keep = int(mask.param) if mask.param is not None else 4
        s = col.cast("string")
        return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("***"), F.substring(s, -keep, keep))
        )
    # nullify: NULL of the column's own type, schema-stable
    return F.lit(None).cast(df.schema[mask.column].dataType)


def apply_policies(
    df: DataFrame, policy: TablePolicy, context: ReadContext
) -> DataFrame:
    """Return the governed view of ``df`` for this reader.

    Row filters apply first (on RAW values — a mask never changes which
    rows a filter sees, matching Unity Catalog evaluation order), then
    masks rewrite the projection in place. Unknown mask columns raise —
    a renamed column must not silently leak unmasked.
    """
    active = [
        rf.condition
        for rf in policy.row_filters
        if not (rf.exempt_groups & context.groups)
    ]
    out = filter_by_fixed_conditions(df, active)

    missing = [m.column for m in policy.column_masks if m.column not in df.columns]
    if missing:
        raise KeyError(f"column masks reference absent columns: {missing}")
    live = {
        m.column: m
        for m in policy.column_masks
        if not (m.exempt_groups & context.groups)
    }
    if live:
        out = out.select(
            *[
                _mask_expr(out, live[c]).alias(c) if c in live else F.col(c)
                for c in out.columns
            ]
        )
    return out

