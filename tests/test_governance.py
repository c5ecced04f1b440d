"""Row-level security + column masks (sources/governance.py)."""

from __future__ import annotations

import hashlib

import pytest

from databricks_demo_feature_store_spark.sources.governance import (
    ColumnMask,
    ReadContext,
    RowFilter,
    TablePolicy,
    apply_policies,
)


def _people(spark):
    return spark.createDataFrame(
        [
            (1, "alice", "555-0101", 100.0, "gold"),
            (2, "bob", "555-0202", -5.0, "gold"),
            (3, "carol", None, 30.0, "base"),
        ],
        "id int, name string, phone string, balance double, tier string",
    )


POLICY = TablePolicy(
    row_filters=(
        RowFilter("tier = 'gold'", exempt_groups=frozenset({"admins"})),
        RowFilter("balance > 0", exempt_groups=frozenset({"admins"})),
    ),
    column_masks=(
        ColumnMask("name", kind="hash"),
        ColumnMask("phone", kind="partial_last", param=4),
        ColumnMask("balance", kind="nullify", exempt_groups=frozenset({"finance"})),
    ),
)


def test_non_exempt_reader_filtered_and_masked(spark):
    out = apply_policies(_people(spark), POLICY, ReadContext()).collect()
    assert [r.id for r in out] == [1]  # bob fails balance>0, carol tier
    row = out[0]
    assert row.name == hashlib.sha256(b"alice").hexdigest()
    assert row.phone == "***0101"
    assert row.balance is None


def test_exempt_groups_see_raw(spark):
    ctx = ReadContext(principal="dba", groups=frozenset({"admins", "finance"}))
    out = apply_policies(_people(spark), POLICY, ctx)
    rows = {r.id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # row filters waived
    assert rows[2].balance == -5.0  # finance sees raw balance
    # name/phone masks carry no exemption for this reader's groups
    assert rows[1].name == hashlib.sha256(b"alice").hexdigest()


def test_null_input_masks_stay_null(spark):
    out = apply_policies(
        _people(spark).filter("id = 3"),
        TablePolicy(column_masks=(ColumnMask("phone", kind="partial_last"),)),
        ReadContext(),
    ).collect()[0]
    assert out.phone is None


def test_schema_stable_under_masks(spark):
    df = _people(spark)
    governed = apply_policies(df, POLICY, ReadContext())
    assert governed.columns == df.columns
    assert governed.schema["balance"].dataType == df.schema["balance"].dataType


def test_missing_mask_column_raises(spark):
    with pytest.raises(KeyError, match="absent"):
        apply_policies(
            _people(spark),
            TablePolicy(column_masks=(ColumnMask("ssn", kind="redact"),)),
            ReadContext(),
        )


def test_mask_kind_allowlist():
    with pytest.raises(ValueError, match="allowlist"):
        ColumnMask("name", kind="rot13")


def test_filters_see_raw_values_not_masked(spark):
    # balance mask must not hide rows from the balance row-filter
    policy = TablePolicy(
        row_filters=(RowFilter("balance > 0"),),
        column_masks=(ColumnMask("balance", kind="nullify"),),
    )
    out = apply_policies(_people(spark), policy, ReadContext()).collect()
    assert {r.id for r in out} == {1, 3}
    assert all(r.balance is None for r in out)
