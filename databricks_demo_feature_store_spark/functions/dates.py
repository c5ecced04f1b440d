"""Date/time column functions.

Parity targets in the reference:

- ``shift_date`` — ``notebooks/utils.py:482-534`` (note the
  ``yyyy-MM-01`` month-truncation when ``days_to_add == 0`` at :526-527,
  i.e. the availability-shift / leakage control used by every pipeline) and
  the library twin without truncation
  ``src/packages/preprocessing/transformers/date.py:276-316``.
- ``substract_to_date`` — ``date.py:99-156``
- ``_format_date_to_yyyymm`` — ``date.py:14-54``
- ``yearmonth_from_columns_separated`` — ``date.py:57-96``
- ``difference_between_dates`` — ``date.py:159-216``
- ``months_between_dates`` — ``date.py:219-247``
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def shift_date(
    df: DataFrame,
    date_column: str,
    new_column: str,
    source_format: str | None = None,
    days_to_add: int = 0,
    months_to_add: int = 0,
    years_to_add: int = 0,
    truncate_to_month: bool | None = None,
) -> DataFrame:
    """Availability shift: parse → (day add | month truncate) → add months.

    Reference ``notebooks/utils.py:482-534``. Every fact pipeline applies
    ``months_to_add=1`` so that data observed in month M becomes available
    (``release_dt``) on the first day of month M+1. When ``days_to_add == 0``
    the reference truncates to the first of the month (:526-527); we expose
    that as ``truncate_to_month`` defaulting to the same rule.
    """
    col: Column = F.col(date_column)
    if source_format is not None:
        col = F.to_date(col, source_format)
    else:
        col = F.to_date(col)
    if days_to_add:
        col = F.date_add(col, days_to_add)
    truncate = truncate_to_month if truncate_to_month is not None else days_to_add == 0
    if truncate:
        col = F.trunc(col, "month")
    total_months = months_to_add + 12 * years_to_add
    if total_months:
        col = F.add_months(col, total_months)
    return df.withColumn(new_column, col)


def subtract_from_date(
    df: DataFrame,
    date_column: str,
    new_column: str,
    days: int = 0,
    months: int = 0,
) -> DataFrame:
    """Reference ``date.py:99-156`` — date_sub days, add_months negative."""
    col: Column = F.to_date(F.col(date_column))
    if days:
        col = F.date_sub(col, days)
    if months:
        col = F.add_months(col, -months)
    return df.withColumn(new_column, col)


def format_date_to_yyyymm(
    df: DataFrame, columns: list[str], prefix: str = "monthyear_"
) -> DataFrame:
    """``date_format(to_date(c), 'yyyyMM')`` as ``{prefix}{c}`` — ``date.py:14-54``."""
    return df.withColumns(
        {
            f"{prefix}{c}": F.date_format(F.to_date(F.col(c)), "yyyyMM")
            for c in columns
        }
    )


def yearmonth_from_columns(
    df: DataFrame, year_column: str, month_column: str, new_column: str
) -> DataFrame:
    """year + lpad(month) → ``to_date(..., 'yyyyMM')`` — ``date.py:57-96``."""
    return df.withColumn(
        new_column,
        F.to_date(
            F.concat(
                F.col(year_column).cast("string"),
                F.lpad(F.col(month_column).cast("string"), 2, "0"),
            ),
            "yyyyMM",
        ),
    )


def difference_between_dates(
    df: DataFrame,
    start_column: str,
    end_column: str,
    new_column: str,
    unit: str = "days",
    round_off: bool = False,
) -> DataFrame:
    """``datediff`` (days) or ``months_between`` — ``date.py:159-216``.

    ``end_column == "current_date"`` uses today's date (reference keyword).
    """
    end = F.current_date() if end_column == "current_date" else F.col(end_column)
    if unit == "days":
        col = F.datediff(end, F.col(start_column))
    elif unit == "months":
        col = F.months_between(end, F.col(start_column), roundOff=round_off)
    else:
        raise ValueError(f"Unsupported unit {unit!r}; use 'days' or 'months'")
    return df.withColumn(new_column, col)


def months_between_dates(
    df: DataFrame,
    start_column: str,
    end_column: str,
    new_column: str,
    as_int: bool = True,
) -> DataFrame:
    """``months_between(...).cast('int')`` tenure-style feature.

    Reference ``date.py:219-247`` and the tenure feature at
    ``fs_cus_demographic.py:234-240``.
    """
    col = F.months_between(F.col(end_column), F.col(start_column), roundOff=True)
    if as_int:
        col = col.cast("int")
    return df.withColumn(new_column, col)
