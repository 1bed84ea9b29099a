"""The missing-value rule (SURVEY §1.2): vaex's float NaN, "missing"
(null) and NA = NaN | null map exactly onto Spark, which keeps null and
NaN distinct inside double columns.

- NaN and ±inf exist only in ``float``/``double`` columns, decided from
  the Spark type name the caller has read, never through a cast
  (``isnan(cast(x as double))`` is invalid on intervals and raises
  ``CAST_INVALID_INPUT`` on strings under ANSI); on any other type the
  NaN and inf tests are ``F.lit(False)``.  Both are false on null.
- missing = null, on every type; NA = NaN ∪ missing.
- every statistic aggregator reads NaN as missing, as vaex's kernels
  skip it (agg_sum.cpp:132): its input goes through :func:`nan_to_null`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_FLOATING = ("float", "double")


def isnan(col: Column, dtype: str | None) -> Column:
    return F.isnan(col) if dtype in _FLOATING else F.lit(False)


def isna(col: Column, dtype: str | None) -> Column:
    return col.isNull() | F.isnan(col) if dtype in _FLOATING else col.isNull()


def isinf(col: Column, dtype: str | None) -> Column:
    return col.isNotNull() & (F.abs(col) == float("inf")) if dtype in _FLOATING else F.lit(False)


def nan_to_null(col: Column, dtype: str | None) -> Column:
    """Aggregation input: NaN masked to null, which aggregates skip."""
    return F.when(~F.isnan(col), col) if dtype in _FLOATING else col


# vaex's NaN/NA function family over (column, its Spark type, *args), for
# the Expression methods and the expression-string names alike
FAMILY = {
    "isna": isna,
    "notna": lambda c, t: ~isna(c, t),
    "isnan": isnan,
    "notnan": lambda c, t: ~isnan(c, t),
    "isinf": isinf,
    "isfinite": lambda c, t: ~(isna(c, t) | isinf(c, t)),
    "fillna": lambda c, t, v: F.when(isna(c, t), v).otherwise(c),
    "fillnan": lambda c, t, v: F.when(isnan(c, t), v).otherwise(c),
}
