"""The statistic-input rule: how boolean and temporal columns enter every
statistic surface, and how the results come back (SURVEY §1.2, §2.5).

Every surface — scalar, selection list, binby grid, groupby descriptor,
rolling, rolling_range, percentile_exact, describe, covariance — reads
its input's Spark type once and asks :func:`stat_input` for the
aggregation input:

- boolean: the numeric statistics (sum, mean, std, var, skew, kurtosis,
  sum_moment, percentiles, covariance, correlation) compute over 0/1,
  as numpy does (``np.sum(bool_arr)`` counts Trues; Spark's
  ``sum(boolean)`` is a type error).  count/min/max keep the bool.
- timestamp and date: the moments compute over epoch microseconds,
  ``unix_micros(cast(x as timestamp))`` (a date is midnight in the
  session time zone).
- day-time interval (numpy timedelta64): the moments compute over exact
  µs, :func:`interval_to_us`.
- every sum of µs runs in ``decimal(38,0)``: one epoch is ~1.7e15 µs,
  so an int64 sum wraps silently at ~5,400 rows (and raises ANSI-on);
  decimal is exact to 1e38 and the same under both ANSI modes.

Results come back as numpy would type them: a mean or percentile in the
input's own type, std as a timedelta, an interval sum as a timedelta.
There is no datetime sum type (numpy raises), so a datetime sum stays
the epoch-µs sum; var is µs² (``var ** 0.5`` is std in µs); skew,
kurtosis, covariance and correlation are plain floats.  min/max are
native except on a binby grid, whose float64 cells hold µs.

Two convert-back forms: :func:`stat_output` (Column) for results that
stay in Spark — groupby, rolling, rolling_range — and :func:`stat_post`
(numpy) for results that land on the driver — scalars, selection lists,
binby grids, percentile_exact, describe.
"""

from __future__ import annotations

import decimal

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_US_PER_DAY = 86_400_000_000

# statistics over which a boolean counts as 0/1
_NUMERIC = frozenset({"sum", "mean", "std", "var", "skew", "kurtosis",
                      "sum_moment", "percentile", "percentile_approx",
                      "covar", "corr"})
# statistics a temporal input computes over µs (percentile_approx works
# on timestamps and intervals natively)
_MICROS = _NUMERIC - {"percentile_approx"}


def temporal_kind(dtype: str | None) -> str | None:
    """numpy kind of a Spark type name: 'M' for timestamp/date (datetime),
    'm' for interval (timedelta), None for everything else."""
    if not dtype:
        return None
    if dtype.startswith("timestamp") or dtype == "date":
        return "M"
    if dtype.startswith("interval"):
        return "m"
    return None


def stat_input(col: Column, dtype: str | None, stat: str,
               grid: bool = False) -> Column:
    """Aggregation input of ``col`` (Spark type ``dtype``) for ``stat``.
    ``grid``: the result lands in a float64 binby grid, where min/max of
    a temporal column are µs too."""
    kind = temporal_kind(dtype)
    if kind and (stat in _MICROS or grid and stat in ("min", "max")):
        us = (F.unix_micros(col.cast("timestamp")) if kind == "M"
              else interval_to_us(col))
        return us.cast("decimal(38,0)") if stat == "sum" else us
    if dtype == "boolean" and stat in _NUMERIC:
        return col.cast("int")
    return col


def stat_output(col: Column, dtype: str | None, stat: str) -> Column:
    """Column form of the convert-back: a statistic computed over
    :func:`stat_input` back to the contract's type."""
    kind = temporal_kind(dtype)
    if kind == "M" and stat == "mean":
        return F.timestamp_micros(F.round(col).cast("long"))
    if kind and (stat == "std" or kind == "m" and stat in ("mean", "sum")):
        return us_to_interval(col)
    return col


def stat_post(dtype: str | None, stat: str, grid: bool = False):
    """numpy form of the convert-back, for results collected to the
    driver: a post-hook over a scalar, a selection-list vector or a
    float64 binby grid, or None when the value needs no conversion."""
    kind = temporal_kind(dtype)
    if kind is None:
        return None
    if stat == "sum":
        return _decimal_sum_post if kind == "M" else _decimal_sum_td_post
    if stat in ("mean", "percentile") or grid and stat in ("min", "max"):
        return _micros_post(kind)
    if stat == "std":
        return _micros_post("m")
    return None


def _decimal_sum_post(v):
    """decimal(38,0) epoch-µs sums back to numpy-friendly values:
    scalar → exact Python int, multi-selection vector → float64 (binby
    grids are already float64 — the dense grid is plotting-oriented and
    np.full(float64) coerces Decimals on assignment)."""
    if v is None:
        return 0
    if isinstance(v, decimal.Decimal):
        return int(v)
    arr = np.asarray(v)
    if arr.dtype == object:
        flat = [float(x) if x is not None else np.nan for x in arr.ravel()]
        return np.array(flat, dtype="float64").reshape(arr.shape)
    return v


def _decimal_sum_td_post(v):
    """decimal(38,0) µs sums of an INTERVAL column back to timedeltas:
    numpy sums timedelta64 to a timedelta64 (silently wrapping int64);
    we keep the TYPE but stay exact — OverflowError once the total
    leaves the timedelta64[us] range, loud where numpy is silent (the
    same documented-divergence class as SATURATE, SURVEY §1.2)."""
    v = _decimal_sum_post(v)
    lim = np.iinfo("int64").max
    if isinstance(v, int):
        if abs(v) > lim:
            raise OverflowError(
                f"timedelta sum {v} µs exceeds the timedelta64[us] range "
                f"(numpy would silently wrap here)")
        return np.timedelta64(v, "us")
    arr = np.asarray(v, dtype="float64")
    if np.any(np.abs(arr[~np.isnan(arr)]) > lim):
        raise OverflowError(
            "timedelta sum grid exceeds the timedelta64[us] range")
    ints = np.where(np.isnan(arr), float(np.iinfo("int64").min), arr).astype("int64")
    return ints.view("timedelta64[us]")


def _micros_post(kind: str):
    """Post-hook converting a stat computed over µs back to numpy
    temporal types: kind 'M' → datetime64[us], 'm' → timedelta64[us].
    Handles every result shape — scalar (None → None), multi-selection
    vector, and binby grid (NaN-filled empty bins → NaT via the
    int64-min bit pattern)."""
    unit = "datetime64[us]" if kind == "M" else "timedelta64[us]"

    def conv(v):
        if v is None:
            return None
        arr = np.asarray(v, dtype="float64")
        if arr.ndim == 0:
            f = float(arr)
            if np.isnan(f):
                return np.datetime64("NaT", "us") if kind == "M" else np.timedelta64("NaT", "us")
            return np.datetime64(int(f), "us") if kind == "M" else np.timedelta64(int(f), "us")
        # NaT shares int64-min's bit pattern; -2^63 is exactly float64-representable
        ints = np.where(np.isnan(arr), float(np.iinfo("int64").min), arr).astype("int64")
        return ints.view(unit)

    return conv


def us_to_interval(us: Column) -> Column:
    """Exact µs (any numeric/decimal Column) → day-time interval.

    The naive ``make_dt_interval(0,0,0, us/1e6)`` needs seconds in
    decimal(18,6) — max ~1e12 s — while the day-time interval range
    (== numpy timedelta64[us]) runs to ±9.22e12 s, so the top decade of
    valid timedeltas would cast-overflow: null non-ANSI, error ANSI-on.
    The days+seconds decomposition here is exact over the full range:
    ``total = days*86400s + rem`` holds exactly even when the rounded
    decimal division mis-floors ``days`` by one (the remainder term
    absorbs it), and |rem| ≤ 86400 s always fits decimal(18,6) at full
    µs precision.  Values outside the ±int64-µs interval range return
    null under BOTH ANSI modes (range guard, not cast overflow)."""
    d = F.round(us).cast("decimal(38,0)")
    lim = F.lit(9223372036854775807).cast("decimal(38,0)")
    days = F.floor(d / F.lit(_US_PER_DAY)).cast("int")
    rem = d - days.cast("decimal(38,0)") * F.lit(_US_PER_DAY)
    secs = (rem / F.lit(1_000_000)).cast("decimal(18,6)")
    return F.when(F.abs(d) <= lim,
                  F.make_dt_interval(days, F.lit(0), F.lit(0), secs))


def interval_to_us(iv: Column) -> Column:
    """Day-time interval → exact µs bigint.  No direct cast exists
    (``CAST(iv AS BIGINT)`` reads the END-FIELD unit — seconds,
    truncated); anchoring at the epoch and reading back with
    ``unix_micros`` is exact µs arithmetic over the full range."""
    return F.unix_micros(F.timestamp_micros(F.lit(0)) + iv)
