"""Permanent stat-surface × {bool, timestamp} parity matrix (r14).

VERDICT r13 task 3: the boolean-0/1 and temporal contracts had been
closed surface-by-surface across rounds (r12 scalar/binby/groupby,
r13 binby-grid/multi-selection/groupby-descriptor/rolling/
percentile_exact/describe, r14 rolling-bool + rolling_range + sum) —
each round's fuzz found the surface the previous round missed.  This
matrix enumerates EVERY stat surface against both dtypes so the next
surface added cannot skip the branch.

Contract (SURVEY §1.2):
- boolean: moment statistics (sum/mean/std/var/skew/kurtosis) compute
  over 0/1 — numpy parity (np.sum(bool_arr) counts Trues; Spark's
  sum(boolean) is a DATATYPE_MISMATCH).  min/max/count keep the bool.
- timestamp: mean → datetime, std → timedelta, var → µs² float,
  skew/kurtosis → dimensionless, sum → epoch-µs sum (numpy RAISES on
  datetime64 sum; there is no datetime sum type — the µs sum is this
  engine's uniform choice, established by the r13 rolling path).
  min/max stay timestamps.

When you add a NEW statistic surface, add a runner here, and take the
surface's input from the statistic-input rule
(``vaex_spark.temporal.stat_input``) instead of a branch of its own.
"""

import pathlib
import re

import numpy as np
import pandas as pd
import pytest

import vaex_spark as vs
import vaex_spark.agg as vagg

N = 8
BOOLS = np.array([True, False, True, True, False, True, False, True])
TS = pd.date_range("2024-01-01", periods=N, freq="h").to_numpy()
DATES = pd.date_range("2024-03-01", periods=N, freq="3D")
GROUPS = np.array([0] * 4 + [1] * 4)
B01 = BOOLS.astype("float64")
MU = TS.astype("datetime64[us]").astype("int64").astype("float64")  # µs
# date column as epoch µs at midnight UTC — the value the engine's
# date→timestamp cast produces in the UTC session
DMU = DATES.to_numpy().astype("datetime64[us]").astype("int64").astype("float64")


TD = np.array([1_000_000, 2_500_000, -4_000_000, 86_400_000_000,
               7_200_000_000, 120_000_000, 3_600_000_000, 59_000_000],
              dtype="timedelta64[us]")
TMU = TD.astype("int64").astype("float64")  # µs


@pytest.fixture(scope="module")
def pdf(spark):
    return vs.from_arrays(spark=spark, i=np.arange(N), b=BOOLS, t=TS,
                          d=np.array(DATES.date), td=TD, g=GROUPS)


def _as_us_datetime(v) -> float:
    """Any datetime spelling (np.datetime64, pd.Timestamp, datetime)
    to epoch µs, failing loudly on non-datetime values."""
    tv = np.datetime64(pd.Timestamp(v).to_pydatetime().replace(tzinfo=None), "us")
    return float(tv.astype("int64"))


def _as_us_timedelta(v) -> float:
    return float(pd.Timedelta(v).to_numpy().astype("timedelta64[us]").astype("int64"))


def _pop_std(a):
    return float(np.std(a))


def _pop_var(a):
    return float(np.var(a))


BOOL_ORACLE = {
    "sum": float(B01.sum()), "mean": float(B01.mean()),
    "std": _pop_std(B01), "var": _pop_var(B01),
    "min": False, "max": True, "count": float(N),
}
TS_ORACLE = {  # in µs where dimensional
    "sum": float(MU.sum()), "mean": float(MU.mean()),
    "std": _pop_std(MU), "var": _pop_var(MU),
    "min": float(MU[0]), "max": float(MU[-1]), "count": float(N),
}

MOMENTS = ["sum", "mean", "std", "var"]


def _check_ts(stat, got, want_us, tol=1.0):
    """Temporal result in whatever container the surface uses → µs,
    asserting the TYPE follows the contract."""
    if stat == "mean" or stat in ("min", "max"):
        got_us = _as_us_datetime(got)
    elif stat == "std":
        got_us = _as_us_timedelta(got)
    else:  # sum / var / count: plain numbers (µs, µs², n)
        assert not isinstance(got, (np.datetime64, np.timedelta64,
                                    pd.Timestamp, pd.Timedelta)), got
        got_us = float(got)
    # mean is rounded to whole µs engine-side; var is µs²-scale huge
    rel = abs(got_us - want_us) / max(1.0, abs(want_us))
    assert rel < 1e-9 or abs(got_us - want_us) <= tol, (stat, got, want_us)


# ---------------------------------------------------------------- scalar
@pytest.mark.parametrize("stat", MOMENTS + ["min", "max", "count"])
def test_scalar_bool(pdf, stat):
    got = getattr(pdf, stat)("b")
    want = BOOL_ORACLE[stat]
    if stat in ("min", "max"):
        assert bool(got) == want
    else:
        assert abs(float(got) - want) < 1e-12, (stat, got, want)


@pytest.mark.parametrize("stat", MOMENTS + ["min", "max"])
def test_scalar_timestamp(pdf, stat):
    _check_ts(stat, getattr(pdf, stat)("t"), TS_ORACLE[stat])


# scipy-free population skew/kurtosis oracles
def _skew(a):
    c = a - a.mean()
    return float((c ** 3).mean() / (c ** 2).mean() ** 1.5)


def _kurt(a):
    c = a - a.mean()
    return float((c ** 4).mean() / (c ** 2).mean() ** 2 - 3.0)


@pytest.mark.parametrize("col,arr", [("b", B01), ("t", MU)])
def test_scalar_skew_kurtosis(pdf, col, arr):
    assert abs(pdf.skew(col) - _skew(arr)) < 1e-9
    assert abs(pdf.kurtosis(col) - _kurt(arr)) < 1e-9


# ----------------------------------------------------- DATE columns (r14)
# The reference stores dates as datetime64 arrays, so every moment just
# works there; Spark's avg/stddev over DATE are type errors.  r14 routed
# DATE through the same unix_micros chokepoint as timestamps (midnight
# UTC) on every surface — these pin the class the way r12-r13 pinned
# bool and timestamp.
@pytest.mark.parametrize("stat", MOMENTS)
def test_scalar_date(pdf, stat):
    _check_ts(stat, getattr(pdf, stat)("d"),
              {"sum": DMU.sum(), "mean": DMU.mean(),
               "std": _pop_std(DMU), "var": _pop_var(DMU)}[stat])


@pytest.mark.parametrize("stat", ["mean", "std", "sum", "var", "skew",
                                  "kurtosis"])
def test_groupby_date(pdf, stat):
    desc = getattr(vagg, stat)("d")
    out = pdf.groupby("g", agg={"o": desc}).to_pandas_df().sort_values("g")
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var,
          "skew": _skew, "kurtosis": _kurt}[stat]
    # skew/kurtosis are O(1) floats: hold them to 1e-9, not 1 µs
    tol = 1e-9 if stat in ("skew", "kurtosis") else 1.0
    for g, w in zip(out.o.tolist(), [fn(DMU[:4]), fn(DMU[4:])]):
        _check_ts(stat, g, float(w), tol=tol)


def test_binby_date_value(pdf):
    got = pdf.mean("d", binby="i", shape=2, limits=[0, 8])
    for g, w in zip(np.asarray(got).tolist(),
                    [DMU[:4].mean(), DMU[4:].mean()]):
        _check_ts("mean", g, float(w))


def test_binby_date_axis_and_limits(pdf):
    # a DATE binby axis: limits are epoch seconds of the midnights, and
    # every row lands in a bin (before r14 each row fell in a null bin)
    from vaex_spark.operators.binby import compute_limits
    assert compute_limits(pdf, "d") == [DMU[0] / 1e6, DMU[-1] / 1e6]
    assert pdf.count(binby="d", shape=4).tolist() == [2.0] * 4


def test_rolling_date(pdf):
    out = pdf.rolling(3, column="d", order_key="i").mean()
    got = out.to_pandas_df().sort_values("i").d
    want = pd.Series(DMU).rolling(3).mean()
    for g, w in zip(got.tolist(), want.tolist()):
        if g is None or g is pd.NaT:
            assert np.isnan(w)
            continue
        _check_ts("mean", g, float(w))


def test_percentile_date(pdf):
    _check_ts("mean", pdf.percentile_exact("d", 50),
              float(np.percentile(DMU, 50)))


def test_describe_date(pdf):
    d = pdf.describe()
    _check_ts("mean", d["d"]["mean"], DMU.mean())
    assert isinstance(d["d"]["std"], (pd.Timedelta, np.timedelta64))
    assert str(d["d"]["min"]) == str(DATES.date[0])


# ------------------------------------------- INTERVAL columns (r14)
# The reference's stat kernels are plain numpy over m8 values, so every
# timedelta64 moment works there (datatype.py:255: is_temporal =
# datetime OR timedelta); every Spark moment over an interval column
# was a DATATYPE_MISMATCH here (even min/max — _dropnan's isnan cast).
# r14 anchors intervals at the epoch into the same µs chokepoint.
def _td_us(v) -> float:
    if isinstance(v, (pd.Timedelta,)):
        return v.value / 1e3
    if isinstance(v, np.timedelta64):
        return float(v.astype("timedelta64[us]").astype("int64"))
    import datetime as _dt
    if isinstance(v, _dt.timedelta):
        return v.total_seconds() * 1e6
    return float(v)


@pytest.mark.parametrize("stat", MOMENTS)
def test_scalar_interval(pdf, stat):
    got = getattr(pdf, stat)("td")
    want = {"sum": TMU.sum(), "mean": TMU.mean(),
            "std": _pop_std(TMU), "var": _pop_var(TMU)}[stat]
    if stat == "var":
        assert abs(got - want) / abs(want) < 1e-9
    else:
        # sum/mean/std of a timedelta column ARE timedeltas (numpy)
        assert isinstance(got, (pd.Timedelta, np.timedelta64)), (stat, got)
        assert abs(_td_us(got) - want) <= 1.0 or \
            abs(_td_us(got) - want) / abs(want) < 1e-9


def test_scalar_interval_minmax_skew(pdf):
    assert _td_us(pdf.min("td")) == TMU.min()
    assert _td_us(pdf.max("td")) == TMU.max()
    assert abs(pdf.skew("td") - _skew(TMU)) < 1e-9
    assert abs(pdf.kurtosis("td") - _kurt(TMU)) < 1e-9
    got = pdf.percentile_exact("td", 50)
    assert abs(_td_us(got) - float(np.percentile(TMU, 50))) <= 1.0


@pytest.mark.parametrize("stat", ["mean", "std", "sum", "var", "skew",
                                  "kurtosis"])
def test_groupby_interval(pdf, stat):
    out = pdf.groupby("g", agg={"o": getattr(vagg, stat)("td")}) \
        .to_pandas_df().sort_values("g")
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var,
          "skew": _skew, "kurtosis": _kurt}[stat]
    for g, w in zip(out.o.tolist(), [fn(TMU[:4]), fn(TMU[4:])]):
        if stat in ("mean", "std", "sum"):
            assert abs(_td_us(g) - float(w)) <= 1.0, (stat, g, w)
        else:  # µs² and dimensionless moments are plain floats
            assert isinstance(g, float), (stat, g)
            assert abs(g - w) <= 1e-9 * max(1.0, abs(w)), (stat, g, w)


def test_binby_interval_value(pdf):
    got = pdf.mean("td", binby="i", shape=2, limits=[0, 8])
    arr = np.asarray(got)
    assert arr.dtype.kind == "m"
    for g, w in zip(arr.astype("timedelta64[us]").astype("int64").tolist(),
                    [TMU[:4].mean(), TMU[4:].mean()]):
        assert abs(g - w) <= 1.0


def test_binby_over_interval_dimension(pdf):
    # interval as the BINBY KEY: epoch-anchored seconds double
    grid = pdf.count(binby="td", shape=4,
                     limits=[np.timedelta64(0, "us"),
                             np.timedelta64(86_400_000_000, "us")])
    arr = np.asarray(grid)
    # engine convention (== vaex/np.histogram): the upper limit value
    # itself lands in the LAST bin
    inside = ((TMU >= 0) & (TMU <= 86_400_000_000)).sum()
    assert int(arr.sum()) == inside


def test_rolling_interval(pdf):
    for stat, oracle in [("mean", pd.Series(TMU).rolling(3).mean()),
                         ("sum", pd.Series(TMU).rolling(3).sum())]:
        out = getattr(pdf.rolling(3, column="td", order_key="i"), stat)()
        got = out.to_pandas_df().sort_values("i").td
        for g, w in zip(got.tolist(), oracle.tolist()):
            if g is None or g is pd.NaT:
                assert np.isnan(w)
                continue
            assert abs(_td_us(g) - w) <= 1.0, (stat, g, w)


@pytest.mark.parametrize("stat", ["mean", "std", "sum"])
def test_selection_list_interval(pdf, stat):
    got = getattr(pdf, stat)("td", selection=[None, "i >= 4"])
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std}[stat]
    for g, w in zip(np.asarray(got).tolist(), [fn(TMU), fn(TMU[4:])]):
        assert abs(_td_us(g) - float(w)) <= 1.0, (stat, g, w)


def test_rolling_range_interval(spark):
    # trailing time window over an interval VALUE column: native
    # F.sum(interval) clashes with the growing-frame coalesce and
    # raises on overflow — routed through the same µs/decimal
    # chokepoint, results back as intervals (r14)
    from vaex_spark.operators.window import rolling_range
    ts = pd.date_range("2024-01-01", periods=6, freq="10s").to_numpy()
    tdv = np.array([1, 2, 3, 4, 5, 6], dtype="timedelta64[s]")
    df2 = vs.from_arrays(spark=spark, t=ts, td=tdv)
    for stat, want in [("sum", 6.0), ("mean", 2.0)]:
        out = (rolling_range(df2, 25, on="t", column="td", agg=stat)
               .to_pandas_df().sort_values("t")[f"td_rolling_{stat}"])
        assert abs(out.iloc[2].total_seconds() - want) < 1e-6, (stat, out.iloc[2])


def test_describe_interval(pdf):
    d = pdf.describe()
    assert isinstance(d["td"]["mean"], pd.Timedelta)
    assert isinstance(d["td"]["std"], pd.Timedelta)
    assert abs(_td_us(d["td"]["mean"]) - TMU.mean()) <= 1.0
    assert _td_us(d["td"]["min"]) == TMU.min()


def test_interval_extreme_range_exact(spark):
    # us_to_interval decomposition net: the naive make_dt_interval(
    # 0,0,0, µs/1e6) form cast-overflows decimal(18,6) for any value
    # past ~1e12 s — the TOP DECADE of valid timedeltas (range runs to
    # ±9.22e12 s) would null non-ANSI and RAISE ANSI-on.  Pin groupby
    # mean/std/sum and rolling mean on values deep in that band,
    # positive and negative.
    big = np.array([4_000_000_000_000_000_000, 4_100_000_000_000_000_000,
                    -3_900_000_000_000_000_000, 8_000_000_000_000_000_000],
                   dtype="timedelta64[us]")
    bmu = big.astype("int64").astype("float64")
    df2 = vs.from_arrays(spark=spark, i=np.arange(4), td=big,
                         g=np.array([0, 0, 1, 1]))
    m = df2.mean("td")
    assert abs(_td_us(m) - bmu.mean()) / abs(bmu.mean()) < 1e-9
    s = df2.std("td")
    assert abs(_td_us(s) - _pop_std(bmu)) / _pop_std(bmu) < 1e-9
    # COLUMN results read back JVM-side: pandas Timedelta is int64
    # NANOSECONDS (max ±9.2e15 µs), so toPandas of this band wraps in
    # pandas itself — the engine's interval values are what matters
    # (and the old form CRASHED ANSI-on here instead of nulling)
    from pyspark.sql import functions as FF

    from vaex_spark.temporal import interval_to_us
    gb = df2.groupby("g", agg={"m": vagg.mean("td"), "s": vagg.sum("td")})
    rows = {r["g"]: r for r in gb.spark.select(
        "g", interval_to_us(FF.col("m")).alias("m_us"),
        interval_to_us(FF.col("s")).alias("s_us")).collect()}
    assert abs(rows[0]["m_us"] - bmu[:2].mean()) <= 2.0
    # group-0 sum (8.1e18 µs) is WITHIN the interval range — the old
    # decimal(18,6) path nulled it (and raised under ANSI)
    assert rows[0]["s_us"] == int(bmu[0]) + int(bmu[1])
    assert rows[1]["s_us"] == int(bmu[2]) + int(bmu[3])  # neg+pos
    roll = df2.rolling(2, column="td", order_key="i").mean()
    got = (roll.spark.select("i", interval_to_us(FF.col("td")).alias("us"))
           .toPandas().sort_values("i").us)
    assert abs(got.iloc[1] - bmu[:2].mean()) <= 2.0


def test_interval_sum_overflow_is_loud(spark):
    # numpy silently wraps a timedelta64 sum past int64; we stay exact
    # (decimal) and RAISE — same documented-divergence class as
    # SATURATE (SURVEY §1.2)
    big = vs.from_arrays(
        spark=spark, i=np.arange(4),
        td=np.full(4, 4_000_000_000_000_000_000, dtype="timedelta64[us]"))
    with pytest.raises(OverflowError):
        big.sum("td")


def test_diff_timestamp_pipeline(pdf):
    # the engine's own diff() over timestamps yields the interval
    # column class — mean gap must come back a timedelta
    d = pdf.diff(column="t", order_key="i")
    assert d.data_type("t").startswith("interval")
    gap = d.mean("t")
    assert abs(_td_us(gap) - 3_600_000_000.0) <= 1.0  # hourly grid


# ------------------------------------------------- multi-selection lists
@pytest.mark.parametrize("stat", MOMENTS)
def test_selection_list_bool(pdf, stat):
    got = getattr(pdf, stat)("b", selection=[None, "i >= 4"])
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var}[stat]
    want = [float(fn(B01)), float(fn(B01[4:]))]
    assert np.allclose(np.asarray(got, dtype="float64"), want), (got, want)


@pytest.mark.parametrize("stat", MOMENTS)
def test_selection_list_timestamp(pdf, stat):
    got = getattr(pdf, stat)("t", selection=[None, "i >= 4"])
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var}[stat]
    for g, w in zip(np.asarray(got).tolist(), [fn(MU), fn(MU[4:])]):
        _check_ts(stat, g, float(w))


# ----------------------------------------------------------- binby grid
@pytest.mark.parametrize("stat", MOMENTS)
def test_binby_bool(pdf, stat):
    got = getattr(pdf, stat)("b", binby="i", shape=2, limits=[0, 8])
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var}[stat]
    want = [float(fn(B01[:4])), float(fn(B01[4:]))]
    assert np.allclose(np.asarray(got, dtype="float64"), want), (got, want)


@pytest.mark.parametrize("stat", MOMENTS)
def test_binby_timestamp(pdf, stat):
    got = getattr(pdf, stat)("t", binby="i", shape=2, limits=[0, 8])
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var}[stat]
    for g, w in zip(np.asarray(got).tolist(), [fn(MU[:4]), fn(MU[4:])]):
        _check_ts(stat, g, float(w))


@pytest.mark.parametrize("stat", ["var", "skew", "kurtosis"])
def test_binby_timestamp_empty_bin_is_nan(pdf, stat):
    # r13 ADVICE: temporal var/skew/kurt over an EMPTY bin must read
    # NaN (sibling mean/std read NaT), never a fake 0.0 µs²
    got = getattr(pdf, stat)("t", binby="i", shape=4, limits=[0, 32])
    arr = np.asarray(got, dtype="float64")
    assert np.isnan(arr[1:]).all(), got
    assert np.isfinite(arr[0]), got


# ------------------------------------------------- groupby descriptors
@pytest.mark.parametrize("stat", MOMENTS + ["min", "max"])
def test_groupby_bool(pdf, stat):
    desc = getattr(vagg, stat)("b")
    out = pdf.groupby("g", agg={"o": desc}).to_pandas_df().sort_values("g")
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var,
          "min": np.min, "max": np.max}[stat]
    src = BOOLS if stat in ("min", "max") else B01
    want = [fn(src[:4]), fn(src[4:])]
    if stat in ("min", "max"):
        assert [bool(v) for v in out.o] == [bool(w) for w in want]
    else:
        assert np.allclose(out.o.to_numpy(dtype="float64"), want)


@pytest.mark.parametrize("stat", MOMENTS + ["min", "max"])
def test_groupby_timestamp(pdf, stat):
    desc = getattr(vagg, stat)("t")
    out = pdf.groupby("g", agg={"o": desc}).to_pandas_df().sort_values("g")
    fn = {"sum": np.sum, "mean": np.mean, "std": np.std, "var": np.var,
          "min": np.min, "max": np.max}[stat]
    for g, w in zip(out.o.tolist(), [fn(MU[:4]), fn(MU[4:])]):
        _check_ts(stat, g, float(w))


# --------------------------------------------------------------- rolling
@pytest.mark.parametrize("stat", ["sum", "mean", "std", "var", "count"])
def test_rolling_bool(pdf, stat):
    out = getattr(pdf.rolling(3, column="b", order_key="i"), stat)()
    got = out.to_pandas_df().sort_values("i").b.to_numpy(dtype="float64")
    r = pd.Series(B01).rolling(3)
    nan2 = np.full(2, np.nan)
    want = {"sum": r.sum().to_numpy(), "mean": r.mean().to_numpy(),
            "std": r.std(ddof=0).to_numpy(), "var": r.var(ddof=0).to_numpy(),
            "count": np.concatenate([nan2, np.full(N - 2, 3.0)])}[stat]
    assert np.allclose(got, np.asarray(want, dtype="float64"),
                       equal_nan=True), (got, want)


@pytest.mark.parametrize("stat", MOMENTS)
def test_rolling_timestamp(pdf, stat):
    out = getattr(pdf.rolling(3, column="t", order_key="i"), stat)()
    got = out.to_pandas_df().sort_values("i").t
    r = pd.Series(MU).rolling(3)
    want = {"sum": r.sum(), "mean": r.mean(), "std": r.std(ddof=0),
            "var": r.var(ddof=0)}[stat]
    for g, w in zip(got.tolist(), want.tolist()):
        if isinstance(g, float) and np.isnan(g) or g is None or g is pd.NaT:
            assert np.isnan(w)
            continue
        _check_ts(stat, g, float(w))


# ---------------------------------------------------------- rolling_range
@pytest.mark.parametrize("agg", ["sum", "mean", "count", "min", "max"])
def test_rolling_range_bool(pdf, agg):
    out = pdf.rolling_range(7200, on="t", column="b", agg=agg).to_pandas_df()
    got = out.sort_values("t")[f"b_rolling_{agg}"]
    src = BOOLS if agg in ("min", "max") else B01
    r = pd.Series(src, index=pd.DatetimeIndex(TS)).rolling("2h")
    want = getattr(r, agg)()
    if agg in ("min", "max"):
        assert [bool(v) for v in got] == [bool(v) for v in want]
    else:
        assert np.allclose(got.to_numpy(dtype="float64"),
                           want.to_numpy(dtype="float64"))


@pytest.mark.parametrize("agg", ["sum", "mean", "min", "max"])
def test_rolling_range_timestamp_value(pdf, agg):
    # r14: mean over a timestamp VALUE column returned epoch-seconds
    # doubles before this net existed — type contract now uniform
    out = pdf.rolling_range(7200, on="t", column="t", agg=agg).to_pandas_df()
    got = out.sort_values("t")[f"t_rolling_{agg}"]
    r = pd.Series(MU, index=pd.DatetimeIndex(TS)).rolling("2h")
    want = {"sum": r.sum(), "mean": r.mean(), "min": r.min(), "max": r.max()}[agg]
    stat = {"sum": "sum", "mean": "mean", "min": "min", "max": "max"}[agg]
    for g, w in zip(got.tolist(), want.tolist()):
        _check_ts(stat, g, float(w))


# ------------------------------------------------------------ percentile
def test_percentile_bool(pdf):
    assert float(pdf.percentile_exact("b", 50)) == float(np.percentile(B01, 50))
    assert float(pdf.median_approx("b")) in (0.0, 1.0)


def test_percentile_timestamp(pdf):
    got = pdf.percentile_exact("t", 50)
    _check_ts("mean", got, float(np.percentile(MU, 50)))


# -------------------------------------------------------------- describe
def test_describe_types(pdf):
    d = pdf.describe()
    # bool column: numeric mean/std over 0/1
    assert abs(float(d["b"]["mean"]) - B01.mean()) < 1e-12
    assert abs(float(d["b"]["std"]) - float(np.std(B01, ddof=1))) < 1e-9 or \
        abs(float(d["b"]["std"]) - _pop_std(B01)) < 1e-9
    # timestamp column: datetime mean, timedelta std
    _check_ts("mean", d["t"]["mean"], MU.mean())
    assert isinstance(d["t"]["std"], (pd.Timedelta, np.timedelta64))


# ------------------------------------------- temporal sum is int-exact
# One epoch is ~1.7e15 µs, so an int64 epoch-µs sum WRAPS silently at
# ~5,400 rows (non-ANSI) or raises (ANSI-on).  r14 routes every
# temporal sum surface through decimal(38,0) — exact to 1e38 and
# identical under both ANSI modes; these pin the class past the int64
# wrap point (found live by the q112 oracle at sf0.1, where the
# groupby date sum returned wrapped garbage).
def test_temporal_sum_exact_past_int64(spark):
    import vaex_spark as vs2
    n = 6000
    ts = pd.date_range("2020-01-01", periods=n, freq="s").to_numpy()
    mu = ts.astype("datetime64[us]").astype("int64")
    big = vs2.from_arrays(spark=spark, i=np.arange(n), t=ts,
                          g=np.arange(n) % 2)
    want = sum(int(v) for v in mu)
    assert want > np.iinfo("int64").max  # the probe is actually past 2^63
    got = big.sum("t")
    assert got == want and isinstance(got, int), got
    gb = big.groupby("g", agg={"s": vagg.sum("t")}).to_pandas_df()
    want_g = {k: sum(int(v) for v in mu[k::2]) for k in (0, 1)}
    for _, r in gb.iterrows():
        assert int(r["s"]) == want_g[int(r["g"])]
    # rolling frame wider than the wrap point
    roll = (big.rolling(5500, column="t", order_key="i").sum()
            .to_pandas_df().sort_values("i").t)
    want_tail = sum(int(v) for v in mu[n - 5500:])
    assert int(roll.iloc[-1]) == want_tail


@pytest.mark.parametrize("stat", ["sum", "mean", "std", "var"])
def test_temporal_rolling_prefix_frame(spark, stat):
    # r14: temporal rolling at width >= 64 takes the O(n) growing-frame
    # rewrite (it previously always slid — O(n·w), hours at 1e8 rows ×
    # w=100k).  Pin every moment on the prefix path against pandas.
    import vaex_spark as vs2
    n, w = 500, 100
    ts = (pd.Timestamp("2021-06-01").to_datetime64()
          + (np.arange(n) ** 2 * 1_000_003).astype("timedelta64[us]"))
    mu = ts.astype("datetime64[us]").astype("int64")
    df2 = vs2.from_arrays(spark=spark, i=np.arange(n), t=ts)
    out = (getattr(df2.rolling(w, column="t", order_key="i"), stat)()
           .to_pandas_df().sort_values("i").t)
    s = pd.Series(mu.astype("float64"))
    want = {"sum": s.rolling(w).sum(), "mean": s.rolling(w).mean(),
            "std": s.rolling(w).std(ddof=0),
            "var": s.rolling(w).var(ddof=0)}[stat]
    for g, want_v in zip(out.tolist(), want.tolist()):
        if g is None or g is pd.NaT or (isinstance(g, float) and np.isnan(g)):
            assert np.isnan(want_v)
            continue
        _check_ts(stat, g, float(want_v),
                  tol=2.0 if stat in ("std", "var") else 1.0)


# -------------------------------------------------- shift fill contract
def test_shift_bool_fill(pdf):
    out = pdf.shift(1, column="b", order_key="i", fill_value=False)
    got = out.to_pandas_df().sort_values("i").b.tolist()
    want = [False] + BOOLS[:-1].tolist()
    assert [bool(v) for v in got] == want


def test_shift_bool_fill_none(pdf):
    out = pdf.shift(1, column="b", order_key="i")
    got = out.to_pandas_df().sort_values("i").b.tolist()
    assert pd.isna(got[0])
    assert [bool(v) for v in got[1:]] == BOOLS[:-1].tolist()


# ------------------------- percentile_approx/mode/minmax/sum_moment
def test_percentile_approx_and_mode_bool(pdf):
    assert float(pdf.percentile_approx("b", 50)) in (0.0, 1.0)
    assert bool(pdf.mode("b")) is True  # 5 of the 8 values are True


def test_minmax_timestamp(pdf):
    lo, hi = pdf.minmax("t")
    assert (_as_us_datetime(lo), _as_us_datetime(hi)) == (MU[0], MU[-1])


def test_groupby_sum_moment_timestamp(pdf):
    out = pdf.groupby("g", agg={"m2": vagg.sum_moment("t", 2)},
                      sort=True).to_pandas_df()
    for k in (0, 1):
        want = float((MU[GROUPS == k] ** 2).sum())  # Σ µs²
        assert abs(float(out["m2"][k]) - want) <= 1e-9 * want


# ------------------------------------ rolling spread over date/interval
@pytest.mark.parametrize("width", [3, 64])
@pytest.mark.parametrize("col", ["d", "td"])
@pytest.mark.parametrize("stat", ["std", "var"])
def test_rolling_spread_date_interval(spark, stat, col, width):
    # both physical forms: the sliding frame (width < 64) and the
    # growing-frame difference (width >= 64); std comes back as a
    # timedelta, var as µs²
    n = 80
    rng = np.random.default_rng(7)
    days = np.cumsum(rng.integers(1, 5, n))
    dates = (np.datetime64("2023-01-01") + days.astype("timedelta64[D]"))
    tds = rng.integers(-10**10, 10**11, n).astype("timedelta64[us]")
    df2 = vs.from_arrays(spark=spark, i=np.arange(n),
                         d=dates.astype("datetime64[D]").astype(object),
                         td=tds)
    mu = (dates.astype("datetime64[us]") if col == "d" else tds) \
        .astype("int64").astype("float64")
    out = (getattr(df2.rolling(width, column=col, order_key="i"), stat)()
           .to_pandas_df().sort_values("i")[col])
    r = pd.Series(mu).rolling(width)
    want = r.std(ddof=0) if stat == "std" else r.var(ddof=0)
    for g, w in zip(out.tolist(), want.tolist()):
        if g is None or g is pd.NaT or (isinstance(g, float) and np.isnan(g)):
            assert np.isnan(w)
            continue
        if stat == "std":
            assert isinstance(g, (pd.Timedelta, np.timedelta64)), g
            assert abs(_td_us(g) - w) <= 2.0, (g, w)
        else:
            assert isinstance(g, float), g
            assert abs(g - w) <= 1e-9 * abs(w) + 4.0, (g, w)


# ------------------------------------ covariance / correlation (µs units)
@pytest.mark.parametrize("col,arr", [("b", B01), ("t", MU), ("d", DMU),
                                     ("td", TMU)])
def test_covar_correlation_temporal(pdf, col, arr):
    # covariance in the input's units (epoch µs for temporal columns, as
    # var is µs²), correlation dimensionless
    y = np.arange(N, dtype="float64")
    cov = np.cov(arr, y, bias=True)
    corr = np.corrcoef(arr, y)
    assert abs(pdf.covar(col, "i") - cov[0, 1]) <= 1e-9 * abs(cov[0, 1])
    assert abs(pdf.correlation(col, "i") - corr[0, 1]) < 1e-12
    assert np.allclose(pdf.cov([col, "i"]), cov, rtol=1e-9)
    assert np.allclose(pdf.correlation([col, "i"]), corr, rtol=1e-9)


# ------------------------------------- rolling_range empty-frame schema
@pytest.fixture(scope="module")
def rr_df(spark):
    return vs.from_arrays(spark=spark, t=TS, b=BOOLS, d=np.array(DATES.date),
                          td=TD, x=np.linspace(-1.0, 2.5, N))


@pytest.mark.parametrize("agg", ["sum", "mean", "count", "min", "max"])
@pytest.mark.parametrize("col", ["b", "t", "d", "td", "x"])
def test_rolling_range_empty_frame_schema(rr_df, col, agg):
    # an empty frame takes the null-column path: its output type must be
    # the one a non-empty frame computes
    name = f"{col}_rolling_{agg}"
    full = rr_df.rolling_range(7200, on="t", column=col, agg=agg).schema
    empty = rr_df[rr_df.x > 100].rolling_range(7200, on="t", column=col,
                                               agg=agg).schema
    assert empty[name] == full[name], (empty[name], full[name])



# ------------------------------------------------- count of non-nulls
# count(<col>) counts non-null values (and, for floats, non-NaN ones)
# of every dtype on every surface; the NaN mask comes from the type
# (vaex_spark/missing.py), never from a cast, which is invalid on intervals
_CNT_VALID = {  # 1 where row i holds a value
    "b": [1, 0, 1, 1, 1, 0, 1, 1], "t": [0, 1, 1, 1, 1, 1, 0, 1],
    "d": [1, 1, 0, 1, 1, 1, 1, 0], "td": [1, 1, 1, 0, 0, 1, 1, 1],
    "x": [1, 0, 1, 1, 1, 1, 1, 0],  # row 1 null, row 7 NaN
}


@pytest.fixture(scope="module")
def nulls_df(spark):
    import datetime as dt
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("td", T.DayTimeIntervalType()),
        T.StructField("x", T.DoubleType())])
    v = {"b": lambda i: i % 2 == 0,
         "t": lambda i: dt.datetime(2024, 1, 1, i),
         "d": lambda i: dt.date(2024, 3, 1 + i),
         "td": lambda i: dt.timedelta(seconds=i - 3),
         "x": lambda i: i * 0.5}

    def cell(c, i):
        if c == "x" and i == 7:
            return float("nan")  # a value, not a null; count skips it
        return v[c](i) if _CNT_VALID[c][i] else None
    rows = [(i, *(cell(c, i) for c in _CNT_VALID)) for i in range(N)]
    return vs.DataFrame(spark.createDataFrame(rows, schema))


@pytest.mark.parametrize("col", list(_CNT_VALID))
def test_count_non_null_every_dtype(nulls_df, col):
    ok = np.array(_CNT_VALID[col])
    assert int(nulls_df.count(col)) == ok.sum()
    got = np.asarray(nulls_df.count(col, selection=[None, "i >= 4"]))
    assert got.tolist() == [ok.sum(), ok[4:].sum()]
    grid = np.asarray(nulls_df.count(col, binby="i", shape=2, limits=[0, 8]))
    assert grid.tolist() == [ok[:4].sum(), ok[4:].sum()]


# ------------------------------------------------- one rule, one probe
@pytest.mark.parametrize("stat", ["mean", "std", "sum", "var", "skew"])
def test_stat_reads_input_dtype_once(pdf, monkeypatch, stat):
    calls = []
    probe = vs.DataFrame.data_type

    def counting(self, name):
        calls.append(name)
        return probe(self, name)

    monkeypatch.setattr(vs.DataFrame, "data_type", counting)
    getattr(pdf, stat)("i")
    assert len(calls) == 1, calls


_PKG = pathlib.Path(vs.__file__).resolve().parent
_RULE = re.compile(r"unix_micros\(|interval_to_us\(|us_to_interval\("
                   r"|timestamp_micros\(|decimal\(38,0\)")


def test_temporal_rule_lives_in_temporal_module():
    """The statistic surfaces ask vaex_spark/temporal.py for their input
    and convert-back; a µs conversion or decimal sum written into one of
    them is a copy of the rule growing back."""
    offenders = [name for name in ("dataframe.py", "agg.py",
                                   "operators/window.py")
                 if _RULE.search((_PKG / name).read_text(encoding="utf-8"))]
    assert offenders == []
