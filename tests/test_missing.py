"""Missing-value matrix: every NaN/NA surface over every column type,
under ANSI off and on, against oracles computed here in Python/numpy.

The rule (``vaex_spark/missing.py``): NaN and ±inf exist only in
float/double columns, decided from the Spark type, never through a cast;
missing = null; NA = NaN ∪ missing; every statistic aggregator reads NaN
as missing.  A type that cannot hold NaN answers the NaN test with
False: the string ``"NaN"`` is a string, not a NaN.
"""

import datetime as dt
import math
import pathlib
import re
from collections import Counter
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

import vaex_spark as vs
import vaex_spark.agg as vagg

NAN, INF = float("nan"), float("inf")
N = 8
G = [0] * 4 + [1] * 4
# one column per type; None is null, float('nan') is a NaN value
VALS = {
    "d": [1.5, NAN, None, 2.0, -4.0, 8.0, NAN, 0.5],
    "f": [0.5, None, NAN, INF, -INF, 1.5, 2.5, None],
    "i": [1, None, 3, 4, None, 6, 7, None],
    "dec": [Decimal("1.25"), None, Decimal("2.50"), Decimal("-3.75"),
            Decimal("4.00"), None, Decimal("0.25"), Decimal("1.00")],
    "s": ["a", None, "NaN", "inf", "b", "Infinity", "-inf", None],
    "b": [True, None, False, True, False, True, None, False],
    "t": [None if i == 2 else dt.datetime(2024, 1, 1, i) for i in range(N)],
    "dt": [None if i == 4 else dt.date(2024, 3, 1 + i) for i in range(N)],
    "td": [None if i == 1 else dt.timedelta(seconds=i - 3) for i in range(N)],
}
TYPES = {"d": pa.float64(), "f": pa.float32(), "i": pa.int64(),
         "dec": pa.decimal128(10, 2), "s": pa.string(), "b": pa.bool_(),
         "t": pa.timestamp("us"), "dt": pa.date32(), "td": pa.duration("us")}
NUMERIC = ["d", "f", "i", "dec", "b"]
TEMPORAL = ["t", "dt", "td"]
FILL = {"d": -1.0, "f": -1.0, "i": -1, "dec": Decimal("-1.00"), "s": "z",
        "b": True, "t": dt.datetime(2000, 1, 1), "dt": dt.date(2000, 1, 1),
        "td": dt.timedelta(seconds=99)}


def _nan(v):
    return isinstance(v, float) and math.isnan(v)


def _na(v):
    return v is None or _nan(v)


def _inf(v):
    return isinstance(v, float) and math.isinf(v)


def _num(c):
    """Non-NA values of column c as float64 (booleans as 0/1)."""
    return [float(v) for v in VALS[c] if not _na(v)]


def _groups(c):
    return [[float(v) for v, g in zip(VALS[c], G) if g == k and not _na(v)]
            for k in (0, 1)]


def _moments(a):
    a = np.asarray(a, dtype="float64")
    with np.errstate(all="ignore"):
        m = a.mean()
        m2 = ((a - m) ** 2).mean()
        return {"count": len(a), "sum": a.sum(), "mean": m, "min": a.min(),
                "max": a.max(), "std": np.sqrt(m2), "var": m2,
                "skew": ((a - m) ** 3).mean() / m2 ** 1.5,
                "kurtosis": ((a - m) ** 4).mean() / m2 ** 2 - 3.0,
                "sum_moment": (a ** 2).sum()}


def _same(got, want, what):
    """want NaN (undefined) accepts NaN or null; otherwise equal to 1e-9."""
    if isinstance(want, float) and math.isnan(want):
        assert got is None or math.isnan(float(got)), what
        return
    g, w = float(got), float(want)
    assert g == w or abs(g - w) <= 1e-9 * max(1.0, abs(w)), (what, got, want)


def _eq(a, b):
    return (_nan(a) and _nan(b)) or a == b


@pytest.fixture(scope="module")
def mdf(spark):
    table = pa.table({"k": pa.array(range(N), pa.int64()),
                      "g": pa.array(G, pa.int64()),
                      **{c: pa.array(v, TYPES[c]) for c, v in VALS.items()}})
    df = vs.from_arrow_table(table, spark=spark)
    assert df.schema["td"].startswith("interval") and df.schema["f"] == "float"
    return df


@pytest.fixture(params=[False, True], ids=["ansi_off", "ansi_on"])
def ansi(request, spark):
    """Run the test under spark.sql.ansi.enabled = param; the session is
    shared, so the previous value is restored."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", str(request.param).lower())
    try:
        yield request.param
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _rows(df, exprs: dict) -> dict:
    """Evaluate named Expressions in one job, as lists in row order."""
    cols = [df["k"].col.alias("__k")] + [e.col.alias(n) for n, e in exprs.items()]
    rows = sorted(df.spark.select(*cols).collect(), key=lambda r: r["__k"])
    return {n: [r[n] for r in rows] for n in exprs}


# ------------------------------------------- element-wise NaN/NA family
FAMILY = {  # name -> oracle(value, raw, fill)
    "isna": lambda v, raw, x: _na(v),
    "notna": lambda v, raw, x: not _na(v),
    "isnan": lambda v, raw, x: _nan(v),
    "notnan": lambda v, raw, x: not _nan(v),
    "isinf": lambda v, raw, x: _inf(v),
    "isfinite": lambda v, raw, x: not (_na(v) or _inf(v)),
    "fillna": lambda v, raw, x: x if _na(v) else raw,
    "fillnan": lambda v, raw, x: x if _nan(v) else raw,
}
METHODS = ["isna", "notna", "isnan", "notnan", "fillna", "fillnan"]


def test_elementwise_family(mdf, ansi):
    """Expression methods and expression strings (``isna(c)``,
    ``c.isna()``, ``np.isnan(c)``) of every family name, every type."""
    exprs = {}
    for c in VALS:
        exprs[f"{c}.raw"] = mdf[c]
        for name in METHODS:
            e = mdf[c]
            exprs[f"{c}.{name}.m"] = (getattr(e, name)(FILL[c]) if name.startswith("fill")
                                      else getattr(e, name)())
        exprs[f"{c}.map"] = mdf[c].map({}, nan_value=-1, default_value=0)
        for name in FAMILY:
            if name.startswith("fill"):
                if c in ("d", "f", "i"):
                    exprs[f"{c}.{name}.s"] = mdf[f"{name}({c}, {FILL[c]!r})"]
                continue
            exprs[f"{c}.{name}.s"] = mdf[f"{name}({c})"]
            exprs[f"{c}.{name}.attr"] = mdf[f"{c}.{name}()"]
            if name in ("isnan", "isinf", "isfinite"):
                exprs[f"{c}.{name}.np"] = mdf[f"np.{name}({c})"]
    got = _rows(mdf, exprs)
    for key, vals in got.items():
        c, name = key.split(".")[:2]
        if name == "raw":
            continue
        raw = got[f"{c}.raw"]
        if name == "map":
            want = [-1 if _nan(v) else 0 for v in VALS[c]]
        else:
            want = [FAMILY[name](v, r, FILL[c]) for v, r in zip(VALS[c], raw)]
        assert all(_eq(g, w) for g, w in zip(vals, want)), (key, vals, want)
    for c in ("td", "s", "d"):
        assert mdf[c].countna() == sum(map(_na, VALS[c])), c
        assert mdf[c].countnan() == sum(map(_nan, VALS[c])), c


# -------------------------------------------------- frame-level surfaces
def test_drop_family(mdf, ansi):
    for c in VALS:
        v = VALS[c]
        assert len(mdf.dropna([c])) == sum(not _na(x) for x in v), c
        assert len(mdf.dropnan([c])) == sum(not _nan(x) for x in v), c
        assert len(mdf.dropinf([c])) == sum(not _inf(x) for x in v), c
    assert len(mdf.dropna()) == sum(not any(_na(VALS[c][r]) for c in VALS)
                                    for r in range(N))


def test_select_non_missing(mdf, ansi):
    df = mdf.copy()
    names = []
    for c in VALS:
        df.select_non_missing(column_names=[c], name=f"na_{c}")
        df.select_non_missing(drop_masked=False, column_names=[c], name=f"nan_{c}")
        names += [f"na_{c}", f"nan_{c}"]
    got = df.count(selection=names).tolist()
    want = []
    for c in VALS:
        want += [sum(not _na(x) for x in VALS[c]), sum(not _nan(x) for x in VALS[c])]
    assert got == want


def test_fillna_frame(mdf, ansi):
    cols = ["d", "f", "i"]
    out = mdf.fillna(-1, column_names=cols)
    got = _rows(out, {c: out[c] for c in cols})
    for c in cols:
        assert got[c] == [-1 if _na(v) else v for v in VALS[c]], c


def test_unique_value_counts_nunique(mdf, ansi):
    pending = {}
    for c in VALS:
        non_na = [v for v in VALS[c] if not _na(v)]
        no_nan = {("null" if v is None else v) for v in VALS[c] if not _nan(v)}
        assert len(mdf.unique(c, dropna=True)) == len(set(non_na)), c
        assert len(mdf.unique(c, dropnan=True)) == len(no_nan), c
        vc = mdf.value_counts(c, dropna=True)
        assert sorted(vc.tolist()) == sorted(Counter(non_na).values()), (c, vc)
        pending[c] = (mdf.nunique(c, dropna=True, delay=True), len(set(non_na)))
    mdf.execute()
    assert {c: int(d.get()) for c, (d, _) in pending.items()} == \
        {c: n for c, (_, n) in pending.items()}


# ------------------------------------------------------------ statistics
STATS = ["count", "sum", "mean", "min", "max", "std", "var", "skew", "kurtosis"]


def test_scalar_stats(mdf, ansi):
    """Every scalar statistic skips NaN (one delayed job)."""
    pending = [(c, s, getattr(mdf, s)(c, delay=True)) for c in NUMERIC for s in STATS]
    pending += [(c, "count", mdf.count(c, delay=True)) for c in TEMPORAL + ["s"]]
    pending += [(c, "minmax", mdf.minmax(c, delay=True)) for c in NUMERIC + TEMPORAL]
    mdf.execute()
    raw = _rows(mdf, {c: mdf[c] for c in TEMPORAL})
    for c, s, d in pending:
        got = d.get()
        if s == "minmax":
            vals = _num(c) if c in NUMERIC else [v for v in raw[c] if v is not None]
            assert [got[0], got[1]] == [min(vals), max(vals)], (c, got)
        elif c in NUMERIC:
            _same(got, _moments(_num(c))[s], (c, s))
        else:
            assert int(got) == sum(not _na(v) for v in VALS[c]), (c, s)


@pytest.mark.parametrize("stat", ["count", "sum", "mean", "max", "std"])
def test_binby_stats(mdf, ansi, stat):
    """binby= over the row index: the two bins are the two groups."""
    for c in NUMERIC:
        got = getattr(mdf, stat)(c, binby="k", shape=2, limits=[0, N])
        for k, a in enumerate(_groups(c)):
            _same(got[k], _moments(a)[stat], (c, stat, k))
    if stat == "count":
        for c in TEMPORAL + ["s"]:
            got = mdf.count(c, binby="k", shape=2, limits=[0, N]).tolist()
            want = [sum(not _na(v) for v, g in zip(VALS[c], G) if g == k) for k in (0, 1)]
            assert got == want, c


DESCRIPTORS = ["count", "sum", "mean", "min", "max", "std", "var", "skew",
               "kurtosis", "sum_moment"]


def _descriptor(name, c):
    return vagg.sum_moment(c, 2) if name == "sum_moment" else getattr(vagg, name)(c)


def test_groupby_descriptors(mdf, ansi):
    """One groupby: every numeric descriptor over every numeric column,
    and the NA-dropping descriptors over every column."""
    spec = {f"{c}__{s}": _descriptor(s, c) for c in NUMERIC for s in DESCRIPTORS}
    for c in VALS:
        spec[f"{c}__n"] = vagg.count(c)
        spec[f"{c}__ndrop"] = vagg.count(c, dropnan=True)
        spec[f"{c}__nunique"] = vagg.nunique(c, dropna=True)
        spec[f"{c}__list"] = vagg.list(c, dropna=True)
    out = mdf.groupby("g", agg=spec, sort=True).to_pandas_df()
    for c in NUMERIC:
        for k, a in enumerate(_groups(c)):
            for s in DESCRIPTORS:
                _same(out[f"{c}__{s}"][k], _moments(a)[s], (c, s, k))
    for c in VALS:
        for k in (0, 1):
            vals = [v for v, g in zip(VALS[c], G) if g == k and not _na(v)]
            assert out[f"{c}__n"][k] == out[f"{c}__ndrop"][k] == len(vals), (c, k)
            assert out[f"{c}__nunique"][k] == len(set(vals)), (c, k)
            assert len(out[f"{c}__list"][k]) == len(vals), (c, k)
            if c in NUMERIC:
                assert sorted(map(float, out[f"{c}__list"][k])) == sorted(map(float, vals))


def test_binby_agg_descriptors(mdf, ansi):
    out = mdf.binby("k", agg={c: vagg.sum(c) for c in NUMERIC}, shape=2, limits=[0, N])
    grids = out.values if hasattr(out, "values") else np.asarray(out[0])
    for j, c in enumerate(NUMERIC):
        for k, a in enumerate(_groups(c)):
            _same(grids[j][k], _moments(a)["sum"], (c, k))


def _exact_pct(a, p):
    """F.percentile's linear interpolation on the sorted multiset."""
    a = sorted(a)
    pos = (len(a) - 1) * p / 100
    lo = int(pos)
    return a[lo] if pos == lo else a[lo] + (a[lo + 1] - a[lo]) * (pos - lo)


def _is_median(got, a):
    a = sorted(a)
    return a[(len(a) - 1) // 2] <= float(got) <= a[len(a) // 2]


def test_percentiles(mdf, ansi, spark):
    """The percentile family skips NaN: percentile_approx and
    median_approx (scalar and groupby descriptors) and percentile_exact,
    single-task (one delayed job) and distributed."""
    pct = [0, 50, 100]
    pending = [(c, mdf.percentile_approx(c, [0, 100], delay=True),
                mdf.median_approx(c, delay=True),
                mdf.percentile_exact(c, pct, delay=True)) for c in NUMERIC]
    mdf.execute()
    for c, approx, med, exact in pending:
        a = _num(c)
        assert [float(v) for v in approx.get()] == [min(a), max(a)], c
        assert _is_median(med.get(), a), (c, med.get())
        for p, got in zip(pct, exact.get()):
            _same(got, _exact_pct(a, p), (c, p))
    key = "vaex_spark.percentile.maxSingleTaskBytes"
    spark.conf.set(key, "1")  # every column is over budget: distributed
    try:
        for c in ("d", "f"):
            for p, got in zip(pct, mdf.percentile_exact(c, pct)):
                _same(got, _exact_pct(_num(c), p), (c, p, "distributed"))
    finally:
        spark.conf.unset(key)
    spec = {}
    for c in NUMERIC:
        spec[f"{c}__max"] = vagg.percentile_approx(c, 100)
        spec[f"{c}__med"] = vagg.median_approx(c)
    out = mdf.groupby("g", agg=spec, sort=True).to_pandas_df()
    for c in NUMERIC:
        for k, a in enumerate(_groups(c)):
            assert float(out[f"{c}__max"][k]) == max(a), (c, k)
            assert _is_median(out[f"{c}__med"][k], a), (c, k)


def test_sort_puts_nan_then_null_last(mdf, monkeypatch):
    """NaN, then null, after the values in either direction; only the
    descending keys' types are read, in one read."""
    calls = []
    probe = vs.DataFrame._data_types

    def counting(self, names):
        calls.append(list(names))
        return probe(self, names)

    monkeypatch.setattr(vs.DataFrame, "_data_types", counting)

    def order(df, c):
        return [r[c] for r in df.spark.select(c).collect()]

    def want(vals, desc):
        return sorted(v for v in vals if not _na(v))[::-1 if desc else 1] + \
            [v for v in vals if _nan(v)] + [v for v in vals if v is None]

    for c in ("d", "f", "i", "s"):
        for desc in (False, True):
            got = order(mdf.sort(c, ascending=not desc), c)
            assert all(_eq(g, w) for g, w in zip(got, want(VALS[c], desc))), (c, desc, got)
    assert calls == [["d"], ["f"], ["i"], ["s"]]
    calls.clear()
    out = mdf.sort(["g", "d", "f"], ascending=[True, False, False])
    assert calls == [["d", "f"]]
    got = order(out, "d")
    split = [[v for v, g in zip(VALS["d"], G) if g == k] for k in (0, 1)]
    assert all(_eq(g, w) for g, w in zip(got, want(split[0], True) + want(split[1], True)))


def test_unique_keeps_null_string(mdf, ansi):
    got = mdf.unique("s")
    assert None in got.tolist() and "None" not in got.tolist()
    assert sorted(v for v in got if v is not None) == \
        sorted({v for v in VALS["s"] if v is not None})


def test_describe(mdf, ansi):
    """df.describe and groupby(...).describe agree with the oracle and
    with each other: NaN is NA, and the moments skip it."""
    d = mdf.describe(strings=True)
    cols = NUMERIC + TEMPORAL
    gd = mdf.groupby("g", sort=True).describe(cols).to_pandas_df()
    for c in VALS:
        assert d[c]["count"] == sum(not _na(v) for v in VALS[c]), c
        assert d[c]["na"] == sum(map(_na, VALS[c])), c
    for c in NUMERIC:
        m = _moments(_num(c))
        for s in ("mean", "std", "min", "max"):
            _same(d[c][s], m[s], (c, s))
        for k, a in enumerate(_groups(c)):
            for s in ("count", "mean", "std", "min", "max"):
                _same(gd[f"{c}_{s}"][k], _moments(a)[s], (c, s, k))
    for c in cols:
        for k in (0, 1):
            vals = [v for v, g in zip(VALS[c], G) if g == k]
            assert gd[f"{c}_count_na"][k] == sum(map(_na, vals)), (c, k)
            assert gd[f"{c}_count"][k] == sum(not _na(v) for v in vals), (c, k)
    assert sum(gd["d_count"]) == d["d"]["count"]


def test_binby_nan_coordinate(mdf, ansi):
    """A NaN coordinate is NA: the NaN/null edge bin, never a data bin,
    and never a limit."""
    got = mdf.count(binby="d", shape=2, limits=[0, 10]).tolist()
    assert got == np.histogram([v for v in _num("d") if 0 <= v <= 10], 2, (0, 10))[0].tolist()
    edges = mdf.count(binby="d", shape=2, limits=[0, 10], edges=True).tolist()
    assert edges[0] == sum(map(_na, VALS["d"]))
    got = mdf.count(binby="f", shape=2, limits=[0, 2]).tolist()
    assert got == [1, 1]
    auto = mdf.count(binby="d", shape=4).tolist()
    assert auto == np.histogram(_num("d"), 4, (min(_num("d")), max(_num("d"))))[0].tolist()


# ---------------------------------------------------- one rule, one read
def test_dropna_reads_every_type_in_one_pass(mdf, monkeypatch):
    calls = []
    probe = vs.DataFrame._data_types

    def counting(self, names):
        calls.append(list(names))
        return probe(self, names)

    monkeypatch.setattr(vs.DataFrame, "_data_types", counting)
    mdf.dropna()
    assert calls == [mdf.get_column_names()]


_PKG = pathlib.Path(vs.__file__).resolve().parent
# a hand-written NaN or inf test: F.isnan / isnan(...) / SQL isnan, or a
# float("inf") comparison — the rule's decisions growing back
_NAN_TEST = re.compile(r"_safe_isnan|\bF\.isnan\(|(?<![\w.])isnan\((?!self)"
                       r"|float\([\"']-?inf[\"']\)")


def test_nan_rule_lives_in_missing_module():
    """The NaN/NA/inf decision is made in vaex_spark/missing.py; these
    surfaces ask it with the type they read."""
    offenders = [name for name in ("expression.py", "functions/__init__.py",
                                   "dataframe.py", "agg.py", "groupby.py",
                                   "operators/binby.py", "expresso.py")
                 if _NAN_TEST.search((_PKG / name).read_text(encoding="utf-8"))]
    assert offenders == []
