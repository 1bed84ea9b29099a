"""Aggregation descriptors (reference: vaex-core/vaex/agg.py, 741 LoC).

``vaex.agg.sum('x')`` style descriptors that compile to Spark aggregate
Columns.  The descriptor algebra (agg.py:77-219: arithmetic on
aggregators, e.g. ``agg.sum(x) / agg.count()``) maps to plain Column
arithmetic *after* aggregation — Catalyst computes all parts in one
Aggregate node, which is vaex's aggregation fusion (SURVEY §4 #4) for free.

Per-agg ``selection=`` compiles to conditional aggregation
(``F.sum(F.when(sel, x))``) — N selections in one pass (agg.py:223-228).
``dropnan``/``dropmissing`` flags mirror agg.py:600-612.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .missing import nan_to_null
from .temporal import stat_input, stat_output


class AggDescriptor:
    """Base: compiles to a Spark Column via to_column(df)."""

    def __init__(self, short_name: str, expression=None, selection=None,
                 dropmissing=False, dropnan=False):
        self.short_name = short_name
        self.expression = expression
        self.selection = selection
        self.dropmissing = dropmissing
        self.dropnan = dropnan

    def __repr__(self):
        sel = f", selection={self.selection!r}" if self.selection is not None else ""
        return f"vaex.agg.{self.short_name}({self.expression!r}{sel})"

    # pretty default output name: 'x_sum' like vaex's grid column naming
    @property
    def pretty_name(self) -> str:
        if self.expression is None:
            return self.short_name
        return f"{self.expression}_{self.short_name}"

    def _input(self, df, typed=False) -> tuple[Column | None, str | None]:
        """(aggregation input, Spark type), NaN masked to null by the
        missing-value rule (missing.py) for the statistics (``typed``)
        and under ``dropnan`` — the one type read.  Aggregates skip null."""
        col = dt = None
        if not (self.expression is None or self.expression == "*"):
            col = df._to_expr(self.expression).col
            try:
                dt = df.data_type(self.expression) if typed or self.dropnan else None
            except Exception:
                pass
            col = nan_to_null(col, dt)
        sel = df._selection_col(self.selection) if self.selection is not None else None
        if sel is not None:
            col = F.when(sel, col if col is not None else F.lit(1))
        return col, dt

    def to_column(self, df) -> Column:
        raise NotImplementedError

    # -- descriptor algebra (agg.py:77-219) -----------------------------
    def __add__(self, o): return _BinaryAgg("+", self, o)
    def __radd__(self, o): return _BinaryAgg("+", o, self)
    def __sub__(self, o): return _BinaryAgg("-", self, o)
    def __rsub__(self, o): return _BinaryAgg("-", o, self)
    def __mul__(self, o): return _BinaryAgg("*", self, o)
    def __rmul__(self, o): return _BinaryAgg("*", o, self)
    def __truediv__(self, o): return _BinaryAgg("/", self, o)
    def __rtruediv__(self, o): return _BinaryAgg("/", o, self)
    def __neg__(self): return _BinaryAgg("-", _LiteralAgg(0), self)


class _LiteralAgg(AggDescriptor):
    def __init__(self, value):
        super().__init__("lit")
        self.value = value

    def to_column(self, df):
        return F.lit(self.value)


class _BinaryAgg(AggDescriptor):
    def __init__(self, op, a, b):
        super().__init__(op)
        self.a = a if isinstance(a, AggDescriptor) else _LiteralAgg(a)
        self.b = b if isinstance(b, AggDescriptor) else _LiteralAgg(b)

    def to_column(self, df):
        ca, cb = self.a.to_column(df), self.b.to_column(df)
        # "/" via try_divide: agg algebra like sum(x)/count() keeps the
        # null-on-zero contract on ANSI-on sessions (identical ANSI off)
        return {"+": ca + cb, "-": ca - cb, "*": ca * cb,
                "/": F.try_divide(ca, cb)}[self.short_name]


class _SimpleAgg(AggDescriptor):
    def __init__(self, short_name, fn, expression, star_ok=False,
                 stat=False, **kw):
        super().__init__(short_name, expression, **kw)
        self.fn = fn
        self.star_ok = star_ok
        # statistic aggregators read NaN as missing (missing.py) and take
        # their input from the statistic-input rule (temporal.py):
        # booleans as 0/1, temporal columns as µs
        self.stat = stat

    def to_column(self, df):
        c, dt = self._input(df, typed=self.stat)
        if c is None:
            if not self.star_ok:
                raise ValueError(f"agg.{self.short_name} needs an expression")
            return F.count(F.lit(1))
        if self.stat:
            stat = self.short_name
            return stat_output(self.fn(stat_input(c, dt, stat)), dt, stat)
        return self.fn(c)


def count(expression=None, selection=None, **kw):
    return _SimpleAgg("count", F.count, expression, star_ok=True,
                      selection=selection, stat=True, **kw)


def sum(expression, selection=None, **kw):  # noqa: A001 — vaex name
    return _SimpleAgg("sum", F.sum, expression, selection=selection, stat=True, **kw)


def mean(expression, selection=None, **kw):
    return _SimpleAgg("mean", F.avg, expression, selection=selection, stat=True, **kw)


def min(expression, selection=None, **kw):  # noqa: A001
    return _SimpleAgg("min", F.min, expression, selection=selection, stat=True, **kw)


def max(expression, selection=None, **kw):  # noqa: A001
    return _SimpleAgg("max", F.max, expression, selection=selection, stat=True, **kw)


def std(expression, ddof=0, selection=None, **kw):
    return _SimpleAgg("std", F.stddev_pop if ddof == 0 else F.stddev_samp,
                      expression, selection=selection, stat=True, **kw)


def var(expression, ddof=0, selection=None, **kw):
    return _SimpleAgg("var", F.var_pop if ddof == 0 else F.var_samp,
                      expression, selection=selection, stat=True, **kw)


def skew(expression, selection=None, **kw):
    return _SimpleAgg("skew", F.skewness, expression, selection=selection, stat=True, **kw)


def kurtosis(expression, selection=None, **kw):
    return _SimpleAgg("kurtosis", F.kurtosis, expression, selection=selection, stat=True, **kw)


def sum_moment(expression, moment, selection=None, **kw):
    """agg.py:546 _sum_moment — Σ x^k building block."""
    return _SimpleAgg("sum_moment", lambda c: F.sum(F.pow(c, moment)),
                      expression, selection=selection, stat=True, **kw)


class _NUniqueAgg(AggDescriptor):
    """countDistinct + null-presence term.  The null check runs on the
    RAW column gated by the selection — the masked input can't tell
    "row not selected" apart from "selected row is null" (both null)."""

    def __init__(self, expression, count_null, selection=None, dropnan=False):
        super().__init__("nunique", expression, selection=selection, dropnan=dropnan)
        self.count_null = count_null

    def to_column(self, df) -> Column:
        base = F.countDistinct(self._input(df)[0])
        if self.count_null:
            raw = df._to_expr(self.expression).col
            sel = df._selection_col(self.selection) if self.selection is not None else None
            gated = raw.isNull() if sel is None else (sel & raw.isNull())
            base = base + F.coalesce(F.max(F.when(gated, 1)), F.lit(0)).cast("long")
        return base


def nunique(expression, dropna=False, dropnan=False, dropmissing=False, selection=None):
    return _NUniqueAgg(expression, count_null=not (dropna or dropmissing),
                       selection=selection, dropnan=(dropna or dropnan))


class _PandasAgg(AggDescriptor):
    """User-defined aggregation as an Arrow-batched GROUPED_AGG pandas
    UDF (SURVEY §2.9; the public UDAF escape hatch vaex exposes through
    register/TaskMapReduce).  ``fn`` is pandas.Series -> scalar; runs
    per group on executors, Arrow transfer, no row-at-a-time Python."""

    def __init__(self, fn, expression, return_type="double", selection=None):
        super().__init__("udaf", expression, selection=selection)
        self.fn = fn
        self.return_type = return_type

    def to_column(self, df) -> Column:
        import pandas as pd
        from pyspark.sql.pandas.functions import pandas_udf

        inner = self.fn

        def _wrapped(s):
            return inner(s)

        # pandas_udf infers GROUPED_AGG from Series -> scalar type hints
        _wrapped.__annotations__ = {"s": pd.Series, "return": float}
        udf = pandas_udf(_wrapped, returnType=self.return_type)
        return udf(self._input(df)[0])


def pandas_agg(fn, expression, return_type="double", selection=None):
    """vaex.agg-style descriptor for a custom aggregation:
    ``df.groupby('g', agg={'iqr': agg.pandas_agg(lambda s: s.quantile(.75) - s.quantile(.25), 'x')})``."""
    return _PandasAgg(fn, expression, return_type=return_type, selection=selection)


_AGG_REGISTRY: dict = {}


def register_agg(name, fn=None, return_type="double"):
    """Register a named UDAF usable as ``agg.<name>`` lookup via
    ``agg.registered(name, expression)``.  Decorator or direct call."""
    def deco(f):
        _AGG_REGISTRY[name] = (f, return_type)
        return f
    if fn is not None:
        return deco(fn)
    return deco


def registered(name, expression, selection=None):
    fn, rt = _AGG_REGISTRY[name]
    return _PandasAgg(fn, expression, return_type=rt, selection=selection)


def any(expression=None, selection=None):  # noqa: A001
    def fn(c):
        return F.coalesce(F.max(c.cast("boolean").cast("int")) == 1, F.lit(False))
    return _SimpleAgg("any", fn, expression, selection=selection)


def all(expression=None, selection=None):  # noqa: A001
    def fn(c):
        return F.coalesce(F.min(c.cast("boolean").cast("int")) == 1, F.lit(False))
    return _SimpleAgg("all", fn, expression, selection=selection)


def first(expression, order_expression=None, selection=None):
    """agg.py:556 — first by order expression.  Spark F.first is
    nondeterministic; min_by gives the well-defined semantics."""
    def fn(c):
        if order_expression is None:
            return F.first(c, ignorenulls=True)
        return F.min_by(c, F.col(str(order_expression)))
    return _SimpleAgg("first", fn, expression, selection=selection)


def last(expression, order_expression=None, selection=None):
    def fn(c):
        if order_expression is None:
            return F.last(c, ignorenulls=True)
        return F.max_by(c, F.col(str(order_expression)))
    return _SimpleAgg("last", fn, expression, selection=selection)


def list(expression, selection=None, dropna=False):  # noqa: A001
    """collect per group.  Spark's collect_list drops nulls; vaex's
    default (dropna=False) keeps them, so that path wraps values in
    structs (null-safe) and unwraps after collection."""
    if dropna:  # NA is null or NaN: mask NaN, collect_list skips null
        return _SimpleAgg("list", F.collect_list, expression,
                          selection=selection, dropnan=True)

    def fn(c):
        wrapped = F.collect_list(F.struct(c.alias("v")))
        return F.transform(wrapped, lambda s: s["v"])
    return _SimpleAgg("list", fn, expression, selection=selection)


def median_approx(expression, selection=None):
    return _SimpleAgg("median_approx",
                      lambda c: F.percentile_approx(c, 0.5, 10000),
                      expression, selection=selection, stat=True)


def percentile_approx(expression, percentage=50.0, selection=None):
    return _SimpleAgg("percentile_approx",
                      lambda c: F.percentile_approx(c, percentage / 100.0, 10000),
                      expression, selection=selection, stat=True)


_BY_NAME = {
    "count": count, "sum": sum, "mean": mean, "avg": mean, "min": min,
    "max": max, "std": std, "var": var, "skew": skew, "kurtosis": kurtosis,
    "nunique": nunique, "first": first, "last": last, "list": list,
    "any": any, "all": all, "median_approx": median_approx,
}


def from_spec(name_or_desc, expression=None):
    """Normalize 'sum' / descriptor / callable specs (groupby agg dict)."""
    if isinstance(name_or_desc, AggDescriptor):
        return name_or_desc
    if isinstance(name_or_desc, str):
        maker = _BY_NAME.get(name_or_desc)
        if maker is None:
            raise ValueError(f"unknown aggregation {name_or_desc!r}")
        if name_or_desc == "count" and expression in (None, "*"):
            return maker()
        return maker(expression)
    raise TypeError(f"bad agg spec {name_or_desc!r}")


def register(f, name=None):
    """reference agg.py:34 — drop a callable into the aggregate
    registry (alias of register_agg's decorator form for porting
    compatibility)."""
    name = name or f.__name__
    return register_agg(name, f)


def normalize(agg):
    """reference agg.py:740 — stable (kind, repr) pair for an
    aggregation descriptor; used by state serialization."""
    return agg.__class__.__name__, repr(agg)
