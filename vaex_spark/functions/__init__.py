"""Expression-namespace registry (reference: vaex-core/vaex/registry.py:19).

Every function callable inside expression strings and on Expression
objects lives here, as a builder ``(*Column|literal) -> Column``.  The
vaex registry inserts numpy-backed kernels into a per-chunk eval scope;
ours maps each name onto the equivalent ``pyspark.sql.functions`` call so
everything stays JVM-side in whole-stage codegen.  ``register_function``
is the public extension hook (same contract as vaex's decorator).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


class FunctionRegistry:
    def __init__(self):
        self._functions: dict[str, object] = {}

    def register(self, name: str, fn, scope: str | None = None):
        key = f"{scope}_{name}" if scope else name
        self._functions[key] = fn

    def lookup(self, name: str):
        return self._functions.get(name)

    def names(self):
        return sorted(self._functions)


registry = FunctionRegistry()


def register_function(scope: str | None = None, name: str | None = None,
                      on_expression: bool = True, df_accessor=None):
    """Decorator mirroring ``@vaex.register_function`` (registry.py:19).

    The wrapped callable receives Columns (plus literals) and must return
    a Column.  For Python-bodied functions, wrap in a pandas_udf before
    registering — this registry never does row-at-a-time Python.
    """
    def wrapper(fn):
        fname = name or fn.__name__
        registry.register(fname, fn, scope=scope)
        if on_expression and scope is None:
            from ..expression import Expression
            if not hasattr(Expression, fname):  # never clobber built-ins
                def method(self, *a, _fn=fn, **k):
                    return self._wrap(_fn(self.col, *[_c(x) for x in a], **k))
                method.__name__ = fname
                setattr(Expression, fname, method)
        if df_accessor:
            from ..dataframe import DataFrame
            _attach_df_accessor(DataFrame, str(df_accessor), fname, fn)
        return fn
    return wrapper


def _attach_df_accessor(cls, accessor: str, fname: str, fn) -> None:
    """Group registered functions under ``df.<accessor>.<fname>(...)``
    (reference register_function(df_accessor=...), registry.py:19)."""
    ns_attr = f"_accessor_ns_{accessor}"
    if not hasattr(cls, ns_attr):
        class _Accessor:
            def __init__(self, df):
                self._df = df
        setattr(cls, ns_attr, _Accessor)
        setattr(cls, accessor, property(
            lambda self, _A=_Accessor: _A(self)))
    ns_cls = getattr(cls, ns_attr)

    def method(self, *a, _fn=fn, **k):
        out = _fn(*[self._df._to_expr(x).col if not isinstance(x, (int, float, str, bool))
                    else _c(x) for x in a], **k)
        from ..expression import Expression
        return Expression(self._df, out) if isinstance(out, Column) else out
    method.__name__ = fname
    setattr(ns_cls, fname, method)


def _c(x) -> Column:
    from ..expression import Expression
    if isinstance(x, Expression):
        return x.col
    if isinstance(x, Column):
        return x
    return F.lit(x)


# --- math ufuncs (SURVEY §2.8 "math ufuncs"; vaex exposes numpy's) -----
_MATH = {
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "arcsin": F.asin, "arccos": F.acos, "arctan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "arcsinh": F.asinh, "arccosh": F.acosh, "arctanh": F.atanh,
    "log": F.log, "log10": F.log10, "log2": F.log2,
    "log1p": F.log1p, "exp": F.exp, "expm1": F.expm1,
    "sqrt": F.sqrt, "abs": F.abs, "floor": F.floor, "ceil": F.ceil,
    "degrees": F.degrees, "radians": F.radians, "sign": F.signum,
}
for _name, _fn in _MATH.items():
    registry.register(_name, (lambda f: lambda x, *a: f(_c(x), *[_c(v) for v in a]))(_fn))

registry.register("arctan2", lambda y, x: F.atan2(_c(y), _c(x)))
registry.register("maximum", lambda a, b: F.greatest(_c(a), _c(b)))
registry.register("minimum", lambda a, b: F.least(_c(a), _c(b)))
registry.register("round", lambda x, n=0: F.round(_c(x), int(n)))
registry.register("power", lambda a, b: F.pow(_c(a), _c(b)))
registry.register("pi", lambda: F.lit(math.pi))
registry.register("deg2rad", lambda x: F.radians(_c(x)))
registry.register("rad2deg", lambda x: F.degrees(_c(x)))
# normalized sinc: sin(pi x)/(pi x), 1 at x=0 (numpy semantics)
registry.register("sinc", lambda x: F.when(
    _c(x) == 0, F.lit(1.0)).otherwise(
    F.sin(F.lit(math.pi) * _c(x)) / (F.lit(math.pi) * _c(x))))


@register_function()
def where(cond, x, y):
    """vaex functions.py:2657 — three-arg numpy.where."""
    return F.when(_c(cond), _c(x)).otherwise(_c(y))


@register_function()
def clip(x, lo=None, hi=None):
    c = _c(x)
    if lo is not None:
        c = F.greatest(c, _c(lo))
    if hi is not None:
        c = F.least(c, _c(hi))
    return c


@register_function()
def digitize(x, bins, right=False):
    """numpy.digitize — index of bin each value falls into.

    Compiled to width_bucket-style nested CASE over the literal bin
    edges; stays in codegen, no UDF."""
    c = _c(x)
    # index = number of edges at-or-below x (numpy semantics)
    terms = [((F.lit(e) <= c) if not right else (F.lit(e) < c)).cast("int") for e in bins]
    out = F.lit(0)
    for t in terms:
        out = out + t
    return out


@register_function()
def searchsorted(a_edges, v, side="left"):
    """numpy.searchsorted: insertion index = count of edges < v
    ('left') or <= v ('right').  digitize(right=True) counts strict <,
    digitize(right=False) counts <=, so side='left' maps to right=True
    (r11 ADVICE: the mapping was inverted)."""
    if side not in ("left", "right"):
        raise ValueError(f"side={side!r} (expected 'left' or 'right')")
    return digitize(v, list(a_edges), right=(side == "left"))


@register_function()
def dot_product(a, b):
    """vaex functions.py:2741 — elementwise dot of two array columns.

    F.zip_with + F.aggregate keeps it JVM-side (no Python)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


# --- null family (flat names usable in strings); the NaN/NA names need
# their argument's type and resolve in expresso (NA_FAMILY) ------------
registry.register("ismissing", lambda x: _c(x).isNull())
registry.register("notmissing", lambda x: _c(x).isNotNull())
registry.register("fillmissing", lambda x, v: F.coalesce(_c(x), _c(v)))


# --- list/array (functions.py:110-142, 2716-2735) ----------------------
registry.register("list_sum", lambda x: F.aggregate(_c(x), F.lit(0.0), lambda a, v: a + v.cast("double")))
registry.register("array_sum", lambda x: F.aggregate(_c(x), F.lit(0.0), lambda a, v: a + v.cast("double")))
registry.register("getitem", lambda x, i: F.try_element_at(_c(x), F.lit(int(i) + 1 if int(i) >= 0 else int(i))))
registry.register("stack", lambda *xs: F.array(*[_c(x) for x in xs]))
def _astype(x, t):
    # SAME numpy-name table as Expression.astype — the two astype
    # spellings (method vs expression-string) must agree; the string
    # path previously mapped only six names and had no datetime64
    # spellings at all (r14)
    from ..expression import Expression
    return _c(x).cast(Expression._ASTYPE.get(str(t), str(t)))


registry.register("astype", _astype)
registry.register("to_string", lambda x: _c(x).cast("string"))
registry.register("format", lambda fmt, *xs: F.format_string(str(fmt).replace("{}", "%s"), *[_c(x) for x in xs]))
registry.register("scalar_datetime", lambda s: F.lit(s).cast("timestamp"))


def _load_accessor_functions():
    # Registers the flat str_*/dt_*/td_* names into the registry.
    from . import string, datetime, structs  # noqa: F401


_load_accessor_functions()
