"""Expression: the vaex user-facing column algebra, compiled to Catalyst.

In the reference, an Expression is a *string* of Python-syntax code bound
to a DataFrame (vaex-core/vaex/expression.py:386), with operator
overloading concatenating bigger strings, later evaluated per-chunk by a
Python ``eval`` (vaex-core/vaex/scopes.py:103).  Here an Expression wraps
a :class:`pyspark.sql.Column` — an unevaluated Catalyst expression tree —
so the "string algebra" becomes real logical-plan algebra and Catalyst's
whole-stage codegen replaces the chunked evaluator.  We keep the string
front-end too (:mod:`vaex_spark.expresso` compiles Python-syntax strings
to Columns) for API parity and for JSON-serializable state.
The NaN/missing/NA family asks the missing-value rule
(:mod:`vaex_spark.missing`) on the expression's Spark type.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import missing
from .expresso import try_div as _try_div, try_mod as _try_mod


def _col(other: Any) -> Column | Any:
    """Unwrap an Expression into its Column; pass literals through."""
    if isinstance(other, Expression):
        return other.col
    return other


def _materialize_isin_col(spec) -> Column:
    """Column form of a large isin: array_contains over a literal built
    from ONE JSON string transfer (from_json of a literal constant-folds
    at optimization time), never per-element py4j.  Execution is a
    per-row scan of the array — correct but not the scale path, hence
    the warning; filter/virtual-column/sum uses never come here."""
    import json
    import warnings

    target, vals = spec["target"], spec["vals"]
    warnings.warn(
        f"isin over {len(vals):,} values is being used as a raw COLUMN "
        "expression (per-row array scan).  Use it as a filter, a "
        "virtual column, or .sum() — those compile to a broadcast "
        "semi-join.", stacklevel=4)
    non_null = [v for v in vals if v is not None]
    sample = non_null[0]
    if isinstance(sample, bool):
        t = "boolean"
    elif isinstance(sample, int):
        t = "bigint"
    elif isinstance(sample, float):
        t = "double"
    elif isinstance(sample, str):
        t = "string"
    else:
        t = None
    if t is not None:
        try:
            arr = F.from_json(F.lit(json.dumps(vals)), f"array<{t}>")
            return F.array_contains(arr, target.col)
        except (TypeError, ValueError):  # non-JSON-serializable values
            pass
    return F.array_contains(F.lit(vals), target.col)


class Expression:
    """A lazy column expression bound to a vaex_spark DataFrame.

    Mirrors vaex-core/vaex/expression.py:386 (operator overloading via
    metaclass at :53-186) but builds Catalyst trees instead of strings.
    """

    __slots__ = ("df", "_col", "_sql", "_isin_spec")

    def __init__(self, df, col: Column | str | None, sql: str | None = None):
        self.df = df
        self._isin_spec = None
        if isinstance(col, str):
            self._sql = col
            import keyword as _kw
            if ((not col.isidentifier() or _kw.iskeyword(col))
                    and self._is_column_name(df, col)):
                # expression TEXT uses the reference's parseable
                # spelling (utils.py:415 valid_expression): operator
                # algebra over this expression then composes strings
                # like "(df['a b'] * 2)" that state_set can re-parse
                self._sql = f"df[{col!r}]"
                # non-identifier column names ('a b', 'c.d', unicode…):
                # the reference keeps the ORIGINAL name and spells
                # expressions as df['a b'] (utils.py:415
                # valid_expression); our equivalent is bypassing the
                # python-AST parser when the string IS a column, with
                # backticks so Spark doesn't read '.' as a struct path
                # (python keywords ARE identifiers — F.col takes them
                # unquoted, Spark has no notion of python keywords)
                from .colname import qcol
                self._col = qcol(col)
                return
            from . import expresso
            self._col = expresso.compile_expression(col, df)
        else:
            self._col = col
            self._sql = sql

    @staticmethod
    def _is_column_name(df, name: str) -> bool:
        try:
            return name in df.get_column_names(hidden=True)
        except Exception:
            return False

    @property
    def col(self) -> Column:
        """The Catalyst column.  A large-isin expression is LAZY here:
        the membership literal is only materialized when the expression
        is genuinely used as a column — the filter/virtual-column/sum
        paths rewrite to a broadcast semi-join instead and never pay
        for it (r12: F.lit on a 1M-element list is minutes of py4j
        element-wise transfer; the 1e7-row scale probe caught the
        eager construction)."""
        if self._col is None and self._isin_spec is not None:
            self._col = _materialize_isin_col(self._isin_spec)
        return self._col

    @col.setter
    def col(self, value: Column) -> None:
        self._col = value

    # -- representation -------------------------------------------------
    def __repr__(self):
        if self._col is None and self._isin_spec is not None:
            return f"Expression(isin<{len(self._isin_spec['vals'])} values>)"
        return f"Expression({self.col!r})"

    def _wrap(self, col: Column) -> "Expression":
        return Expression(self.df, col)

    @property
    def dtype(self) -> str:
        """Spark SQL type name of this expression (schema resolution
        only — no job runs)."""
        return self.df.data_type(self)

    def _text_of(self, o) -> str | None:
        """Expression text of an operand when available (literals render
        as repr) — keeps the vaex string form alive through operator
        algebra so symbolic tools (derivative/propagate_uncertainties)
        work on operator-built expressions too."""
        if isinstance(o, Expression):
            return o._sql
        if isinstance(o, (int, float)) and not isinstance(o, bool):
            return repr(o)
        return None

    def _wrap2(self, col: Column, op: str, o, reflected: bool = False) -> "Expression":
        a, b = self._sql, self._text_of(o)
        if reflected:
            a, b = b, a
        sql = f"({a} {op} {b})" if a is not None and b is not None else None
        return Expression(self.df, col, sql=sql)

    # -- binary arithmetic (expression.py:53-91) -------------------------
    def __add__(self, o): return self._wrap2(self.col + _col(o), "+", o)
    def __radd__(self, o): return self._wrap2(_col(o) + self.col, "+", o, reflected=True)
    def __sub__(self, o): return self._wrap2(self.col - _col(o), "-", o)
    def __rsub__(self, o): return self._wrap2(_col(o) - self.col, "-", o, reflected=True)
    def __mul__(self, o): return self._wrap2(self.col * _col(o), "*", o)
    def __rmul__(self, o): return self._wrap2(_col(o) * self.col, "*", o, reflected=True)
    # division/mod route through try_div/try_mod (expresso.py): identical
    # to the plain operators under the contract session (ANSI off) and
    # null-on-zero-divisor instead of DIVIDE_BY_ZERO on ANSI-on sessions
    def __truediv__(self, o): return self._wrap2(_try_div(self.col, _col(o)), "/", o)
    def __rtruediv__(self, o): return self._wrap2(_try_div(_col(o), self.col), "/", o, reflected=True)

    def __floordiv__(self, o):
        return self._wrap(F.floor(_try_div(self.col, _col(o))))

    def __rfloordiv__(self, o):
        return self._wrap(F.floor(_try_div(_col(o), self.col)))

    def __mod__(self, o): return self._wrap(_try_mod(self.col, _col(o)))
    def __rmod__(self, o): return self._wrap(_try_mod(_col(o), self.col))

    def __pow__(self, o):
        return self._wrap2(F.pow(self.col, _col(o)), "**", o)

    def __rpow__(self, o):
        return self._wrap2(F.pow(_col(o), self.col), "**", o, reflected=True)

    def __neg__(self):
        return Expression(self.df, -self.col,
                          sql=f"(-{self._sql})" if self._sql else None)
    def __pos__(self): return self

    def __abs__(self): return self._wrap(F.abs(self.col))

    # -- comparisons -----------------------------------------------------
    def __lt__(self, o): return self._wrap2(self.col < _col(o), "<", o)
    def __le__(self, o): return self._wrap2(self.col <= _col(o), "<=", o)
    def __gt__(self, o): return self._wrap2(self.col > _col(o), ">", o)
    def __ge__(self, o): return self._wrap2(self.col >= _col(o), ">=", o)

    def __eq__(self, o):  # noqa: D105 — expression equality, not identity
        return self._wrap2(self.col == _col(o), "==", o)

    def __ne__(self, o):
        return self._wrap2(self.col != _col(o), "!=", o)

    __hash__ = object.__hash__

    # -- boolean / bitwise (vaex uses & | ^ ~ on boolean expressions) ----
    def __and__(self, o): return self._wrap(self.col & _col(o))
    def __rand__(self, o): return self._wrap(_col(o) & self.col)
    def __or__(self, o): return self._wrap(self.col | _col(o))
    def __ror__(self, o): return self._wrap(_col(o) | self.col)

    def __xor__(self, o):
        # Spark's bitwiseXOR rejects booleans (DATATYPE_MISMATCH); vaex
        # uses ^ on boolean predicates, where XOR == inequality.  Probe
        # the dtype (schema-only, no job) and pick the right operator.
        try:
            is_bool = self.dtype == "boolean"
        except Exception:
            is_bool = False
        if is_bool:
            return self._wrap(self.col != _col(o))
        return self._wrap(self.col.bitwiseXOR(_col(o)))

    def __invert__(self):
        return self._wrap(~self.col)

    def __lshift__(self, o):
        return self._wrap(self.col.cast("long") * F.pow(F.lit(2), _col(o)).cast("long"))

    def __rshift__(self, o):
        return self._wrap(F.floor(self.col.cast("long") / F.pow(F.lit(2), _col(o))).cast("long"))

    def __getitem__(self, item):
        # element access on array/struct cells (functions.py:2735 getitem)
        if isinstance(item, slice):
            start = item.start or 0
            length = (item.stop - start) if item.stop is not None else 1 << 30
            return self._wrap(F.slice(self.col, start + 1, length))
        if isinstance(item, int):
            # vaex/numpy 0-based; Spark element_at is 1-based
            # try_element_at: out-of-bounds stays null under ANSI too
            return self._wrap(F.try_element_at(
                self.col, F.lit(item + 1 if item >= 0 else item)))
        return self._wrap(self.col.getField(item))

    # -- null / NaN family (functions.py:147-268), NaN and NA by the
    # missing-value rule on this expression's type ----------------------
    def _na(self, name, *args):
        return self._wrap(missing.FAMILY[name](self.col, self.dtype, *args))

    def isna(self): return self._na("isna")
    def notna(self): return self._na("notna")
    def isnan(self): return self._na("isnan")
    def notnan(self): return self._na("notnan")

    def ismissing(self):
        return self._wrap(self.col.isNull())

    def notmissing(self):
        return self._wrap(self.col.isNotNull())

    _ISIN_LITERAL_MAX = 1024

    def isin(self, values):
        """Membership test (expression.py:1194).  Small lists stay as a
        literal IN (Catalyst hash set).  Large lists build NO column at
        all here — they carry a spec that the scale paths consume:
        ``DataFrame.filter`` and the virtual-column compiler rewrite to
        a broadcast left-semi/flag join, ``Expression.sum`` to a
        semi-join count (the SURVEY §2.4 mapping).  Only a genuinely
        algebraic use (e.g. composing the flag with ``&``) materializes
        the array-literal column, via ONE JSON string transfer instead
        of per-element py4j (r12: the eager ``F.lit`` took minutes at
        1M values — caught by the 1e7 scale probe)."""
        vals = list(values)
        if len(vals) <= self._ISIN_LITERAL_MAX:
            return self._wrap(self.col.isin(vals))
        if all(v is None for v in vals):
            # None never matches (col == NULL is NULL in the literal IN
            # path); an all-None array literal would be untyped, so fold
            # straight to false
            return self._wrap(F.lit(False))
        out = Expression(self.df, None)
        out._isin_spec = {"target": self, "vals": vals, "vdf": None}
        return out

    def fillna(self, value):
        """Replace NA (null or NaN) with ``value`` (expression.py:1087)."""
        return self._na("fillna", F.lit(value))

    def fillmissing(self, value):
        return self._wrap(F.coalesce(self.col, F.lit(value)))

    def fillnan(self, value):
        return self._na("fillnan", F.lit(value))

    # -- conversion ------------------------------------------------------
    _ASTYPE = {
        "float64": "double", "float32": "float", "f8": "double", "f4": "float",
        "int64": "bigint", "int32": "int", "int16": "smallint", "int8": "tinyint",
        "i8": "bigint", "i4": "int", "i2": "smallint", "i1": "tinyint",
        "uint64": "bigint", "uint32": "bigint", "uint16": "int", "uint8": "smallint",
        "bool": "boolean", "str": "string", "datetime64": "timestamp",
        "datetime64[ns]": "timestamp", "datetime64[us]": "timestamp",
        "datetime64[D]": "date",
    }

    def astype(self, dtype: str):
        """Cast (functions.py:2512); numpy dtype names map to Spark SQL
        types.  datetime64[unit] targets follow numpy's UNITS-SINCE-EPOCH
        semantics on numeric inputs (r14 — Spark's ``cast(bigint AS
        timestamp)`` reads SECONDS, so ``astype(µs_int,
        'datetime64[us]')`` silently produced year-294k timestamps)."""
        return self._wrap(astype_column(self.df, self.col, dtype))

    def to_string(self):
        return self._wrap(self.col.cast("string"))

    def abs(self): return self._wrap(F.abs(self.col))

    def clip(self, lower=None, upper=None):
        c = self.col
        if lower is not None:
            c = F.greatest(c, F.lit(lower))
        if upper is not None:
            c = F.least(c, F.lit(upper))
        return self._wrap(c)

    def where(self, cond, other):
        """vaex functions.py:2657 where(cond, self, other) analogue."""
        return self._wrap(F.when(_col(cond), self.col).otherwise(_col(other)))

    def searchsorted(self, values, side: str = "left"):
        """numpy.searchsorted parity against a (driver-side, sorted)
        literal array: insertion index = count of elements < v ('left')
        or <= v ('right').  One literal array + codegen'd filter/size;
        null input yields null."""
        arr = F.array(*[F.lit(v) for v in values])
        v = self.col
        if side == "left":
            n = F.size(F.filter(arr, lambda x: x < v))
        elif side == "right":
            n = F.size(F.filter(arr, lambda x: x <= v))
        else:
            raise ValueError(f"side={side!r}")
        return self._wrap(F.when(v.isNotNull(), n.cast("long")))

    def map(self, mapper: dict, nan_value=None, missing_value=None,
            default_value=None, allow_missing=False):
        """Dict mapping (expression.py:1298) via a chained CASE WHEN; for
        large dicts prefer a broadcast-join against a literal DataFrame.
        ``missing_value`` maps nulls, ``nan_value`` maps float NaN (the
        reference's two non-value keys)."""
        c = None
        if missing_value is not None:
            c = F.when(self.col.isNull(), F.lit(missing_value))
        if nan_value is not None:
            cond = missing.isnan(self.col, self.dtype)
            c = F.when(cond, F.lit(nan_value)) if c is None else c.when(cond, F.lit(nan_value))
        for k, v in mapper.items():
            cond = self.col == F.lit(k)
            c = F.when(cond, F.lit(v)) if c is None else c.when(cond, F.lit(v))
        if default_value is not None or allow_missing:
            c = c.otherwise(F.lit(default_value))
        return self._wrap(c)

    # -- accessors -------------------------------------------------------
    @property
    def str(self):
        from .functions.string import StringAccessor
        return StringAccessor(self)

    @property
    def dt(self):
        from .functions.datetime import DateTimeAccessor
        return DateTimeAccessor(self)

    @property
    def td(self):
        from .functions.datetime import TimeDeltaAccessor
        return TimeDeltaAccessor(self)

    @property
    def js(self):
        from .functions.structs import JsonAccessor
        return JsonAccessor(self)

    @property
    def struct(self):
        from .functions.structs import StructAccessor
        return StructAccessor(self)

    # -- statistics shortcuts (expression.py:854-1077) -------------------
    def count(self, **kw): return self.df.count(self, **kw)
    def sum(self, **kw):
        if self._isin_spec is not None and self._col is None and not kw:
            # sum of membership flags == count of members: the broadcast
            # semi-join count, never the array-literal column (the
            # reference's own isin benchmark shape, isin.py:20-28)
            return self.df.filter(self).count()
        return self.df.sum(self, **kw)
    def mean(self, **kw): return self.df.mean(self, **kw)
    def std(self, **kw): return self.df.std(self, **kw)
    def var(self, **kw): return self.df.var(self, **kw)
    def min(self, **kw): return self.df.min(self, **kw)
    def max(self, **kw): return self.df.max(self, **kw)
    def minmax(self, **kw): return self.df.minmax(self, **kw)
    def nunique(self, **kw): return self.df.nunique(self, **kw)
    def unique(self, **kw): return self.df.unique(self, **kw)
    def value_counts(self, **kw): return self.df.value_counts(self, **kw)
    def kurtosis(self, **kw): return self.df.kurtosis(self, **kw)
    def skew(self, **kw): return self.df.skew(self, **kw)

    def countna(self):
        return self.df._agg_scalar(F.count(F.when(self.isna().col, 1)))

    def countnan(self):
        return self.df._agg_scalar(F.count(F.when(self.isnan().col, 1)))

    def countmissing(self):
        return self.df._agg_scalar(F.count(F.when(self.col.isNull(), 1)))

    def dropna(self):
        return self.df.filter(self.notna())

    def dropmissing(self):
        return self.df.filter(self.notmissing())

    def dropnan(self):
        return self.df.filter(self.notnan())

    # -- UDF bridge ------------------------------------------------------
    def apply(self, f, vectorize: bool = False):
        """Per-value Python function (expression.py:1238).

        ``vectorize=True`` maps to an Arrow-batched pandas UDF (the honest
        analogue of vaex's chunk-at-a-time apply); ``False`` wraps f in a
        row UDF.  Both infer the return type from a 1-row sample like
        vaex's data_type probe (dataframe.py:2253).
        """
        return self.df._apply_expression(self, f, vectorize=vectorize)

    def evaluate(self):
        """Materialize this expression to a numpy array (driver-side)."""
        import numpy as np
        pdf = self.df._spark_df().select(self.col.alias("__v")).toPandas()
        return np.asarray(pdf["__v"].values)

    def to_numpy(self):
        return self.evaluate()

    # -- conversion / introspection parity (expression.py:386-1500) ------
    def tolist(self):
        """expression.py:1047."""
        return list(self.evaluate())

    def to_pandas_series(self):
        import pandas as pd
        return pd.Series(self.evaluate())

    def to_arrow(self, convert_to_native: bool = False):
        import pyarrow as pa
        return pa.Array.from_pandas(self.to_pandas_series())

    @property
    def values(self):
        return self.evaluate()

    def copy(self, df=None):
        return Expression(df if df is not None else self.df, self.col, sql=self._sql)

    @property
    def expression(self) -> str:
        """The expression text (reference expressions ARE strings; here
        it is the original string when built from one, else the Column's
        SQL rendering)."""
        return self._sql if self._sql is not None else str(self.col)

    def to_dask_array(self, chunks="auto"):
        """expression.py:to_dask_array — gated on the optional dask dep."""
        try:
            import dask.array as da
        except ImportError as e:
            raise ImportError("to_dask_array requires the 'dask' package") from e
        return da.from_array(self.evaluate(), chunks=chunks)

    @property
    def ast(self):
        """reference expression.py:444 — the Python AST of the expression
        text (only defined for string-built expressions)."""
        import ast as _ast
        return _ast.parse(self.expression, mode="eval").body

    def data_type(self):
        return self.dtype

    def is_string(self) -> bool:
        return self.dtype == "string"

    def is_masked(self) -> bool:
        """Nullable-ness (Spark's analogue of numpy masking)."""
        sdf = self.df._spark_df().select(self.col.alias("_v"))
        return bool(sdf.schema[0].nullable)

    @property
    def masked(self) -> bool:
        return self.is_masked()

    @property
    def ndim(self) -> int:
        return 2 if self.dtype.startswith("array") else 1

    @property
    def shape(self) -> tuple:
        return (len(self.df),)

    def nop(self, progress=False, delay=False):
        """expression.py:979 — evaluate and discard."""
        return self.df.nop(self)

    def fingerprint(self) -> str:
        import hashlib
        return "expression-" + hashlib.sha256(
            (self.df.fingerprint() + "|" + self.expression).encode()).hexdigest()[:16]

    def dependencies(self) -> list:
        """expression.py:940 — referenced columns (+ variables)."""
        return self.variables()

    def variables(self, ourself=False, expand_virtual=True) -> set:
        """Columns/variables this expression references, from Catalyst's
        resolved references when available, else the parsed string."""
        refs: set[str] = set()
        try:
            jexpr = self.col._jc.expr()
            it = jexpr.references().iterator()
            while it.hasNext():
                refs.add(it.next().name())
        except Exception:
            if self._sql:
                refs |= set(self.ast_names())
        cols = set(self.df.get_column_names(hidden=True))
        out = refs & cols if refs else refs
        if expand_virtual:
            for name in list(out):
                v = self.df.virtual_columns.get(name)
                if v is not None and getattr(v, "_sql", None):
                    out |= v.variables()
        return out

    def ast_names(self) -> list:
        """Names appearing in the expression string (expression.py:430)."""
        import ast as _ast
        if not self._sql:
            return []
        try:
            tree = _ast.parse(self._sql, mode="eval")
        except SyntaxError:
            return []
        return sorted({n.id for n in _ast.walk(tree) if isinstance(n, _ast.Name)})

    def expand(self) -> "Expression":
        """expression.py:916 — virtual columns are already inlined into
        the Column tree at build time, so expansion is identity."""
        return self

    @property
    def transient(self) -> bool:
        """Reference: True when not backed by a stored column; here an
        expression is transient unless it IS a plain column reference."""
        return self.expression not in self.df.get_column_names(hidden=True)

    @property
    def str_pandas(self):
        """Reference routes str_pandas through pandas Series.str; the
        native str accessor is already vectorized here — same surface."""
        return self.str

    def derivative(self, var, simplify: bool = True) -> "Expression":
        """Symbolic partial derivative d(self)/d(var) as a new
        expression (reference expression.py:1046, via expresso; here
        via sympy on the kept expression text, recompiled through the
        string front-end so the result is a Catalyst Column again)."""
        text = self._sql
        if text is None:
            raise ValueError(
                "derivative needs the expression text; build the expression "
                "from a string (df['x + y']) or arithmetic operators")
        var = var if isinstance(var, str) else var.expression
        return Expression(self.df, _sympy_diff(text, var, simplify=simplify))

    # JIT escape hatches: Catalyst whole-stage codegen is the JIT
    # (SURVEY §2.9 maps jit_* to n/a); kept as no-op identities so
    # API-compatible scripts run.
    def jit_numba(self, verbose=False):
        return self

    def jit_cuda(self, verbose=False):
        return self

    def jit_pythran(self, verbose=False):
        return self

    def jit_metal(self, verbose=False):
        return self


# µs per unit for numpy datetime64[unit] targets on NUMERIC inputs
_DT64_US_PER_UNIT = {"s": 1_000_000, "m": 60_000_000, "h": 3_600_000_000,
                     "ms": 1_000, "us": 1}


def astype_column(df, col: Column, dtype) -> Column:
    """numpy-semantics ``astype`` on a Spark Column (r14).

    Non-temporal targets map through ``Expression._ASTYPE`` and cast.
    ``datetime64[unit]`` targets branch on the SOURCE type (one
    driver-side analysis round-trip, no job):

    * numeric source — numpy reads the value as UNITS SINCE EPOCH
      (reference = plain ``arr.astype('datetime64[us]')``), so convert
      via ``timestamp_micros`` at the unit's scale ([ns] floors to µs —
      Spark timestamps are µs); ``[D]`` via ``date_from_unix_date``.
      Spark's own ``cast(bigint AS timestamp)`` reads SECONDS — using
      it for µs ints silently produced year-294k timestamps (caught by
      the temporal_rolling scale probe's fixture).
    * anything else (string parse, timestamp/date re-cast) — Spark's
      cast already matches numpy/pandas.
    """
    t = str(dtype)
    target = Expression._ASTYPE.get(t, t)
    if not (t.startswith("datetime64") and "[" in t):
        return col.cast(target)
    in_dt = ""
    if df is not None:
        try:
            in_dt = df._spark_df().select(col.alias("_t")).schema[0] \
                .dataType.simpleString()
        except Exception:
            in_dt = ""
    numeric = (in_dt in ("tinyint", "smallint", "int", "bigint",
                         "float", "double")
               or in_dt.startswith("decimal"))
    if not numeric:
        return col.cast(target)
    unit = t[t.find("[") + 1:t.find("]")]
    if unit == "D":
        return F.date_from_unix_date(col.cast("int"))
    if unit == "ns":
        return F.timestamp_micros((col.cast("bigint") / F.lit(1000))
                                  .cast("bigint"))
    scale = _DT64_US_PER_UNIT.get(unit)
    if scale is None:
        raise ValueError(
            f"astype: unsupported datetime64 unit {unit!r} for a numeric "
            f"column (supported: D, s, m, h, ms, us, ns)")
    b = col.cast("bigint")
    return F.timestamp_micros(b if scale == 1 else b * F.lit(scale))


def _sympy_diff(text: str, var: str, simplify: bool = True) -> str:
    """Differentiate a python-syntax expression string with sympy and
    render back to a string our expresso compiler accepts."""
    import re
    import sympy

    import ast as _ast
    names = sorted({n.id for n in _ast.walk(_ast.parse(text, mode="eval"))
                    if isinstance(n, _ast.Name)})
    fn_map = {
        "sin": sympy.sin, "cos": sympy.cos, "tan": sympy.tan,
        "arcsin": sympy.asin, "arccos": sympy.acos, "arctan": sympy.atan,
        "arctan2": sympy.atan2, "sinh": sympy.sinh, "cosh": sympy.cosh,
        "tanh": sympy.tanh, "arcsinh": sympy.asinh, "arccosh": sympy.acosh,
        "arctanh": sympy.atanh, "exp": sympy.exp, "log": sympy.log,
        "log10": lambda x: sympy.log(x) / sympy.log(10),
        "log2": lambda x: sympy.log(x) / sympy.log(2),
        "log1p": lambda x: sympy.log(1 + x),
        "expm1": lambda x: sympy.exp(x) - 1,
        "sqrt": sympy.sqrt, "abs": sympy.Abs,
    }
    local = dict(fn_map)
    for n in names:
        if n not in local:
            local[n] = sympy.Symbol(n)
    expr = sympy.sympify(text, locals=local)
    d = sympy.diff(expr, local[var] if var in local else sympy.Symbol(var))
    if simplify:
        d = sympy.cancel(d) if d.is_rational_function() else sympy.simplify(d)
    out = sympy.printing.sstr(d)
    # sympy name -> our registry name
    for s, r in [("atan2", "arctan2"), ("asinh", "arcsinh"), ("acosh", "arccosh"),
                 ("atanh", "arctanh"), ("asin", "arcsin"), ("acos", "arccos"),
                 ("atan", "arctan"), ("Abs", "abs"), ("sign", "sign")]:
        out = re.sub(rf"\b{s}\(", f"{r}(", out)
    return out
