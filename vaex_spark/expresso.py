"""Python-syntax expression strings -> Catalyst Columns.

The reference validates and evaluates Python-syntax expression strings
with an ast whitelist (vaex-core/vaex/expresso.py:33-52, 74+) and a
per-chunk ``eval`` (scopes.py:103-203).  We compile the same grammar
*once* into a :class:`pyspark.sql.Column` tree — Catalyst then constant-
folds and code-gens it; no per-chunk Python remains.

Supported grammar (mirrors expresso's whitelist): names (columns and
df variables), numeric/str constants, unary/binary/boolean/comparison
operators, function calls from the registered expression namespace
(including ``np.*`` passthrough for whitelisted ufuncs), attribute calls
for the ``str_``/``dt_`` flat function names, ``where(c, a, b)``,
subscripts, and chained comparisons.
"""

from __future__ import annotations

import ast

from pyspark.sql import Column
from pyspark.sql import functions as F


class ExpressionSyntaxError(ValueError):
    pass


def try_div(a, b) -> Column:
    """ANSI-independent division implementing the library's permissive
    contract (zero divisor -> null).  ``F.try_divide`` is bit-identical
    to the non-ANSI ``/`` on every numeric type (measured: int/int and
    double/double, zero and non-zero divisors) and keeps returning null
    under ``spark.sql.ansi.enabled=true`` — where a plain ``/`` raises
    DIVIDE_BY_ZERO mid-job the first time a degenerate row (zero-norm
    vector, constant scaler column, empty doc) hits it on a foreign
    ANSI-on session (Spark 4 default)."""
    a = a if isinstance(a, Column) else F.lit(a)
    b = b if isinstance(b, Column) else F.lit(b)
    return F.try_divide(a, b)


def try_mod(a, b) -> Column:
    """ANSI-independent ``%`` — same contract as :func:`try_div`
    (``F.try_mod`` is bit-identical to the non-ANSI ``%``, null on zero
    divisor under both conf values)."""
    a = a if isinstance(a, Column) else F.lit(a)
    b = b if isinstance(b, Column) else F.lit(b)
    return F.try_mod(a, b)


_BINOPS = {
    ast.Add: lambda a, b: a + b,
    ast.Sub: lambda a, b: a - b,
    ast.Mult: lambda a, b: a * b,
    ast.Div: try_div,
    ast.FloorDiv: lambda a, b: F.floor(try_div(a, b)),
    ast.Mod: try_mod,
    ast.Pow: lambda a, b: F.pow(a, b),
    ast.BitAnd: lambda a, b: a & b,
    ast.BitOr: lambda a, b: a | b,
    ast.BitXor: lambda a, b: a.bitwiseXOR(b) if isinstance(a, Column) else b.bitwiseXOR(a),
}

_CMPOPS = {
    ast.Lt: lambda a, b: a < b,
    ast.LtE: lambda a, b: a <= b,
    ast.Gt: lambda a, b: a > b,
    ast.GtE: lambda a, b: a >= b,
    ast.Eq: lambda a, b: a == b,
    ast.NotEq: lambda a, b: a != b,
    ast.In: lambda a, b: a.isin(b) if isinstance(b, list) else b.contains(a),
    ast.NotIn: lambda a, b: ~(a.isin(b) if isinstance(b, list) else b.contains(a)),
}


def compile_expression(source: str, df) -> Column:
    """Compile a vaex expression string against ``df`` (a vaex_spark
    DataFrame supplying column names, variables, and functions)."""
    try:
        tree = ast.parse(source, mode="eval")
    except SyntaxError as e:
        raise ExpressionSyntaxError(f"cannot parse {source!r}: {e}") from e
    return _Compiler(df, source).visit(tree.body)


class _Compiler:
    def __init__(self, df, source):
        self.df = df
        self.source = source

    def err(self, node, msg):
        raise ExpressionSyntaxError(f"{msg} in {self.source!r} (offset {getattr(node, 'col_offset', '?')})")

    def visit(self, node):
        meth = getattr(self, f"visit_{type(node).__name__}", None)
        if meth is None:
            self.err(node, f"unsupported syntax {type(node).__name__}")
        return meth(node)

    def _as_col(self, v):
        return v if isinstance(v, Column) else F.lit(v)

    # -- leaves ----------------------------------------------------------
    def visit_Constant(self, node):
        return node.value

    def visit_Name(self, node):
        name = node.id
        if name in ("True", "False", "None"):
            return {"True": True, "False": False, "None": None}[name]
        variables = getattr(self.df, "variables", {})
        if name in variables:
            return variables[name]
        if self.df is not None and name in self.df.get_column_names(hidden=True):
            return self.df[name].col
        if name == "df" or name == "np":
            return _Namespace(name)
        # Unknown names resolve as raw columns — lets expressions refer to
        # physical columns not yet surfaced on the wrapper.
        return F.col(name)

    def visit_List(self, node):
        return [self.visit(e) for e in node.elts]

    def visit_Tuple(self, node):
        return [self.visit(e) for e in node.elts]

    # -- operators -------------------------------------------------------
    def visit_BinOp(self, node):
        op = _BINOPS.get(type(node.op))
        if op is None:
            self.err(node, f"unsupported operator {type(node.op).__name__}")
        left, right = self.visit(node.left), self.visit(node.right)
        if not isinstance(left, Column) and not isinstance(right, Column):
            return op(self._as_col(left), self._as_col(right))
        if not isinstance(left, Column) and type(node.op) in (ast.Sub, ast.Div, ast.FloorDiv, ast.Mod, ast.Pow):
            left = F.lit(left)  # non-commutative: keep operand order
        return op(left, right)

    def visit_UnaryOp(self, node):
        v = self.visit(node.operand)
        if isinstance(node.op, ast.USub):
            return -v
        if isinstance(node.op, ast.UAdd):
            return v
        if isinstance(node.op, (ast.Invert, ast.Not)):
            return ~self._as_col(v)
        self.err(node, "unsupported unary op")

    def visit_BoolOp(self, node):
        vals = [self._as_col(self.visit(v)) for v in node.values]
        out = vals[0]
        for v in vals[1:]:
            out = (out & v) if isinstance(node.op, ast.And) else (out | v)
        return out

    def visit_Compare(self, node):
        left = self.visit(node.left)
        out = None
        for op, comp in zip(node.ops, node.comparators):
            right = self.visit(comp)
            fn = _CMPOPS.get(type(op))
            if fn is None:
                self.err(node, f"unsupported comparison {type(op).__name__}")
            lc = left if isinstance(left, Column) else F.lit(left)
            piece = fn(lc, right)
            out = piece if out is None else (out & piece)
            left = right
        return out

    def visit_Subscript(self, node):
        value = self.visit(node.value)
        if isinstance(value, _Namespace):  # df['col']
            sl = self.visit(node.slice)
            # backtick-quote non-identifier names (df['a b'], df['c.d'])
            # so Spark does not read '.' as a struct path — this is the
            # reference's spelling for odd column names (utils.py:415)
            if isinstance(sl, str):
                from .colname import qcol
                return qcol(sl)
            return F.col(sl)
        sl = self.visit(node.slice)
        if isinstance(sl, int):
            return F.try_element_at(value, F.lit(sl + 1 if sl >= 0 else sl))
        return value.getField(sl)

    def visit_Attribute(self, node):
        value = self.visit(node.value)
        if isinstance(value, _Namespace):
            if value.name == "np":
                return _Namespace(f"np.{node.attr}")
            if value.name == "df":
                return self.visit_Name(ast.Name(id=node.attr))
            return _Namespace(f"{value.name}.{node.attr}")
        # accessor-style: x.str.lower()  -> handled at Call
        return _Namespace(node.attr, base=value)

    def visit_IfExp(self, node):
        cond = self._as_col(self.visit(node.test))
        return F.when(cond, self._as_col(self.visit(node.body))).otherwise(
            self._as_col(self.visit(node.orelse)))

    def _astype(self, args):
        # astype needs the SOURCE dtype (numpy units-since-epoch
        # semantics for datetime64 targets) — resolve against self.df
        # here; the registry fallback has no schema context (r14)
        from .expression import astype_column
        return astype_column(self.df, self._as_col(args[0]), args[1])

    def _lookup(self, name):
        """Registry function ``name``; a NaN/NA-family name is built by the
        missing-value rule on its argument's type, read from self.df."""
        from . import missing
        from .functions import registry
        if name not in missing.FAMILY:
            return registry.lookup(name)
        return lambda x, *a, **k: missing.FAMILY[name](
            self._as_col(x), self.df.data_type(self._as_col(x)), *a, **k)

    def visit_Call(self, node):
        args = [self.visit(a) for a in node.args]
        kwargs = {kw.arg: self.visit(kw.value) for kw in node.keywords}
        func = node.func
        if isinstance(func, ast.Name):
            name = func.id
            if name == "astype":
                return self._astype(args)
            fn = self._lookup(name)
            if fn is None:
                self.err(node, f"unknown function {name!r}")
            return fn(*args, **kwargs)
        if isinstance(func, ast.Attribute):
            target = self.visit(func.value)
            if isinstance(target, _Namespace) and target.name.startswith("np"):
                fn = self._lookup(func.attr)
                if fn is None:
                    self.err(node, f"unknown np function {func.attr!r}")
                return fn(*args, **kwargs)
            if isinstance(target, _Namespace) and target.base is not None:
                # x.str.lower() — accessor chain compiled flat
                fn = self._lookup(f"{target.name}_{func.attr}") or self._lookup(func.attr)
                if fn is None:
                    self.err(node, f"unknown accessor function {func.attr!r}")
                return fn(target.base, *args, **kwargs)
            if func.attr == "astype":
                return self._astype([target] + list(args))
            fn = self._lookup(func.attr)
            if fn is not None:
                return fn(target, *args, **kwargs)
            self.err(node, f"unknown method {func.attr!r}")
        self.err(node, "unsupported call form")


class _Namespace:
    """Marker for dotted-name prefixes (np., df., accessor scopes)."""

    def __init__(self, name, base=None):
        self.name = name
        self.base = base
