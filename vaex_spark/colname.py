"""Single source of truth for non-identifier column-name quoting.

The reference keeps ORIGINAL column names ('a b', 'c.d', unicode…) and
spells access as ``df['a b']`` (packages/vaex-core/vaex/utils.py:415
valid_expression).  Our Spark equivalent backtick-quotes such names so
Spark does not read ``.`` as a struct path.  r13 ADVICE: this logic had
been reimplemented in four call sites (window._fcol, expresso
subscript, DataFrame.__getitem__, Expression.__init__), each with its
own escape handling — hoisted here so a future escape-rule change
cannot diverge per path.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def quote_name(name: str) -> str:
    """Name as Spark accepts it in a column reference: identifiers pass
    through; anything else is backtick-quoted with `` doubling."""
    if name.isidentifier():
        return name
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str):
    """``F.col`` that survives non-identifier column names."""
    return F.col(quote_name(name))


def name_sql(x, builder: str) -> str:
    """Quoted SQL name of a SQL-text builder's column argument: a column
    name, or a vaex ``Expression`` that names a stored column
    (``df.text``, ``df['a b']``).  The builders assemble one parsed SQL
    string around this name, so a computed ``Column`` or expression has
    no spelling here and raises ``TypeError`` naming ``builder``."""
    if isinstance(x, str):
        return quote_name(x)
    from .expression import Expression
    if isinstance(x, Expression) and x._sql is not None:
        names = x.df.get_column_names(hidden=True)
        name = x._sql
        if name not in names and name.startswith("df[") and name.endswith("]"):
            import ast
            try:
                name = ast.literal_eval(name[3:-1])
            except (ValueError, SyntaxError):
                pass
        if isinstance(name, str) and name in names:
            return quote_name(name)
    raise TypeError(
        f"{builder}() takes a column name or an Expression naming a "
        f"stored column, got {type(x).__name__}: {x!r}")
