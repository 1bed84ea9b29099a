"""GroupBy surface (reference: vaex-core/vaex/groupby.py, 1087 LoC;
entry dataframe.py:7133).

All of vaex's grouper machinery — hash-unique dictionary passes
(Grouper :226), categorical fast path (GrouperCategory :398), multi-key
mixed-radix compression (GrouperCombined :330), sparse/dense heuristics
(:652-668) — collapses into Spark's hash aggregation: ONE
``df.groupBy(keys).agg(...)`` with partial (map-side) + final agg over
the shuffle.  What we keep from the reference surface:

* ``agg`` spec forms: string, list-of-strings, dict {col: spec | [specs]},
  dict {name: descriptor}, descriptor list (groupby.py:688+ naming rules),
* ``sort=``/``ascending=`` multi-key result ordering (groupby.py:619-627),
* time binning: ``BinnerTime(expr, resolution='W')`` -> ``date_trunc``
  (groupby.py:64-137),
* value-limited grouping: ``GrouperLimited`` -> CASE WHEN other-bin
  (groupby.py:468),
* ``row_limit`` guard (RowLimitException, __init__.py:870),
* binners: ``Binner(expr, lo, hi, bins)`` scalar range bins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import agg as vagg
from . import missing


class RowLimitException(Exception):
    pass


class _Grouper:
    def default_name(self):
        sql = getattr(self.expression, "_sql", None)
        return sql if sql else str(self.expression)


class BinnerTime(_Grouper):
    """groupby.py:64-137 — datetime resampling grouper.

    ``every=1`` maps to ``date_trunc`` (no pre-pass).  ``every>1``
    follows the reference exactly: bins of ``every`` resolution units
    anchored at the DATA MINIMUM truncated to the resolution (numpy
    ``M8[R]`` cast semantics — note numpy weeks anchor on Thursdays,
    i.e. epoch-multiples of 7 days).  That needs one tiny min() job at
    plan-build time, same as the reference's eager minmax."""

    _RES = {"Y": "year", "M": "month", "W": "week", "D": "day",
            "h": "hour", "m": "minute", "s": "second", "Q": "quarter"}

    def __init__(self, expression, resolution="W", df=None, every=1):
        self.expression = expression
        self.resolution = resolution
        self.every = int(every)

    @classmethod
    def per_day(cls, expression, df=None, every=1):
        return cls(expression, "D", df, every=every)

    @classmethod
    def per_week(cls, expression, df=None, every=1):
        return cls(expression, "W", df, every=every)

    @classmethod
    def per_month(cls, expression, df=None, every=1):
        return cls(expression, "M", df, every=every)

    @classmethod
    def per_quarter(cls, expression, df=None, every=1):
        return cls(expression, "M", df, every=3 * every)

    @classmethod
    def per_year(cls, expression, df=None, every=1):
        return cls(expression, "Y", df, every=every)

    def _r_index(self, col):
        """Integer index of a timestamp in resolution units since epoch
        (numpy M8[R] cast parity)."""
        r = self.resolution
        if r == "Y":
            return F.year(col) - 1970
        if r in ("M", "Q"):
            return (F.year(col) - 1970) * 12 + F.month(col) - 1
        if r == "W":
            return F.floor(F.datediff(col, F.lit("1970-01-01")) / 7).cast("long")
        if r == "D":
            return F.datediff(col, F.lit("1970-01-01")).cast("long")
        secs = {"h": 3600, "m": 60, "s": 1}[r]
        return F.floor(F.unix_timestamp(col) / secs).cast("long")

    def _r_value(self, idx):
        """Timestamp for resolution-unit index ``idx`` (bin label)."""
        r = self.resolution
        if r == "Y":
            return F.make_date(idx + 1970, F.lit(1), F.lit(1)).cast("timestamp")
        if r in ("M", "Q"):
            return F.make_date(F.floor(idx / 12).cast("int") + 1970,
                               (idx % 12).cast("int") + 1, F.lit(1)).cast("timestamp")
        if r == "W":
            return F.date_add(F.lit("1970-01-01").cast("date"), (idx * 7).cast("int")).cast("timestamp")
        if r == "D":
            return F.date_add(F.lit("1970-01-01").cast("date"), idx.cast("int")).cast("timestamp")
        secs = {"h": 3600, "m": 60, "s": 1}[r]
        return F.timestamp_seconds(idx * secs)

    def key_column(self, df, name):
        col = df._to_expr(self.expression).col
        if self.every == 1:
            if self.resolution == "W":
                # numpy M8[W] truncation: epoch-anchored (Thursday) weeks,
                # NOT Spark's Monday-anchored date_trunc('week')
                return self._r_value(self._r_index(col)).alias(name)
            unit = self._RES.get(self.resolution, self.resolution)
            return F.date_trunc(unit, col).alias(name)
        tmin = df._spark_df().agg(F.min(col).alias("_t")).collect()[0]["_t"]
        r0 = self._r_index_py(tmin)
        idx = F.floor((self._r_index(col) - F.lit(r0)) / self.every)
        return self._r_value(F.lit(r0) + idx * self.every).alias(name)

    def _r_index_py(self, t) -> int:
        """Driver-side twin of _r_index for the anchor value."""
        import datetime as _dt
        r = self.resolution
        if r == "Y":
            return t.year - 1970
        if r in ("M", "Q"):
            return (t.year - 1970) * 12 + t.month - 1
        d = (t.date() if isinstance(t, _dt.datetime) else t)
        days = (d - _dt.date(1970, 1, 1)).days
        if r == "W":
            return days // 7
        if r == "D":
            return days
        secs = {"h": 3600, "m": 60, "s": 1}[r]
        epoch = _dt.datetime(1970, 1, 1, tzinfo=getattr(t, "tzinfo", None))
        return int((t - epoch).total_seconds() // secs)


class GrouperLimited(_Grouper):
    """groupby.py:468 — group on a fixed value set; the rest -> 'other'."""

    def __init__(self, expression, values, other_value="other", df=None):
        self.expression = expression
        self.values = list(values)
        self.other_value = other_value

    def key_column(self, df, name):
        c = df._to_expr(self.expression).col
        return F.when(c.isin(self.values), c).otherwise(F.lit(self.other_value)).alias(name)


class Binner(_Grouper):
    """Scalar range binner (groupby.py:45): key = bin center."""

    def __init__(self, expression, minimum, maximum, bins, df=None):
        self.expression = expression
        self.lo, self.hi, self.bins = float(minimum), float(maximum), int(bins)

    def key_column(self, df, name):
        c = df._to_expr(self.expression).col.cast("double")
        width = (self.hi - self.lo) / self.bins
        # try_divide: degenerate grouper limits (hi == lo) null out under ANSI
        idx = F.floor(F.try_divide(c - self.lo, F.lit(width)))
        idx = F.when(c == self.hi, self.bins - 1).otherwise(idx)
        center = F.lit(self.lo) + (idx + 0.5) * F.lit(width)
        return center.alias(name)


class GroupBy:
    def __init__(self, df, by, sort=False, ascending=True, row_limit=None,
                 mode="groupby"):
        self.df = df
        self.sort = sort
        self.ascending = ascending
        self.row_limit = row_limit
        if mode not in ("groupby", "rollup", "cube"):
            raise ValueError(f"mode must be groupby/rollup/cube, got {mode!r}")
        self.mode = mode
        if by is None:
            by = []
        if not isinstance(by, (list, tuple)):
            by = [by]
        self.by = list(by)

    def _key_columns(self) -> tuple[list[Column], list[str]]:
        cols, names = [], []
        for i, b in enumerate(self.by):
            if isinstance(b, (BinnerTime, GrouperLimited, Binner)):
                name = b.default_name()
                cols.append(b.key_column(self.df, name))
            elif isinstance(b, str):
                name = b
                cols.append(self.df._to_expr(b).col.alias(name))
            else:  # Expression
                name = getattr(b, "_sql", None) or f"key_{i}"
                cols.append(b.col.alias(name))
            names.append(name)
        return cols, names

    def _agg_columns(self, spec) -> list[tuple[str, Column, bool]]:
        """Returns ordered (name, column, is_pandas_udaf) triples —
        GROUPED_AGG pandas UDFs can't share an Aggregate node with
        regular aggregates, so the caller splits them."""
        out: list[tuple[str, Column, bool]] = []

        def emit(desc: vagg.AggDescriptor, name: str):
            is_pandas = isinstance(desc, vagg._PandasAgg)
            out.append((name, desc.to_column(self.df).alias(name), is_pandas))

        if isinstance(spec, str):
            if spec == "count":
                emit(vagg.count(), "count")
            else:
                # apply to every non-key column (vaex: agg='mean')
                keys = {str(b) for b in self.by if isinstance(b, str)}
                for c in self.df.get_column_names():
                    if c not in keys and not self.df.data_type(c).startswith(("string", "timestamp", "array")):
                        emit(vagg.from_spec(spec, c), c)
        elif isinstance(spec, vagg.AggDescriptor):
            emit(spec, spec.pretty_name)
        elif isinstance(spec, (list, tuple)):
            for s in spec:
                if isinstance(s, vagg.AggDescriptor):
                    emit(s, s.pretty_name)
                else:
                    raise TypeError(f"bad agg list entry {s!r}")
        elif isinstance(spec, dict):
            for key, s in spec.items():
                if isinstance(s, Column):
                    out.append((key, s.alias(key), False))  # raw Spark aggregate Column
                elif isinstance(s, vagg.AggDescriptor):
                    emit(s, key)  # {'name': descriptor} -> output column 'name'
                elif isinstance(s, str):
                    emit(vagg.from_spec(s, key), key)  # {'col': 'sum'} -> column 'col'
                elif isinstance(s, (list, tuple)):
                    for sub in s:  # {'col': ['sum','mean']} -> col_sum, col_mean
                        emit(vagg.from_spec(sub, key), f"{key}_{sub}")
                else:
                    raise TypeError(f"bad agg spec for {key!r}: {s!r}")
        else:
            raise TypeError(f"bad agg spec {spec!r}")
        return out

    def agg(self, spec, sort=None, ascending=None):
        """Returns a vaex_spark.DataFrame of groups × aggregates."""
        from .dataframe import DataFrame
        key_cols, key_names = self._key_columns()
        triples = self._agg_columns(spec)
        reg = [c for _, c, p in triples if not p]
        pud = [c for _, c, p in triples if p]
        sdf = self.df._spark_df()

        def _run(cols):
            if not key_cols:
                return sdf.agg(*cols)
            # rollup/cube are plain grouping-set aggregates: one shuffle,
            # partial map-side combine, subtotal rows carry null keys —
            # the same plan shape a hand-written UNION of groupbys would
            # need N scans for.
            grouping = {"groupby": sdf.groupBy, "rollup": sdf.rollup,
                        "cube": sdf.cube}[self.mode]
            return grouping(*key_cols).agg(*cols)

        if reg and pud:
            # Spark forbids mixing GROUPED_AGG pandas UDFs with built-in
            # aggregates in one Aggregate node: run two grouped aggs over
            # the same shuffle keys and join on the group keys.  The join
            # must be null-safe (eqNullSafe) or null-keyed groups vanish.
            # Under rollup/cube the key columns alone cannot identify a
            # grouping-set row: the (a, NULL) subtotal and a genuine
            # (a, null-keyed) group look identical.  grouping_id()
            # disambiguates them, so it joins alongside the keys.
            gid = [F.grouping_id().alias("__grouping_id")] \
                if self.mode in ("rollup", "cube") else []
            g1, g2 = _run(reg + gid), _run(pud + gid)
            if key_names:
                join_keys = key_names + (["__grouping_id"] if gid else [])
                for k in join_keys:
                    g2 = g2.withColumnRenamed(k, f"__rhs_{k}")
                cond = None
                for k in join_keys:
                    c = g1[k].eqNullSafe(g2[f"__rhs_{k}"])
                    cond = c if cond is None else (cond & c)
                grouped = g1.join(g2, on=cond, how="inner").drop(
                    *[f"__rhs_{k}" for k in join_keys],
                    *(["__grouping_id"] if gid else []))
            else:
                grouped = g1.crossJoin(g2)
            grouped = grouped.select(*key_names, *[n for n, _, _ in triples])
        else:
            grouped = _run(reg or pud)
        if self.row_limit is not None:
            n = grouped.count()
            if n > self.row_limit:
                raise RowLimitException(f"groupby has {n} > row_limit={self.row_limit} groups")
        sort = self.sort if sort is None else sort
        ascending = self.ascending if ascending is None else ascending
        if sort and key_names:
            asc = ascending if isinstance(ascending, (list, tuple)) else [ascending] * len(key_names)
            order = [F.col(k).asc_nulls_last() if a else F.col(k).desc_nulls_last()
                     for k, a in zip(key_names, asc)]
            grouped = grouped.orderBy(*order)
        out = DataFrame(grouped)
        out.variables = dict(self.df.variables)
        return out

    def __iter__(self):
        """groupby.py:733 — yield (group_key, DataFrame) pairs.  Keys
        are collected to the driver (group-count-sized, same envelope
        as the reference which materializes every group)."""
        key_cols, key_names = self._key_columns()
        keys_df = self.df._spark_df().select(*key_cols).distinct()
        if self.sort:
            keys_df = keys_df.orderBy(*[F.col(k).asc_nulls_last() for k in key_names])
        for row in keys_df.collect():
            key = tuple(row[k] for k in key_names)
            yield (key if len(key) > 1 else key[0]), self.get_group(list(key))

    @property
    def groups(self):
        """groupby.py:748 — iterate group keys."""
        for group, _df in self:
            yield group

    def apply(self, fn, schema, engine: str = "pandas"):
        """Distributed per-group transform (beyond the reference, where
        per-group custom logic means a DRIVER-side ``for group, df in
        groupby`` loop): ``fn(pandas.DataFrame) -> pandas.DataFrame``
        runs once per group as an Arrow-batched ``applyInPandas`` task,
        so a million groups fan out across executors instead of
        serializing through the driver.  ``schema`` is the output
        schema (DDL string or StructType).  Each group must fit one
        task's memory — the same contract Spark documents.

        Cardinality envelope (probed at 6.4M rows, local[32]): ~1.5k
        heavy groups stream through in seconds; 1M tiny (~6-row) groups
        take ~1.5 min — the per-group PANDAS construction (~100-300 µs)
        dominates, not Spark.  ``engine="arrow"`` routes through
        ``applyInArrow`` instead: ``fn(pyarrow.Table) ->
        pyarrow.Table``, skipping the pandas Block-manager build per
        group (measured 6×: 88.7 s → 14.4 s on the 1M-tiny-groups
        probe, tools/scale_smoke.py).  For transforms
        expressible as window/aggregate Columns, still prefer those
        (JVM-side, no per-group Python at all)."""
        from .dataframe import DataFrame
        if engine not in ("pandas", "arrow"):
            raise ValueError(f"engine={engine!r} (use 'pandas' or 'arrow')")
        key_cols, key_names = self._key_columns()
        sdf = self.df._spark_df()
        for col, name in zip(key_cols, key_names):
            sdf = sdf.withColumn(name, col)
        grouped = sdf.groupBy(*[F.col(n) for n in key_names])
        out = (grouped.applyInArrow(fn, schema=schema) if engine == "arrow"
               else grouped.applyInPandas(fn, schema=schema))
        return DataFrame(out)

    def get_group(self, group):
        """groupby.py:752 — DataFrame holding a single group."""
        from .expression import Expression
        values = group if isinstance(group, (list, tuple)) else [group]
        key_cols, key_names = self._key_columns()
        cond = None
        for col, v in zip(key_cols, values):
            term = col == F.lit(v)
            cond = term if cond is None else (cond & term)
        return self.df.filter(Expression(self.df, cond))

    def describe(self, expression=None):
        """groupby.py:987 — per-group summary statistics columns
        (<e>_count, <e>_count_na, <e>_mean, <e>_std, <e>_min, <e>_max)."""
        if expression is None:
            keys = {str(b) for b in self.by if isinstance(b, str)}
            dtypes = {c: dt for c, dt in self.df.schema.items()
                      if c not in keys and not dt.startswith(
                          ("string", "timestamp", "array", "struct"))}
        else:
            exprs = [expression] if isinstance(expression, str) else list(expression)
            dtypes = dict(zip(exprs, self.df._data_types(exprs)))
        spec = {}
        for e, dt in dtypes.items():
            spec[f"{e}_count"] = vagg.count(e)
            spec[f"{e}_count_na"] = F.count(F.when(missing.isna(self.df._to_expr(e).col, dt), 1))
            spec[f"{e}_mean"] = vagg.mean(e)
            spec[f"{e}_std"] = vagg.std(e)
            spec[f"{e}_min"] = vagg.min(e)
            spec[f"{e}_max"] = vagg.max(e)
        return self.agg(spec)

    # vaex also exposes direct shortcuts
    def count(self):
        return self.agg("count")

    def sum(self, expression):
        return self.agg({str(expression): "sum"})

    def mean(self, expression):
        return self.agg({str(expression): "mean"})
