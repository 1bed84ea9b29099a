"""binby: N-dimensional dense-grid aggregation (vaex's signature op).

Reference: every vaex statistic accepts ``binby=`` and aggregates onto an
N-d grid (dataframe.py:842 _compute_agg; binners dataframe.py:7282;
C++ src/binners.cpp).  Edge-bin convention with ``edges=True``: index 0 =
NaN/null, 1 = underflow, 2..shape+1 = data bins, shape+2 = overflow
(agg.py:326-334, groupby.py:37-43).

Spark mapping (SURVEY §4 closing note): the grid IS a groupBy on a
computed bin index ``clip(floor((x - lo) / (hi - lo) * shape))`` —
partial+final hash aggregation over the shuffle reproduces vaex's
per-thread grids + reduce.  The *sparse* grouped result (≤ number of
occupied cells, never shape^N) is collected and densified driver-side
into a numpy ndarray — same memory envelope as vaex, which also holds
the dense grid in RAM.  At 100 TB the shuffle carries only
(cells × aggs) rows: grid aggregation is the textbook scalable pattern.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..missing import nan_to_null


def _limit_float(v) -> float:
    """Bin-limit value as a float on the SAME scale ``bin_index_col``'s
    ``cast('double')`` produces: numbers pass through; datetimes become
    epoch SECONDS (Spark's timestamp→double cast), so binby over a
    timestamp dimension auto-derives limits instead of a
    float(datetime) TypeError (r13 fuzz)."""
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=v.tzinfo or _dt.timezone.utc).timestamp()
    if isinstance(v, _dt.date):
        # plain date (datetime checked first — it subclasses date):
        # epoch seconds at midnight UTC, the value _bin_col's
        # date→timestamp→double chain produces (r13 ADVICE: the same
        # fuzz gap just fixed for timestamps)
        return _dt.datetime(v.year, v.month, v.day,
                            tzinfo=_dt.timezone.utc).timestamp()
    if isinstance(v, np.datetime64):
        return float(v.astype("datetime64[us]").astype("int64")) / 1e6
    if isinstance(v, (np.timedelta64, _dt.timedelta)):
        # timedelta limits: SECONDS, matching _bin_col's epoch-anchored
        # interval→seconds double (r14 — intervals joined the contract)
        if isinstance(v, _dt.timedelta):
            return v.total_seconds()
        return float(v.astype("timedelta64[us]").astype("int64")) / 1e6
    return float(v)


def _bin_col(df, b):
    """Binnable column for dimension ``b``: NaN as null (missing.py).
    DATE columns pre-cast to timestamp, because Spark's date→double cast
    is NULL (not an error — probed live on 4.1.2), which would silently
    send every row to the null bin; timestamp→double is epoch seconds
    and matches ``_limit_float``'s scale."""
    c = df._to_expr(b).col
    try:
        dt = df.data_type(b)
    except Exception:
        return c
    if dt == "date":
        return c.cast("timestamp")
    if dt.startswith("interval"):
        # interval→double cast is invalid; epoch-anchor to SECONDS
        # (float) to match _limit_float's timedelta scale (r14)
        from ..temporal import interval_to_us
        return interval_to_us(c) / F.lit(1e6)
    return nan_to_null(c, dt)


def compute_limits(df, expression, value=None, selection=None, delay=False):
    """dataframe.py:1844 limits / :1795 limits_percentage.

    value: None/'minmax' -> min/max; '99.7%' -> central percentile span;
    [lo, hi] -> passthrough; list-of-expressions -> per-expression.
    """
    if isinstance(expression, (list, tuple)):
        return [compute_limits(df, e, value, selection) for e in expression]
    if isinstance(value, (list, tuple)) and len(value) == 2 and not isinstance(value[0], str):
        return [float(value[0]), float(value[1])]
    if value is None or value == "minmax":
        mm = df.minmax(expression, selection=selection)
        if mm[0] is None:
            # MIN/MAX over zero non-null rows is NULL: an empty or
            # all-null expression has no derivable bounds — name the
            # problem (and the fix), not a float(None) TypeError
            # (round-10 empty-input sweep)
            raise ValueError(
                f"limits: {expression!r} has no non-null values under "
                f"the given selection — pass explicit limits=[lo, hi]")
        return [_limit_float(mm[0]), _limit_float(mm[1])]
    if isinstance(value, str) and value.endswith("%"):
        p = float(value[:-1])
        tail = (100.0 - p) / 2
        qs = df.percentile_approx(expression, [tail, 100.0 - tail],
                                  selection=selection)
        # all-null input: percentile_approx degenerates to a None
        # scalar (0-d) instead of a 2-vector — same contract as the
        # minmax branch above
        if qs is None or np.ndim(qs) == 0 or qs[0] is None or qs[1] is None:
            raise ValueError(
                f"limits: {expression!r} has no non-null values under "
                f"the given selection — pass explicit limits=[lo, hi]")
        lo, hi = qs
        return [_limit_float(lo), _limit_float(hi)]
    raise ValueError(f"cannot interpret limits {value!r}")


def _normalize_limits(df, binby, limits):
    """Normalize the many accepted limits spellings into per-dim [lo,hi].

    Accepted: None | 'minmax' | '99.7%' | [lo,hi] | per-dim list of any
    of those (dataframe.py:1844 semantics).

    All dims that need a min/max pre-pass are BATCHED through the
    delayed executor into ONE Spark job (vaex's single-pass trick,
    SURVEY §4 #3) — a 2-d auto-limit grid costs one stats job + one
    grid job, not three."""
    ndim = len(binby)
    if limits is None or isinstance(limits, str):
        specs = [limits] * ndim
    else:
        limits = list(limits)
        is_per_dim = (len(limits) == ndim and
                      all(isinstance(li, (list, tuple, np.ndarray, str)) or li is None for li in limits))
        if is_per_dim and not (ndim == 2 and all(isinstance(li, (int, float)) for li in limits)):
            specs = limits
        else:
            lo, hi = _limit_float(limits[0]), _limit_float(limits[1])
            return [[lo, hi] for _ in binby]
    out: list = [None] * ndim
    minmax_dims = []
    for i, (b, spec) in enumerate(zip(binby, specs)):
        if spec is None or spec == "minmax":
            minmax_dims.append(i)
        elif (isinstance(spec, (list, tuple, np.ndarray)) and len(spec) == 2
              and not isinstance(spec[0], str)):
            out[i] = [_limit_float(spec[0]), _limit_float(spec[1])]
        else:
            out[i] = compute_limits(df, b, spec)
    if minmax_dims:
        delayed = []
        for i in minmax_dims:
            c = _bin_col(df, binby[i])
            delayed.append(df.executor.schedule([F.min(c), F.max(c)], unwrap=False))
        df.executor.execute()
        for i, d in zip(minmax_dims, delayed):
            lo, hi = d.get()
            if lo is None:
                raise ValueError(
                    f"limits: {binby[i]!r} has no non-null values — "
                    f"pass explicit limits=[lo, hi] for that dim")
            out[i] = [_limit_float(lo), _limit_float(hi)]
    return out


def bin_index_col(col, lo, hi, shape, edges: bool):
    """Compute the bin index column.  With edges, vaex convention:
    0=NaN, 1=underflow, 2..shape+1=data, shape+2=overflow."""
    # try_divide: degenerate limits (hi == lo) keep mapping every row to
    # the null bin under ANSI-on sessions instead of DIVIDE_BY_ZERO
    scaled = F.floor(F.try_divide(col.cast("double") - F.lit(lo), F.lit(hi - lo)) * F.lit(shape)).cast("long")
    # top edge inclusive (vaex clips x==hi into the last bin)
    data_bin = F.when(col.cast("double") == F.lit(float(hi)), F.lit(shape - 1)).otherwise(scaled)
    if edges:
        return (F.when(col.isNull(), F.lit(0))
                .when(data_bin < 0, F.lit(1))
                .when(data_bin >= shape, F.lit(shape + 2))
                .otherwise(data_bin + 2))
    return F.when((data_bin >= 0) & (data_bin < shape), data_bin)


def grid_agg(df, make_agg, expression, binby, shape, limits, selections,
             edges=False, aslist=False, fill=0.0):
    """Shared implementation behind df.count(binby=...), df.sum(binby=...).

    ``fill`` is the value for empty/NULL-result cells (0.0 for count-like
    stats; NaN for the temporal mean/std paths so empty bins become NaT
    after the micros→datetime64 post-conversion)."""
    binby = binby if isinstance(binby, (list, tuple)) else [binby]
    ndim = len(binby)
    shapes = list(shape) if isinstance(shape, (list, tuple)) else [shape] * ndim
    lims = _normalize_limits(df, binby, limits)

    sdf = df._spark_df()
    bin_cols = []
    for i, (b, (lo, hi), sh) in enumerate(zip(binby, lims, shapes)):
        bin_cols.append(
            bin_index_col(_bin_col(df, b), lo, hi, sh, edges).alias(f"_b{i}"))

    import inspect
    two_arg = len(inspect.signature(make_agg).parameters) >= 2
    aggs = []
    for j, sel in enumerate(selections):
        c = df._agg_expr_col(expression, sel)
        made = make_agg(c, df._selection_col(sel)) if two_arg else make_agg(c)
        aggs.append(made.alias(f"_a{j}"))

    full_shapes = [(s + 3) if edges else s for s in shapes]
    from .. import memory
    cells = int(np.prod([int(s) for s in full_shapes], dtype=object))
    memory.pre_alloc(cells * 8 * max(1, len(selections)),
                     f"binby grid shape={tuple(full_shapes)} "
                     f"× {len(selections)} selection(s)")
    grouped = sdf.groupBy(*bin_cols).agg(*aggs)
    if not edges:
        for i in range(ndim):
            grouped = grouped.filter(F.col(f"_b{i}").isNotNull())
    rows = grouped.collect()

    out = []
    for j in range(len(selections)):
        grid = np.full(full_shapes, fill, dtype="float64")
        for r in rows:
            idx = tuple(int(r[f"_b{i}"]) for i in range(ndim))
            v = r[f"_a{j}"]
            grid[idx] = fill if v is None else float(v)
        out.append(grid)
    if aslist:
        return np.stack(out)
    return out[0]


def binby(df, by, agg=None, shape=128, limits=None):
    """df.binby(...) returning an xarray.DataArray when xarray is
    available (vaex returns xarray, dataframe.py:7208), else a plain
    (grid, coords) pair."""
    by = by if isinstance(by, (list, tuple)) else [by]
    shapes = list(shape) if isinstance(shape, (list, tuple)) else [shape] * len(by)
    lims = _normalize_limits(df, by, limits)

    from .. import agg as vagg
    if agg is None:
        agg = vagg.count()
    single = not isinstance(agg, (list, dict, tuple))
    aggs = [agg] if single else (list(agg.values()) if isinstance(agg, dict) else list(agg))
    names = ["agg"] if single else (list(agg.keys()) if isinstance(agg, dict) else [f"agg_{i}" for i in range(len(aggs))])

    from .. import memory
    cells = int(np.prod([int(s) for s in shapes], dtype=object))
    memory.pre_alloc(cells * 8 * max(1, len(aggs)),
                     f"binby grid shape={tuple(shapes)} × {len(aggs)} agg(s)")
    sdf = df._spark_df()
    bin_cols = [bin_index_col(_bin_col(df, b), lo, hi, sh, False).alias(f"_b{i}")
                for i, (b, (lo, hi), sh) in enumerate(zip(by, lims, shapes))]
    agg_cols = [a.to_column(df).alias(f"_a{i}") for i, a in enumerate(aggs)]
    rows = sdf.groupBy(*bin_cols).agg(*agg_cols).collect()

    grids = [np.zeros(shapes) for _ in aggs]
    for r in rows:
        if any(r[f"_b{i}"] is None for i in range(len(by))):
            continue
        idx = tuple(int(r[f"_b{i}"]) for i in range(len(by)))
        for g, grid in enumerate(grids):
            v = r[f"_a{g}"]
            grid[idx] = 0.0 if v is None else float(v)

    centers = [np.linspace(lo, hi, sh + 1)[:-1] + (hi - lo) / sh / 2
               for (lo, hi), sh in zip(lims, shapes)]
    dims = [str(b) for b in by]
    try:
        import xarray
        data = grids[0] if single else np.stack(grids)
        if single:
            return xarray.DataArray(data, coords=dict(zip(dims, centers)), dims=dims)
        return xarray.DataArray(data, coords={"statistic": names, **dict(zip(dims, centers))},
                                dims=["statistic"] + dims)
    except ImportError:
        return (grids[0] if single else grids), centers
