"""Mergeable cardinality sketches — persistable corpus statistics.

The incremental-pipeline complement to ``dataframe.nunique(approx=)``:
a one-shot approx-distinct answers "how many unique urls NOW", but a
100 TB snapshot pipeline needs "how many unique urls EVER, updated per
batch, without rescanning history".  Spark's Datasketches HLL
aggregates (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``, JVM-side, whole-stage codegen) make the state
a few-KB binary per group that unions losslessly across snapshots:

    s1 = distinct_sketch(batch1, "url", group_col="source")
    s1.export_parquet(".../sketches/day=1")        # persist the STATE
    ...
    merged = merge_sketch_tables(s_old, s_new, group_col="source")
    estimate_distinct(merged, group_col="source")  # running cardinality

Estimates are within ~1.6%/sqrt(2^lgk) (relative standard error ~0.8%
at the default lgk=12, ~2 KB a sketch); merging never loses precision
beyond the sketch's own bound.  Each call is a plain groupBy over
binary state — group count rows move, never documents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..dataframe import _sdf, _wrap

__all__ = ["distinct_sketch", "merge_sketch_tables", "estimate_distinct",
           "quantile_sketch", "merge_quantile_tables", "estimate_quantiles",
           "theta_sketch", "theta_set_estimates"]

_SKETCH = "__hll"


def distinct_sketch(df, key_col: str, group_col=None, lgk: int = 12):
    """Build (group?, __hll binary) — the persistable sketch table."""
    sdf = _sdf(df)
    agg = F.hll_sketch_agg(F.col(key_col), F.lit(int(lgk))).alias(_SKETCH)
    if group_col is None:
        return _wrap(sdf.agg(agg))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(sdf.groupBy(*groups).agg(agg))


def merge_sketch_tables(*tables, group_col=None,
                        allow_different_lgk: bool = False):
    """Union N sketch tables into one: per group, the HLL union of all
    member sketches (lossless up to sketch precision).  This is the
    cross-snapshot merge — inputs are state tables, so the whole
    operation moves a few KB per group."""
    assert tables, "need at least one sketch table"
    sdfs = [_sdf(t) for t in tables]
    uni = sdfs[0]
    for s in sdfs[1:]:
        uni = uni.unionByName(s)
    agg = F.hll_union_agg(F.col(_SKETCH),
                          F.lit(bool(allow_different_lgk))).alias(_SKETCH)
    if group_col is None:
        return _wrap(uni.agg(agg))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(uni.groupBy(*groups).agg(agg))


def estimate_distinct(sketch_df, group_col=None, alias: str = "n_distinct"):
    """Read the running estimate out of a sketch table."""
    sdf = _sdf(sketch_df)
    est = F.hll_sketch_estimate(F.col(_SKETCH)).cast("long").alias(alias)
    if group_col is None:
        return _wrap(sdf.select(est))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(sdf.select(*[F.col(g) for g in groups], est))


# --------------------------------------------------------------------------
# KLL quantile sketches — mergeable distribution state
# --------------------------------------------------------------------------
_KLL = "__kll"
_KLL_AGGS = {"double": F.kll_sketch_agg_double,
             "bigint": F.kll_sketch_agg_bigint,
             "float": F.kll_sketch_agg_float}
_KLL_MERGES = {"double": F.kll_merge_agg_double,
               "bigint": F.kll_merge_agg_bigint,
               "float": F.kll_merge_agg_float}
_KLL_QUANTILES = {"double": F.kll_sketch_get_quantile_double,
                  "bigint": F.kll_sketch_get_quantile_bigint,
                  "float": F.kll_sketch_get_quantile_float}
_KLL_NS = {"double": F.kll_sketch_get_n_double,
           "bigint": F.kll_sketch_get_n_bigint,
           "float": F.kll_sketch_get_n_float}


def quantile_sketch(df, value_col: str, group_col=None, k: int = 200,
                    dtype: str = "double"):
    """Build (group?, __kll binary) — the persistable QUANTILE state
    (Datasketches KLL, JVM aggregate): the distribution complement of
    distinct_sketch.  A 100 TB profiling pipeline keeps one KB-sized
    sketch per (source, day) and answers "p50/p99 document length over
    ANY union of slices" without rescanning — KLL merges losslessly up
    to its own rank-error bound (~1.65% at the default k=200;
    normalized rank error shrinks as k grows).  ``dtype`` picks the
    typed Datasketches family: 'double' | 'bigint' | 'float'."""
    sdf = _sdf(df)
    col = F.col(value_col).cast(dtype)
    agg = _KLL_AGGS[dtype](col, F.lit(int(k))).alias(_KLL)
    if group_col is None:
        return _wrap(sdf.agg(agg))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(sdf.groupBy(*groups).agg(agg))


def merge_quantile_tables(*tables, group_col=None, k: int = 200,
                          dtype: str = "double"):
    """Union N KLL state tables per group — the cross-snapshot merge;
    inputs are state, so only KBs per group move."""
    assert tables, "need at least one sketch table"
    uni = _sdf(tables[0])
    for t in tables[1:]:
        uni = uni.unionByName(_sdf(t))
    agg = _KLL_MERGES[dtype](F.col(_KLL), F.lit(int(k))).alias(_KLL)
    if group_col is None:
        return _wrap(uni.agg(agg))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(uni.groupBy(*groups).agg(agg))


def estimate_quantiles(sketch_df, probs, group_col=None,
                       dtype: str = "double"):
    """Read quantiles out of a KLL state table: one ``q_<prob>`` column
    per requested rank, plus ``n`` (the exact stream length the sketch
    absorbed — KLL tracks it losslessly)."""
    sdf = _sdf(sketch_df)
    probs = [float(p) for p in (probs if isinstance(probs, (list, tuple))
                                else [probs])]
    qf, nf = _KLL_QUANTILES[dtype], _KLL_NS[dtype]
    cols = [qf(F.col(_KLL), F.lit(p)).alias(f"q_{str(p).replace('.', '_')}")
            for p in probs]
    cols.append(nf(F.col(_KLL)).cast("long").alias("n"))
    if group_col is None:
        return _wrap(sdf.select(*cols))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(sdf.select(*[F.col(g) for g in groups], *cols))


# --------------------------------------------------------------------------
# Theta sketches — distinct-count SET ALGEBRA across slices
# --------------------------------------------------------------------------
_THETA = "__theta"


def theta_sketch(df, key_col: str, group_col=None, lgk: int = 12):
    """Build (group?, __theta binary) — Datasketches Theta state.  HLL
    answers |A| and |A ∪ B|; Theta additionally supports INTERSECTION
    and DIFFERENCE, so per-slice sketches answer overlap questions
    ("how many urls does day-2 share with day-1", "how many are new")
    from KB-sized state, no rescan, no join."""
    sdf = _sdf(df)
    agg = F.theta_sketch_agg(F.col(key_col), F.lit(int(lgk))).alias(_THETA)
    if group_col is None:
        return _wrap(sdf.agg(agg))
    groups = group_col if isinstance(group_col, (list, tuple)) else [group_col]
    return _wrap(sdf.groupBy(*groups).agg(agg))


def theta_set_estimates(a, b):
    """|A|, |B|, |A ∪ B|, |A ∩ B|, |A \\ B| from two single-row theta
    state tables (a driver-sized computation over binary state)."""
    sa = _sdf(a).select(F.col(_THETA).alias("__a"))
    sb = _sdf(b).select(F.col(_THETA).alias("__b"))
    both = sa.crossJoin(sb)  # 1x1 state rows
    return _wrap(both.select(
        F.theta_sketch_estimate(F.col("__a")).cast("long").alias("n_a"),
        F.theta_sketch_estimate(F.col("__b")).cast("long").alias("n_b"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("__a"), F.col("__b"))).cast("long").alias("n_union"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("__a"), F.col("__b"))).cast("long").alias("n_intersection"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("__a"), F.col("__b"))).cast("long").alias("n_only_a")))
