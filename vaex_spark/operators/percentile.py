"""Distributed exact percentiles (r15, VERDICT_r14 #4).

``F.percentile`` is exact but buffers one (value, count) entry per
DISTINCT value in a single final merge task — fine at bench scale,
a straggler/OOM on a high-cardinality column at 100 TB.  This module
computes the SAME values (bit-identical: the needed order statistics
are located exactly by counting, and the final interpolation uses
Spark's own weighted form ``lower*(higher-pos) + higher*(pos-lower)``,
probed bitwise against F.percentile) with bounded memory everywhere:

1. one aggregation job: count, NaN/±Inf segment counts, finite min/max;
2. histogram narrowing: bucket the finite values into ``n_buckets``
   equal-width buckets (the value→bucket map is monotone, so bucket
   counts partition the sorted multiset exactly; equal values always
   share a bucket, so recursing BY BUCKET ID never splits duplicates);
   recurse into any bucket still holding more than ``cap_rows`` values
   — each level divides the count by ~n_buckets, so even 1e12 rows
   resolve in 2-3 histogram jobs;
3. one collect of the few surviving buckets (≤ cap_rows values each,
   bounded driver memory), exact in-type sort, pick by offset.

NaN sorts above +Inf and NULLs are dropped — F.percentile's ordering.
Used by DataFrame.percentile_exact when catalog size stats exceed the
single-task budget (``vaex_spark.percentile.maxSingleTaskBytes``,
default 256 MB); below it the one-job F.percentile form is strictly
faster and remains the bench/delay path.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..plan import parse_bytes, size_bytes

_CAP_CONF = "vaex_spark.percentile.maxSingleTaskBytes"
_CAP_DEFAULT = 256 << 20


def _single_task_budget(sdf) -> int:
    try:
        raw = sdf.sparkSession.conf.get(_CAP_CONF, None)
    except Exception:  # pragma: no cover
        raw = None
    if raw is None:
        return _CAP_DEFAULT
    try:
        return int(raw)
    except ValueError:
        return parse_bytes(raw, _CAP_DEFAULT)


def stats_exceed_single_task_budget(sdf) -> bool:
    """True when catalog size stats say the projected value column is
    too big for F.percentile's single final merge task.  Unknown stats
    read as 'not known to be huge': the bench/oracle path must not
    silently change shape on estimation noise — the distributed path
    is for relations whose scan stats actually say they are large."""
    size = size_bytes(sdf)
    return size is not None and size > _single_task_budget(sdf)


def percentiles_exact_distributed(sdf, col, fracs,
                                  cap_rows: int = 1 << 20,
                                  n_buckets: int = 8192):
    """Exact percentiles of ``col`` (a Column over ``sdf``) at the
    given fractions, never buffering more than cap_rows values in any
    one place.  Returns a list of floats (None for an empty input),
    bit-identical to ``F.percentile(col, fracs)``."""
    vals = sdf.select(col.alias("_v")).filter(F.col("_v").isNotNull())
    dt = dict(vals.dtypes)["_v"]
    fractional = dt in ("double", "float")
    v = F.col("_v")
    if fractional:
        is_nan = F.isnan(v)
        finite = ~is_nan & (v != float("inf")) & (v != float("-inf"))
        seg = vals.agg(
            F.count("*").alias("n"),
            F.sum(F.when(v == float("-inf"), 1).otherwise(0)).alias("nneg"),
            F.sum(F.when(v == float("inf"), 1).otherwise(0)).alias("npos"),
            F.sum(F.when(is_nan, 1).otherwise(0)).alias("nnan"),
            F.min(F.when(finite, v)).alias("lo"),
            F.max(F.when(finite, v)).alias("hi")).collect()[0]
        nneg, npos, nnan = int(seg["nneg"] or 0), int(seg["npos"] or 0), \
            int(seg["nnan"] or 0)
        finite_pred = finite
    else:
        seg = vals.agg(F.count("*").alias("n"),
                       F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
        nneg = npos = nnan = 0
        finite_pred = None
    n = int(seg["n"])
    if n == 0:
        return [None for _ in fracs]
    n_fin = n - nneg - npos - nnan

    # the order statistics we need (0-based indices into the sorted
    # non-null multiset), shared across fractions
    positions = [float(f) * (n - 1) for f in fracs]
    needed = sorted({i for p in positions
                     for i in (int(math.floor(p)), int(math.ceil(p)))})

    resolved: dict[int, float] = {}
    pending_fin: list[int] = []
    for i in needed:
        if i < nneg:
            resolved[i] = float("-inf")
        elif i >= n - nnan:
            resolved[i] = float("nan")
        elif i >= n - nnan - npos:
            resolved[i] = float("inf")
        else:
            pending_fin.append(i - nneg)  # index within finite segment

    if pending_fin:
        base = vals.filter(finite_pred) if finite_pred is not None else vals
        # active work items: (predicate, lo, hi, global_offset, count,
        # finite-indices)  — recurse by BUCKET MEMBERSHIP, never by
        # value range (duplicates of a boundary value must stay whole)
        work = [(None, seg["lo"], seg["hi"], 0, n_fin, pending_fin)]
        while work:
            pred, lo, hi, off, cnt, idxs = work.pop()
            frame = base.filter(pred) if pred is not None else base
            if lo == hi:
                for i in idxs:
                    resolved[i + nneg] = lo
                continue
            if cnt <= cap_rows:
                got = sorted(r["_v"] for r in frame.collect())
                assert len(got) == cnt, (len(got), cnt)
                for i in idxs:
                    resolved[i + nneg] = got[i - off]
                continue
            # histogram narrowing: monotone value->bucket map
            span = float(hi) - float(lo)
            b = F.least(F.floor(((v.cast("double") - float(lo)) / span)
                                * n_buckets).cast("int"),
                        F.lit(n_buckets - 1))
            hist = {int(r["_b"]): r for r in
                    frame.groupBy(b.alias("_b"))
                         .agg(F.count("*").alias("c"),
                              F.min("_v").alias("bmin"),
                              F.max("_v").alias("bmax")).collect()}
            cum = 0
            cum_before = {}
            for bid in sorted(hist):
                cum_before[bid] = cum
                cum += int(hist[bid]["c"])
            assert cum == cnt, (cum, cnt)
            by_bucket: dict[int, list[int]] = {}
            for i in idxs:
                local = i - off
                # find the bucket whose cumulative range contains local
                for bid in sorted(hist):
                    c0 = cum_before[bid]
                    if c0 <= local < c0 + int(hist[bid]["c"]):
                        by_bucket.setdefault(bid, []).append(i)
                        break
            for bid, sub in by_bucket.items():
                r = hist[bid]
                sub_pred = b == bid if pred is None else (pred & (b == bid))
                work.append((sub_pred, r["bmin"], r["bmax"],
                             off + cum_before[bid], int(r["c"]), sub))

    # Spark's Percentile.getPercentile interpolation, bit-for-bit:
    # lower*(higher-pos) + higher*(pos-lower); equal indices short-circuit
    out = []
    for p in positions:
        lo_i, hi_i = int(math.floor(p)), int(math.ceil(p))
        lo_v = resolved[lo_i]
        if hi_i == lo_i:
            out.append(float(lo_v))
        else:
            hi_v = resolved[hi_i]
            out.append(float(lo_v) * (hi_i - p) + float(hi_v) * (p - lo_i))
    return out
