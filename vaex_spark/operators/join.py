"""Join operator (reference: vaex-core/vaex/join.py:125-297, entry
dataframe.py:6688).

Reference semantics replicated (SURVEY §2.4):

* ``how`` in {'left','right','inner'}; vaex implements 'right' by
  swapping sides — so do we (keeps the broadcast side consistent).
* Single-key equi join via ``on`` or ``left_on``/``right_on``.
* No key -> positional row join (join.py:164): both sides get row ids
  and join on them.
* Duplicate keys on the right raise unless ``allow_duplication=True``
  (join.py:173-215); Spark would silently explode rows, so the guard is
  an aggregation precheck (one cheap job over the key column only —
  Catalyst prunes the rest).
* Name collisions resolved with l/r prefix/suffix (join.py:225-255).

Scale strategy: vaex assumes the right side fits an in-memory hash index
(join.py docstring); the honest Spark analogue is a **broadcast hash
join**, which Spark plans itself when the right side is small
(``autoBroadcastJoinThreshold``, re-checked by AQE on the real shuffle
size).  Larger sides fall back to Catalyst's sort-merge with AQE skew
splitting — strictly more scalable than the reference.
"""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from .rowid import ROW_ID, with_row_id
from ..dataframe import DataFrame, _sdf
from ..plan import range_partition_count

_LOG = logging.getLogger(__name__)


def join(left, right, on=None, how="left", left_on=None, right_on=None,
         lprefix="", rprefix="", lsuffix="", rsuffix="", allow_duplication=False):
    """allow_duplication: False (vaex default) runs the duplicate-key
    precheck and raises on duplicates; True permits duplication without
    checking; None skips the check entirely (trust the caller — at 100 TB
    the guard is a full pre-scan of the right side's key column)."""
    if how == "right":
        return join(right, left, on=on, how="left",
                    left_on=right_on, right_on=left_on,
                    lprefix=rprefix, rprefix=lprefix,
                    lsuffix=rsuffix, rsuffix=lsuffix,
                    allow_duplication=allow_duplication)
    if how not in ("left", "inner"):
        raise ValueError(f"how={how!r} not supported (vaex parity: left/right/inner)")

    lsdf = left._spark_df()
    rsdf = _sdf(right)

    left_on = left_on or on
    right_on = right_on or on

    positional = left_on is None
    if positional:
        # join.py:164 row-number join
        lsdf = with_row_id(lsdf, ROW_ID)
        rsdf = with_row_id(rsdf, ROW_ID)
        left_on = right_on = ROW_ID

    if allow_duplication is False and not positional:
        dup = (rsdf.groupBy(F.col(right_on)).count().filter(F.col("count") > 1).limit(1).count())
        if dup:
            raise ValueError(
                f"joining with duplicate right keys on {right_on!r} would duplicate "
                f"left rows; pass allow_duplication=True (vaex join.py:173 parity)")

    # collision renaming (join.py:225-255)
    lcols = set(lsdf.columns)
    rename = {}
    for c in rsdf.columns:
        if c == right_on:
            continue  # join key: shared when on=, dropped when right_on=
        if c in lcols or lprefix or rprefix or lsuffix or rsuffix:
            newl = f"{lprefix}{c}{lsuffix}" if (lprefix or lsuffix) else c
            newr = f"{rprefix}{c}{rsuffix}" if (rprefix or rsuffix) else c
            if c in lcols and newl == newr == c:
                raise ValueError(f"column {c!r} collides; pass lsuffix/rsuffix")
            if newr != c:
                rename[c] = newr
    for old, new in rename.items():
        rsdf = rsdf.withColumnRenamed(old, new)
    if (lprefix or lsuffix):
        for c in list(lsdf.columns):
            if c != left_on and (c in set(rsdf.columns)):
                lsdf = lsdf.withColumnRenamed(c, f"{lprefix}{c}{lsuffix}")

    if left_on == right_on:
        out = lsdf.join(rsdf, on=left_on, how=how)
    else:
        cond = lsdf[left_on] == rsdf[right_on]
        out = lsdf.join(rsdf, on=cond, how=how).drop(rsdf[right_on])
    if positional:
        out = out.drop(ROW_ID)

    o = DataFrame(out)
    o.variables = dict(left.variables)
    return o


def _sampled_hot_key_share(sdf, by_cols, max_parts=64, rows_per_part=512):
    """Bounded key-skew estimate for the ``split_hot_keys="auto"``
    probe: (max_key_count, total) over a sample of at most
    ``max_parts × rows_per_part`` rows, read from the HEADS of up to
    ``max_parts`` evenly-spaced partitions via ``runJob`` — cost is
    independent of corpus size (the r6 form ran a full
    count-by-key pass over left+right on every call, one extra corpus
    read at 100 TB just to pick a plan).

    The probe only chooses between two EXACT plans, so estimate error
    is a performance matter, not correctness: a head sample
    over-represents keys that open partitions (worst case: pointless
    bucketing, mildly slower on balanced data) and can miss a hot key
    confined to partition tails (worst case: the per-key plan's
    straggler, exactly what an explicit ``split_hot_keys=True``
    overrides).  Detection needs the hot key's share to clear
    ~1/parallelism, which a few-thousand-row sample resolves with
    sub-percent error."""
    from itertools import islice
    rdd = sdf.select(*by_cols).rdd
    n = rdd.getNumPartitions()
    if n == 0:
        return 0, 0
    pids = (list(range(n)) if n <= max_parts
            else [(i * n) // max_parts for i in range(max_parts)])
    sc = sdf.sparkSession.sparkContext
    rows = sc.runJob(rdd, lambda it: list(islice(it, rows_per_part)), pids)
    from collections import Counter
    counts = Counter(tuple(r) for r in rows)
    if not counts:
        return 0, 0
    mx, tot = max(counts.values()), sum(counts.values())
    # a mis-probe (hot key hiding in partition tails) is performance-
    # only but hard to diagnose after the fact; leave the evidence
    _LOG.debug("join_asof hot-key probe: max_key=%d of %d sampled rows "
               "(%d partitions)", mx, tot, len(pids))
    return mx, tot


def join_asof(left, right, on, by=None, direction="backward", tolerance=None,
              rprefix="", rsuffix="_right", allow_exact_matches=True,
              split_hot_keys="auto"):
    """As-of join (pandas merge_asof semantics; the reference has no
    native equivalent — SURVEY's custom-operator slot).

    Each left row picks the single closest right row by ``on`` (backward:
    most recent right.ts <= left.ts; forward: earliest >=; nearest: the
    closer of the two), optionally within the same ``by`` key and within
    ``tolerance`` (seconds for timestamps, same units for numerics).

    100 TB plan: UNION both sides (schema-aligned, side tag) and run ONE
    partitioned running-window per direction —
    ``last(right_struct, ignorenulls=True)`` over
    ``partitionBy(by).orderBy(on, side)`` carries the nearest right row
    to every left row.  Cost: one shuffle of (left + right) on the by
    key; no pair explosion, no sort-merge of candidates.  The right
    row's columns travel as ONE struct so nulls inside a matched row are
    preserved atomically (a per-column carry would resurrect older
    values).

    Without ``by`` (and whenever the frame outgrows one advisory
    partition) the global order is parallelized by VALUE BUCKETS plus a
    carry prefix-scan: rows hash to ``floor(on / S)`` (deterministic
    value boundaries — equal timestamps never split), each bucket
    computes its first/last right-struct in ONE map-side-combined
    aggregate, a window over that BUCKET-COUNT-sized relation
    prefix-scans the carry-in for every bucket (metadata-sized single
    task, same envelope as the shift/diff pid map), and the carries
    broadcast back — the per-bucket running window then falls back to
    its bucket's carry-in via coalesce.  No data-path Exchange
    SinglePartition.  Carry-ins come from strictly-earlier values, so
    ``allow_exact_matches`` tie handling stays entirely intra-bucket.

    ``split_hot_keys=True`` applies the same bucket + carry machinery
    WITHIN ``by`` keys: the window partitions by (by, bucket) and the
    carry prefix-scan runs per key over the (key, bucket) aggregate —
    parallel across keys AND across a single dominant key's time range.
    Use it when one ``by`` value holds a partition-breaking share of
    the rows; the plain per-key window is cheaper when keys are
    plentiful and individually small.

    ``split_hot_keys="auto"`` (the default) decides from a key-skew
    probe: frames Catalyst's stats place within one advisory partition
    take the per-key plan outright (no probe job); larger frames pay a
    BOUNDED head-of-partition sample (:func:`_sampled_hot_key_share`,
    ≤64 partitions × 512 rows regardless of corpus size) and flip to
    within-key bucketing when the hottest sampled key exceeds
    ~1/parallelism of the sample — the share at which a single key
    serializes a whole executor core under the per-key window.  Both
    plans are exact; the probe only picks which one runs.  Pass
    ``split_hot_keys=False`` on known-balanced keys to skip even the
    sample, or ``True`` when a hot key hides from the sample.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction={direction!r}")
    lsdf = left._spark_df()
    rsdf = _sdf(right)
    by_cols = [by] if isinstance(by, str) else list(by or [])

    # the right side's ``on`` value is kept (suffixed) — unlike pandas,
    # which drops it; downstream gap computations need it
    rpayload = [c for c in rsdf.columns if c not in by_cols]
    renamed = {c: f"{rprefix}{c}{rsuffix}" if c in lsdf.columns else c for c in rpayload}
    rstruct = F.struct(*[F.col(c).alias(renamed[c]) for c in rpayload],
                       F.col(on).alias("__asof_ts"))

    lhs = lsdf.withColumn("__side", F.lit(1)).withColumn("__r", F.lit(None).cast(
        rsdf.select(rstruct.alias("s")).schema["s"].dataType))
    rhs = rsdf.select(*by_cols, F.col(on), F.lit(0).alias("__side"),
                      rstruct.alias("__r"))
    for c in lsdf.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lsdf.dtypes)[c]))
    merged = lhs.unionByName(rhs, allowMissingColumns=True)

    is_ts = dict(merged.dtypes)[on].startswith("timestamp")
    oncol = F.col(on).cast("double") if not is_ts else F.unix_micros(F.col(on)) / 1e6

    if by_cols and split_hot_keys == "auto":
        split_hot_keys = False
        if (range_partition_count(merged) or 1) > 1:
            mx, tot = _sampled_hot_key_share(merged, by_cols)
            par = merged.sparkSession.sparkContext.defaultParallelism
            if tot and mx * max(1, par) > tot:
                split_hot_keys = True
    elif split_hot_keys == "auto":
        split_hot_keys = False  # irrelevant without by keys (global form)

    bucketed = False
    want_buckets = split_hot_keys if by_cols else True
    if by_cols and not split_hot_keys:
        part = [F.col(c) for c in by_cols]
    else:
        n_parts = range_partition_count(merged)
        bounds = None
        if n_parts is not None and n_parts > 1 and want_buckets:
            bounds = merged.agg(F.min(oncol).alias("lo"),
                                F.max(oncol).alias("hi")).collect()[0]
        if (bounds is not None and bounds["lo"] is not None
                and bounds["hi"] > bounds["lo"]):
            par = merged.sparkSession.sparkContext.defaultParallelism
            S = (float(bounds["hi"]) - float(bounds["lo"])) / max(1, 4 * par)
            merged = merged.withColumn("__abkt",
                                       F.floor(oncol / S).cast("long"))
            part = [F.col(c) for c in by_cols] + [F.col("__abkt")]
            bucketed = True
        elif by_cols:
            part = [F.col(c) for c in by_cols]  # tiny frame: per-key plan
        else:
            part = [F.lit(0)]  # degenerate span / unknown stats: 1 task

    def pick(side_order, frame_end):
        # equal-timestamp ties: to include exact matches the right row must
        # fall INSIDE the frame — before left rows for the backward frame,
        # after them for the forward frame (and the reverse to exclude)
        right_first = allow_exact_matches if frame_end == "back" else not allow_exact_matches
        tie = F.col("__side").asc() if right_first else F.col("__side").desc()
        w = (Window.partitionBy(*part).orderBy(side_order, tie)
             .rowsBetween(Window.unboundedPreceding, 0) if frame_end == "back"
             else Window.partitionBy(*part).orderBy(side_order, tie)
             .rowsBetween(0, Window.unboundedFollowing))
        fn = F.last if frame_end == "back" else F.first
        return fn(F.when(F.col("__side") == 0, F.col("__r")), ignorenulls=True).over(w)

    if bucketed:
        # per-bucket first/last right-struct -> prefix-scan carries over
        # the bucket-count relation -> broadcast back.  The scan's
        # single partition holds ~4*parallelism rows (metadata-sized).
        # grouped over ALL buckets (left-only buckets must still appear
        # with a null own-carry, or they would drop from the broadcast
        # join and lose their carry-in entirely); the when() makes
        # max_by/min_by consider right rows only
        ron = F.when(F.col("__side") == 0, oncol)
        gcols = by_cols + ["__abkt"]
        per_b = (merged.groupBy(*gcols)
                 .agg(F.max_by(F.col("__r"), ron).alias("__bl"),
                      F.min_by(F.col("__r"), ron).alias("__bf")))
        # prefix scan per by-key (parallel across keys; for the global
        # form this is one bucket-count-sized task)
        cw = Window.partitionBy(*[F.col(c) for c in by_cols]) \
            .orderBy("__abkt") if by_cols else Window.orderBy("__abkt")
        wb = cw.rowsBetween(Window.unboundedPreceding, -1)
        wf = cw.rowsBetween(1, Window.unboundedFollowing)
        carries = per_b.select(
            *gcols,
            F.last("__bl", ignorenulls=True).over(wb).alias("__back_in"),
            F.first("__bf", ignorenulls=True).over(wf).alias("__fwd_in"))
        # with by keys the carry relation is (keys x buckets)-sized —
        # let Catalyst pick the join strategy; the global form is
        # bucket-count rows and always broadcasts
        carries = F.broadcast(carries) if not by_cols else carries
        merged = merged.join(carries, on=gcols, how="left")

    def with_carry(col, carry):
        return F.coalesce(col, F.col(carry)) if bucketed else col

    if direction in ("backward", "nearest"):
        merged = merged.withColumn(
            "__back", with_carry(pick(oncol.asc(), "back"), "__back_in"))
    if direction in ("forward", "nearest"):
        merged = merged.withColumn(
            "__fwd", with_carry(pick(oncol.asc(), "fwd"), "__fwd_in"))

    out = merged.filter(F.col("__side") == 1)
    if bucketed:
        out = out.drop("__abkt", "__back_in", "__fwd_in")
    if direction == "backward":
        chosen = F.col("__back")
    elif direction == "forward":
        chosen = F.col("__fwd")
    else:
        dback = oncol - F.unix_micros(F.col("__back.__asof_ts")) / 1e6 if is_ts \
            else oncol - F.col("__back.__asof_ts").cast("double")
        dfwd = F.unix_micros(F.col("__fwd.__asof_ts")) / 1e6 - oncol if is_ts \
            else F.col("__fwd.__asof_ts").cast("double") - oncol
        chosen = (F.when(F.col("__back").isNull(), F.col("__fwd"))
                  .when(F.col("__fwd").isNull(), F.col("__back"))
                  .when(dfwd < dback, F.col("__fwd")).otherwise(F.col("__back")))
    out = out.withColumn("__pick", chosen)
    if tolerance is not None:
        gap = F.abs(oncol - (F.unix_micros(F.col("__pick.__asof_ts")) / 1e6 if is_ts
                             else F.col("__pick.__asof_ts").cast("double")))
        out = out.withColumn("__pick", F.when(gap <= float(tolerance), F.col("__pick")))
    for c in rpayload:
        out = out.withColumn(renamed[c], F.col(f"__pick.{renamed[c]}"))
    out = out.drop("__side", "__r", "__back", "__fwd", "__pick")

    o = DataFrame(out)
    o.variables = dict(left.variables)
    return o


def _last_bucket(hi, w):
    """Last bucket an interval with INCLUSIVE upper bound ``hi`` touches."""
    return F.floor(hi / w).cast("long")


def _last_bucket_exclusive(hi, w):
    """Last bucket a half-open interval [lo, hi) touches: floor(hi/w),
    minus one when hi sits exactly on a bucket boundary (hi itself is
    excluded).  Arithmetic boundary test, not a float epsilon — an
    epsilon nudge is a no-op above |hi| ~ 1e4 (ulp(1.7e9) ≈ 2.4e-7)."""
    b = F.floor(hi / w).cast("long")
    on_edge = (hi.cast("double") == b.cast("double") * F.lit(float(w)))
    return b - on_edge.cast("long")


def join_range(left, right, left_on, right_lo, right_hi, how="inner",
               bucket_width=None, closed="left", max_explode=256):
    """Interval join: match left rows whose ``left_on`` value falls in
    [right_lo, right_hi) of a right-side interval table.

    100 TB plan: naive non-equi joins plan as nested-loop.  When the
    right side is small it broadcasts (fine).  Otherwise bucketize:
    explode each interval into the integer buckets it covers
    (``bucket_width``), equi-join on bucket id (hash shuffle, AQE-
    skew-safe), then filter the exact containment — the classic
    interval-bucketing rewrite; explode factor = interval width /
    bucket_width.

    Interval-LENGTH skew: an interval touching more than ``max_explode``
    buckets (an epoch-spanning outlier) is routed around the explode —
    the long tail is by construction small, so it broadcast-non-equi
    joins the left side directly while short intervals take the bucket
    path; the two right-side sets are disjoint, so no pair duplicates.
    ``max_explode=None`` disables the routing (same contract as
    :func:`join_intervals`): a pure performance opt-out for interval
    tables whose spans are bounded by construction — results stay exact
    either way, and the empty-tail guard otherwise costs a broadcast
    build plus one extra scan of the interval table per query.
    """

    lsdf = left._spark_df()
    rsdf = _sdf(right)
    lo, hi = F.col(right_lo), F.col(right_hi)
    val = F.col(left_on)
    contains = (val >= lo) & (val < hi) if closed == "left" else \
               (val > lo) & (val <= hi) if closed == "right" else \
               (val > lo) & (val < hi) if closed == "neither" else \
               (val >= lo) & (val <= hi)

    if bucket_width is None:
        out = lsdf.join(F.broadcast(rsdf), on=contains, how=how)
    else:
        w = float(bucket_width)
        # top bucket: when hi is inclusive (closed='right'/'both') a value
        # equal to hi lives in bucket floor(hi/w) exactly; when hi is
        # excluded the last touched bucket drops by one whenever hi sits
        # exactly on a bucket boundary.  This is computed ARITHMETICALLY
        # (boundary test), not with a float epsilon — `hi - 1e-12` is
        # absorbed by double rounding for |hi| above ~1e4 (epoch
        # seconds), so exact-multiple his would still explode a spurious
        # empty boundary bucket.
        hi_bk = (_last_bucket(hi, w) if closed in ("right", "both")
                 else _last_bucket_exclusive(hi, w))
        # degenerate intervals (hi < lo, or hi == lo with hi excluded)
        # contain no value — and sequence(start, stop) with start > stop
        # emits a DESCENDING run, exploding bogus buckets.  Drop them
        # before the explode; right-side rows that can match nothing
        # never affect the join result (including how='left').
        nonempty = (hi >= lo) if closed == "both" else (hi > lo)
        live = rsdf.filter(nonempty)
        if max_explode is None:
            r_short, r_long = live, None
        else:
            span = hi_bk - F.floor(lo / w).cast("long")
            cap = int(max_explode)
            r_short = live.filter(span < cap)
            r_long = live.filter(span >= cap)
        rb = r_short.withColumn("__bk", F.explode(F.sequence(
            F.floor(lo / w).cast("long"), hi_bk)))
        # tag left rows with a row id so the left-outer reconstruction is
        # null-safe and duplicate-safe (anti-join on the id, not on every
        # column, which would drop null-bearing rows and collapse dups)
        lt = lsdf.withColumn("__rj_rid", F.monotonically_increasing_id())
        if how == "left":
            # the matched and anti-join branches below both re-read lt;
            # mono-id is order-dependent, so on a shuffled input each
            # evaluation could assign ids differently and the anti-join
            # would drop/duplicate rows.  Persist pins one assignment.
            from ..cache import _register_persist
            lt = _register_persist(lt)
        lb = lt.withColumn("__bk", F.floor(val / w).cast("long"))
        out = lb.join(rb, on="__bk", how="inner").filter(contains).drop("__bk")
        if r_long is not None:
            # skew tail: epoch-spanning intervals broadcast instead of
            # exploding into every bucket they cover
            out = out.unionByName(lt.join(F.broadcast(r_long), on=contains,
                                          how="inner"))
        if how == "left":
            matched = out
            unmatched = lt.join(matched.select("__rj_rid"),
                                on="__rj_rid", how="left_anti")
            for c in rsdf.columns:
                unmatched = unmatched.withColumn(c, F.lit(None).cast(dict(rsdf.dtypes)[c]))
            out = matched.unionByName(unmatched)
        out = out.drop("__rj_rid")

    o = DataFrame(out)
    o.variables = dict(left.variables)
    return o


def join_intervals(left, right, left_lo, left_hi, right_lo, right_hi,
                   bucket_width=None, suffix="_right", max_explode=256):
    """Interval-OVERLAP join: pairs of (left, right) rows whose
    [lo, hi) intervals intersect — the genomics/time-range companion of
    join_range's point-in-interval containment.  Overlap predicate:
    ``l_lo < r_hi AND r_lo < l_hi`` (half-open on both sides).

    100 TB plan: the naive non-equi join is a nested loop.  With
    ``bucket_width`` BOTH sides explode to the integer buckets their
    interval covers and equi-join on bucket id (hash shuffle,
    AQE-skew-safe); a pair overlapping across k shared buckets would
    emit k duplicates, so each pair is kept only in the FIRST bucket
    the two intervals share — max(floor(l_lo/w), floor(r_lo/w)) ==
    bucket — a stateless dedup predicate, no distinct needed.  Explode
    factor = interval width / bucket_width per side.  Right-side column
    collisions get ``suffix``.

    Interval-LENGTH skew: one giant interval (a log span covering the
    whole epoch, an unclosed session) would explode into EVERY bucket
    it covers — millions of copies hash-scattered across the cluster.
    Intervals touching more than ``max_explode`` buckets are therefore
    routed around the explode entirely: they are the skew tail (by
    construction few, or bucketing could never help), so each side's
    long set joins the OTHER side by broadcast non-equi instead.  The
    pair space partitions exactly — short×short via buckets,
    long-left×all via broadcast, short-left×long-right via broadcast —
    so no pair is emitted twice.  ``max_explode`` bounds per-row
    explode volume; raise it if the long sets outgrow broadcast size.

    ``max_explode=None`` disables the routing — a pure PERFORMANCE
    opt-out for callers whose spans are bounded by construction
    (span/bucket_width provably small): results stay exact either way
    (an unexpectedly long interval just explodes), but the two tail
    branches cost two broadcast-build jobs AND two extra scans of the
    inputs even when their long sets are empty — Catalyst cannot prove
    a data-dependent filter empty, so at 100 TB the guard itself reads
    the corpus twice more.
    """

    lsdf = _sdf(left)
    rsdf = _sdf(right)
    for c in rsdf.columns:
        if c in lsdf.columns:
            rsdf = rsdf.withColumnRenamed(c, c + suffix)
            if c == right_lo:
                right_lo = c + suffix
            if c == right_hi:
                right_hi = c + suffix
    llo, lhi = F.col(left_lo), F.col(left_hi)
    rlo, rhi = F.col(right_lo), F.col(right_hi)
    overlap = (llo < rhi) & (rlo < lhi)
    # An empty interval [x, x) contains no point and overlaps nothing,
    # but the pairwise predicate alone would still admit it (llo < rhi
    # and rlo < lhi can both hold with llo == lhi).  Exclude empties on
    # both paths so broadcast and bucketed plans agree.
    if bucket_width is None:
        return DataFrame(lsdf.filter(lhi > llo).join(
            F.broadcast(rsdf.filter(rhi > rlo)), on=overlap, how="inner"))
    w = float(bucket_width)
    # Half-open intervals: hi itself is excluded, so the last touched
    # bucket is computed arithmetically (exact boundary test — a float
    # epsilon is absorbed by rounding for epoch-scale values).  Empty or
    # inverted intervals ([x,x), hi<lo) contain no point, overlap
    # nothing, and would make sequence() emit a DESCENDING run of bogus
    # buckets — they are excluded explicitly on both sides.
    lsdf, rsdf = lsdf.filter(lhi > llo), rsdf.filter(rhi > rlo)
    l_first = F.floor(llo / w).cast("long")
    r_first = F.floor(rlo / w).cast("long")
    l_last = _last_bucket_exclusive(lhi, w)
    r_last = _last_bucket_exclusive(rhi, w)
    if max_explode is None:
        l_short, r_short = lsdf, rsdf
    else:
        cap = int(max_explode)
        l_short = lsdf.filter(l_last - l_first < cap)
        l_long = lsdf.filter(l_last - l_first >= cap)
        r_short = rsdf.filter(r_last - r_first < cap)
        r_long = rsdf.filter(r_last - r_first >= cap)
    lb = l_short.withColumn("__bk", F.explode(F.sequence(l_first, l_last)))
    rb = r_short.withColumn("__bk", F.explode(F.sequence(r_first, r_last)))
    first_shared = F.greatest(l_first, r_first)
    out = (lb.join(rb, on="__bk", how="inner")
           .filter(overlap & (F.col("__bk") == first_shared))
           .drop("__bk"))
    if max_explode is None:
        return DataFrame(out)
    # skew tail: long intervals join the other side by broadcast
    # non-equi — (long_l × all_r) ∪ (short_l × long_r) completes the
    # pair-space partition without double emission
    out = out.unionByName(F.broadcast(l_long).join(rsdf, on=overlap,
                                                   how="inner"))
    out = out.unionByName(l_short.join(F.broadcast(r_long), on=overlap,
                                       how="inner"))
    return DataFrame(out)
