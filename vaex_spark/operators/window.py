"""Ordered operators: shift / diff / rolling (SURVEY §2.6).

Reference semantics: vaex shift (dataframe.py:4781, shift.py:204-339)
moves a column by k rows over the *global physical row order* with a
fill value; diff (dataframe.py:4749) is ``x - shift(x, k)``; rolling
(dataframe.py:5656, rolling.py) yields windowed aggregates.

Spark mapping: ``F.lag/lead`` over a window.  Two plan shapes:

* with ``partition_by`` — ``Window.partitionBy(...).orderBy(...)``,
  the idiomatic parallel form (shuffle by key, per-group windows);
* without ``partition_by`` — the naive ``Window.orderBy(...)`` funnels
  ALL rows through one task (Exchange SinglePartition), which is
  catastrophic at scale.  Instead we run a **partition-boundary
  exchange**: partition on the order key, then donate each partition's
  k edge rows to its neighbor so a frame of ``[-before, +after]`` rows
  is exact *within* every partition; the window runs per-partition and
  borrowed rows are dropped afterwards.  Two sub-forms:

  - explicit ``order_key``: range-partition on the key (sampled
    bounds → the frame must be PERSISTED so main/donor branches read
    one materialization), one range shuffle + one hash shuffle;
  - positional (``order_key=None``): ``pid = ROW_ID div B`` is a pure
    function of the contiguous row id (``_block_window``) — no
    persist, no probe, ONE hash shuffle total (r13).

  Either way the borrowed volume is O(k × partitions), independent of
  table size.

For oracle-checked queries we always pass an explicit order_key so
results are deterministic on any cluster.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .rowid import ROW_ID, bounded_window, with_row_id
from ..colname import qcol as _fcol  # shared non-identifier quoting
from ..dataframe import DataFrame, _like, _same_kind
from ..plan import range_partition_count
from ..temporal import stat_input, stat_output


_PID = "__pid"
_PTAG = "__ptag"
_BORROWED = "__borrowed"


def _mmh3_int(k: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one 32-bit int — bit-identical to Spark's
    ``Murmur3Hash.hashInt`` (the function behind ``F.hash`` and
    HashPartitioning, seed 42).  Public algorithm (Austin Appleby,
    public domain); pinned against ``F.hash`` by pytest."""
    c1, c2 = 0xcc9e2d51, 0x1b873593
    k1 = (k * c1) & 0xffffffff
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xffffffff
    k1 = (k1 * c2) & 0xffffffff
    h1 = (seed ^ k1) & 0xffffffff
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xffffffff
    h1 = (h1 * 5 + 0xe6546b64) & 0xffffffff
    h1 ^= 4  # fmix: length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85ebca6b) & 0xffffffff
    h1 ^= h1 >> 13
    h1 = (h1 * 0xc2b2ae35) & 0xffffffff
    h1 ^= h1 >> 16
    # reinterpret as signed int32 (Spark hash returns int)
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _monotonic_tags(m: int) -> list[int]:
    """Tags t_0..t_{m-1} with ``pmod(murmur3(t_i), m) == i``, so
    ``repartition(m, tag_of(pid))`` places pid i in PHYSICAL partition
    i.  This makes the window exchange ORDER-PRESERVING: reading output
    partitions in index order yields pid-ascending rows, and the window
    sort orders within pid — so positional ops return rows in ROW ORDER
    without a rangepartitioning (whose sampler would execute the whole
    child subtree a second time).  Coupon-collector search, ~m·ln m
    murmur evaluations driver-side."""
    tags: list[int | None] = [None] * m
    found, t = 0, 0
    while found < m:
        i = _mmh3_int(t) % m
        i = i + m if i < 0 else i
        if tags[i] is None:
            tags[i] = t
            found += 1
        t += 1
    return tags  # type: ignore[return-value]


def _pin_monotonic_exchange(aug, m: int):
    """Attach the tag column and repartition so the window's exchange is
    explicit (AQE-proof grain) AND physical-partition-monotonic in pid.
    Returns (aug, window_partition_column)."""
    tags = _monotonic_tags(m)
    try:
        # one true ARRAY LITERAL: F.array(*lits) compiles to CreateArray,
        # which allocates the m-element array PER ROW in the hot path
        tag_arr = F.lit(tags)
    except Exception:  # pragma: no cover - older pyspark without lit(list)
        tag_arr = F.array(*[F.lit(t) for t in tags])
    # try_element_at: the classic path's LAST range partition donates
    # rows to pid n (one past the tag range) — they are borrowed rows
    # destined to be dropped, but plain element_at would RAISE under
    # ANSI-on sessions instead of nulling (r13, caught by the combined
    # ANSI+adversarial battery).  A null tag forms its own all-borrowed
    # window group; real groups are untouched.
    # explicit int cast: _monotonic_tags solves pmod(hashInt(t), m) ==
    # i, so the hashed value MUST be a 32-bit int.  F.lit(list) happens
    # to infer array<int> on PySpark 4.1.2, but a version that infers
    # bigint would route through hashLong and silently scramble
    # read-back order (r13 ADVICE) — pin the dtype rather than trust
    # literal inference; the pytest pins the production column's type.
    aug = aug.withColumn(
        _PTAG, F.try_element_at(tag_arr,
                                (F.col(_PID) + 1).cast("int")).cast("int"))
    return aug.repartition(m, F.col(_PTAG)), F.col(_PTAG)


def _resolve_order(df, order_key):
    """Return (sdf, order_cols).  order_key=None materializes a scan-
    order row id (distributed, no global sort — see rowid.py)."""
    if order_key is None:
        sdf = with_row_id(df._spark_df())
        return sdf, [F.col(ROW_ID)]
    sdf = df._spark_df()
    keys = order_key if isinstance(order_key, (list, tuple)) else [order_key]
    return sdf, [df._to_expr(k).col for k in keys]


def _ordered(df, order_key):
    """:func:`_resolve_order` for either frame kind: a raw Spark frame
    has no virtual columns, so its keys are plain column names."""
    if isinstance(df, DataFrame):
        return _resolve_order(df, order_key)
    keys = order_key if isinstance(order_key, (list, tuple)) else [order_key]
    return df, [F.col(k) for k in keys]


def _partitioned_window(df, order_key, partition_by):
    """The idiomatic per-key window (parallel, no exchange needed)."""
    sdf, order_cols = _resolve_order(df, order_key)
    parts = partition_by if isinstance(partition_by, (list, tuple)) else [partition_by]
    w = Window.partitionBy(*[df._to_expr(p).col for p in parts]).orderBy(*order_cols)
    return sdf, w


def _block_window(sdf, before: int, after: int, n, donor_cols=None):
    """Positional (order_key=None) global window: pid is a PURE FUNCTION
    of the contiguous row id — ``pid = ROW_ID div B`` with one uniform
    block size ``B >= frame depth`` — so NO persist, NO per-partition
    counts probe, and NO thin-partition fallback are needed.  (r13: the
    r12 form derived pids from physical partition placement and had to
    persist the FULL-WIDTH frame to keep the main/donor/pidmap branches
    on one materialization — ~20 GB at 1e8×22 cols, the engine's single
    biggest measured wall, commit eeaa6b4.)

    Exactness: row ids are globally contiguous 0..n-1 (the with_row_id
    contract, rowid.py), every block except the last holds exactly B
    rows, and B >= before (resp. after), so single-neighbor donation
    hands every frame of [-before, +after] rows its exact global
    neighborhood.  The last block may be thinner than the frame but only
    DONATES (all its rows, to its predecessor): frames that reach past
    it reach past the table end, where null is the correct value.  The
    donor branches are column-pruned to (row id + windowed columns) via
    ``donor_cols`` + unionByName(allowMissingColumns) — the non-windowed
    width rides the main branch once; borrowed rows' null padding is
    dropped with them after the window.

    Determinism across the main/donor re-reads rests on ROW_ID *values*,
    which with_row_id already pins (persisting underneath iff the source
    plan is nondeterministic) — not on physical placement, making this
    strictly more robust than the r12 physical-pid form as well as
    cheaper.  Cost: one count job (row-group metadata at parquet
    sources) + ONE full-data exchange (the per-pid window hash shuffle);
    no range exchange, no materialization.  The prefix-frame rolling
    rewrite's invariant holds: every interior block receives exactly
    ``before`` donor rows, so truncated-at-partition-start prefixes
    equal true frame prefixes.
    """
    total = sdf.count()
    conf = sdf.sparkSession.conf
    try:
        shuffle_n = int(conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:  # pragma: no cover
        shuffle_n = 200
    par = sdf.sparkSession.sparkContext.defaultParallelism
    if not n:
        n = max(par, shuffle_n)
    # finer blocks than the stats-advisory estimate: the window stage
    # SORTS each block, and sort cost drops superlinearly with block
    # size (cache residency, no spill) — measured at 1e8×22: 30 AQE-
    # coalesced fat partitions 24.8 s, 138 explicit 15.6 s, 512
    # explicit 10.6 s.  Extra blocks cost only O(k) donor rows each.
    n = min(max(n, 8 * par), 16 * max(par, shuffle_n))
    depth = max(before, after, 1)
    B = max(-(-total // max(n, 1)), depth) if total else depth
    max_pid = (total - 1) // B if total else 0
    rid = F.col(ROW_ID)
    # integer DIV (not float /): exact at any scale, no 2^53 ceiling
    pid = F.expr(f"CAST(`{ROW_ID}` DIV {B} AS INT)")
    lrn = rid % F.lit(B)
    aug = sdf.withColumn(_PID, pid).withColumn(_BORROWED, F.lit(False))
    base = sdf.select(*donor_cols) if donor_cols else sdf
    if before > 0 and max_pid > 0:
        don = (base.filter((lrn >= B - before) & (pid < max_pid))
               .withColumn(_PID, (pid + 1).cast("int"))
               .withColumn(_BORROWED, F.lit(True)))
        aug = aug.unionByName(don, allowMissingColumns=True)
    if after > 0 and max_pid > 0:
        don = (base.filter((lrn < after) & (pid >= 1))
               .withColumn(_PID, (pid - 1).cast("int"))
               .withColumn(_BORROWED, F.lit(True)))
        aug = aug.unionByName(don, allowMissingColumns=True)
    # pin the window exchange at one-task-per-block granularity AND
    # physical-partition-monotonic in pid: an EXPLICIT repartition
    # satisfies the window's clustered-distribution requirement, AQE
    # never coalesces user-specified repartitions (the implicit exchange
    # gets merged to ~64MB of COMPRESSED shuffle bytes per task — ~700MB
    # rows at 1e8×22, turning the per-task sort into the stage wall),
    # and the monotonic tags restore ROW ORDER on read (a plain
    # hashpartitioning(pid) scrambles pid order across output
    # partitions — positional ops must return rows in row order)
    aug, wpart = _pin_monotonic_exchange(aug, max_pid + 1)
    return aug, Window.partitionBy(wpart).orderBy(rid)


def _exchange_window(sdf, order_cols, before: int, after: int,
                     pre_ranged: bool = False, donor_cols=None):
    """Global-order window without a single-task sort.

    1. ``repartitionByRange`` on the order key — a parallel total order
       (partition i holds keys below partition i+1's).
    2. Densify partition ids (range partitioning can leave empty
       partitions; donors must target the *next non-empty* one).  The
       id map is partition-count-sized — the rank window over it is a
       metadata-sized single task, same envelope as rowid.py offsets.
    3. Donate the last ``before`` rows of each partition to its
       successor and the first ``after`` rows to its predecessor,
       flagged ``__borrowed``.
    4. Window over ``partitionBy(__pid).orderBy(order)`` — every frame
       of [-before, +after] rows sees exactly the rows it would under a
       global sort; borrowed rows (whose own frames are incomplete) are
       dropped by the caller.

    Donor selection costs no second full shuffle: after the range
    exchange the rows are locally sorted and tagged with
    ``monotonically_increasing_id`` — (physical partition << 33) +
    within-partition counter — so "last ``before`` rows" / "first
    ``after`` rows" are plain filters against a broadcast per-partition
    count map (partition-count-sized aggregate).  Only the final
    per-``__pid`` window re-shuffles the data: two full-data exchanges
    total, both parallel.  The donor/main branches re-read the same
    range exchange; AQE's runtime stage reuse deduplicates it (measured:
    beats an eager driver-side pid probe and an explode rewrite).  Keep
    AQE on.

    Returns (augmented_sdf, window_spec); caller filters ``~__borrowed``
    and drops helper columns.
    """
    # persist() is load-bearing for CORRECTNESS, not a cache nicety: the
    # main/donor/pidmap branches below each re-read this frame, and
    # un-persisted they would materialize three INDEPENDENT range
    # shuffles whose sampled partition boundaries differ — donors then
    # carry rows for boundaries the main branch doesn't have, silently
    # nulling frames at partition starts (AQE's exchange reuse dedupes
    # the shuffles only sometimes, and AQE coalescing masks the bug at
    # small scale by collapsing to one partition).  With the persisted
    # frame every branch reads the same materialization; even on block
    # eviction the recompute re-fetches the SAME shuffle dependency
    # (bounds are fixed at stage materialization), so pids stay aligned.
    n = range_partition_count(sdf)
    if n == 1:
        # Catalyst's own size estimate says the frame fits ONE advisory-
        # sized partition: the single-task global window IS the intended
        # plan.  Skip the persist, the counts probe, and the donor
        # union — one exchange, one job (this was q10's entire bench
        # regression: the full donor machinery running for n=1).
        aug = (sdf.withColumn(_PID, F.lit(0))
               .withColumn(_BORROWED, F.lit(False)))
        return aug, bounded_window(*order_cols)
    if pre_ranged:
        # positional path (order_key=None): pid = ROW_ID div B is a pure
        # function of the contiguous row id — no persist, no counts
        # probe, no thin-partition hazard (r13, see _block_window)
        return _block_window(sdf, before, after, n, donor_cols)
    ranged = (sdf.repartitionByRange(n, *order_cols) if n
              else sdf.repartitionByRange(*order_cols))
    ranged_sorted = ranged.sortWithinPartitions(*order_cols)
    part = (ranged_sorted
            .withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__rpid", F.shiftright("__mid", 33))
            .withColumn("__lrn", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)))
            .drop("__mid"))
    from ..cache import _register_persist
    part = _register_persist(part)
    # dense pid + per-partition count (range partitioning can leave
    # empty partitions; donors must target the next non-empty one, hence
    # the densification).  Small partition counts take the eager path:
    # one tiny cache-backed collect, then literal CASE columns — no
    # bounded-window stage, no broadcast join, a shorter serial job
    # chain.  Large counts keep the fully-lazy broadcast-join form (a
    # thousands-branch CASE would blow Janino's method limit).
    rows = None
    if n is not None and n <= 64:
        rows = sorted((r["__rpid"], r["cnt"]) for r in
                      part.groupBy("__rpid").agg(
                          F.count(F.lit(1)).alias("cnt")).collect())
    if rows:
        pid_expr = cnt_expr = None
        for i, (rp, c) in enumerate(rows):
            cond = F.col("__rpid") == rp
            pid_expr = F.when(cond, i) if pid_expr is None else pid_expr.when(cond, i)
            cnt_expr = F.when(cond, c) if cnt_expr is None else cnt_expr.when(cond, c)
        part = (part.withColumn(_PID, pid_expr.cast("int"))
                .withColumn("__pcnt", cnt_expr.cast("long"))
                .withColumn("__nparts", F.lit(len(rows)))
                .drop("__rpid"))
    else:
        pan = bounded_window("__rpid").rowsBetween(Window.unboundedPreceding,
                                                   Window.unboundedFollowing)
        pidmap = (part.groupBy("__rpid").agg(F.count(F.lit(1)).alias("__pcnt"))
                  .withColumn(_PID, F.row_number().over(bounded_window("__rpid")) - 1)
                  .withColumn("__nparts", F.count(F.lit(1)).over(pan)))
        part = part.join(F.broadcast(pidmap), on="__rpid").drop("__rpid")
    helpers = ["__lrn", "__pcnt", "__nparts"]
    aug = part.withColumn(_BORROWED, F.lit(False))
    # single-neighbor donation is exact iff every INTERIOR partition
    # holds >= before (resp. after) rows — frames never need to reach
    # across two boundaries.  A partition smaller than the frame depth
    # (possible only when the frame exceeds the ~100MB-partition row
    # count) must fail loudly, not return silent nulls: the raise_error
    # rides the donor rows, so the happy path costs nothing.
    _msg = ("shift/rolling frame depth exceeds a range partition's row "
            "count; rerun with partition_by=, a smaller window, or "
            "larger spark.sql.adaptive.advisoryPartitionSizeInBytes")
    if before > 0:
        bad = (F.col(_PID) >= 2) & (F.col("__pcnt") < before)
        don = (part.filter(F.col("__lrn") >= F.col("__pcnt") - before)
               .withColumn(_PID, F.col(_PID) + 1)
               .withColumn(_BORROWED, F.when(bad, F.raise_error(F.lit(_msg))
                                             .cast("boolean"))
                           .otherwise(F.lit(True))))
        aug = aug.unionByName(don)
    if after > 0:
        bad = ((F.col(_PID) + 1 < F.col("__nparts") - 1)
               & (F.col("__pcnt") < after))
        don = (part.filter(F.col("__lrn") < after)
               .withColumn(_PID, F.col(_PID) - 1)
               .filter(F.col(_PID) >= 0)
               .withColumn(_BORROWED, F.when(bad, F.raise_error(F.lit(_msg))
                                             .cast("boolean"))
                           .otherwise(F.lit(True))))
        aug = aug.unionByName(don)
    aug = aug.drop(*helpers)
    if n:
        # pin the window exchange at one-task-per-range-partition
        # granularity and monotonic in pid (see _block_window): output
        # rows then read back in ORDER-KEY order instead of
        # hash-of-pid-scrambled, and AQE cannot coalesce the exchange
        # into few fat partitions whose per-task sorts dominate
        aug, wpart = _pin_monotonic_exchange(aug, n)
        return aug, Window.partitionBy(wpart).orderBy(*order_cols)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return aug, w


def _apply_windowed(df, order_key, partition_by, before, after, columns, make_col):
    """Shared driver for shift/diff/rolling: apply ``make_col(name, w)``
    per column over the right window shape, clean up helpers."""
    cols = [columns] if isinstance(columns, str) else (columns or df.get_column_names())
    if partition_by is not None:
        sdf, w = _partitioned_window(df, order_key, partition_by)
        out = sdf
        for c in cols:
            out = out.withColumn(c, make_col(c, w))
    else:
        sdf, order_cols = _resolve_order(df, order_key)
        # positional ops (order_key=None) ride the with_row_id contract:
        # pid is computed from the contiguous ROW_ID (_block_window) —
        # donor branches carry only the windowed columns
        donor_cols = None
        if order_key is None:
            donor_cols = [ROW_ID] + [c for c in cols if c != ROW_ID]
        aug, w = _exchange_window(sdf, order_cols, before, after,
                                  pre_ranged=order_key is None,
                                  donor_cols=donor_cols)
        out = aug
        for c in cols:
            out = out.withColumn(c, make_col(c, w))
        # _PTAG only exists when the exchange was pinned; drop-by-name
        # is a no-op for absent columns
        out = out.filter(~F.col(_BORROWED)).drop(_PID, _PTAG, _BORROWED)
    if order_key is None:
        out = out.drop(ROW_ID)
    o = DataFrame(out)
    o.variables = dict(df.variables)
    return o


def shift(df, periods, column=None, fill_value=None, trim=False,
          order_key=None, partition_by=None):
    """Return a new DataFrame with column(s) shifted by ``periods``.

    ``periods`` may be a (start, end) tuple (reference dataframe.py:4781
    / shift.py DatasetShifted): each cell becomes the ARRAY
    [x[i+start], ..., x[i+end-1]] — the window-materialized form that
    vaex's Rolling reduces over.  ``trim=True`` drops rows whose window
    reaches past either edge instead of null-filling."""
    if isinstance(periods, (tuple, list)):
        return shift_range(df, periods, column=column, fill_value=fill_value,
                           trim=trim, order_key=order_key, partition_by=partition_by)
    before = max(periods, 0)
    after = max(-periods, 0)
    marker = "__shift_ok"

    def make(c, w):
        val = F.lag(_fcol(c), periods, fill_value).over(w)
        if not trim:
            return val
        ok = F.count(F.lit(1)).over(w.rowsBetween(-periods, -periods)) == 1
        return F.struct(val.alias("v"), ok.alias(marker))

    out = _apply_windowed(df, order_key, partition_by, before, after, column, make)
    if trim:
        out = _unpack_trim(df, out, column, marker)
    return out


def _unpack_trim(df, out, column, marker):
    """Filter rows whose source window was incomplete, unpack structs."""
    cols = [column] if isinstance(column, str) else (column or df.get_column_names())
    sdf = out._spark_df()
    keep = None
    for c in cols:
        cond = _fcol(c).getField(marker)
        keep = cond if keep is None else (keep & cond)
    sdf = sdf.filter(keep)
    for c in cols:
        sdf = sdf.withColumn(c, _fcol(c).getField("v"))
    o = DataFrame(sdf)
    o.variables = dict(df.variables)
    return o


def shift_range(df, periods, column=None, fill_value=None, trim=False,
                order_key=None, partition_by=None):
    """Tuple-shift: cell -> [x[i+start], ..., x[i+end-1]] (shift.py
    DatasetShifted semantics; reference shift_test.py:217 expects
    shift((0,2)) == [[x0,x1],[x1,x2],...])."""
    start, end = int(periods[0]), int(periods[1])
    assert start <= end, "periods tuple must be (start, end) with start <= end"
    before = max(-start, 0)
    after = max(end - 1, 0)
    width = end - start
    marker = "__shift_ok"

    def make(c, w):
        elems = [F.lead(_fcol(c), j, fill_value).over(w) for j in range(start, end)]
        val = F.array(*elems)
        if not trim:
            return val
        ok = F.count(F.lit(1)).over(w.rowsBetween(start, end - 1)) == width
        return F.struct(val.alias("v"), ok.alias(marker))

    out = _apply_windowed(df, order_key, partition_by, before, after, column, make)
    if trim:
        out = _unpack_trim(df, out, column, marker)
    return out


def shift_expression(df, expr, periods, fill_value=None, order_key=None, partition_by=None):
    """Expression-level shift: returns an Expression usable in further
    algebra (the common vaex pattern df['prev'] = df.x.shift(1)).

    Note: as a composable Column this cannot carry the boundary-exchange
    rewrite — without ``partition_by`` it compiles to a global-order
    window (single task).  Pass ``partition_by`` for the scalable form,
    or use ``df.shift(...)`` which always plans the exchange."""
    from ..expression import Expression
    if partition_by is not None:
        _, w = _partitioned_window(df, order_key, partition_by)
    else:
        _, order_cols = _resolve_order(df, order_key)
        w = Window.orderBy(*order_cols)
    return Expression(df, F.lag(df._to_expr(expr).col, periods, fill_value).over(w))


def diff(df, periods=1, column=None, order_key=None, partition_by=None):
    """dataframe.py:4749 — discrete difference over row order."""
    before = max(periods, 0)
    after = max(-periods, 0)

    def make(c, w):
        return _fcol(c) - F.lag(_fcol(c), periods).over(w)

    return _apply_windowed(df, order_key, partition_by, before, after, column, make)


_PREFIX_FRAME_MIN_WINDOW = 64


class Rolling:
    """vaex rolling (dataframe.py:5656): fixed-size row window ending at
    the current row (edge='right'), aggregate via .sum()/.mean()/...

    ``trim=False`` (vaex default) nulls incomplete windows; ``trim=True``
    drops those rows (reference dataframe.py:5656 trims the frame).

    Wide frames: Spark's SlidingWindowFunctionFrame has no aggregate
    retraction — every time the frame's lower bound advances it
    re-aggregates the whole buffered frame, O(width) per row, O(n*width)
    per partition (6.4M rows x width 100k = 6.4e11 updates: hours).  For
    sum/mean/count/var/std with ``window >= 64`` we therefore rewrite the
    sliding frame as a difference of two GROWING frames —
    ``[unboundedPreceding, after] - [unboundedPreceding, -(before+1)]``
    — which Spark's UnboundedPrecedingWindowFunctionFrame computes
    incrementally, O(1) per row.  This is exact for every non-borrowed
    row: interior range partitions carry exactly ``before`` donor rows,
    so the truncated-at-partition-start prefix equals the true frame
    prefix.  Small windows keep the direct sliding frame so results stay
    bitwise identical to Spark's native evaluation (the cumsum-difference
    form can differ in the last float ulps, which matters only to
    digest-style comparisons, not to numerics: |err| <= n_part * eps *
    max|cumsum|, ~1e-9 absolute at 6.4M doubles).  min/max/collect_list
    have no inverse and keep the sliding frame at any width.
    """

    def __init__(self, df, window, trim=False, column=None, edge="right",
                 order_key=None, partition_by=None):
        self.df = df
        self.window = int(window)
        self.trim = trim
        self.columns = [column] if isinstance(column, str) else column
        self.edge = edge
        self.order_key = order_key
        self.partition_by = partition_by

    def _bounds(self):
        if self.edge == "right":
            return self.window - 1, 0
        if self.edge == "left":
            return 0, self.window - 1
        left = self.window // 2
        return left, self.window - 1 - left

    def _apply(self, fn, kind=None):
        before, after = self._bounds()
        need_n = "__winn"
        use_prefix = (kind in ("sum", "mean", "count", "var", "std")
                      and self.window >= _PREFIX_FRAME_MIN_WINDOW)

        def make(c, w):
            try:
                dt = self.df.data_type(c)
            except Exception:
                dt = None
            src = stat_input(_fcol(c), dt, kind)
            if use_prefix:
                grow = w.rowsBetween(Window.unboundedPreceding, after)
                prev = w.rowsBetween(Window.unboundedPreceding, -(before + 1))

                def fsum(e):
                    return (F.sum(e).over(grow)
                            - F.coalesce(F.sum(e).over(prev), F.lit(0)))

                n = (F.count(src).over(grow)
                     - F.count(src).over(prev))
                if kind == "count":
                    val = n
                elif kind == "sum":
                    val = fsum(src)
                elif kind == "mean":
                    # the numerator is the rule's sum input (exact
                    # decimal µs for temporal columns); try_divide:
                    # all-null frames (n = 0) stay null under ANSI
                    val = F.try_divide(fsum(stat_input(_fcol(c), dt, "sum")), n)
                else:  # var / std from moment sums (population, ddof=0)
                    x = src.cast("double")
                    # Center on the partition's first non-null value:
                    # variance is shift-invariant, and the raw moment
                    # form m2 - m1^2/n cancels catastrophically when
                    # mean^2 >> var (epoch-like columns lose every
                    # significant digit).  The offset is constant for
                    # every contributing (non-null) row of the
                    # partition, so frames remain internally
                    # consistent; null-x rows have null xc and never
                    # enter the sums.
                    off = F.first(x, ignorenulls=True).over(
                        w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow))
                    xc = x - off
                    m1, m2 = fsum(xc), fsum(xc * xc)
                    # clamp: float cancellation can still leave a tiny
                    # negative residue, which sqrt would turn into NaN
                    v = F.greatest(F.try_divide(m2 - F.try_divide(m1 * m1, n), n), F.lit(0.0))
                    val = F.sqrt(v) if kind == "std" else v
            else:
                frame = w.rowsBetween(-before, after)
                val = fn(src).over(frame)
                n = F.count(src).over(frame)
            # null (or later drop) incomplete windows; stash the count
            return F.struct(F.when(n >= self.window, stat_output(val, dt, kind)).alias("v"),
                            n.alias(need_n))

        # compute value+count in one struct, then unpack so trim can
        # filter on the count of ANY of the rolled columns
        out_df = _apply_windowed(self.df, self.order_key, self.partition_by,
                                 before, after, self.columns, make)
        sdf = out_df._spark_df()
        cols = self.columns or [c for c in self.df.get_column_names()]
        if self.trim:
            conds = [F.col(c).getField(need_n) >= self.window for c in cols]
            keep = conds[0]
            for cnd in conds[1:]:
                keep = keep & cnd
            sdf = sdf.filter(keep)
        for c in cols:
            sdf = sdf.withColumn(c, _fcol(c).getField("v"))
        o = DataFrame(sdf)
        o.variables = dict(self.df.variables)
        return o

    def sum(self):
        return self._apply(F.sum, kind="sum")

    def mean(self):
        return self._apply(F.avg, kind="mean")

    def min(self):
        return self._apply(F.min)

    def max(self):
        return self._apply(F.max)

    def std(self):
        return self._apply(F.stddev_pop, kind="std")

    def var(self):
        return self._apply(F.var_pop, kind="var")

    def count(self):
        return self._apply(F.count, kind="count")

    def array(self):
        """vaex rolling returns an array column you then reduce; we
        expose it via collect_list over the frame."""
        return self._apply(F.collect_list)


@_same_kind
def rolling_range(df, window_seconds, on, column=None, agg="mean",
                  partition_by=None, bucket_seconds=None):
    """Time-range rolling aggregate: for each row, aggregate ``column``
    over rows of the same partition whose ``on`` timestamp lies in
    ``(t - window_seconds, t]`` — the trailing-window form of
    time-series smoothing (beyond the reference: vaex rolling is
    row-count-based only).

    Spark's RANGE frame requires a numeric order key, so the timestamp
    is projected to epoch seconds; the frame is then
    ``rangeBetween(-(window_seconds - 1), 0)`` over whole seconds —
    i.e. bounds are inclusive at second granularity, matching the SQL
    ``RANGE BETWEEN n PRECEDING AND CURRENT ROW`` oracle exactly.

    Scale notes: sum/mean/count are computed as the difference of two
    GROWING frames (Spark's sliding RANGE frame has no retraction —
    O(rows-in-frame)/row otherwise); min/max keep the sliding frame.
    ``partition_by`` keys the windows (the parallel per-key form).
    WITHOUT it, the global total order is parallelized by VALUE-BUCKET
    DONATION instead of a single-task window: rows hash to epoch bucket
    ``floor(t / S)`` (``S >= 2*window``, sized from the min/max epoch so
    ~4 buckets per core), and every row within ``window`` of its
    bucket's upper edge is ALSO sent to the next bucket as a donor —
    bucket boundaries are deterministic VALUES, so unlike the row-count
    boundary exchange no persisted count map is needed and donation is
    a plain union of two filters.  Frames stay exact: a real row at t
    in bucket b needs values in (t-w, t] ⊇ (b*S - w, ·), exactly what
    the donors provide.  Donor volume = rows within ``window`` of
    bucket edges — O(density * window * n_buckets), independent of
    table size per bucket.
    """
    fns = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
           "count": F.count}
    fn = fns[agg]
    epoch = F.unix_timestamp(F.col(on)).alias("__ts")
    cols = [column] if isinstance(column, str) else column
    win = int(window_seconds)
    dtypes = dict(df.dtypes)

    def rolled(c, w):
        """Output column of ``c`` over window spec ``w``.  sum/mean/count
        are [unboundedPreceding, 0] minus [unboundedPreceding, -window]
        (values <= t-window, i.e. the complement of (t-window, t]), each
        GROWING frame maintained incrementally; min/max have no inverse
        and keep the sliding frame."""
        if agg not in ("sum", "mean", "count"):
            return fn(F.col(c)).over(w.rangeBetween(-(win - 1), 0))
        dt = dtypes.get(c)
        src = stat_input(_fcol(c), dt, agg)
        grow = w.rangeBetween(Window.unboundedPreceding, 0)
        prev = w.rangeBetween(Window.unboundedPreceding, -win)
        n = F.count(src).over(grow) - F.count(src).over(prev)
        if agg == "count":
            return n
        total = (F.sum(src).over(grow)
                 - F.coalesce(F.sum(src).over(prev), F.lit(0)))
        return stat_output(total if agg == "sum" else F.try_divide(total, n),
                           dt, agg)

    global_bucketed = False
    if partition_by is not None:
        parts = (partition_by if isinstance(partition_by, (list, tuple))
                 else [partition_by])
        w = Window.partitionBy(*[F.col(p) for p in parts]).orderBy(epoch)
    else:
        bounds = df.agg(
            F.min(F.unix_timestamp(F.col(on))).alias("lo"),
            F.max(F.unix_timestamp(F.col(on))).alias("hi")).collect()[0]
        if bounds["hi"] is None or bounds["lo"] is None:
            # empty frame or all-null timestamps: no buckets to size.
            # Return the input with the output columns attached as
            # nulls (a window over no/null rows aggregates to null),
            # typed by the analyzer from the very column a non-empty
            # frame computes (no job runs).
            probe = Window.orderBy(epoch)
            out = df
            for c in cols:
                typ = df.select(rolled(c, probe).alias("__t")) \
                    .schema["__t"].dataType.simpleString()
                out = out.withColumn(f"{c}_rolling_{agg}",
                                     F.lit(None).cast(typ))
            return out
        span = max(1, int(bounds["hi"]) - int(bounds["lo"]))
        par = df.sparkSession.sparkContext.defaultParallelism
        # bucket_seconds overrides the auto size (still floored at
        # 2*window, the donation-exactness requirement) — results are
        # IDENTICAL for any valid S, which the scale probes exploit as
        # a self-consistency oracle (two bucketings must agree exactly)
        S = max(2 * win, int(bucket_seconds)) if bucket_seconds \
            else max(2 * win, span // max(1, 4 * par) + 1)
        ep = F.unix_timestamp(F.col(on))
        bkt = F.floor(ep / S).cast("long")
        real = df.withColumn("__tbk", bkt).withColumn("__tdon", F.lit(False))
        donors = (df.filter(ep >= (bkt + 1) * S - win)
                  .withColumn("__tbk", bkt + 1)
                  .withColumn("__tdon", F.lit(True)))
        df = real.unionByName(donors)
        w = Window.partitionBy("__tbk").orderBy(epoch)
        global_bucketed = True
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_rolling_{agg}", rolled(c, w))
    if global_bucketed:
        out = out.filter(~F.col("__tdon")).drop("__tbk", "__tdon")
    return out


@_same_kind
def sessionize(df, ts_col, gap_seconds, by, session_col="session_idx"):
    """Batch sessionization (gaps-and-islands): within each ``by``
    partition ordered by ``ts_col``, a new session starts when the gap
    from the previous event exceeds ``gap_seconds``; rows gain a
    0-based ``session_col`` index.  The batch complement of the
    streaming session_window aggregation — one shuffle on ``by``, two
    window passes (lag + running sum) over the same sort, no joins.
    """
    parts = by if isinstance(by, (list, tuple)) else [by]
    epoch = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(*[F.col(p) for p in parts]).orderBy(epoch)
    prev = F.lag(epoch).over(w)
    new_session = F.when(prev.isNull() | ((epoch - prev) > int(gap_seconds)),
                         F.lit(1)).otherwise(F.lit(0))
    run = Window.partitionBy(*[F.col(p) for p in parts]).orderBy(epoch) \
                .rowsBetween(Window.unboundedPreceding, 0)
    return (df.withColumn("__new", new_session)
            .withColumn(session_col, (F.sum("__new").over(run) - 1).cast("long"))
            .drop("__new"))


def _global_rank_sdf(sdf, order_cols):
    """Exact global 1-based rank (row_number over a total order)
    WITHOUT a single-task sort: range-exchange on the order key
    (parallel total order), per-partition local row numbers, plus a
    broadcast cumulative-offset map (partition-count-sized).  One
    full-data exchange; the counts probe reads the persisted exchange.

    Ties: within equal order keys SQL row_number assigns ranks
    arbitrarily-but-once; a LOW-CARDINALITY key would therefore defeat
    the range exchange (equal keys compare identically against every
    boundary and land in ONE partition — a 90%-constant key serializes
    90% of the table into one task).  The exchange therefore appends a
    deterministic content-hash tiebreaker (xxhash64 over every input
    column) to the partitioning AND the sort: ties split evenly across
    partitions, the order stays total, and the output is deterministic
    for any input — identical rows are interchangeable, so even full
    duplicates yield a stable rank multiset.  Pass your own tiebreak
    column in ``order_cols`` when you need a specific tie order.

    Returns (sdf_with___grank, total_count_column_name) — the frame
    additionally carries ``__gn`` (total rows) so callers can derive
    quantile buckets without a second aggregate.
    """
    n = range_partition_count(sdf)
    salt = F.xxhash64(*[F.col(c) for c in sdf.columns])
    if n == 1:
        # fits one advisory partition: the single-task window IS the
        # intended plan (same fast path as _exchange_window)
        w = bounded_window(*order_cols, salt)
        pan = w.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
        return (sdf.withColumn("__grank", F.row_number().over(w)
                               .cast("long"))
                .withColumn("__gn", F.count(F.lit(1)).over(pan)))
    keys = list(order_cols) + [salt]
    ranged = (sdf.repartitionByRange(n, *keys) if n
              else sdf.repartitionByRange(*keys))
    part = (ranged.sortWithinPartitions(*keys)
            .withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__rpid", F.shiftright("__mid", 33))
            .withColumn("__lrn", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)))
            .drop("__mid"))
    from ..cache import _register_persist
    # persist is load-bearing (branch consistency): the counts probe and
    # the main read must see the SAME sampled range boundaries
    part = _register_persist(part)
    rows = sorted((r["__rpid"], r["cnt"]) for r in
                  part.groupBy("__rpid").agg(
                      F.count(F.lit(1)).alias("cnt")).collect())
    total = sum(c for _, c in rows)
    if len(rows) <= 256:
        off_expr = None
        acc = 0
        for rp, c in rows:
            cond = F.col("__rpid") == rp
            off_expr = (F.when(cond, acc) if off_expr is None
                        else off_expr.when(cond, acc))
            acc += c
        part = part.withColumn("__goff", off_expr.cast("long"))
    else:  # thousands of partitions: broadcast join, not a mega-CASE
        import pandas as pd
        acc, data = 0, []
        for rp, c in rows:
            data.append((rp, acc))
            acc += c
        offmap = sdf.sparkSession.createDataFrame(
            pd.DataFrame(data, columns=["__rpid", "__goff"]))
        part = part.join(F.broadcast(offmap), on="__rpid")
    out = (part.withColumn("__grank", (F.col("__goff") + F.col("__lrn")
                                       + 1).cast("long"))
           .withColumn("__gn", F.lit(total).cast("long"))
           .drop("__rpid", "__lrn", "__goff"))
    return out


def global_rank(df, order_key, out_col="rank"):
    """Exact global rank column over a total order — the distributed
    form of ``row_number() OVER (ORDER BY ...)`` (reference:
    vaex virtual row numbers are scan-ordered; this is the sorted
    form).  See _global_rank_sdf for the scale design."""
    out = _global_rank_sdf(*_ordered(df, order_key)) \
        .withColumnRenamed("__grank", out_col).drop("__gn")
    return _like(df, out)


def ntile_exact(df, k, order_key, out_col="ntile"):
    """Exact global NTILE(k) without a single-task window: global rank
    via the range-exchange (see _global_rank_sdf), then the SQL ntile
    bucket arithmetic — with N rows, base = N div k and rem = N mod k,
    the first ``rem`` tiles hold base+1 rows:

        r <= rem*(base+1):  tile = (r-1) div (base+1) + 1
        otherwise:          tile = rem + (r - rem*(base+1) - 1) div base + 1

    Bit-identical to ``F.ntile(k).over(Window.orderBy(...))`` at any N
    (including N < k), but every stage is parallel.
    """
    sdf, order_cols = _ordered(df, order_key)
    k = int(k)
    if range_partition_count(sdf) == 1:
        # fits one advisory partition: the single-task window IS the
        # intended plan, and native F.ntile is its cheapest form (one
        # window pass; the rank+count arithmetic would take two).  The
        # same content-hash tiebreaker as the exchange path keeps tie
        # assignment consistent across the two plans.
        salt = F.xxhash64(*[F.col(c) for c in sdf.columns])
        w = bounded_window(*order_cols, salt)
        return _like(df, sdf.withColumn(out_col, F.ntile(k).over(w)))
    ranked = _global_rank_sdf(sdf, order_cols)
    r, n = F.col("__grank"), F.col("__gn")
    base, rem = F.floor(n / k), n % k
    head = rem * (base + 1)
    tile = (F.when(base == 0, r)  # N < k: one row per tile
            .when(r <= head, F.floor((r - 1) / (base + 1)) + 1)
            .otherwise(rem + F.floor((r - head - 1) / base) + 1))
    return _like(df, ranked.withColumn(out_col, tile.cast("int"))
                 .drop("__grank", "__gn"))
