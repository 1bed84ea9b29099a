"""Training-mix budget sampling: cap each domain/source/language at a
token (or char) budget — the "data mixing" stage of an LM pipeline,
where a 100 TB crawl is down-sampled per source to a target recipe.

Two strategies, both deterministic:

* ``strategy='exact'`` — documents are taken in ``order_key`` order per
  group until the group's budget is exhausted (the document that
  crosses the budget line is excluded).  A per-group running sum —
  SQL-expressible, so oracle-checkable.  Scale note: each group's
  cumsum is one window partition, i.e. one task per group; right for
  up-to-thousands of groups with bounded per-group volume.  For a
  handful of groups over billions of rows use ``'hash'``.
* ``strategy='hash'`` — per-group totals are aggregated once (cheap,
  map-side combined), then each document keeps iff
  ``xxhash64(id, seed) pmod M < M * budget/total`` — a single scan, no
  per-group ordering, budget hit in expectation with O(sqrt) deviation.
  Deterministic given (ids, seed): re-runs and retries select the same
  documents, which is what makes the mix reproducible at 100 TB.

Groups absent from ``budgets`` are dropped (an explicit recipe is the
point of a mix); pass ``float('inf')`` to pass a group through.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plan import parse_bytes, size_bytes

__all__ = ["mix_budget", "cap_per_group", "stratified_sample"]


def mix_budget(df, budgets: dict, group_col: str = "source",
               length_col: str = "n_chars", order_key: str = "doc_id",
               id_col: str = "doc_id", strategy: str = "exact",
               seed: int = 42):
    """Return the rows selected by the mix recipe (all input columns)."""
    from ..dataframe import DataFrame
    wrapped = isinstance(df, DataFrame)
    sdf = df._spark_df() if wrapped else df
    if not budgets:
        raise ValueError("budgets must map group values to budgets")
    length = F.col(length_col).cast("double")

    finite = {k: float(v) for k, v in budgets.items()}
    budget_expr = None
    for k, v in finite.items():
        cond = F.col(group_col).eqNullSafe(F.lit(k))
        budget_expr = (F.when(cond, F.lit(v)) if budget_expr is None
                       else budget_expr.when(cond, F.lit(v)))
    budget_expr = budget_expr.otherwise(F.lit(None))

    if strategy == "exact":
        from pyspark.sql import Window
        w = (Window.partitionBy(group_col).orderBy(order_key)
             .rowsBetween(Window.unboundedPreceding, -1))
        before = F.coalesce(F.sum(length).over(w), F.lit(0.0))
        out = (sdf.withColumn("__budget", budget_expr)
               .filter(F.col("__budget").isNotNull())
               .withColumn("__before", before)
               .filter(F.col("__before") + length <= F.col("__budget"))
               .drop("__budget", "__before"))
    elif strategy == "hash":
        totals = (sdf.groupBy(group_col)
                  .agg(F.sum(length).alias("__total")))
        frac = F.least(F.lit(1.0), F.col("__budget") / F.col("__total"))
        m = F.lit(1 << 30)
        key = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), m).cast("double") / m
        out = (sdf.join(F.broadcast(totals), on=group_col)
               .withColumn("__budget", budget_expr)
               .filter(F.col("__budget").isNotNull())
               .filter(key < frac)
               .drop("__total", "__budget"))
    else:
        raise ValueError(f"strategy={strategy!r} (exact|hash)")
    return DataFrame(out) if wrapped else out


def cap_per_group(df, cap: int, group_col: str = "source",
                  order_key=None, id_col: str = "doc_id", seed: int = 42):
    """Keep at most ``cap`` documents per group (RefinedWeb-style
    per-domain caps): rank within each group and keep the first ``cap``.

    ``order_key=None`` ranks by ``xxhash64(id, seed)`` — a deterministic
    uniform sample of each domain, reproducible across runs and
    retries.  Pass a column (e.g. a quality score, descending not
    supported here — negate it) to keep the best-scoring documents
    instead.

    Scale: the plan is ``row_number() <= cap`` over
    ``partitionBy(group)``, which Spark rewrites with WindowGroupLimit —
    each MAP task pre-truncates its groups to the top-``cap`` rows
    before the shuffle, so a hot domain ships at most
    ``cap x input_splits`` rows instead of its full row count, and the
    reduce side truncates again.  No salting needed; the skew never
    reaches the exchange.  (Plan-audited in
    tests/test_datapipe.py::test_cap_per_group_plans_window_group_limit.)
    """
    from ..dataframe import DataFrame
    wrapped = isinstance(df, DataFrame)
    sdf = df._spark_df() if wrapped else df
    from pyspark.sql import Window
    if order_key is None:
        order_cols = [F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col)]
    else:
        keys = order_key if isinstance(order_key, (list, tuple)) else [order_key]
        order_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
        order_cols.append(F.col(id_col))
    w = Window.partitionBy(F.col(group_col)).orderBy(*order_cols)
    out = (sdf.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= int(cap)).drop("__rn"))
    return DataFrame(out) if wrapped else out


def stratified_sample(df, frac: float, group_col: str = "source",
                      id_col: str = "doc_id", order_key=None,
                      seed: int = 42):
    """Exact stratified sampling: keep ``ceil(frac * n_g)`` rows of
    every group — unlike ``DataFrame.sample``/Spark ``sampleBy``, the
    per-group counts are EXACT, not binomial draws.

    Rows are ranked inside each group by ``md5(id)`` (deterministic,
    engine-portable pseudorandomness — the same rows are chosen on any
    run, cluster, or SQL engine) and the first ``ceil(frac*n)`` are
    kept.  Pass ``order_key`` to rank by something else (e.g. a quality
    score for "best 20%% per domain").

    Scale (hash path, the default): the dynamic per-group cutoff cannot
    use WindowGroupLimit, so a naive per-group rank serializes a hot
    group into one task.  Instead the md5 hash is pruned by its OWN
    prefix first — BOUNDARY-BUCKET PRUNING:

    1. bucket = first two hex chars of the hash (256 uniform buckets;
       bucket order is a prefix of the full hash order);
    2. one map-side-combined count over (group, bucket) — group×256
       rows — plus a tiny window over that aggregate gives each group's
       cumulative counts and the single *boundary bucket* where the
       cumsum crosses k = ceil(frac·n);
    3. broadcast back: rows in buckets below the boundary are kept by a
       plain filter (no window at all), rows above are dropped, and
       ONLY the boundary bucket — expected n_g/256 rows — is ranked.

    The selected set is bit-identical to ranking the whole group (the
    bucket is a hash prefix), but the hot-group window shrinks 256×:
    a 3.2M-row group ranks ~12.5k rows in its single task.  With a
    custom ``order_key`` the prefix-pruning argument doesn't apply
    (arbitrary keys aren't uniform) and the plain per-group rank runs —
    for hot-group corpora rank by a precomputed column and cap with
    cap_per_group instead.
    """
    from ..dataframe import DataFrame
    wrapped = isinstance(df, DataFrame)
    sdf = df._spark_df() if wrapped else df
    from pyspark.sql import Window
    # EXACT ceil(frac*n): compute the cutoff in decimal, not double —
    # 0.07 as a double is 0.070000000000000007, so ceil(100 * 0.07)
    # would keep 8 rows, not 7.  repr() recovers the shortest decimal
    # the user typed; decimal multiply is then exact.
    from decimal import Decimal
    frac_dec = Decimal(repr(float(frac)))

    def k_of(n_col):
        return F.ceil(n_col.cast("decimal(20,0)") * F.lit(frac_dec))

    if order_key is not None:
        keys = order_key if isinstance(order_key, (list, tuple)) else [order_key]
        order_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
        order_cols.append(F.col(id_col))
        counts = (sdf.groupBy(group_col)
                  .agg(F.count(F.lit(1)).alias("__gn")))
        w = Window.partitionBy(F.col(group_col)).orderBy(*order_cols)
        out = (sdf.join(F.broadcast(counts), on=group_col)
               .withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= k_of(F.col("__gn")))
               .drop("__rn", "__gn"))
        return DataFrame(out) if wrapped else out

    h = F.md5(F.concat_ws("-", F.col(id_col).cast("string"),
                          F.lit(str(seed))))
    # Small-frame fast path (the q10 convention): when Catalyst's size
    # stats say the whole input fits one advisory-sized partition, the
    # per-group rank is a single cheap task anyway — the boundary-bucket
    # machinery (bucket histogram + broadcast + 2-branch union) would be
    # pure job-floor overhead.  Selection is identical either way.
    size = size_bytes(sdf)
    advisory = parse_bytes(sdf.sparkSession.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"), 64 << 20)
    if size is not None and size <= advisory:
        counts = (sdf.groupBy(group_col)
                  .agg(F.count(F.lit(1)).alias("__gn")))
        w = Window.partitionBy(F.col(group_col)).orderBy(h, F.col(id_col))
        out = (sdf.join(F.broadcast(counts), on=group_col)
               .withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= k_of(F.col("__gn")))
               .drop("__rn", "__gn"))
        return DataFrame(out) if wrapped else out
    hashed = sdf.withColumn("__h", h).withColumn(
        "__hb", F.conv(F.substring(F.col("__h"), 1, 2), 16, 10).cast("int"))
    # (group, bucket) counts -> per-group cumulative; boundary = first
    # bucket whose cumsum reaches k.  All windows here run over the
    # group×256-row AGGREGATE, never the data.
    bw = Window.partitionBy(group_col).orderBy("__hb")
    gw = Window.partitionBy(group_col)
    bkt = (hashed.groupBy(group_col, "__hb")
           .agg(F.count(F.lit(1)).alias("__bn"))
           .withColumn("__cum", F.sum("__bn").over(
               bw.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("__k", F.least(k_of(F.sum("__bn").over(gw)),
                                      F.sum("__bn").over(gw)))
           .withColumn("__prev", F.col("__cum") - F.col("__bn")))
    # per group: boundary bucket + rows already kept below it
    boundary = (bkt.filter(F.col("__cum") >= F.col("__k"))
                .groupBy(group_col)
                .agg(F.min_by(F.struct(F.col("__hb").alias("b"),
                                       F.col("__prev").alias("below"),
                                       F.col("__k").alias("k")),
                              F.col("__hb")).alias("__bd"))
                .select(group_col, F.col("__bd.b").alias("__bd_b"),
                        F.col("__bd.below").alias("__bd_below"),
                        F.col("__bd.k").alias("__bd_k")))
    joined = hashed.join(F.broadcast(boundary), on=group_col, how="inner")
    keep_low = joined.filter(F.col("__hb") < F.col("__bd_b"))
    # only the boundary bucket is ranked: expected n_g/256 rows/group
    rw = Window.partitionBy(F.col(group_col)).orderBy(F.col("__h"),
                                                      F.col(id_col))
    keep_edge = (joined.filter(F.col("__hb") == F.col("__bd_b"))
                 .withColumn("__rn", F.row_number().over(rw))
                 .filter(F.col("__rn") <= F.col("__bd_k") - F.col("__bd_below"))
                 .drop("__rn"))
    helpers = ["__h", "__hb", "__bd_b", "__bd_below", "__bd_k"]
    out = keep_low.unionByName(keep_edge).drop(*helpers)
    return DataFrame(out) if wrapped else out
