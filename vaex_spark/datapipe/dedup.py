"""Deduplication operators for training-data pipelines, Spark-first.

Five families, each designed for the 100 TB regime:

* exact_dedup        — hash-groupBy on a normalized fingerprint; the
  shuffle carries (hash, row) pairs only, AQE handles skew.
* minhash_lsh_dedup  — shingle -> minhash signature -> band-bucket ->
  bucket join.  All signature math is Column expressions (xxhash64 with
  per-permutation seeds + array aggregates), so the O(n·perm) work is
  JVM-side; only candidate pairs shuffle.
* simhash            — 64-bit simhash from token hashes; near-dup =
  small hamming distance within blocking buckets.
* ngram_jaccard      — exact Jaccard on shingle sets for candidate
  pairs (the verification stage after LSH).
* embedding near-dup — cosine threshold over LSH-bucketed embeddings
  (see similarity.py).

Scale notes: naive all-pairs similarity is O(n²) and is never
materialized here — every near-dup path goes shingle->bucket->join so
the candidate set stays near-linear for realistic duplicate rates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from . import stamp
from .text import _c, _let, _words, _words_sql, fingerprint, shingles
from ..cache import _register_persist
from ..dataframe import _sdf, _wrap
from ..plan import parse_bytes, range_partition_count, size_bytes


def _spread(sdf):
    """Minhash/simhash are CPU-bound Column math whose parallelism is
    the input split count, not the data size — a small file arrives as
    ONE partition and serializes 64-permutation hashing onto one core.
    Spread under-partitioned inputs to the session parallelism; at real
    scale (100 TB -> thousands of splits) this is a no-op, so the extra
    shuffle only ever touches small inputs.

    The small-input check reads the plan's size estimate and mirrors
    the scan's split math: fewer than ``defaultParallelism`` splits of
    ``maxPartitionBytes`` means under-partitioned, so spread."""
    spark = sdf.sparkSession
    target = spark.sparkContext.defaultParallelism
    split = parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                       "134217728"), 128 << 20)
    size = size_bytes(sdf)
    if size is not None and size < target * split:
        return sdf.repartition(target)
    return sdf


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True, keep: str = "min",
                strategy: str = "auto", quality_col=None):
    """Keep one row per distinct (normalized) text.

    * ``'window'`` — bodies never move: ONE exchange of (hash, id)
      pairs, row_number over partitionBy(fingerprint) keeps rank 1,
      then a semi-join back onto the scan.  The 100 TB default — the
      shuffle is id-sized and the table is only re-scanned, not moved.
    * ``'minby'`` — groupBy(fingerprint) -> min_by/max_by(full row):
      one scan, one exchange, no join — but the exchange carries the
      surviving row BODIES (partial agg drops duplicates map-side).
      Fastest when the table is modest or the duplicate rate is high;
      at 100 TB with low dup rates it moves nearly the whole table.
    * ``'auto'`` (default) — catalog size stats pick: inputs under one
      advisory partition per core go ``'minby'`` (fewer serial stages),
      larger inputs keep the bodies-never-move ``'window'`` plan.

    ``quality_col`` (name or Column) switches survivor selection from
    id order to QUALITY order: each duplicate group keeps its
    highest-``quality_col`` row, ties broken by lowest id (the curation
    pattern — keep the best-scoring copy, not the accidental first
    one).  Requires a numeric ``id_col``.  Same plan shapes: the id
    exchange just carries one extra numeric column.
    """
    sdf = _sdf(df)
    fp = fingerprint(F.col(text_col), normalize=normalize).alias("__fp")
    qk = (F.col(quality_col) if isinstance(quality_col, str)
          else quality_col)
    if strategy not in ("auto", "window", "minby"):
        raise ValueError(f"strategy={strategy!r}")
    if strategy == "auto":
        target = sdf.sparkSession.sparkContext.defaultParallelism
        size = size_bytes(sdf)
        strategy = ("minby" if size is not None and size < target * (64 << 20)
                    else "window")
    if strategy == "minby":
        row = F.struct(*[F.col(c) for c in sdf.columns])
        if qk is not None:
            # lexicographic max of (quality, -id): best quality, tie -> min id
            sel = sdf.select(fp, row.alias("__row"), qk.alias("__q"))
            key = F.struct(F.col("__q"),
                           (F.lit(0) - F.col(f"__row.{id_col}")))
            out = (sel.groupBy("__fp")
                   .agg(F.max_by("__row", key).alias("__row"))
                   .select("__row.*"))
        else:
            pick = F.min_by if keep == "min" else F.max_by
            out = (sdf.select(fp, row.alias("__row"))
                   .groupBy("__fp").agg(pick("__row", F.col(f"__row.{id_col}")).alias("__row"))
                   .select("__row.*"))
        return _wrap(out)
    # no _spread here: fingerprinting is one hash per row (not the
    # 64-permutation minhash case) and the window exchange below
    # redistributes anyway — a pre-repartition would shuffle the text
    # bodies a second time for nothing
    from pyspark.sql import Window
    pairs = (sdf.select(fp, F.col(id_col)) if qk is None
             else sdf.select(fp, F.col(id_col), qk.alias("__q")))
    if qk is not None:
        order = [F.col("__q").desc(), F.col(id_col).asc()]
    else:
        order = [F.col(id_col).asc() if keep == "min"
                 else F.col(id_col).desc()]
    w = Window.partitionBy("__fp").orderBy(*order)
    keepers = (pairs.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1).select(id_col))
    out = sdf.join(keepers, on=id_col, how="left_semi")
    return _wrap(out)


def exact_dup_groups(df, text_col: str = "text", id_col: str = "doc_id"):
    """Groups of exact duplicates: fingerprint, n_dups, member ids."""
    sdf = _sdf(df)
    fp = fingerprint(F.col(text_col)).alias("fp")
    out = (sdf.select(fp, F.col(id_col))
           .groupBy("fp")
           .agg(F.count(F.lit(1)).alias("n_dups"),
                F.sort_array(F.collect_list(id_col)).alias("ids"))
           .filter(F.col("n_dups") > 1))
    return _wrap(out)


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------
def minhash_signature(text, num_perm: int = 64, shingle_k: int = 5) -> Column:
    """MinHash signature as array<bigint>, ONE parsed SQL expression
    over a column name (or an Expression naming one).

    h_i(doc) = min over shingles of xxhash64(xxhash64(shingle), i) —
    each shingle string is hashed ONCE to a bigint, and the num_perm
    family members re-hash that 8-byte int (seeded xxhash64 of an int64
    is a valid universal family and ~an order of magnitude cheaper than
    re-hashing a ~30-byte string per permutation).  The permutation loop
    is ``transform`` over sequence(0, num_perm-1) with the base-hash
    array let-bound once; everything stays in codegen — no UDF, no
    explode.

    NULL text / NULL shingle array → NULL signature: the outer
    transform iterates a LITERAL sequence, so without the guard a null
    shingle array yields a non-null array of null minima — a
    "signature" the exploding :func:`_banded_long` form never emits
    (explode of the null gram array drops the doc).  One contract both
    ways: NULL docs are not near-dup candidates."""
    from ..colname import name_sql
    from .text import _shingles_sql
    return F.expr(_minhash_signature_sql(
        _shingles_sql(name_sql(text, "minhash_signature"), shingle_k),
        num_perm))


def _minhash_signature_sql(sh_sql: str, num_perm: int) -> str:
    """SQL text of :func:`minhash_signature` over a shingle-array SQL
    expression (base hashes let-bound once, null-signature guard,
    per-permutation array_min)."""
    base = f"transform({sh_sql}, s -> xxhash64(s))"
    body = (f"CASE WHEN arr IS NOT NULL THEN "
            f"transform(sequence(0, {int(num_perm) - 1}), "
            f"i -> array_min(transform(arr, h -> xxhash64(h, i)))) "
            f"ELSE cast(null as array<bigint>) END")
    return f"element_at(transform(array({base}), arr -> {body}), 1)"


def _minhash_bands_sql(sig_sql: str, num_bands: int, rows_per_band: int) -> str:
    """SQL text of the band-hash array over a signature SQL expression:
    xxhash64 of each contiguous '_'-joined signature slice, seed
    b + 1000.  The signature is let-bound so it is computed once, not
    per band; a NULL signature (NULL doc) gives a NULL band array, so
    ``posexplode`` drops the doc — matching :func:`_banded_long`."""
    rpb = int(rows_per_band)
    body = (f"CASE WHEN s IS NOT NULL THEN "
            f"transform(sequence(0, {int(num_bands) - 1}), "
            f"b -> xxhash64(array_join(transform(slice(s, b * {rpb} + 1, "
            f"{rpb}), x -> cast(x as string)), '_'), b + 1000)) "
            f"ELSE cast(null as array<bigint>) END")
    return f"element_at(transform(array({sig_sql}), s -> {body}), 1)"


def _gram_hashes(sdf, id_col, text_col, shingle_k):
    """(id, __h): one row per k-gram occurrence, hash of the space-
    joined gram.  r14 form: the per-doc HASH ARRAY is built in one
    transform (k ``try_element_at`` references per gram — no
    per-position slice allocation, no string-struct rows) and the
    8-byte longs are exploded, replacing the r13 arrays_zip-of-
    k-shifted-slices + per-row concat_ws form whose Generate carried
    k strings per gram row; A/B at sf0.1 (250k grams, noop):
    0.19/0.28 s vs 0.27/0.46 s min/med, and the downstream 64-perm
    signature aggregate 0.54/0.59 s vs 0.69/0.95 s.  ``try_element_at``
    past the end is NULL, which ``concat_ws`` skips — a short doc
    (n < k) emits one whole-text gram, exactly matching shingles()'s
    n<k branch.  Gram VALUES are identical to shingles(), so the
    hashes are identical too (exceptAll-pinned in tests)."""
    # assembled as ONE parsed SQL expression — on this driver a py4j
    # round-trip is 1-2 ms and a HOF lambda ~10 ms to construct, so
    # the Column form of this cost ~50 ms of plan build per call
    from ..colname import quote_name
    qn = quote_name(text_col)
    words = _words_sql(qn)
    refs = ", ".join(f"try_element_at(wd, i + {j})"
                     for j in range(shingle_k))
    harr = (f"transform(sequence(1, greatest(size(wd) - "
            f"{shingle_k - 1}, 1)), "
            f"i -> xxhash64(concat_ws(' ', {refs})))")
    # NULL text must emit an EMPTY array (explode drops the doc) — the
    # r13 zip form got that for free (explode(NULL) yields no rows);
    # without the guard a NULL doc would manufacture one phantom
    # xxhash64("") gram (the _winnow_fps_expr trap)
    sel = (f"CASE WHEN {qn} IS NOT NULL THEN "
           f"element_at(transform(array({words}), wd -> {harr}), 1) "
           f"ELSE cast(array() as array<bigint>) END")
    return sdf.select(F.col(id_col), F.explode(F.expr(sel)).alias("__h"))


def _banded_long(sdf, id_col, text_col, num_perm, num_bands, shingle_k):
    """The long-format (id, band, bucket) LSH relation — codegen fast
    path for the hot candidate-generation passes.

    BIT-IDENTICAL to ``posexplode`` of the :func:`_minhash_bands_sql`
    band array over :func:`minhash_signature` (asserted in tests): same
    xxhash64(gram) base hashes, same xxhash64(h, i) permutation family,
    same xxhash64('_'-joined signature slice, 1000+b) band buckets.
    The difference is purely physical: Spark's higher-order functions
    (transform/aggregate) are CodegenFallback — the row-level signature
    evaluates num_perm × n_shingles interpreted lambda calls per
    document — while this form explodes grams to rows and computes the
    num_perm minima as map-side-combined codegen aggregates (one
    doc-keyed exchange carrying num_perm longs per doc).  Both yield
    the same values, so persisted indexes stay compatible."""
    rows_per_band = num_perm // num_bands
    grams = _gram_hashes(sdf, id_col, text_col, shingle_k)
    # F.expr strings instead of nested Column calls: the 64-perm agg
    # list plus 32 band hashes are ~400 py4j round-trips as Columns
    # (~0.4 s of plan build on this driver at 1-2 ms/round-trip), one
    # parsed expression each as strings (r14)
    sig = grams.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(__h, {i})) as __s{i}")
          for i in range(num_perm)])
    bands = ", ".join(
        "xxhash64(concat_ws('_', " + ", ".join(
            f"cast(__s{b * rows_per_band + i} as string)"
            for i in range(rows_per_band)) + f"), {b + 1000})"
        for b in range(num_bands))
    return sig.select(F.col(id_col),
                      F.posexplode(F.expr(f"array({bands})"))
                      .alias("band", "bucket"))


def _banded_auto(sdf, id_col, text_col, num_perm, num_bands, shingle_k):
    """Stats-gated choice between the two band-table forms (values are
    bit-identical either way):

    * ONE advisory partition (Catalyst size stats): the row-level
      signature form — zero exchanges; the interpreted-HOF cost on a
      few MB of text is smaller than any shuffle's fixed cost
      (measured: 0.56 s vs 1.19 s at 5k docs).
    * larger frames: :func:`_banded_long` — the explode + codegen
      min-aggregate form; one doc-keyed exchange of num_perm longs per
      doc buys whole-stage-codegen hashing (measured: 1.9 s vs 4.2 s
      steady-state at 100k docs, and the gap is CPU-bound so it holds
      at 100 TB where the interpreted form's per-(gram × perm) lambda
      dispatch dominates)."""
    if (range_partition_count(sdf) or 2) <= 1:
        # whole band table as ONE parsed SQL expression (the same
        # tree built through the Column API cost ~0.25 s of py4j
        # HOF-lambda construction per plan build)
        from ..colname import quote_name
        from .text import _shingles_sql
        rows_per_band = num_perm // num_bands
        bands = F.expr(_minhash_bands_sql(
            _minhash_signature_sql(
                _shingles_sql(quote_name(text_col), shingle_k), num_perm),
            num_bands, rows_per_band))
        return sdf.select(F.col(id_col),
                          F.posexplode(bands).alias("band", "bucket"))
    return _banded_long(sdf, id_col, text_col, num_perm, num_bands, shingle_k)


def _cap_buckets(banded, max_bucket_size):
    """Drop LSH (band, bucket) groups larger than ``max_bucket_size``
    before a self-join — the bucket-size analogue of
    winnow_overlap_pairs' max_df cap: one bucket of m docs emits
    m(m−1)/2 pairs, so a single million-member template cluster makes
    the candidate join quadratic.  A capped bucket's members are by
    construction a giant near-identical cluster — route those through
    exact dedup (curate's first stage) instead of pairwise LSH.  One
    count-window partitioned on the join key; no extra job."""
    if max_bucket_size is None:
        return banded
    import logging
    from pyspark.sql import Window
    logging.getLogger(__name__).info(
        "LSH bucket cap active: (band, bucket) groups with > %d members "
        "are dropped from candidate generation", max_bucket_size)
    wb = Window.partitionBy("band", "bucket")
    return (banded.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= int(max_bucket_size)).drop("__bsz"))


def minhash_lsh_candidates(df, text_col: str = "text", id_col: str = "doc_id",
                           num_perm: int = 64, num_bands: int = 16,
                           shingle_k: int = 5,
                           max_bucket_size: "int | None" = None) -> SparkDataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    doc -> signature -> per-band bucket key -> self-join per bucket.
    Only same-bucket pairs materialize; distinct() dedups pairs found
    in several bands.  Returns (id_a, id_b) with id_a < id_b.
    ``max_bucket_size`` (opt-in) drops over-full buckets before the
    join — see :func:`_cap_buckets` for when that is the right trade.
    """
    sdf = _spread(_sdf(df).select(F.col(id_col), F.col(text_col)))
    # long-format (band, bucket, id) via the codegen fast path
    # (_banded_long — bit-identical to the row-level signature form),
    # persisted so the self-join's sides share one signature pass
    banded = _register_persist(_cap_buckets(
        _banded_auto(sdf, id_col, text_col, num_perm, num_bands, shingle_k),
        max_bucket_size))
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (left.join(right, on=[F.col("l.band") == F.col("r.band"),
                                  F.col("l.bucket") == F.col("r.bucket"),
                                  F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
             .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
             .distinct())
    return pairs


def _union_jaccard(na: Column, nb: Column, set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard from the union size alone (r15): the inputs are
    DISTINCT arrays, so |A∩B| = |A|+|B|−|A∪B| — one array_union per
    pair instead of union + intersect (the two were the dominant
    per-pair cost of every verify stage; sizes are integers, so the
    division sees bit-identical operands and the value is unchanged).
    try_divide: empty-set pairs (union size 0) stay null-jaccard under
    ANSI-on sessions instead of raising."""
    u = F.size(F.array_union(set_a, set_b))
    return F.try_divide((na + nb - u).cast("double"), u)


def _size_ratio_ok(na: Column, nb: Column, threshold: float) -> Column:
    """Necessary condition for jaccard >= threshold on set sizes (r15):
    |A∩B| <= min and |A∪B| >= max, so J >= t forces min >= t·max — a
    codegen integer compare that prunes pairs BEFORE the array_union.
    The 1e-6 slack covers the 6-decimal rounding applied to the
    reported jaccard (round-up of a J = t − 5e-7 pair) plus double
    arithmetic; false positives only cost the union they would have
    paid anyway, false negatives are impossible.  Measured at sf0.1
    (q36, t=0.9): keeps 19.0% of 1.05M candidate pairs."""
    return F.least(na, nb) >= (float(threshold) - 1e-6) * F.greatest(na, nb)


def _verified_jaccard(pairs, sets_df, id_col: str, threshold: float):
    """Verify tail for persisted-sliver paths whose blocking is LOOSE
    enough that the size-ratio prune is selective (r15): prune
    candidate pairs on the size-ratio condition via joins that carry
    ONLY (id, |set|) — guide §8's rule, decide with small rows, move
    the heavy shingle arrays once for the survivors.  The in-join form
    (filter after the array joins) measured ~nothing at sf0.1 because
    Catalyst folds the prune and the jaccard into one join condition
    and every candidate row still streams both arrays; splitting the
    prune into its own narrow joins dropped q36's verify tail 2.59 s →
    0.98 s on identical inputs (242 output rows, bit-identical).

    ``sets_df`` must be the persisted (id, __set, __n) sliver so the
    sizes projection is a cache read, not a shingle recompute."""
    sizes = sets_df.select(F.col(id_col), "__n")
    na, nb = sizes.alias("na"), sizes.alias("nb")
    pruned = (pairs
              .join(na, pairs["id_a"] == F.col(f"na.{id_col}"))
              .join(nb, pairs["id_b"] == F.col(f"nb.{id_col}"))
              .filter(_size_ratio_ok(F.col("na.__n"), F.col("nb.__n"),
                                     threshold))
              .select("id_a", "id_b"))
    return _jaccard_join(pruned, sets_df, id_col, threshold)


def _jaccard_join(pairs, sets_df, id_col: str, threshold: float | None):
    """The one Jaccard contract of every verify tail: bring both sides'
    (__set, __n) to each candidate pair, score the exact Jaccard
    rounded to 6 decimals, keep pairs whose ROUNDED value is at or
    above ``threshold`` (every pair when it is None).  Returns
    (id_a, id_b, jaccard)."""
    a, b = sets_df.alias("a"), sets_df.alias("b")
    jac = F.round(_union_jaccard(F.col("a.__n"), F.col("b.__n"),
                                 F.col("a.__set"), F.col("b.__set")), 6)
    out = (pairs
           .join(a, pairs["id_a"] == F.col(f"a.{id_col}"))
           .join(b, pairs["id_b"] == F.col(f"b.{id_col}"))
           .select("id_a", "id_b", jac.alias("jaccard")))
    return out if threshold is None else out.filter(F.col("jaccard") >= threshold)


def ngram_jaccard(df, pairs: SparkDataFrame | None = None, text_col: str = "text",
                  id_col: str = "doc_id", shingle_k: int = 5,
                  threshold: float | None = None) -> SparkDataFrame:
    """Exact shingle-set Jaccard for candidate pairs (LSH verification),
    rounded to 6 decimals like every verify tail (``_jaccard_join``);
    ``threshold=None`` keeps every pair.

    With pairs=None, verifies minhash_lsh_candidates output."""
    sdf = _spread(_sdf(df).select(F.col(id_col), F.col(text_col)))
    if pairs is None:
        pairs = minhash_lsh_candidates(df, text_col=text_col, id_col=id_col, shingle_k=shingle_k)
    sets_df = sdf.select(F.col(id_col),
                         F.array_distinct(shingles(text_col, k=shingle_k)).alias("__set"))
    sets_df = sets_df.select(F.col(id_col), "__set", F.size("__set").alias("__n"))
    return _jaccard_join(pairs, sets_df, id_col, threshold)


def near_dup_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                   shingle_k: int = 5, num_perm: int = 64, num_bands: int = 32,
                   threshold: float = 0.5,
                   max_bucket_size: "int | None" = None) -> SparkDataFrame:
    """One-pass MinHash-LSH near-dup detection with exact-Jaccard verify.

    Computes (id, shingle_set, signature) ONCE and persists it; both the
    band-bucket candidate join and the Jaccard verification join read
    from that cached relation — the raw text is scanned a single time
    (the round-1 form re-derived shingles three times).

    The default banding (r = num_perm/num_bands = 2 rows, 32 bands)
    gives per-pair recall 1-(1-s^2)^32 ≈ 0.9999 at s = 0.5 — chosen so
    the verified output equals the exact all-pairs-Jaccard >= threshold
    set (engine-independently checkable).  At larger scale / higher
    thresholds use wider rows-per-band (r=4) for fewer random-collision
    candidates at the cost of recall on borderline pairs.

    ``max_bucket_size`` (opt-in) drops over-full (band, bucket) groups
    before the candidate join (:func:`_cap_buckets`) — a guard for
    corpora with giant near-identical template clusters that exact
    dedup didn't remove first.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sdf = _spread(_sdf(df).select(F.col(id_col), F.col(text_col)))
    # candidate generation through the codegen fast path (_banded_long
    # — bit-identical values to the row-level signature form).  Persist
    # the narrow (id, band, bucket) relation: the self-join's two
    # sides would otherwise each recompute the full num_perm-hash
    # signature pass (no CSE across join branches) — caching num_bands
    # rows of (long,int,long) per doc halves the dominant CPU cost.
    # max_bucket_size (opt-in) caps (band, bucket) group sizes first —
    # see _cap_buckets.
    banded = _register_persist(_cap_buckets(
        _banded_auto(sdf, id_col, text_col, num_perm, num_bands, shingle_k),
        max_bucket_size))
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, on=[F.col("l.band") == F.col("r.band"),
                           F.col("l.bucket") == F.col("r.bucket"),
                           F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"))
             .distinct())
    pairs = _register_persist(pairs)  # pair-count-sized; referenced by involved + verify
    # verification scales with the PAIR set, not the corpus: semi-join
    # the docs down to ids that appear in a candidate pair, and compute
    # shingle sets only for those (duplicate rates are low, so this is
    # a sliver of the table; the full-corpus alternative is persisting
    # every shingle set — several times the raw text size).  r14: ONE
    # explode pass over the persisted pairs instead of union of two
    # projections + distinct — a left_semi probe side needs neither
    # the distinct (the join dedups by construction) nor two reads of
    # the pair cache; drops one exchange + one cache read at every
    # scale (A/B at sf0.1: 1.26 vs 1.68 s full-query min)
    involved = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col))
    # no broadcast hint: at a high duplicate rate the involved-id set is
    # billions of ids (tens of GB) and a forced broadcast bypasses
    # Spark's size check and OOMs the executors.  AQE sees the real
    # post-distinct size at the stage boundary and converts the
    # semi-join to broadcast exactly when it fits — same plan as the
    # hint at bench scale, graceful shuffle degrade at 100 TB.
    small = sdf.join(involved, on=id_col, how="left_semi")
    sets_df = small.select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, k=shingle_k)).alias("__set"))
    sets_df = _register_persist(sets_df.select(
        F.col(id_col), "__set", F.size("__set").alias("__n")))
    # union-only jaccard in the plain two-join shape — deliberately NOT
    # _verified_jaccard's narrow-join size prune (r15, measured): the
    # recall-1 banding above makes candidates ≈ the verified answer
    # (size-ratio keeps 94.5% of q35's pairs even at t=0.9, and the
    # default threshold is 0.5), so a structural prune would add two
    # joins' worth of stages at every scale to drop ~nothing — the
    # opposite of the simhash path, whose loose hamming blocking leaves
    # 81% of candidates size-prunable.  Flipped-order isolated ABAB at
    # sf0.1: structural 1.33 s vs this form ~0.97 s on q35.
    return _jaccard_join(pairs, sets_df, id_col, threshold)


def minhash_lsh_dedup(df, text_col: str = "text", id_col: str = "doc_id",
                      num_perm: int = 64, num_bands: int = 16,
                      shingle_k: int = 5, threshold: float = 0.8):
    """Full near-dup pipeline: LSH candidates -> exact Jaccard filter ->
    drop the higher id of each confirmed pair (connected-component-lite:
    iteratively keep min id; one pass suffices for pairwise drops)."""
    sdf = _sdf(df)
    confirmed = ngram_jaccard(df, text_col=text_col, id_col=id_col,
                              shingle_k=shingle_k, threshold=threshold,
                              pairs=minhash_lsh_candidates(
                                  df, text_col, id_col, num_perm, num_bands, shingle_k))
    to_drop = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return _wrap(sdf.join(to_drop, on=id_col, how="left_anti"))


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------
def simhash(text, num_bits: int = 64) -> Column:
    """64-bit SimHash from whitespace tokens, pure Column math.

    For each bit b: sum over tokens of sign(bit b of xxhash64(token));
    bit set if the sum is positive.  aggregate() over the token array
    does the voting without explode.

    NULL text → NULL hash (r9): every per-bit vote over a null token
    array is null, and ``when(null > 0)`` silently took the otherwise
    branch — all NULL docs got simhash 0, within blocking distance of
    every near-zero real hash.  A null simhash drops out of
    :func:`simhash_near_dups` naturally (null block keys never
    equi-join, null hamming never passes the filter)."""
    t = _c(text)
    tokens = _words(t)
    hashes = F.transform(tokens, lambda x: F.xxhash64(x))

    def _make_merge(b):
        # closure (not a default arg: pyspark reads lambda arity to pick
        # the (acc, x) vs (acc, x, i) calling convention)
        return lambda acc, h: acc + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    def _vote_bits(hs: Column) -> Column:
        out = F.lit(0).cast("long")
        for b in range(num_bits):
            vote = F.aggregate(hs, F.lit(0), _make_merge(b))
            # bit b set -> add 1<<b; shiftleft wraps at bit 63 (sign bit),
            # fine — we care about the 64-bit pattern, not the sign
            out = out + F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        return out

    # let-bind the hash array: 64 per-bit aggregates reference it without
    # re-running tokenization+hashing per bit.  The null guard must wrap
    # the OUTPUT: a null vote inside _vote_bits falls through when(v > 0)
    # to the otherwise(0) branch, so per-bit guards can't see it.
    return F.when(t.isNotNull(), _let(hashes, _vote_bits)).otherwise(
        F.lit(None).cast("long"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_long(sdf, id_col, text_col, num_bits):
    """(id, __sim): row-space codegen twin of the :func:`simhash`
    Column form — BIT-IDENTICAL values (the per-bit vote is an
    order-independent integer sum, so explode + 64 map-side-combined
    SUM aggregates equal the Column form's 64 interpreted
    ``aggregate()`` passes over the token-hash array).  Same move as
    minhash's ``_banded_long`` (r5): Spark HOFs are CodegenFallback,
    so the Column form evaluates num_bits × n_tokens interpreted
    lambdas per document — measured 7.5 s of the 9 s q36 wall at
    sf0.1 — while this form keeps every vote inside whole-stage
    codegen behind one doc-keyed exchange of (id, token-hash) longs.
    NULL-text docs drop at the explode, which IS the Column form's
    contract downstream (a NULL simhash never blocks, never pairs).
    """
    from ..colname import quote_name
    qn = quote_name(text_col)
    toks = sdf.select(
        F.col(id_col),
        F.explode(F.expr(_words_sql(qn))).alias("__t"))
    hashed = toks.select(id_col, F.xxhash64("__t").alias("__h"))
    # packed-lane vote sums (r15): one SUM per PAIR of bits instead of
    # one per bit.  SUM((__h >> k) & 0x0000000100000001) accumulates
    # bit k in the low 32 lane and bit k+32 in the high 32 lane of one
    # long (each token contributes 0/1 per lane; 32-bit lanes cannot
    # carry into each other below 2^32 tokens per doc, far beyond any
    # real document).  The per-bit vote sum(+1/-1) equals
    # 2*ones_b - n_tokens, so bit b is set iff 2*ones_b > n_tokens —
    # exact integer arithmetic, bit-identical __sim (probed on the
    # sf0.1 corpus: 0 mismatches; also pinned vs the Column form by
    # test_property).  Measured noop-sink at sf0.1: 64-sum 1.37 s →
    # 0.94 s vs the 0.87 s explode+exchange floor — half the aggregate
    # columns, and (h>>k)&mask drops the per-row CASE branch.
    lane_mask = 0x0000000100000001
    n_lanes = min(32, num_bits)
    aggs = [F.expr(f"sum(shiftright(__h, {k}) & {lane_mask}) as __L{k}")
            for k in range(n_lanes)]
    aggs.append(F.expr("count(*) as __nt"))
    lanes = hashed.groupBy(id_col).agg(*aggs)
    terms = []
    for b in range(num_bits):
        ones = (f"(__L{b} & 4294967295)" if b < 32
                else f"(__L{b - 32} >> 32)")
        terms.append(f"(CASE WHEN 2 * {ones} > __nt "
                     f"THEN shiftleft(cast(1 as bigint), {b}) "
                     f"ELSE cast(0 as bigint) END)")
    sim = " + ".join(terms)
    return lanes.select(F.col(id_col), F.expr(sim).alias("__sim"))


def simhash_near_dups(df, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3, num_bits: int = 64) -> SparkDataFrame:
    """Near-dups by simhash within blocking buckets.

    Blocking: split the 64-bit hash into (max_hamming+1) DISJOINT
    chunks — two docs within the distance share at least one exact
    chunk (pigeonhole), so the self-join runs per chunk bucket, not
    all-pairs.  Chunk widths are variable (r14): ``num_bits %
    n_chunks`` chunks get one extra bit, so ALL hash bits block.  The
    uniform-width form dropped the remainder bits — at max_hamming=12
    that left 12 of 64 bits unblocked and every chunk at 4 bits (16
    buckets), versus twelve 5-bit + one 4-bit chunk here: candidate
    volume halves per widened chunk while the pigeonhole argument
    (only disjointness + chunk count matter) and therefore the exact
    ``hamming <= max_hamming`` output are unchanged."""
    sdf = _spread(_sdf(df).select(F.col(id_col), F.col(text_col)))
    base = _simhash_long(sdf, id_col, text_col, num_bits)
    n_chunks = max_hamming + 1
    bits = num_bits // n_chunks
    extra = num_bits % n_chunks
    offs = []
    off = 0
    for i in range(n_chunks):
        w = bits + (1 if i < extra else 0)
        offs.append((off, w))
        off += w
    chunks = [F.shiftrightunsigned(F.col("__sim"), o).bitwiseAND(F.lit((1 << w) - 1)).alias("chunk")
              for o, w in offs]
    # persist the narrow blocked relation (same discipline as
    # near_dup_pairs' banded persist): the self-join's two children
    # would otherwise EACH recompute the signature aggregate — and
    # each child stage recompiles the 64-sum codegen separately
    # (distinct expression ids -> Janino cache miss).  Interleaved
    # ABAB at sf0.1: 1.4/1.6 s vs 8.9/9.3 s min/med (r14).
    blocked = _register_persist(
        base.select(F.col(id_col), F.col("__sim"),
                    F.posexplode(F.array(*[c for c in chunks]))
                    .alias("ci", "chunk")))
    l, r = blocked.alias("l"), blocked.alias("r")
    # canonical-chunk dedup (r14): a pair within distance shares one
    # chunk per pigeonhole but typically MATCHES several (measured at
    # sf0.1 h=12: 5.5M hamming-passing join rows for 1.05M unique
    # pairs), and the old `.distinct()` shuffled that multiplicity.
    # Emitting a pair ONLY from its FIRST matching chunk — ci equals
    # the smallest j whose chunk bits of l.__sim XOR r.__sim are all
    # zero, a per-row codegen CASE over the chunk masks — produces
    # each pair exactly once, so the distinct exchange disappears
    # from the plan entirely.  Masks are two's-complement signed-long
    # literals (the top chunk's mask overflows an unsigned SQL long).
    def _sl(m):
        return m - (1 << 64) if m >= (1 << 63) else m
    first = "CASE " + " ".join(
        f"WHEN ((l.`__sim` ^ r.`__sim`) & {_sl(((1 << w) - 1) << o)}L) = 0 "
        f"THEN {i}" for i, (o, w) in enumerate(offs)) + " END"
    pairs = (l.join(r, on=[F.col("l.ci") == F.col("r.ci"),
                           F.col("l.chunk") == F.col("r.chunk"),
                           F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
             .filter(F.expr(f"l.ci = ({first})"))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     hamming64(F.col("l.__sim"), F.col("r.__sim")).alias("hamming"))
             .filter(F.col("hamming") <= max_hamming))
    return pairs


def connected_components(pairs: SparkDataFrame, max_iter: int = 32,
                         shortcut: bool = True,
                         strict: bool = True) -> SparkDataFrame:
    """Distributed connected components over an edge list (id_a, id_b):
    returns (id, component) where component = min id reachable.

    Label-propagation to the minimum neighbor with POINTER JUMPING:
    after each neighbor-min round the label relation is composed with
    itself (comp <- label(comp)), so the distance a label has traveled
    doubles per round — O(log diameter) rounds instead of O(diameter).
    Near-dup graphs are usually star-shaped (1-2 rounds either way),
    but chain/path components (transitive near-dup bridges) would need
    diameter rounds under plain propagation and silently ship WRONG
    labels when max_iter ran out; with shortcutting the reach doubles
    per round, so a 2^20-diameter path takes ~22 rounds (20 doublings,
    one +1-step round, one zero-change detection round — probed exactly
    in scale_smoke.cc_path_graph) and the default budget of 32 covers
    any graph to diameter ~2^30.  Rounds after convergence never run,
    and ``strict=True`` raises instead of returning unconverged labels.  Each round is a groupBy
    plus a self-join of the (node, label) relation only; at 100 TB the
    edge list is the near-dup pair set (tiny versus the corpus), so the
    iteration cost is negligible next to candidate generation.
    """
    F_ = F
    edges = (pairs.select(F_.col("id_a").alias("src"), F_.col("id_b").alias("dst"))
             .union(pairs.select(F_.col("id_b").alias("src"), F_.col("id_a").alias("dst"))))
    edges = edges.persist()
    labels = (edges.select("src").distinct()
              .select(F_.col("src").alias("id"), F_.col("src").alias("comp")))
    converged = False
    for _ in range(max_iter):
        # candidate label for each node: min over its own label and its
        # neighbors' labels.  The node's OWN old label rides the union
        # as __old (each id has exactly one labels row, so max() over
        # the group recovers it; neighbor rows carry NULL) — the
        # convergence check below then reads a per-row flag off the
        # checkpoint instead of re-joining new labels against old,
        # which cost one full labels-join + exchange PER ROUND (r14).
        comp_dt = dict(labels.dtypes)["comp"]
        neighbor = (edges.join(labels, edges["dst"] == labels["id"])
                    .select(edges["src"].alias("id"), F_.col("comp"),
                            F_.lit(None).cast(comp_dt).alias("__old")))
        new_labels = (labels.select("id", "comp",
                                    F_.col("comp").alias("__old"))
                      .union(neighbor)
                      .groupBy("id").agg(F_.min("comp").alias("comp"),
                                         F_.max("__old").alias("__old")))
        if shortcut:
            # comp values are node ids, and every node has a label row,
            # so label(comp) always exists; it is <= comp (labels only
            # decrease), making the composition safe and monotone.
            l2 = new_labels.select(F_.col("id").alias("__cid"),
                                   F_.col("comp").alias("__ccomp"))
            new_labels = (new_labels.join(l2, new_labels["comp"] == l2["__cid"])
                          .select("id", F_.least("comp", "__ccomp").alias("comp"),
                                  "__old"))
        new_labels = new_labels.select(
            "id", "comp", (F_.col("comp") != F_.col("__old")).alias("__chg"))
        # localCheckpoint, not persist: each round references the
        # previous labels 2-3x, so without lineage truncation the
        # logical plan TRIPLES per round and Catalyst re-optimization
        # goes exponential past ~8 rounds.  Checkpointing keeps the
        # per-round plan constant-size (the standard iterative-algorithm
        # discipline; executor-loss recomputation is not a concern for
        # per-round temporary state).
        #
        # eager=False + a FULL count (r15): the count action computes
        # every partition of the checkpoint-marked RDD, so it both
        # materializes the checkpoint AND returns the convergence
        # signal in ONE job — eager=True paid a materialization job and
        # then a second limit(1).count() job per round.  No limit: a
        # limit'd scan could leave partitions uncomputed, and
        # LocalRDDCheckpointData would launch its own job to fill them.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F_.col("__chg")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if strict and not converged:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; raise max_iter (labels would be silently wrong)")
    return labels


def minhash_lsh_dedup_cc(df, text_col: str = "text", id_col: str = "doc_id",
                         num_perm: int = 64, num_bands: int = 32,
                         shingle_k: int = 5, threshold: float = 0.8):
    """Cluster-level near-dup removal: verified pairs -> connected
    components -> keep the minimum id of each duplicate CLUSTER.

    Pairwise drops (minhash_lsh_dedup) are wrong for star graphs: with
    pairs (a,b) and (c,b) where a<c<b, dropping the higher id of each
    pair keeps both a and c even though {a,b,c} is one duplicate
    cluster.  Components give canonical one-survivor-per-cluster
    semantics."""
    sdf = _sdf(df)
    confirmed = near_dup_pairs(df, text_col=text_col, id_col=id_col,
                               shingle_k=shingle_k, num_perm=num_perm,
                               num_bands=num_bands, threshold=threshold)
    comp = connected_components(confirmed)
    to_drop = comp.filter(F.col("id") != F.col("comp")).select(F.col("id").alias(id_col))
    return _wrap(sdf.join(to_drop, on=id_col, how="left_anti"))


def simhash_verified_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                           max_hamming: int = 3, shingle_k: int = 5,
                           threshold: float = 0.9) -> SparkDataFrame:
    """SimHash-blocked near-dups verified by exact shingle Jaccard.

    SimHash + pigeonhole blocking is the candidate pruner — complete for
    hamming <= max_hamming (a pair within the distance shares at least
    one exact 16-bit chunk).  The returned pairs are candidates with
    exact Jaccard >= threshold: an engine-independent value set whenever
    {jaccard >= threshold} ⊆ {hamming <= max_hamming}, which holds for
    near-identical documents (simhash of heavily-overlapping token
    multisets differs in few bits) and is what the oracle checks.
    """
    from ..cache import _register_persist
    pairs = _register_persist(
        simhash_near_dups(df, text_col=text_col, id_col=id_col,
                          max_hamming=max_hamming))
    sdf = _spread(_sdf(df).select(F.col(id_col), F.col(text_col)))
    # r14: verification scales with the PAIR set, not the corpus —
    # the same pruned-verify shape as near_dup_pairs (shingle sets
    # were previously computed for the FULL corpus in BOTH join
    # branches); one explode pass over the persisted pairs feeds a
    # left_semi, and the sliver's sets are persisted for the two
    # verify joins
    involved = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col))
    small = sdf.join(involved, on=id_col, how="left_semi")
    # r15: persist |set| with the set, prune pairs on the size-ratio
    # necessary condition BEFORE any per-pair array work, and compute
    # jaccard from the union size alone (|A∩B| = |A|+|B|−|A∪B|).  The
    # verify stage was q36's wall (5.0 s full vs 1.7 s candidate stage
    # at sf0.1): 1.05M candidate pairs each paid array_intersect +
    # array_union over ~200-shingle sets; the prune keeps 19%, the
    # survivors pay ONE union — both effects scale with the pair set,
    # not the bench.
    sets_df = _register_persist(small.select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, k=shingle_k)).alias("__set"))
        .select(F.col(id_col), "__set", F.size("__set").alias("__n")))
    return _verified_jaccard(pairs, sets_df, id_col, threshold)


def contamination(docs, probes, k: int = 8, text_col: str = "text",
                  id_col: str = "doc_id", probe_text_col: str | None = None,
                  probe_id_col: str | None = None) -> SparkDataFrame:
    """Benchmark-contamination check: which corpus documents contain a
    k-word shingle of any probe (benchmark/eval) text — the standard
    n-gram-overlap decontamination test from the GPT-3/PaLM reports.

    Returns (doc_id, probe_id, n_overlap) where n_overlap counts the
    DISTINCT shared k-shingles.

    100 TB plan: both sides explode to (id, shingle) and de-dup per id;
    the probe side (benchmarks are ~MBs) broadcasts, so the corpus never
    shuffles — the join happens map-side inside the scan stage.  Text
    bodies are pruned out of the exchange; only (id, 64-bit gram hash)
    pairs flow.
    """
    probe_text_col = probe_text_col or text_col
    probe_id_col = probe_id_col or id_col
    d = _sdf(docs)
    p = _sdf(probes)
    dg = (d.select(F.col(id_col).alias("doc_id"),
                   F.explode(shingles(text_col, k=k)).alias("_g"))
          .withColumn("_h", F.xxhash64("_g")).drop("_g").distinct())
    pg = (p.select(F.col(probe_id_col).alias("probe_id"),
                   F.explode(shingles(probe_text_col, k=k)).alias("_g"))
          .withColumn("_h", F.xxhash64("_g")).drop("_g").distinct())
    out = (dg.join(F.broadcast(pg), on="_h")
           .groupBy("doc_id", "probe_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_overlap")))
    return out


def _bloom_plan_wins(nsdf, ssdf, min_corpus_ratio: float) -> bool:
    """The crossover decision: True when Catalyst's size stats say the
    corpus is at least ``min_corpus_ratio`` × the batch (both stats
    known), i.e. the bloom plan's corpus-scan-not-exchange trade pays.
    ``min_corpus_ratio <= 0`` forces True.  Unknown stats → False: the
    BUILD gate (corpus_wants_bloom) must not green-light paying a
    corpus scan on a guess."""
    if min_corpus_ratio <= 0:
        return True
    corpus_b, batch_b = size_bytes(ssdf), size_bytes(nsdf)
    return (corpus_b is not None and batch_b is not None
            and corpus_b >= min_corpus_ratio * max(batch_b, 1))


def _bloom_plan_loses(nsdf, ssdf, min_corpus_ratio: float) -> bool:
    """The DISCARD decision for an already-supplied bloom: True only on
    a CONFIRMED ratio failure (both stats known and corpus <
    ``min_corpus_ratio`` × batch).  Unknown stats → False: the caller
    already paid the corpus scan to build the filter, so the
    documented corpus>>batch plan must stay reachable when Catalyst
    can't price the inputs (e.g. a join-product batch) — the opposite
    default from the build gate above."""
    if min_corpus_ratio <= 0:
        return False
    corpus_b, batch_b = size_bytes(ssdf), size_bytes(nsdf)
    return (corpus_b is not None and batch_b is not None
            and corpus_b < min_corpus_ratio * max(batch_b, 1))


def corpus_wants_bloom(new_df, seen_df,
                       bloom_min_corpus_ratio: float = 4.0) -> bool:
    """Should this snapshot build/load a corpus Bloom filter at all?

    The same stats-only crossover exact_dedup_incremental applies to a
    SUPPLIED bloom, exposed up front so a pipeline can skip the build
    (one corpus scan) when the plain fingerprint anti-join is going to
    win anyway — deciding before paying, not discarding after.  Zero
    Spark jobs: pure Catalyst size stats."""
    return _bloom_plan_wins(_sdf(new_df), _sdf(seen_df),
                            bloom_min_corpus_ratio)


def exact_dedup_incremental(new_df, seen_df, text_col: str = "text",
                            id_col: str = "doc_id", normalize: bool = True,
                            keep: str = "min", bloom: "BloomFilter | None" = None,
                            bloom_min_corpus_ratio: float = 4.0):
    """Incremental snapshot dedup: drop rows of ``new_df`` whose
    (normalized) text already exists in ``seen_df`` (the prior corpus),
    then exact-dedup the survivors within the batch.

    100 TB shape: both sides reduce to fingerprints before anything
    moves — the anti-join shuffles (hash) vs (hash, id) only, never
    text; within-batch dedup reuses exact_dedup's window strategy.
    ``seen_df`` may be the prior corpus (fingerprinted here) or an
    already-materialized one-column fingerprint table named ``__fp`` —
    the idiomatic pattern is to persist the fingerprint table between
    snapshot runs instead of re-hashing history every time.

    ``bloom`` (a BloomFilter over the corpus fingerprints, see
    build_fingerprint_bloom) upgrades the plan from corpus-SHUFFLING to
    corpus-SCANNING: rows the filter rejects are definitely fresh and
    never enter a join (map-side Column filter); only the maybe-dup
    remainder (true dups + ~fpp of the batch) is checked exactly, by
    semi-joining the corpus against the BROADCAST maybe-fingerprint set
    and anti-joining the small confirmed-dup set back.  The corpus is
    read once map-side and never exchanged; results are identical to
    the bloom-less path (the filter has no false negatives).

    The bloom path only pays off when the corpus dwarfs the batch: its
    win is replacing the corpus EXCHANGE with a map-side scan, at the
    cost of extra stages (Arrow membership scan, maybe-set distinct +
    broadcast, a second anti-join).  When corpus ≈ batch the plain
    anti-join shuffles the same volume with fewer stages and wins
    (measured crossover, SCALECHECK bloom_dedup row).  So even with ``bloom``
    supplied, the plan falls back to the anti-join when Catalyst's
    size stats CONFIRM corpus < ``bloom_min_corpus_ratio`` × batch;
    when either stat is unknown (e.g. the batch is a join product) a
    supplied bloom stays in force — the caller already paid its build
    scan, and only a confirmed ratio failure may discard it (the
    build-side gate, corpus_wants_bloom, keeps the opposite
    conservative default).  Pass ``bloom_min_corpus_ratio=0`` to force
    the bloom path."""
    nsdf, ssdf = _sdf(new_df), _sdf(seen_df)
    fp = fingerprint(F.col(text_col), normalize=normalize)
    if "__fp" in ssdf.columns:
        stamp.check(ssdf, "fp", normalize=normalize)
        seen_fp = ssdf.select("__fp")
    else:
        seen_fp = ssdf.select(fp.alias("__fp"))
    if bloom is not None and _bloom_plan_loses(nsdf, ssdf,
                                               bloom_min_corpus_ratio):
        bloom = None  # CONFIRMED corpus-too-small; unknown stats keep
        # the supplied bloom (the caller already paid its build scan)
    if bloom is not None:
        keyed = nsdf.select(fp.alias("__fp"), F.col(id_col))
        maybe_flag = bloom_might_contain(bloom, F.col("__fp"), nsdf.sparkSession)
        maybe_fps = keyed.filter(maybe_flag).select("__fp").distinct()
        dup_fps = seen_fp.distinct().join(F.broadcast(maybe_fps), on="__fp",
                                          how="left_semi")
        fresh_ids = (keyed.join(F.broadcast(dup_fps), on="__fp", how="left_anti")
                     .select(id_col))
        fresh = nsdf.join(fresh_ids, on=id_col, how="left_semi")
    else:
        # one anti-join of the rows themselves: an anti-join ignores
        # duplicates on its right side, so the seen fingerprints need
        # no distinct and the rows no semi-join back by id.  The
        # fingerprint rides under a name none of the caller's columns
        # has; null-id rows go, as the bloom path's id semi-join drops
        # them.
        tmp = "__fp"
        while tmp in nsdf.columns:
            tmp = "_" + tmp
        fresh = (nsdf.filter(F.col(id_col).isNotNull()).withColumn(tmp, fp)
                 .join(seen_fp.withColumnRenamed("__fp", tmp), on=tmp,
                       how="left_anti")
                 .drop(tmp))
    return exact_dedup(_wrap(fresh), text_col=text_col, id_col=id_col,
                       normalize=normalize, keep=keep)


def corpus_fingerprints(df, text_col: str = "text", normalize: bool = True):
    """The persistable fingerprint table for exact_dedup_incremental,
    stamped with ``normalize`` (stamp.py)."""
    sdf = _sdf(df)
    return _wrap(stamp.write(sdf.select(
        fingerprint(F.col(text_col), normalize=normalize).alias("__fp"))
        .distinct(), "fp", normalize=normalize))


# --------------------------------------------------------------------------
# Bloom-filter membership summary (corpus-shuffle-free incremental dedup)
# --------------------------------------------------------------------------
class BloomFilter:
    """Broadcastable Bloom filter over 64-bit fingerprints.

    Standard m-bit / k-hash filter with Kirsch–Mitzenmacher double
    hashing (g_i = h1 + i*h2 mod m over the fingerprint's two 32-bit
    halves) — no false negatives, ~``fpp`` false positives at the stated
    capacity.  All probe arithmetic is vectorized numpy over Arrow
    batches; the bitmap serializes to ``m/8`` bytes (``to_bytes``/
    ``from_bytes``) so snapshot pipelines can persist it next to the
    fingerprint table and skip rebuilds.  Practical single-filter bound
    is ~1e8 keys (~120 MB at 1% fpp — broadcast-sized); shard by
    fingerprint prefix beyond that.
    """

    def __init__(self, m_bits: int, k: int, words=None):
        import numpy as np
        assert m_bits % 64 == 0 and m_bits > 0
        self.m = m_bits
        self.k = max(1, int(k))
        self.words = (np.zeros(m_bits // 64, dtype=np.uint64)
                      if words is None else words)

    @classmethod
    def for_capacity(cls, capacity: int, fpp: float = 0.01) -> "BloomFilter":
        import math
        n = max(1, int(capacity))
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = ((m + 63) // 64) * 64
        k = max(1, round(m / n * math.log(2)))
        return cls(m, k)

    def _positions(self, fps):
        import numpy as np
        u = fps.astype(np.int64).view(np.uint64)
        h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
        h2 = (u >> np.uint64(32)).astype(np.uint64) | np.uint64(1)
        m = np.uint64(self.m)
        return [((h1 + np.uint64(i) * h2) % m) for i in range(self.k)]

    def add_np(self, fps) -> None:
        import numpy as np
        for pos in self._positions(fps):
            np.bitwise_or.at(self.words, (pos >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (pos & np.uint64(63)))

    def might_contain_np(self, fps):
        import numpy as np
        out = np.ones(len(fps), dtype=bool)
        for pos in self._positions(fps):
            bit = (self.words[(pos >> np.uint64(6)).astype(np.int64)]
                   >> (pos & np.uint64(63))) & np.uint64(1)
            out &= bit.astype(bool)
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        self.words |= other.words
        return self

    def to_bytes(self) -> bytes:
        import struct
        return struct.pack("<qq", self.m, self.k) + self.words.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        import struct

        import numpy as np
        m, k = struct.unpack("<qq", raw[:16])
        return cls(m, k, np.frombuffer(raw[16:], dtype=np.uint64).copy())


def _estimate_rows(sdf) -> "int | None":
    """Row-count estimate from Catalyst's size stats, no job.

    The one-column long projection is estimated by EstimationUtils at
    ~16 bytes/row (8 B row overhead + 8 B long), so plan-size/16 ≈ rows.
    Compression skew in the underlying scan bytes makes this a rough
    bound either way — callers must tolerate both directions (a Bloom
    capacity overestimate wastes broadcast-sized bitmap bytes, an
    underestimate raises fpp but never breaks correctness)."""
    size = size_bytes(sdf)
    if size is None:
        return None
    return max(1, size // 16)


def build_fingerprint_bloom(df, text_col: str = "text", fp_col: str | None = None,
                            capacity: int | None = None, fpp: float = 0.01,
                            normalize: bool = True) -> BloomFilter:
    """One-scan distributed Bloom build over corpus fingerprints.

    Each partition packs its fingerprints into an m-bit bitmap inside
    ``mapInPandas`` (numpy, Arrow-batched); only the per-partition
    bitmaps (m/8 bytes each) return to the driver, where they OR
    together — the classic treeAggregate shape, no data shuffle at all.
    ``fp_col`` reads an existing fingerprint column (e.g. the persisted
    ``__fp`` table from corpus_fingerprints); otherwise fingerprints are
    computed from ``text_col`` JVM-side.  ``capacity=None`` sizes the
    bitmap from Catalyst's plan stats when available (zero jobs — a 2×
    safety margin absorbs the estimate's compression skew; an
    undersized bitmap only raises fpp, never produces false negatives)
    and falls back to one count job when the catalog has no stats."""
    import pandas as pd
    sdf = _sdf(df)
    if fp_col is None:
        fps = sdf.select(fingerprint(F.col(text_col),
                                     normalize=normalize).alias("__fp"))
    else:
        fps = sdf.select(F.col(fp_col).alias("__fp"))
    if capacity is None:
        est = _estimate_rows(fps)
        capacity = max(4096, 2 * est) if est is not None else fps.count()
    proto = BloomFilter.for_capacity(capacity, fpp)
    m, k = proto.m, proto.k

    def pack(batches):
        part = BloomFilter(m, k)
        for pdf in batches:
            part.add_np(pdf["__fp"].to_numpy())
        yield pd.DataFrame({"bits": [part.to_bytes()]})

    out = BloomFilter(m, k)
    for row in fps.mapInPandas(pack, schema="bits binary").collect():
        out.merge(BloomFilter.from_bytes(row["bits"]))
    return out


def bloom_might_contain(bloom: BloomFilter, col: Column, spark) -> Column:
    """Vectorized membership Column: True = possibly seen, False =
    definitely fresh.  The bitmap ships once per executor as a Spark
    broadcast, not per-task in the plan."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    bc = spark.sparkContext.broadcast(bloom.to_bytes())

    def _member(fps):
        bf = BloomFilter.from_bytes(bc.value)
        return pd.Series(bf.might_contain_np(fps.to_numpy()))

    # real annotation objects: the module's `from __future__ import
    # annotations` would stringify inline hints, which the pandas_udf
    # eval-type inference cannot resolve
    _member.__annotations__ = {"fps": pd.Series, "return": pd.Series}
    return pandas_udf(_member, "boolean")(col)


def corpus_lsh_index(corpus, text_col: str = "text", id_col: str = "doc_id",
                     shingle_k: int = 5, num_perm: int = 64,
                     num_bands: int = 32):
    """The persistable MinHash-LSH index of a corpus: (id, band, bucket),
    one row per band.  Write it to parquet once per snapshot and feed it
    to near_dup_against_corpus(corpus_index=...) — each incoming batch
    then skips the 64-permutation re-hash of the ENTIRE corpus (the
    dominant cost at 100 TB; the index is ~num_bands x 16 B a document).
    Must be built with the same (shingle_k, num_perm, num_bands) the
    batch side uses — the seed family is deterministic, so equal params
    mean equal buckets."""
    csdf = _sdf(corpus).select(F.col(id_col), F.col(text_col))
    # codegen fast path; values bit-identical to the row-level signature
    # form, so indexes built by either path interoperate.  The build
    # parameters ride in the artifact (stamp.py).
    return _wrap(stamp.write(_banded_auto(csdf, id_col, text_col,
                                          num_perm, num_bands, shingle_k),
                             "minhash", shingle_k=shingle_k,
                             num_perm=num_perm, num_bands=num_bands))


def near_dup_against_corpus(batch, corpus, text_col: str = "text",
                            id_col: str = "doc_id", shingle_k: int = 5,
                            num_perm: int = 64, num_bands: int = 32,
                            threshold: float = 0.5, corpus_index=None):
    """Fuzzy incremental dedup: drop ``batch`` documents whose exact
    shingle-Jaccard against ANY ``corpus`` document reaches
    ``threshold``; returns the surviving batch rows.

    The MinHash band tables of both sides share one seed family, so
    candidates come from a plain (band, bucket) equi-join — batch bands
    against corpus bands, never a self-join of the union.  Then each
    candidate is verified once: the distinct (batch id, corpus id)
    pairs join the batch's shingle sets (built over the whole batch,
    which the band table reads anyway) and the corpus texts by id, so
    the corpus is touched only through candidate ids; survivors of the
    size-ratio prune get the exact Jaccard.  The default banding
    (r=2, b=32) puts per-pair recall at ~0.9999 for s >= 0.5, matching
    the engine-independent oracle.  ``corpus_index`` accepts the persisted
    corpus_lsh_index table (built with the SAME parameters); without it
    the band table is derived in-plan, i.e. the whole corpus is
    re-hashed on every batch.
    """
    bsdf = _spread(_sdf(batch).select(F.col(id_col), F.col(text_col)))

    def band_table(sdf):  # stats-gated; both forms give identical bands
        return _banded_auto(sdf, id_col, text_col,
                            num_perm, num_bands, shingle_k)

    # no persists: a cached relation plans as its own nested AQE query
    # and would run the batch's whole upstream screen a second time
    # beside the main plan.  Each relation has one use instead (the
    # band table and the batch sets share the spread's exchange), and
    # the call leaves nothing cached behind.
    bb = band_table(bsdf)
    if corpus_index is not None:
        cix = _sdf(corpus_index)
        stamp.check(cix, "minhash", shingle_k=shingle_k, num_perm=num_perm,
                    num_bands=num_bands)
        cb = cix.select(F.col(id_col), "band", "bucket")
    else:
        # spread only when the corpus is minhashed here; otherwise its
        # texts are only fetched by candidate id below
        cb = band_table(_spread(
            _sdf(corpus).select(F.col(id_col), F.col(text_col))))
    cand = (bb.alias("b").join(cb.alias("c"),
                               on=[F.col("b.band") == F.col("c.band"),
                                   F.col("b.bucket") == F.col("c.bucket")])
            .select(F.col(f"b.{id_col}").alias("__bid"),
                    F.col(f"c.{id_col}").alias("__cid"))
            .distinct())
    # filter, then verify each candidate once: cand feeds ONE join
    bsets = bsdf.select(
        F.col(id_col).alias("__bid"),
        F.array_distinct(shingles(text_col, k=shingle_k)).alias("__sb")
    ).select("__bid", "__sb", F.size("__sb").alias("__nb"))
    ctext = _sdf(corpus).select(F.col(id_col).alias("__cid"),
                                F.col(text_col).alias("__ct"))
    nb, sb = F.col("__nb"), F.col("__sb")

    def verified(sc):
        # r15: size-ratio prune before the per-pair array work +
        # union-only jaccard (see _size_ratio_ok/_union_jaccard)
        nc = F.size(sc)
        return (_size_ratio_ok(nb, nc, threshold)
                & (F.round(_union_jaccard(nb, nc, sb, sc), 6) >= threshold))

    # the corpus set is let-bound: the filter lands in the join
    # condition, where each plain reference would re-shingle the text
    dupes = (cand.join(bsets, on="__bid").join(ctext, on="__cid")
             .filter(_let(F.array_distinct(shingles("__ct", k=shingle_k)),
                          verified))
             .select(F.col("__bid").alias(id_col)).distinct())
    out = _sdf(batch).join(dupes, on=id_col, how="left_anti")
    return _wrap(out)


def duplicated_spans(df, text_col: str = "text", id_col: str = "doc_id",
                     width: int = 10, min_docs: int = 2):
    """Exact duplicated-substring detection, the Spark rendering of
    suffix-array substring dedup (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better', arXiv:2107.06499):
    every ``width``-token sliding window is hashed; a window occurring
    in >= ``min_docs`` DISTINCT documents is a duplicated span.

    Returns per-doc stats (doc_id, n_spans, n_dup_spans, dup_frac) —
    the removal policy (strip the spans, or drop high-dup_frac docs)
    composes downstream.

    Scale design (100 TB): the exploded relation is one row per token
    position, but it is narrow — (doc_id, xxhash64) only, never span
    text — and both consumers aggregate it with map-side partial
    combine, so the shuffle carries hash keys, not corpus bytes.  The
    narrow relation is persisted so the dup-hash filter and the per-doc
    recount share one tokenize+hash pass.  Hash collisions merge
    unrelated spans at ~N^2/2^65 expected pairs — negligible below
    ~10^9 distinct spans per byte-identical semantics of the oracle.
    """
    sdf = _sdf(df)
    words = _words(text_col)
    n = F.size(words)
    span_hashes = F.when(
        n >= width,
        F.transform(F.sequence(F.lit(0), n - width),
                    lambda i: F.xxhash64(F.array_join(F.slice(words, i + 1, width), " ")))
    ).otherwise(F.array().cast("array<bigint>"))
    base = sdf.select(F.col(id_col), span_hashes.alias("__spans"))
    exploded = _register_persist(
        base.select(F.col(id_col), F.explode("__spans").alias("__h")))
    dup_hashes = (exploded.groupBy("__h")
                  .agg(F.countDistinct(id_col).alias("__nd"))
                  .filter(F.col("__nd") >= min_docs)
                  .select("__h"))
    dup_per_doc = (exploded.join(dup_hashes, on="__h")
                   .groupBy(id_col)
                   .agg(F.count(F.lit(1)).alias("n_dup_spans")))
    # span COUNT is n - width + 1 by construction — recompute it from
    # the cheap tokenize only, never a second window-hash pass
    n_spans = F.when(n >= width, (n - width + 1).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
    stats = (sdf.select(F.col(id_col), n_spans.alias("n_spans"))
             .join(dup_per_doc, on=id_col, how="left")
             .withColumn("n_dup_spans", F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long"))
             .withColumn("dup_frac",
                         F.when(F.col("n_spans") > 0,
                                F.round(F.col("n_dup_spans").cast("double") /
                                        F.col("n_spans"), 6))
                         .otherwise(F.lit(0.0))))
    return _wrap(stats)


def strip_duplicated_spans(df, text_col: str = "text", id_col: str = "doc_id",
                           width: int = 10, min_docs: int = 2):
    """The REMOVAL policy for duplicated substrings (the other half of
    duplicated_spans, per Lee et al. 2022 arXiv:2107.06499 — they strip
    the duplicated text rather than drop documents): every token
    covered by any duplicated ``width``-token window is removed; the
    surviving tokens rejoin in original order.  Output text is the
    NORMALIZED token stream (lowercased, whitespace-collapsed) — the
    convention of the rest of the dedup family.

    Returns (doc_id, text); documents reduced to nothing keep ''.

    Scale design: same narrow (id, pos, hash) exploded relation as
    duplicated_spans (persisted — the dup-hash aggregate and the
    coverage join share one tokenize+hash pass); coverage explodes
    ONLY duplicated windows (bounded by the dup set, not the corpus);
    the rebuild is one groupBy(id) sort-struct aggregate — token text
    shuffles exactly once, for the rebuild."""
    sdf = _sdf(df)
    words = _words(text_col)
    n = F.size(words)
    span_hashes = F.when(
        n >= width,
        F.transform(F.sequence(F.lit(0), n - width),
                    lambda i: F.xxhash64(F.array_join(F.slice(words, i + 1, width), " ")))
    ).otherwise(F.array().cast("array<bigint>"))
    base = sdf.select(F.col(id_col), words.alias("__w"), span_hashes.alias("__spans"))
    spans = _register_persist(
        base.select(F.col(id_col), F.posexplode("__spans").alias("__pos", "__h")))
    dup_hashes = (spans.groupBy("__h")
                  .agg(F.countDistinct(id_col).alias("__nd"))
                  .filter(F.col("__nd") >= min_docs)
                  .select("__h"))
    covered = (spans.join(dup_hashes, on="__h")
               .select(F.col(id_col),
                       F.explode(F.sequence(F.col("__pos"),
                                            F.col("__pos") + (width - 1)))
                       .alias("__tpos"))
               .distinct())
    tokens = base.select(F.col(id_col), F.posexplode("__w").alias("__tpos", "__tok"))
    kept = tokens.join(covered, on=[id_col, "__tpos"], how="left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(F.array_sort(F.collect_list(F.struct("__tpos", "__tok"))),
                               lambda s: s["__tok"]), " ").alias(text_col)))
    # NULL-text docs stay NULL (r9): a null input doc was never
    # "reduced to nothing" by stripping — coalescing it to '' would
    # conflate it with genuinely-emptied docs, the exact null/empty
    # confusion the winnow contract forbids.
    all_ids = sdf.select(F.col(id_col),
                         F.col(text_col).isNull().alias("__wasnull"))
    out = (all_ids.join(rebuilt, on=id_col, how="left")
           .withColumn(text_col,
                       F.when(F.col("__wasnull"),
                              F.lit(None).cast("string"))
                       .otherwise(F.coalesce(F.col(text_col), F.lit(""))))
           .drop("__wasnull"))
    return _wrap(out)
