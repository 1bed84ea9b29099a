"""Similarity search over embedding columns (array<float>).

Two paths, per the scale plan:

* brute-force cosine top-k — the exactness baseline.  Dot products via
  F.zip_with + F.aggregate (JVM-side); queries broadcast to the corpus;
  per-partition top-k via window rank after AQE-coalesced shuffle.
  O(q · n · d) but embarrassingly parallel — correct choice when q is
  small (interactive lookup) at any corpus size.
* LSH-bucketed (random hyperplane signs) — the scale path: corpus and
  queries hash into sign-pattern buckets; only same-bucket pairs score.
  Recall < 1 traded for candidate sets ~n/2^bits; multi-probe via
  several independent tables.
* IVF-style (coarse k-means-lite) — centroid assignment with literal
  centroids (trained driver-side on a sample), probe nearest cells.

All distance math is deterministic: per-element products accumulate in
array order, so results are bit-stable across partitionings (needed for
the oracle harness).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame as SparkDataFrame, Window
from pyspark.sql import functions as F

from . import stamp
from ..dataframe import _same_kind, _sdf
from ..plan import range_partition_count, size_bytes


def _drop_null_vecs(sdf, vec_col):
    """Similarity/clustering contract (round 8): rows with a NULL
    vector are not candidates, neighbors, queries, or centroid seeds —
    they are excluded at the operator boundary.  Without this the two
    physical strategies DISAGREED on nulls: the Arrow kernels crashed
    (np.stack over None) while the expr twins ranked a null cosine —
    one contract, enforced once, for every entry point.  NaN-valued
    coordinates stay in the frame but their cosines are degenerate —
    see :func:`_null_if_nan` (null, ranks last, in every strategy);
    ``pairwise_cosine`` keeps nulls transparently (null in → null cos
    out) as the oracle-friendly exception.

    A null ELEMENT inside an otherwise-valid array (``[1.0, null,
    0.0]`` — what a bad upstream join or a sloppy Parquet writer
    actually produces) is the NaN case, not the null-vector case
    (round 10): the row STAYS and its cosines are degenerate.  The
    expr paths already behave so (a null element nulls the HOF dot),
    and the Arrow boundary delivers the element as NaN; the one
    divergence was the DRIVER-collected boundaries, where float(None)
    raised — see :func:`_vec_f64`, which pins None → NaN there too."""
    return sdf.filter(F.col(vec_col).isNotNull())


def _vec_f64(v) -> np.ndarray:
    """THE driver-side float64 coercion for a single collected vector —
    every ``float(x) for x in row`` boundary in the family routes here
    (round 10: the r9 probe found one instance of the class — a null
    element crashing the dense/auto strategies with a TypeError while
    'blocked' degraded gracefully — so the class gets one helper with
    the contract baked in).  None → NaN, making a null-element vector
    DEGENERATE under the exact contract NaN coordinates already follow
    in every strategy (null cosine, ranks last, never pairs, never
    wins an argmax) instead of one bad row killing a 100-TB job.
    np.asarray maps None → NaN natively for list and object inputs;
    the fallback covers element types numpy refuses outright."""
    try:
        return np.asarray(v, dtype=np.float64)
    except (TypeError, ValueError):
        return np.asarray([np.nan if x is None else float(x) for x in v],
                          dtype=np.float64)


def _stack_f64(vals) -> np.ndarray:
    """Batch twin of :func:`_vec_f64` for the Arrow kernels and
    driver-side matrix builds: one row-major float64 matrix.  The
    Arrow boundary already hands the kernels NaN for null elements
    (pyarrow list<float> → numpy), so this is the belt-and-braces form
    that keeps every np.stack site on the same contract.  Ragged
    inputs still FAIL LOUDLY (np.stack ValueError): a dim mismatch
    must never become silently-wrong math."""
    return np.stack([_vec_f64(v) for v in vals])


def _lit_vec(c) -> Column:
    """Literal double-array Column via ONE parsed SQL expression.

    ``F.lit(list)`` expands to one ``lit()`` py4j round-trip PER
    ELEMENT plus the CreateArray call — a 64-dim vector is ~65 driver
    round-trips, and a centroid/plane loop multiplies that (r14
    measurement: the 8×64 ivf_topk distance array cost 1.6 s of pure
    plan construction; the parsed-string form 3 ms, values
    bit-identical).  ``repr(float)`` is the shortest exact round-trip
    decimal, and Java's Double.parseDouble restores it exactly; NaN
    and ±Infinity spell the cast-string forms Spark's parser accepts.
    """
    return F.expr(_lit_vec_sql(c))


def _qn(name: str) -> str:
    from ..colname import quote_name
    return quote_name(name)


def _lit_vec_sql(c) -> str:
    """SQL text of a literal double array (see :func:`_lit_vec`)."""
    def _f(x):
        x = float(x)
        if x != x:
            return "cast('NaN' as double)"
        if x == float("inf"):
            return "cast('Infinity' as double)"
        if x == float("-inf"):
            return "cast('-Infinity' as double)"
        return f"cast('{x!r}' as double)"
    return "array(" + ",".join(_f(x) for x in c) + ")"


def _let_sql(val: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``val`` once per row, reference it as
    ``var`` inside ``body`` (the transform-of-singleton idiom — the
    SQL-text twin of text._let)."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` — same math, same order."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double)"
            f" * cast(y as double)), 0.0D, (acc, v) -> acc + v)")


def _l2_sql(a: str) -> str:
    """SQL text of :func:`l2_norm`."""
    return (f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + "
            f"cast(v as double) * cast(v as double)))")


def _cos_sql(a: str, b: str) -> str:
    """SQL text of :func:`cosine` (try_divide degenerate contract
    included).  Why SQL text at the hot call sites (r14): on this
    driver a py4j round-trip costs 1-2 ms and each higher-order-
    function LAMBDA ~10 ms to construct, so one Column-API cosine
    (5 lambdas) is ~50 ms of plan-build; a centroid/plane loop
    multiplies that into whole seconds.  The parsed string is ~1 ms
    and yields the identical expression tree."""
    return f"try_divide({_dot_sql(a, b)}, {_l2_sql(a)} * {_l2_sql(b)})"


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product of two array columns (array-order sum)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # try_divide, not `/`: the degenerate contract (zero-norm vector ->
    # null cosine) must hold on ANSI-on sessions too, where a plain 0/0
    # raises DIVIDE_BY_ZERO mid-job (bit-identical under ANSI off)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def normalize(a: Column) -> Column:
    # let-bind the norm: inlined into the per-element lambda it would be
    # recomputed dim times per row (no CSE across lambda boundaries).
    # try_divide: zero-norm rows keep yielding null elements under ANSI.
    from .text import _let
    return _let(l2_norm(a),
                lambda n: F.transform(a, lambda v: F.try_divide(v.cast("double"), n)))


# --------------------------------------------------------------------------
# brute force top-k
# --------------------------------------------------------------------------
_BRUTE_EXPR_MAX = 256  # q×d coordinates; above -> Arrow map-side top-k


def _null_if_nan(c: Column) -> Column:
    """Degenerate cosines (zero-norm vectors, non-finite coordinates)
    are NULL in every strategy: Spark's 0/0 division already yields
    null, but a NaN-coordinate dot survives as NaN — which sorts
    GREATEST in a descending window and would rank garbage above every
    real neighbor.  nanvl routes NaN -> null so degenerates rank LAST,
    matching the Arrow kernels (whose NaN outputs arrive as null
    through the Arrow boundary)."""
    return F.nanvl(c, F.lit(None).cast("double"))


def _round_half_up(a, r: int):
    """Spark ``F.round`` semantics (BigDecimal ROUND_HALF_UP — away
    from zero at decimal midpoints) for the Arrow kernels.  np.round is
    half-to-EVEN, which disagrees with the expr strategies at exactly-
    representable midpoints (0.125 at r=2 -> 0.13 here and in Spark,
    0.12 under np.round) — measure-zero on real cosines, but the
    cross-strategy equality tests assert exact tuples."""
    s = 10.0 ** int(r)
    return np.copysign(np.floor(np.abs(a) * s + 0.5), a) / s


def _collect_qrows(qdf, id_col, vec_col):
    return [(r[0], _vec_f64(r[1]).tolist()) for r in
            qdf.select(id_col, vec_col).collect()]


def _list_qrows(queries):
    """List-form (id, vector) queries under the same NULL contract as
    the DataFrame side's :func:`_drop_null_vecs`: a None vector is not
    a query — skipped, not a float(None) crash — and a null ELEMENT is
    NaN (:func:`_vec_f64`), i.e. a degenerate query, exactly as a
    DataFrame query side behaves (the two input forms must agree)."""
    return [(int(i), _vec_f64(v).tolist())
            for i, v in queries if v is not None]


def _dispatch_queries(qdf, id_col, vec_col, qrows, strategy):
    """Resolve ('auto'|'expr'|'arrow', maybe-collected qrows) to a
    concrete (strategy, qrows) pair with at most one BOUNDED driver
    job for the decision.

    'auto' dispatches on q×d > _BRUTE_EXPR_MAX.  For a DataFrame query
    side the probe is ``limit(_BRUTE_EXPR_MAX+1).collect()`` — never a
    full collect just to dispatch, so a contract-violating large query
    frame cannot become a driver OOM inside the decision (it is only
    fully collected once 'arrow' is actually chosen, where the kernel
    needs it by design).  When the bounded probe comes back short it
    IS the full query set, so choosing 'arrow' then costs no second
    job.  An explicitly-requested 'arrow' with an EMPTY query set
    falls back to 'expr', which returns the empty frame the caller
    expects instead of a numpy axis error."""
    if strategy == "auto":
        if qrows is None:
            probe = (qdf.select(id_col, vec_col)
                     .limit(_BRUTE_EXPR_MAX + 1).collect())
            if len(probe) <= _BRUTE_EXPR_MAX:
                qrows = [(r[0], _vec_f64(r[1]).tolist()) for r in probe]
            else:  # q > _BRUTE_EXPR_MAX -> q*d over threshold at any d
                return "arrow", _collect_qrows(qdf, id_col, vec_col)
        d = len(qrows[0][1]) if qrows else 0
        strategy = "arrow" if len(qrows) * d > _BRUTE_EXPR_MAX else "expr"
    if strategy == "arrow":
        if qrows is None:
            qrows = _collect_qrows(qdf, id_col, vec_col)
        if not qrows:
            strategy = "expr"
    return strategy, qrows


def brute_force_topk(corpus, queries, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str | None = None,
                     round_to: int = 8, strategy: str = "auto") -> SparkDataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` may be a (small) DataFrame or a list of (id, vector) —
    broadcast-small by contract; the corpus never shuffles raw vectors.

    Two physical strategies (``strategy='auto'`` picks by q×d, the
    same crossover shape as KMeans._LITERAL_ASSIGN_MAX):

    * ``'expr'`` (q×d <= 256) — codegen HOF cosine against the
      broadcast query side, per-query ranking via a window;
      rank <= k is pushed map-side as WindowGroupLimit, so the
      exchange carries ~k×tasks rows per query.  Interpreted HOF cost
      grows with q×d per corpus row — fine for a handful of queries.
    * ``'arrow'`` — ONE mapInPandas pass: per Arrow batch the cosines
      are a BLAS matmul X @ Qᵀ (the k×d query matrix ships in the
      closure) and only each batch's top-k per query is emitted —
      selected under the SAME (cos desc, neighbor_id asc) order as the
      final ranking, so the union of batch winners provably contains
      the global top-k even through boundary ties.  The corpus never
      explodes into q×n rows at all; the final window ranks ≤ q×k rows
      per batch.  Degenerate cosines (zero-norm vectors, NaN
      coordinates) are treated as -inf during batch selection — they
      can never evict a real neighbor — and emitted as NaN, which
      arrives null through the Arrow boundary and ranks LAST, exactly
      like the expr strategy's _null_if_nan-wrapped scores.  The two
      strategies agree exactly up to FP associativity at the
      ``round_to`` digit (BLAS vs fold-ordered dot products).
    """
    spark = _sdf(corpus).sparkSession
    corpus_sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    query_id_col = query_id_col or id_col
    if strategy not in ("auto", "expr", "arrow"):
        raise ValueError(f"strategy={strategy!r}")
    if isinstance(queries, (list, tuple)):
        qrows = _list_qrows(queries)
        qdf = spark.createDataFrame(
            qrows, f"{query_id_col} bigint, {vec_col} array<double>")
        qid_dt = "bigint"
    else:
        qdf = _drop_null_vecs(_sdf(queries), vec_col)
        qrows = None
        qid_dt = dict(qdf.dtypes)[query_id_col]
    strategy, qrows = _dispatch_queries(qdf, query_id_col, vec_col,
                                        qrows, strategy)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    if strategy == "expr":
        q = F.broadcast(qdf.select(F.col(query_id_col).alias("query_id"),
                                   F.col(vec_col).alias("__qvec")))
        scored = (corpus_sdf.select(F.col(id_col), F.col(vec_col))
                  .crossJoin(q)
                  .select("query_id", F.col(id_col).alias("neighbor_id"),
                          _null_if_nan(F.round(
                              F.expr(_cos_sql("__qvec", _qn(vec_col))),
                              round_to)).alias("cos")))
    else:
        import pandas as pd
        Q = np.asarray([v for _, v in qrows], dtype=np.float64)
        qids = np.asarray([i for i, _ in qrows])
        qn = np.sqrt((Q * Q).sum(1))
        id_dt = dict(corpus_sdf.dtypes)[id_col]
        kk = int(k)
        rnd = int(round_to)

        def _topk(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _stack_f64(pdf[vec_col])
                xn = np.sqrt((X * X).sum(1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_half_up((X @ Q.T) / (xn[:, None] * qn[None, :]), rnd)
                sel = np.nan_to_num(cos, nan=-np.inf)
                nb = pdf[id_col].to_numpy()
                take = min(kk, len(X))
                oq, on, oc = [], [], []
                for j in range(len(qids)):
                    # exact composite order (-cos, neighbor_id): the
                    # batch-local selection must break boundary ties the
                    # same way the global window does, or a tied lower-id
                    # neighbor could be dropped before ranking
                    idx = np.lexsort((nb, -sel[:, j]))[:take]
                    oq += [qids[j]] * take
                    on += list(nb[idx])
                    oc += list(cos[idx, j])
                yield pd.DataFrame({"query_id": oq, "neighbor_id": on,
                                    "cos": oc})

        scored = corpus_sdf.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            _topk, schema=f"query_id {qid_dt}, neighbor_id {id_dt}, cos double")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def pairwise_cosine(corpus, subset_filter: Column, vec_col: str = "embedding",
                    id_col: str = "vec_id", round_to: int = 6) -> SparkDataFrame:
    """All (subset x corpus) cosine values — the oracle-friendly form
    (no top-k boundary, deterministic rounding)."""
    sdf = _sdf(corpus)
    left = sdf.filter(subset_filter).select(F.col(id_col).alias("id_a"),
                                            F.col(vec_col).alias("__va"))
    right = sdf.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (F.broadcast(left).crossJoin(right)
            .select("id_a", "id_b", F.round(F.expr(_cos_sql("__va", "__vb")), round_to).alias("cos")))


# --------------------------------------------------------------------------
# LSH (random hyperplanes)
# --------------------------------------------------------------------------
def _check_lsh_params(bits: int, n_tables: int) -> None:
    """Every LSH path validates here (round-10 parameter probe):
    ``bits=0`` is not degenerate-but-harmless — zero hyperplanes put
    EVERY vector in one bucket, so a 'blocked' screen silently becomes
    the all-pairs cartesian the whole scale design exists to avoid
    (verify keeps results correct while the candidate join dies at
    corpus scale); negative/zero values otherwise surface as cryptic
    numpy shift/concatenate errors three frames down."""
    if int(bits) < 1 or int(n_tables) < 1:
        raise ValueError(
            f"LSH parameters must be positive: bits={bits}, "
            f"n_tables={n_tables} (bits=0 would put every vector in "
            f"one bucket — an all-pairs join at corpus scale; pick "
            f"parameters with suggest_lsh_params)")


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    if int(bits) < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


def hyperplane_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id from literal hyperplanes — pure expressions:
    bucket = sum_b (dot(vec, plane_b) > 0) << b.

    The ``~isnan`` term pins REPRESENTATION parity with the Arrow BLAS
    form on degenerate vectors (round 10): Spark's NaN-greatest
    comparison lets a NaN dot pass ``> 0`` (bit set) where numpy's
    ``NaN > 0`` is False (bit clear).  Degenerate rows never pair
    anyway (NULL unit / null cosine gates the verify), so this aligns
    stored index bytes across builder strategies, not results."""
    if not isinstance(vec, str):
        # Column input (external composition): route through the same
        # SQL builder via an alias binding is impossible — keep the
        # Column construction for this rare path
        out = F.lit(0).cast("long")
        for b, plane in enumerate(planes):
            d = F.aggregate(
                F.zip_with(vec, _lit_vec(plane),
                           lambda x, p: x.cast("double") * p),
                F.lit(0.0), lambda acc, v: acc + v)
            out = out + F.when((d > 0) & ~F.isnan(d),
                               F.lit(1 << b).cast("long")).otherwise(
                                   F.lit(0).cast("long"))
        return out
    return F.expr(_hyperplane_bucket_sql(vec, planes))


def _hyperplane_bucket_sql(vec_sql: str, planes: np.ndarray) -> str:
    """SQL text of :func:`hyperplane_bucket` (r14 — see _cos_sql for
    why the hot sites build SQL text).  Each plane's dot product is
    LET-BOUND so it evaluates once per row — the Column form inlined
    it twice (once in ``> 0``, once in ``isnan``); same value, half
    the flops, and ~(2·bits·n_tables) fewer lambda constructions."""
    terms = []
    for b, plane in enumerate(planes):
        d = (f"aggregate(zip_with({vec_sql}, {_lit_vec_sql(plane)}, "
             f"(x, p) -> cast(x as double) * p), 0.0D, "
             f"(acc, v) -> acc + v)")
        terms.append(_let_sql(
            d, f"d{b}",
            f"CASE WHEN d{b} > 0 AND NOT isnan(d{b}) "
            f"THEN cast({1 << b} as bigint) "
            f"ELSE cast(0 as bigint) END"))
    return "(" + " + ".join(terms) + ")"


def _bucket_long(sdf, id_col, vec_col, dim, bits, n_tables, seed,
                 carry_vec=False):
    """(id, table, bucket) hyperplane-LSH relation via ONE Arrow map
    stage: all n_tables × bits projections are a single BLAS matmul
    X @ Pᵀ per batch (P = the stacked hyperplane matrix, closure-
    shipped), signs packed to bucket ids in numpy, long format emitted
    directly (no posexplode).  Values match the Column form
    (hyperplane_bucket) — same planes, same sign rule; only a dot
    product within FP epsilon of zero could flip a bucket, which
    perturbs candidate recall marginally and never the exact-cosine
    verify.  Measured 4.2 s → 0.5 s at 50k × 64 dims (the Column form
    evaluates n_tables × bits interpreted zip_with/aggregate lambdas
    of dim multiply-adds per row — CodegenFallback, the minhash
    banding story again)."""
    import pandas as pd
    _check_lsh_params(bits, n_tables)
    P = np.vstack([_hyperplanes(dim, bits, seed + t) for t in range(n_tables)])
    nt, nb = int(n_tables), int(bits)
    id_dt = dict(sdf.dtypes)[id_col]
    vec_dt = dict(sdf.dtypes)[vec_col]

    def _b(batches):
        weights = (1 << np.arange(nb)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_f64(pdf[vec_col])
            S = (X @ P.T) > 0
            n = len(X)
            cols = {
                "__id": np.repeat(pdf[id_col].to_numpy(), nt),
                "table": np.tile(np.arange(nt), n).astype("int32"),
                "bucket": (S.reshape(n, nt, nb)
                           * weights[None, None, :]).sum(2).reshape(-1)}
            if carry_vec:  # payload rides along (consumers that score
                cols["__vec"] = np.repeat(pdf[vec_col].to_numpy(), nt)
            yield pd.DataFrame(cols)

    schema = f"__id {id_dt}, table int, bucket long"
    if carry_vec:
        schema += f", __vec {vec_dt}"
    out = sdf.select(F.col(id_col), F.col(vec_col)).mapInPandas(_b, schema=schema)
    out = out.withColumnRenamed("__id", id_col)
    return out.withColumnRenamed("__vec", vec_col) if carry_vec else out


def _column_form_fits(sdf, dim, bits, n_tables) -> bool:
    """The bucket builders' stats gate: True keeps the zero-overhead
    Column form when the frame is one advisory partition AND under
    ~500k estimated interpreted plane-coords (rows × n_tables × bits ×
    dim — the Column form's real cost, ~0.8 µs per coord measured, see
    :func:`_bucket_packed`); False dispatches to the Arrow BLAS form,
    whose fixed hop is the bounded downside."""
    size = size_bytes(sdf)
    if size is None or range_partition_count(sdf) != 1:
        return False
    est_rows = size / max(8 * int(dim), 1)
    return est_rows * int(n_tables) * int(bits) * int(dim) <= 500_000


def _bucket_auto(sdf, id_col, vec_col, dim, bits, n_tables, seed,
                 carry_vec=False):
    """:func:`_column_form_fits` picks the Column form or the Arrow
    BLAS form.  ``carry_vec`` keeps the vector column in the output
    (for consumers that score candidates in place, lsh_topk)."""
    _check_lsh_params(bits, n_tables)
    if _column_form_fits(sdf, dim, bits, n_tables):
        from ..colname import quote_name
        buckets = F.expr("array(" + ", ".join(
            _hyperplane_bucket_sql(quote_name(vec_col),
                                   _hyperplanes(dim, bits, seed + t))
            for t in range(n_tables)) + ")")
        keep = ([F.col(id_col), F.col(vec_col)] if carry_vec
                else [F.col(id_col)])
        return sdf.select(*keep,
                          F.posexplode(buckets).alias("table", "bucket"))
    return _bucket_long(sdf, id_col, vec_col, dim, bits, n_tables, seed,
                        carry_vec=carry_vec)


def lsh_topk(corpus, queries, k: int = 10, bits: int = 8, n_tables: int = 2,
             dim: int | None = None, vec_col: str = "embedding",
             id_col: str = "vec_id", seed: int = 42,
             round_to: int = 8) -> SparkDataFrame:
    """Approximate top-k: only same-bucket (any table) pairs are scored.

    Candidate volume ~ n * q / 2^bits per table.  At 100 TB this is the
    path: buckets shard the corpus so each query touches a sliver.
    """
    spark = _sdf(corpus).sparkSession
    corpus_sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    if dim is None:
        first = corpus_sdf.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"])
    if isinstance(queries, (list, tuple)):
        qdf = spark.createDataFrame(
            _list_qrows(queries),
            f"{id_col} bigint, {vec_col} array<double>")
    else:
        qdf = _drop_null_vecs(_sdf(queries), vec_col)

    def bucketize(sdf, label):
        # corpus side: stats-gated Arrow BLAS projections (carry_vec so
        # candidates score in place); the broadcast query side is tiny
        # either way and the gate picks the Column form for it
        tagged = _bucket_auto(sdf, id_col, vec_col, dim, bits, n_tables,
                              seed, carry_vec=True)
        return tagged.select(F.col(id_col).alias(f"{label}_id"),
                             F.col(vec_col).alias(f"__{label}_vec"),
                             F.col("table"),
                             F.col("bucket").alias(f"{label}_bucket"))

    c = bucketize(corpus_sdf, "c")
    q = F.broadcast(bucketize(qdf, "q"))
    cand = (c.join(q, on=[c["table"] == q["table"], c["c_bucket"] == q["q_bucket"]])
            .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"),
                    F.col("__q_vec").alias("__qv"), F.col("__c_vec").alias("__cv"))
            .distinct())
    scored = cand.select("query_id", "neighbor_id",
                         _null_if_nan(F.round(
                             F.expr(_cos_sql("__qv", "__cv")),
                             round_to)).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def embedding_near_dups(corpus, threshold: float = 0.95, bits: int = 6,
                        n_tables: int = 8, dim: int | None = None,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        seed: int = 42, round_to: int = 8,
                        strategy: str = "auto",
                        max_dense_corpus: int = 65536) -> SparkDataFrame:
    """Near-duplicate pairs by embedding cosine: hyperplane-LSH blocking
    + exact cosine verification (the embedding member of the dedup
    family — datapipe/dedup.py holds the text ones).

    Same-sign-bucket pairs in ANY table become candidates; only those
    are scored.  Per-pair recall for angle θ is 1-(1-(1-θ/π)^bits)^tables
    — at cos >= 0.95 (θ <= 18°) the defaults give ~0.997; raise
    ``n_tables`` for tighter guarantees, raise ``bits`` to cut random
    collisions at scale.  PICK (bits, n_tables) WITH
    :func:`suggest_lsh_params` at your corpus size — the defaults suit
    small tables, and a recall-1 oracle parameter set (n_tables >=
    2^bits) makes blocking a no-op.  Returns (id_a, id_b, cos) with
    id_a < id_b.

    Like :func:`near_dup_embeddings_against_corpus`, two physical
    strategies with an ``'auto'`` selectivity crossover: when
    ``n_tables >= 2^bits`` the blocked self-join materializes ~every
    pair several times over, dedups them, then pays an interpreted dot
    each — ``'dense'`` instead ships the bounded-collected unit matrix
    in the closure and does one BLAS X @ Uᵀ per Arrow batch over the
    corpus (exact, no LSH; requires the corpus to fit
    ``max_dense_corpus``; q44's recall-1 oracle parameters measured
    12.9–31.2 s blocked vs sub-second dense at 2,000 vectors).
    Degenerate cosines (NaN coordinates, zero norms) are NULL and
    never pairs in BOTH strategies — without the null guard Spark's
    NaN-greatest comparison semantics let a NaN cosine PASS
    ``>= threshold`` and emit garbage pairs (found by this round's
    degenerate probe; invisible to the oracle corpus)."""
    corpus_sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    if strategy not in ("auto", "blocked", "dense"):
        raise ValueError(f"strategy={strategy!r}")
    _check_lsh_params(bits, n_tables)
    _crows = None
    if strategy == "auto" and int(n_tables) < (1 << int(bits)):
        # selective params: blocked is the answer — never pay the
        # bounded corpus collect just to decide (at high dim the
        # rows-bounded collect is real driver memory)
        strategy = "blocked"
    if strategy != "blocked":
        _crows = (corpus_sdf.select(F.col(id_col), F.col(vec_col))
                  .limit(int(max_dense_corpus) + 1).collect())
        if dim is None and _crows:
            dim = len(_crows[0][1])
        fits = len(_crows) <= int(max_dense_corpus)
        if strategy == "dense" and not fits:
            raise ValueError(
                f"strategy='dense' needs the corpus to fit "
                f"max_dense_corpus={max_dense_corpus} rows; use "
                f"'blocked' (or raise the bound)")
        if strategy == "auto":
            strategy = ("dense" if fits and
                        int(n_tables) >= (1 << int(bits)) else "blocked")
    if strategy == "dense":
        import pandas as pd
        U, uids = [], []
        for r in _crows:
            v = _vec_f64(r[1])
            nrm = np.sqrt((v * v).sum())
            if nrm == 0.0:
                continue  # zero vector: degenerate, never a pair
            U.append(v / nrm)  # NaN coords propagate -> NaN cos -> drop
            uids.append(r[0])
        spark = corpus_sdf.sparkSession
        cid_dt = dict(corpus_sdf.dtypes)[id_col]
        out_schema = f"id_a {cid_dt}, id_b {cid_dt}, cos double"
        if not U:
            return spark.createDataFrame([], out_schema)
        Um, uidsa = np.stack(U), np.asarray(uids)
        thr, rnd = float(threshold), int(round_to)

        def _scan(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _stack_f64(pdf[vec_col])
                with np.errstate(divide="ignore", invalid="ignore"):
                    nx = np.sqrt((X * X).sum(1))
                    Xu = X / nx[:, None]  # zero norm -> inf/NaN -> drop
                rids = pdf[id_col].to_numpy()
                cos = _round_half_up(Xu @ Um.T, rnd)
                ri, ci = np.nonzero((cos >= thr)  # NaN >= thr is False
                                    & (rids[:, None] < uidsa[None, :]))
                yield pd.DataFrame({"id_a": rids[ri],
                                    "id_b": uidsa[ci],
                                    "cos": cos[ri, ci]})

        return (corpus_sdf.select(F.col(id_col), F.col(vec_col))
                .mapInPandas(_scan, schema=out_schema))
    if dim is None:
        first = corpus_sdf.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"])
    # Candidates shuffle as (id, table, bucket) ONLY — never the vectors.
    # Carrying the arrays through the self-join multiplies payload by the
    # candidate count (quadratic in bucket size) and OOMs long before the
    # id-pair form feels anything; verification re-joins vectors by id,
    # which is linear in pairs + corpus.  The relation comes from the
    # stats-gated _bucket_auto (Arrow BLAS projections beyond one
    # advisory partition) and is persisted: the self-join's sides would
    # otherwise each recompute the n_tables x bits hyperplane
    # projections over the full corpus (no CSE across join branches).
    from ..cache import _register_persist
    tagged = _register_persist(
        _bucket_auto(corpus_sdf, id_col, vec_col, dim, bits, n_tables, seed))
    l, r = tagged.alias("l"), tagged.alias("r")
    cand = (l.join(r, on=[F.col("l.table") == F.col("r.table"),
                          F.col("l.bucket") == F.col("r.bucket"),
                          F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())
    # pre-normalize once so the verify is a plain dot product
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))
    unit = corpus_sdf.select(F.col(id_col),
                             F.transform(F.col(vec_col),
                                         lambda x: F.try_divide(x.cast("double"), norm)).alias("__u"))
    a, b = unit.alias("a"), unit.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.__u"), F.col("b.__u"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (cand.join(a, cand["id_a"] == F.col(f"a.{id_col}"))
            .join(b, cand["id_b"] == F.col(f"b.{id_col}"))
            .select("id_a", "id_b",
                    _null_if_nan(F.round(dot, round_to)).alias("cos"))
            .filter(F.col("cos") >= threshold))


# --------------------------------------------------------------------------
# incremental: persisted vector index + batch-vs-corpus screen
# --------------------------------------------------------------------------
def _expected_pb_random(dim: int, b: int) -> float:
    """E[p(θ)^b] over RANDOM pairs of independent isotropic vectors in
    ``dim`` dimensions, p(θ) = 1 - θ/π: cos θ has density ∝
    (1-t²)^((dim-3)/2), so at moderate dims random angles fluctuate
    around π/2 (std of cos θ ≈ 1/√dim) and Jensen's inequality makes
    E[p^b] STRICTLY larger than the concentration-limit (1/2)^b — the
    inflation the round-10 1M×dim-64 probe measured at 1.88× for b=15
    (this integral predicted the measured candidate count within 1%).
    Plain trapezoid on the closed-form density; no scipy."""
    import math
    n = 20001
    t = np.linspace(-1.0 + 1e-12, 1.0 - 1e-12, n)
    w = (1.0 - t * t) ** ((dim - 3) / 2.0)
    p = 1.0 - np.arccos(t) / math.pi
    # np.trapz was removed in NumPy 2.0 (renamed trapezoid); support both
    _trapz = getattr(np, 'trapezoid', getattr(np, 'trapz', None))
    return float(_trapz(w * p ** b, t) / _trapz(w, t))


def suggest_lsh_params(n_corpus: int, threshold: float,
                       recall: float = 0.999,
                       max_tables: int = 32,
                       dim: int | None = None) -> dict:
    """Closed-form hyperplane-LSH parameter choice for a corpus of
    ``n_corpus`` vectors and a cosine ``threshold``: the (bits,
    n_tables) pair that meets the per-pair ``recall`` floor at the
    threshold while minimizing EXPECTED CANDIDATES per query — the
    number that actually controls verify cost at scale (the default
    bits=6 that is fine at a 500-vector table produces ~15 collisions
    per query per table at 1M vectors).

    Math (Charikar, STOC'02 SimHash): one hyperplane agrees on a pair
    at angle θ with probability p = 1 - θ/π; a b-bit table matches
    with p^b; T tables give per-pair recall 1-(1-p^b)^T.  A query
    collides with ~T·n·E[p^b] random corpus vectors; with ``dim``
    given the expectation integrates the exact random-angle
    distribution at that dimension (:func:`_expected_pb_random` —
    validated within 1% against a 1M×dim-64 measured probe), without
    it the concentration-limit T·n/2^b is used (exact as dim → ∞;
    at dim 64 it UNDERESTIMATES by ~1.9× at b=15, so pass ``dim``
    when you have it).  For p > 1/2 (any positive threshold) raising
    b strictly shrinks candidates, so the binding constraint is the
    table budget: the helper returns the feasible (b, T) with the
    fewest expected candidates.  Pairs ABOVE the threshold have
    higher p, so the recall floor holds a fortiori.

    Returns dict(bits, n_tables, per_pair_recall,
    expected_candidates_per_query).  Raises if no (b <= 30,
    T <= max_tables) meets the floor (threshold too low / recall too
    high — use exact search or raise max_tables)."""
    import math
    if int(n_corpus) < 1:
        raise ValueError(f"n_corpus must be >= 1, got {n_corpus} — the "
                         "candidate budget is meaningless for an empty corpus")
    if not (0 < float(threshold) <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not (0 < recall < 1):
        raise ValueError("recall must be in (0, 1)")
    if int(max_tables) < 1:
        raise ValueError(f"max_tables must be >= 1, got {max_tables}")
    if dim is not None and int(dim) < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    t = min(1.0, max(-1.0, float(threshold)))
    p = 1.0 - math.acos(t) / math.pi
    if p >= 1.0:
        return {"bits": 1, "n_tables": 1, "per_pair_recall": 1.0,
                "expected_candidates_per_query": n_corpus / 2.0}
    best = None
    for b in range(1, 31):
        pb = p ** b
        if pb <= 0.0 or pb >= 1.0:
            continue
        T = math.ceil(math.log(1.0 - recall) / math.log(1.0 - pb))
        if T < 1 or T > int(max_tables):
            continue
        collide = (_expected_pb_random(int(dim), b) if dim
                   else 1.0 / float(2 ** b))
        cands = T * float(n_corpus) * collide
        if best is None or cands < best["expected_candidates_per_query"]:
            best = {"bits": b, "n_tables": T,
                    "per_pair_recall": 1.0 - (1.0 - pb) ** T,
                    "expected_candidates_per_query": cands}
    if best is None:
        raise ValueError(
            f"no (bits<=30, n_tables<={max_tables}) meets recall="
            f"{recall} at threshold={threshold} (p={p:.3f}); raise "
            f"max_tables, lower the recall floor, or use exact search")
    return best


def _bucket_packed(sdf, id_col, vec_col, dim, bits, n_tables, seed):
    """ONE row per vector: (id, __buckets array<long>[n_tables],
    __unit array<double>) — the PACKED index shape.  Unlike the long
    (id, table, bucket) relation, vectors are stored ONCE (plus
    n_tables longs), which is what makes the persisted corpus index
    storage-honest at scale; consumers posexplode __buckets for the
    candidate join (column-pruned: the explode never reads __unit) and
    re-join __unit by id only for the pairs that survive blocking.
    The unit normalization happens at build time so every downstream
    verify is a plain dot product.  Zero-norm vectors get a NULL
    __unit in BOTH strategies — their cosines are degenerate by
    contract (:func:`_null_if_nan`) and the verify's null dot drops
    them.

    Strategy gate: the Column form's cost is the INTERPRETED per-row
    work — rows × n_tables × bits × dim plane-coordinates through
    CodegenFallback lambdas (~0.8 µs each, measured) — while the Arrow
    BLAS pass is one X @ Pᵀ matmul per batch behind a ~0.3–0.5 s fixed
    hop.  The r9-original gate ("one advisory partition → Column")
    mis-dispatched recall-1-style parameter sets: at 1,600 vectors ×
    (24 tables × 2 bits) × dim 64 ≈ 4.9M plane-coords the Column form
    measured 3.8–4.8 s vs Arrow's 0.43–0.54 s on the same input.  The
    gate now takes Column only when the frame is BOTH one advisory
    partition AND under ~500k estimated plane-coords
    (:func:`_column_form_fits`).  Arrow unit values
    agree with Column up to sum-order associativity in the norm — ~1
    ulp, the same FP caveat _bucket_long documents for sign flips.
    NULL
    vectors are dropped HERE (not only at entry points): the Arrow
    branch cannot stack them and the Column branch would fabricate a
    [0, 0, ...] bucket row for them — the one-contract-everywhere rule
    (:func:`_drop_null_vecs`) applied at the builder.

    Vectors whose length differs from ``dim`` FAIL LOUDLY in both
    strategies (same discipline as the window donor guard,
    operators/window.py): the Column form would otherwise zip_with
    truncated planes into silently-wrong buckets and the Arrow form
    would die in np.stack with a shapeless error — a ragged embedding
    column or a wrong-model batch must never become silently-missed
    duplicates."""
    _check_lsh_params(bits, n_tables)
    sdf = _drop_null_vecs(sdf, vec_col)
    _msg = (f"_bucket_packed: {vec_col} length != dim={int(dim)} "
            f"(ragged embedding column, or a batch from a different "
            f"embedding model than the planes/index); got length ")
    bad = F.size(F.col(vec_col)) != int(dim)
    sdf = sdf.withColumn(vec_col, F.when(bad, F.raise_error(
        F.concat(F.lit(_msg), F.size(F.col(vec_col)).cast("string")))
    ).otherwise(F.col(vec_col)))
    if _column_form_fits(sdf, dim, bits, n_tables):
        from ..colname import quote_name
        buckets = F.expr("array(" + ", ".join(
            _hyperplane_bucket_sql(quote_name(vec_col),
                                   _hyperplanes(dim, bits, seed + t))
            for t in range(n_tables)) + ")")
        # degenerate norm (zero, NaN coordinate, null element) -> NULL
        # __unit in BOTH branches: without the isnan() term Spark's
        # NaN-greatest comparison lets a NaN norm pass `> 0` and store
        # a [NaN,...] unit here while the Arrow branch's null-element
        # rows (None -> NaN through the Arrow boundary) stored NULL —
        # representation parity across builder strategies, one
        # stored shape for every degenerate class (round 10).  The
        # screens already treat NULL unit and NaN cosine identically
        # (never pairs), so this changes stored bytes, not results.
        v = quote_name(vec_col)
        unit = F.expr(_let_sql(
            _l2_sql(v), "nrm",
            f"CASE WHEN nrm > 0 AND NOT isnan(nrm) THEN "
            f"transform({v}, vv -> try_divide(cast(vv as double), nrm)) "
            f"ELSE cast(null as array<double>) END"))
        return sdf.select(F.col(id_col), buckets.alias("__buckets"),
                          unit.alias("__unit"))
    import pandas as pd
    P = np.vstack([_hyperplanes(dim, bits, seed + t) for t in range(n_tables)])
    nt, nb = int(n_tables), int(bits)
    id_dt = dict(sdf.dtypes)[id_col]

    def _b(batches):
        weights = (1 << np.arange(nb)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_f64(pdf[vec_col])
            S = (X @ P.T) > 0
            n = len(X)
            bks = (S.reshape(n, nt, nb) * weights[None, None, :]).sum(2)
            norms = np.sqrt((X * X).sum(1))
            units = [None if (norms[i] == 0.0 or np.isnan(norms[i]))
                     else list(X[i] / norms[i])
                     for i in range(n)]
            yield pd.DataFrame({"__id": pdf[id_col].to_numpy(),
                                "__buckets": list(bks),
                                "__unit": units})

    out = sdf.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _b, schema=f"__id {id_dt}, __buckets array<bigint>, "
                   f"__unit array<double>")
    return out.withColumnRenamed("__id", id_col)


def corpus_vector_index(corpus, vec_col: str = "embedding",
                        id_col: str = "vec_id", bits: int = 6,
                        n_tables: int = 8, dim: int | None = None,
                        seed: int = 42):
    """The persistable embedding index of a corpus — the vector member
    of the incremental-dedup index family (exact:
    dedup.corpus_fingerprints, fuzzy: dedup.corpus_lsh_index, winnow:
    text.corpus_winnow_index).  One row per vector: (id, __buckets —
    the n_tables hyperplane-LSH bucket ids — and __unit, the
    pre-normalized vector).  Write it to parquet once per corpus
    snapshot and feed it to :func:`near_dup_embeddings_against_corpus`
    (``corpus_index=``): each incoming batch then skips re-projecting
    the ENTIRE corpus through the hyperplanes.  Pick (bits, n_tables)
    with :func:`suggest_lsh_params` — the defaults suit small tables;
    at millions of vectors low bits floods the verify with candidates — the screen reads
    (id, __buckets) for blocking and fetches __unit only for verify,
    both column-pruned from the same parquet.  Must be built with the
    same (bits, n_tables, seed, dim) the batch side uses — the planes
    are deterministic in (dim, bits, seed), which is what makes a
    persisted index comparable across runs."""
    sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    if dim is None:
        first = sdf.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"]) if first else 0
    pk = _bucket_packed(sdf, id_col, vec_col, dim, bits, n_tables, seed)
    # the build parameters ride in the artifact (stamp.py)
    return stamp.write(pk, "vector", bits=bits, n_tables=n_tables, seed=seed,
                       dim=dim)


def near_dup_embeddings_against_corpus(batch, corpus=None,
                                       threshold: float = 0.95,
                                       bits: int = 6, n_tables: int = 8,
                                       dim: int | None = None,
                                       vec_col: str = "embedding",
                                       id_col: str = "vec_id",
                                       seed: int = 42, round_to: int = 8,
                                       corpus_index=None,
                                       strategy: str = "auto",
                                       max_dense_batch: int = 65536
                                       ) -> SparkDataFrame:
    """Cross-corpus embedding near-dup screen (incremental SemDeDup
    shape): (batch_id, corpus_id, cos) for every batch vector whose
    exact cosine with a corpus vector reaches ``threshold`` — the
    embedding analogue of
    :func:`~vaex_spark.datapipe.text.winnow_overlap_against_corpus`.

    Two physical strategies (``'auto'`` picks by blocking
    selectivity, the bloom-crossover discipline):

    * ``'blocked'`` — both sides take the PACKED (id, buckets, unit)
      shape (:func:`_bucket_packed`; the corpus side from the
      persisted ``corpus_index`` when given — the corpus is then never
      re-projected).  Candidate generation posexplodes ONLY the bucket
      arrays (ids + longs through the exchange, never vectors), dedups
      to distinct (batch_id, corpus_id), and verify re-joins each
      side's __unit by id — linear in candidates, one plain dot per
      surviving pair.  Per-pair recall at angle θ is
      1-(1-(1-θ/π)^bits)^n_tables.  The right plan when blocking is
      SELECTIVE (n_tables << 2^bits — see :func:`suggest_lsh_params`).
    * ``'dense'`` — exact by construction, NO LSH: one pass over the
      corpus units (column-pruned from the index) computes a BLAS
      X_corpus @ B_batchᵀ per Arrow batch with the (bounded-collected,
      unit-normalized) batch matrix shipped in the closure, emitting
      only pairs at/above threshold.  Requires the batch side to fit
      the ``max_dense_batch`` bound (checked with one bounded probe).
    * ``'auto'`` — 'dense' when recall-1-style parameters make
      blocking non-selective (``n_tables >= 2^bits``: the blocked plan
      would join ~n_tables/2^bits copies of EVERY pair, dedup them,
      then pay an interpreted dot each — measured 10.8 s vs 0.3 s at
      640k pairs, bits=2/n_tables=24) and the batch fits the dense
      bound; 'blocked' otherwise.

    Both strategies emit identical (batch_id, corpus_id, cos) rows
    (HALF_UP rounding to ``round_to``; degenerate cosines null/absent)
    — parity pinned by test."""
    from ..cache import _register_persist
    bsdf = _drop_null_vecs(_sdf(batch), vec_col)
    if strategy not in ("auto", "blocked", "dense"):
        raise ValueError(f"strategy={strategy!r}")
    _check_lsh_params(bits, n_tables)
    _brows = None
    if strategy == "dense" or (strategy == "auto"
                               and int(n_tables) >= (1 << int(bits))):
        # maybe-dense: the bounded eligibility collect runs FIRST and
        # doubles as the dim probe (one job instead of two).  Gated on
        # the non-selectivity condition so a selective-params 'auto'
        # call never pays the collect (it would pick blocked anyway —
        # and at high dim the rows-bounded collect is real driver
        # memory: 65k rows × dim 4096 ≈ 2 GB)
        _brows = (bsdf.select(F.col(id_col), F.col(vec_col))
                  .limit(int(max_dense_batch) + 1).collect())
        if dim is None and _brows:
            dim = len(_brows[0][1])
    elif strategy == "auto":
        strategy = "blocked"
    if dim is None:
        first = bsdf.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"]) if first else 0
    if corpus_index is not None:
        cpk = _sdf(corpus_index)
        # an empty batch has no dim of its own: it adopts the stamp's
        built = stamp.check(cpk, "vector", bits=bits, n_tables=n_tables,
                            seed=seed, dim=dim or None)
        if not dim and "dim" in built:
            dim = int(built["dim"])
        # bounded probe (one limit(1) job, the _dispatch_queries
        # discipline): a persisted index built from a different
        # embedding model would otherwise block on garbage buckets and
        # return a silently-empty/garbage screen — the worst failure
        # mode of an incremental pipeline.  Zero-vector rows carry
        # NULL units, so probe a non-null one; an all-null index has
        # no determinable dim and skips the check.  Skipped when the
        # metadata stamp above already pinned the dim (one less job).
        d = [] if "dim" in built else \
            (cpk.filter(F.col("__unit").isNotNull())
             .select(F.size("__unit").alias("d")).limit(1).collect())
        if d and int(dim) == 0:
            # empty batch: no batch dim to check — adopt the index's so
            # the (empty) plan builds instead of a spurious mismatch
            dim = int(d[0]["d"])
        if d and int(d[0]["d"]) != int(dim):
            raise ValueError(
                f"corpus_index was built at dim={int(d[0]['d'])} but the "
                f"batch vectors have dim={int(dim)}: the LSH planes "
                f"cannot match — rebuild the index with the batch's "
                f"embedding model (or pass the right index)")
    else:
        if corpus is None:
            raise ValueError("pass corpus= or corpus_index=")
        cpk = corpus_vector_index(corpus, vec_col=vec_col, id_col=id_col,
                                  bits=bits, n_tables=n_tables, dim=dim,
                                  seed=seed)
    if strategy != "blocked":
        # dense eligibility from the bounded collect above (the
        # _dispatch_queries discipline): when it fits, it IS the batch
        # matrix — no second job
        fits = len(_brows) <= int(max_dense_batch)
        if strategy == "dense" and not fits:
            raise ValueError(
                f"strategy='dense' needs the batch side to fit "
                f"max_dense_batch={max_dense_batch} rows; use "
                f"'blocked' (or raise the bound)")
        if strategy == "auto":
            strategy = ("dense" if fits and
                        int(n_tables) >= (1 << int(bits)) else "blocked")
    if strategy == "dense":
        import pandas as pd
        B, bids = [], []
        for r in _brows:
            v = _vec_f64(r[1])
            if len(v) != int(dim):
                raise ValueError(
                    f"near_dup_embeddings_against_corpus: {vec_col} "
                    f"length != dim={int(dim)} (ragged embedding column,"
                    f" or a batch from a different embedding model); "
                    f"got length {len(v)}")
            nrm = np.sqrt((v * v).sum())
            if nrm == 0.0:
                continue  # zero vector: degenerate, never a candidate
            B.append(v / nrm)
            bids.append(r[0])
        spark = cpk.sparkSession
        bid_dt = dict(bsdf.dtypes)[id_col]
        cid_dt = dict(cpk.dtypes)[id_col]
        out_schema = f"batch_id {bid_dt}, corpus_id {cid_dt}, cos double"
        if not B:
            return spark.createDataFrame([], out_schema)
        Bm, bidsa = np.stack(B), np.asarray(bids)
        thr, rnd = float(threshold), int(round_to)

        def _scan(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ok = pdf["__unit"].notna()
                if not ok.any():
                    continue
                X = _stack_f64(pdf.loc[ok, "__unit"])
                cids = pdf.loc[ok, id_col].to_numpy()
                cos = _round_half_up(X @ Bm.T, rnd)
                # NaN >= thr is False: degenerates drop, matching the
                # blocked path's null-cosine filter
                ci, bi = np.nonzero(cos >= thr)
                yield pd.DataFrame({"batch_id": bidsa[bi],
                                    "corpus_id": cids[ci],
                                    "cos": cos[ci, bi]})

        return (cpk.select(F.col(id_col), F.col("__unit"))
                .mapInPandas(_scan, schema=out_schema))
    # the batch packed relation feeds blocking AND verify: persist so
    # the Arrow projection pass runs once (deterministic either way —
    # this is cost, not branch consistency)
    bpk = _register_persist(_bucket_packed(bsdf, id_col, vec_col, dim,
                                           bits, n_tables, seed))
    def blocks(pk, label):
        return pk.select(F.col(id_col).alias(f"{label}_id"),
                         F.posexplode("__buckets").alias(f"{label}_table",
                                                         f"{label}_bucket"))
    cand = (blocks(cpk, "c")
            .join(blocks(bpk, "b"),
                  on=[F.col("c_table") == F.col("b_table"),
                      F.col("c_bucket") == F.col("b_bucket")])
            .select(F.col("b_id").alias("batch_id"),
                    F.col("c_id").alias("corpus_id"))
            .distinct())
    dot = F.aggregate(F.zip_with(F.col("__bu"), F.col("__cu"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    bu = bpk.select(F.col(id_col).alias("batch_id"),
                    F.col("__unit").alias("__bu"))
    cu = cpk.select(F.col(id_col).alias("corpus_id"),
                    F.col("__unit").alias("__cu"))
    return (cand.join(bu, on="batch_id").join(cu, on="corpus_id")
            .select("batch_id", "corpus_id",
                    _null_if_nan(F.round(dot, round_to)).alias("cos"))
            .filter(F.col("cos") >= float(threshold)))


@_same_kind
def embedding_dedup_against_corpus(batch, corpus=None,
                                   threshold: float = 0.95,
                                   bits: int = 6, n_tables: int = 8,
                                   dim: int | None = None,
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id",
                                   seed: int = 42, round_to: int = 8,
                                   corpus_index=None,
                                   strategy: str = "auto",
                                   max_dense_batch: int = 65536):
    """Keep only the batch rows with NO corpus embedding at cosine >=
    ``threshold`` — the keep-novel form of
    :func:`near_dup_embeddings_against_corpus` (one left-anti join on
    the flagged batch ids; batch rows returned unchanged)."""
    hits = near_dup_embeddings_against_corpus(
        batch, corpus, threshold=threshold, bits=bits, n_tables=n_tables,
        dim=dim, vec_col=vec_col, id_col=id_col, seed=seed,
        round_to=round_to, corpus_index=corpus_index, strategy=strategy,
        max_dense_batch=max_dense_batch)
    flagged = hits.select(F.col("batch_id").alias(id_col)).distinct()
    return batch.join(flagged, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# IVF-lite
# --------------------------------------------------------------------------
def train_centroids(corpus, n_cells: int = 16, vec_col: str = "embedding",
                    sample_rows: int = 2000, iters: int = 5, seed: int = 42) -> np.ndarray:
    """Tiny driver-side k-means on a sample (centroids are small; the
    heavy assignment runs distributed as expressions)."""
    sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    # a REAL random sample, not limit(): the first rows of a sorted/
    # clustered table are a biased centroid seed.  Oversample the
    # fraction slightly, cap at sample_rows.
    total = sdf.count()
    frac = min(1.0, sample_rows / max(total, 1) * 1.2)
    sample = [r[0] for r in sdf.select(vec_col)
              .sample(withReplacement=False, fraction=frac, seed=seed)
              .limit(sample_rows).collect()]
    if not sample:  # tiny tables: fall back to everything
        sample = [r[0] for r in sdf.select(vec_col).limit(sample_rows).collect()]
    X = _stack_f64(sample) if sample else np.empty((0, 0))
    # degenerate vectors (NaN coordinates — incl. null elements, which
    # _vec_f64 maps to NaN) are never centroid seeds: one NaN sample
    # row would otherwise poison every centroid mean it touches, the
    # same contract ml.KMeans._valid_features enforces (round 10)
    X = X[np.isfinite(X).all(axis=1)] if len(X) else X
    if not len(X):
        # empty (or all-degenerate) corpus: no trainable centroids —
        # return the empty set so consumers degrade to empty results
        # (ivf_topk scores nothing) instead of numpy's argmin-of-empty
        # ValueError three frames down (round-10 fuzz finding)
        return np.empty((0, 0))
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            pts = X[assign == j]
            if len(pts):
                cent[j] = pts.mean(0)
    return cent


def ivf_assign(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid cell id, pure expressions.

    Argmin via a let-bound distance array + array_position(array_min):
    each centroid's distance expression appears ONCE in the plan.  (The
    naive chained-when argmin nests every previous distance inside each
    comparison — exponential expression size that OOMs plan construction
    at realistic dim × n_cells; same pathology as the lang_id argmax.)
    Ties keep the first (lowest) cell id, matching a strict-less scan.

    r14: built as ONE parsed SQL expression (``vec`` may be a column
    NAME for the fast path; Column inputs keep the Column-API build —
    see _cos_sql for the py4j-latency numbers)."""
    if isinstance(vec, str):
        from ..colname import quote_name
        return F.expr(_ivf_assign_sql(quote_name(vec), centroids))
    from .text import _let
    dists = F.array(*[
        F.aggregate(
            F.zip_with(vec, _lit_vec(c),
                       lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc)),
            F.lit(0.0), lambda acc, v: acc + v)
        for c in centroids])
    return _let(dists, lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"))


def _ivf_assign_sql(vec_sql: str, centroids) -> str:
    """SQL text of :func:`ivf_assign`: per-centroid squared distances
    via one transform over the literal centroid matrix, argmin via
    let-bound array_position(array_min)."""
    vecs = ",".join(_lit_vec_sql(c) for c in centroids)
    dists = (f"transform(array({vecs}), c -> aggregate(zip_with("
             f"{vec_sql}, c, (x, cc) -> (cast(x as double) - cc) * "
             f"(cast(x as double) - cc)), 0.0D, (acc, v) -> acc + v))")
    return _let_sql(dists, "ds",
                    "cast(array_position(ds, array_min(ds)) - 1 as int)")


def corpus_ivf_index(corpus, n_cells: int = 16, vec_col: str = "embedding",
                     id_col: str = "vec_id", sample_rows: int = 2000,
                     iters: int = 5, seed: int = 42) -> SparkDataFrame:
    """The persistable IVF index of a corpus — the repeated-query
    member of the index family (FAISS's build-once/query-many shape):
    every corpus row tagged with its nearest-centroid ``__cell``, plus
    ``n_cells`` centroid rows riding in the SAME frame (NULL id/vec,
    ``__centroid`` carries the coordinates) so one parquet holds the
    whole artifact.  Write it once per corpus snapshot and pass it to
    :func:`ivf_topk` (``corpus_index=``): each query batch then skips
    BOTH the centroid (re)training and the full-corpus assignment scan
    — at real corpus sizes the assignment is the dominant per-call
    cost, and it is pure re-computation.  Persisting also PINS the
    centroids: ``train_centroids``'s sample is partition-layout-
    dependent (Bernoulli per partition), so the derived path can pick
    different (equally valid) centroids after a repartition, while
    queries against a persisted index are reproducible by
    construction.  Consumers read centroids with one bounded
    n_cells-row collect and column-prune the corpus rows."""
    sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    cent = train_centroids(sdf, n_cells=n_cells, vec_col=vec_col,
                           sample_rows=sample_rows, iters=iters, seed=seed)
    id_dt = dict(sdf.dtypes)[id_col]
    # empty/all-degenerate corpus: no trainable centroids — an index
    # with zero centroid rows (consumers' _ivf_index_parts raises its
    # documented loud error), not an ivf_assign analysis crash over a
    # zero-length literal array (round-10 fuzz finding)
    cell = (ivf_assign(vec_col, cent) if len(cent)
            else F.lit(None).cast("int"))
    assigned = (sdf.select(F.col(id_col), F.col(vec_col))
                .withColumn("__cell", cell)
                .withColumn("__centroid",
                            F.lit(None).cast("array<double>")))
    crows = sdf.sparkSession.createDataFrame(
        [(None, None, int(c), [float(x) for x in cent[c]])
         for c in range(len(cent))],
        f"{id_col} {id_dt}, {vec_col} array<double>, __cell int, "
        f"__centroid array<double>")
    return assigned.unionByName(crows)


def _ivf_index_parts(corpus_index, id_col, vec_col):
    """Split a corpus_ivf_index frame back into (centroids ndarray,
    assigned corpus rows).  The centroid fetch is one bounded
    n_cells-row collect; the corpus side is column-pruned (the
    __centroid column is never read)."""
    ipk = _sdf(corpus_index)
    crows = (ipk.filter(F.col("__centroid").isNotNull())
             .select("__cell", "__centroid").collect())
    if not crows:
        # an EMPTY index (snapshot of an empty/all-degenerate corpus —
        # a normal state for batch 1 of an incremental pipeline) has
        # zero centroid rows legitimately: empty results, not a crash.
        # A NON-empty frame without centroid rows is a wrong artifact
        # (e.g. the corpus rows alone) and stays a loud error.
        if ipk.limit(1).count() == 0:
            return np.empty((0, 0)), ipk.select(
                F.col(id_col), F.col(vec_col),
                F.lit(None).cast("int").alias("__cell"))
        raise ValueError("corpus_index has no centroid rows — was it "
                         "built by corpus_ivf_index?")
    cent = _stack_f64([r["__centroid"]
                       for r in sorted(crows, key=lambda r: r["__cell"])])
    assigned = (ipk.filter(F.col("__centroid").isNull())
                .select(F.col(id_col), F.col(vec_col), F.col("__cell")))
    return cent, assigned


def ivf_topk(corpus, queries, k: int = 10, n_cells: int = 16, n_probe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id", seed: int = 42,
             strategy: str = "auto", corpus_index=None,
             round_to: int = 8) -> SparkDataFrame:
    """IVF search: corpus partitioned by nearest centroid; each query
    scores only its n_probe nearest cells.

    Pass ``corpus_index=`` (a :func:`corpus_ivf_index` frame, usually
    read back from parquet) to skip the per-call centroid training AND
    the full-corpus assignment scan — the production shape for
    repeated query batches against a standing corpus; ``n_cells`` and
    ``seed`` are then taken from the index itself.

    Scoring strategies (same auto crossover as brute_force_topk):

    * ``'expr'`` (q×d <= 256) — probe cells as Column expressions, the
      (cell-matched corpus × query) join scored by the HOF cosine.
    * ``'arrow'`` — probe cells chosen driver-side (queries are
      broadcast-small by contract; identical (distance, cell-id)
      tie order), then ONE mapInPandas pass over the assigned corpus:
      per batch and per cell present, the scores are a single
      X_cell @ Q_probing^T BLAS matmul and only the batch-local top-k
      per query is emitted under the final (cos desc, id asc)
      composite order — candidates never explode into (row × query)
      join rows, and the ranking window sees ≤ q×k×batches rows.
    """
    import pandas as pd
    if strategy not in ("auto", "expr", "arrow"):
        raise ValueError(f"strategy={strategy!r}")
    if corpus_index is not None:
        cent, assigned = _ivf_index_parts(corpus_index, id_col, vec_col)
        spark = assigned.sparkSession
        corpus_sdf = assigned
    else:
        if corpus is None:
            raise ValueError("pass corpus= or corpus_index=")
        spark = _sdf(corpus).sparkSession
        corpus_sdf = _drop_null_vecs(_sdf(corpus), vec_col)
        cent = train_centroids(corpus, n_cells=n_cells, vec_col=vec_col,
                               seed=seed)
        # len(cent)==0 (empty/all-degenerate corpus) short-circuits to
        # the empty result below — ivf_assign over zero centroids is
        # an untyped-empty-array analysis error (round-10 fuzz)
        assigned = (corpus_sdf.withColumn(
            "__cell", ivf_assign(vec_col, cent)) if len(cent)
            else corpus_sdf.withColumn("__cell",
                                       F.lit(None).cast("int")))
    if isinstance(queries, (list, tuple)):
        qrows = _list_qrows(queries)
        qdf = spark.createDataFrame(qrows, f"{id_col} bigint, {vec_col} array<double>")
        qid_dt = "bigint"
    else:
        qdf = _drop_null_vecs(_sdf(queries), vec_col)
        qrows = None
        qid_dt = dict(qdf.dtypes)[id_col]
    strategy, qrows = _dispatch_queries(qdf, id_col, vec_col, qrows, strategy)
    if not len(cent):
        # empty/all-degenerate corpus: nothing is probeable — the
        # empty result, not an ivf_assign/argmin crash (round-10 fuzz)
        id_dt = dict(corpus_sdf.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"query_id {qid_dt}, neighbor_id {id_dt}, cos double, "
                f"rank int")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    if strategy == "expr":
        # per-query probe cells, computed distributed (no driver loop):
        # sort (distance, cell) structs, take the first n_probe cell
        # ids.  ONE parsed SQL expression (r14 — see _cos_sql: the
        # Column-API form of this block alone cost ~0.6 s of py4j
        # plan-build per call; the string is ~1 ms, same tree)
        from ..colname import quote_name
        v = quote_name(vec_col)
        vecs = ",".join(_lit_vec_sql(c) for c in cent)
        dists = (f"transform(array({vecs}), c -> aggregate(zip_with("
                 f"{v}, c, (x, cc) -> (cast(x as double) - cc) * "
                 f"(cast(x as double) - cc)), 0.0D, "
                 f"(acc, vv) -> acc + vv))")
        probe_cells = F.expr(_let_sql(
            dists, "ds",
            f"slice(transform(array_sort(transform("
            f"sequence(0, {len(cent) - 1}), "
            f"i -> named_struct('d', try_element_at(ds, i + 1), "
            f"'i', i))), s -> s.i), 1, {int(n_probe)})"))
        q = F.broadcast(qdf.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).alias("__qvec"),
                                   F.explode(probe_cells).alias("__cell")))
        scored = (assigned.join(q, on="__cell")
                  .select("query_id", F.col(id_col).alias("neighbor_id"),
                          _null_if_nan(F.round(
                              F.expr(_cos_sql("__qvec", v)),
                              round_to)).alias("cos")))
    else:
        Q = np.asarray([v for _, v in qrows], dtype=np.float64)
        qids = np.asarray([i for i, _ in qrows])
        # driver-side probe selection, same (distance, cell-id) tie
        # order as the Column form's struct array_sort
        C = np.asarray(cent, dtype=np.float64)
        d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(2)
        cell2q = {}
        for qi in range(len(Q)):
            order = np.lexsort((np.arange(len(C)), d2[qi]))[:n_probe]
            for c in order:
                cell2q.setdefault(int(c), []).append(qi)
        cell2q = {c: np.asarray(v) for c, v in cell2q.items()}
        qn = np.sqrt((Q * Q).sum(1))
        id_dt = dict(corpus_sdf.dtypes)[id_col]
        kk = int(k)

        def _t(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _stack_f64(pdf[vec_col])
                xn = np.sqrt((X * X).sum(1))
                nb = pdf[id_col].to_numpy()
                cells = pdf["__cell"].to_numpy()
                acc_i, acc_c = {}, {}
                for c in np.unique(cells):
                    qs = cell2q.get(int(c))
                    if qs is None:
                        continue
                    m = cells == c
                    Xc, xc, nc = X[m], xn[m], nb[m]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = _round_half_up((Xc @ Q[qs].T)
                                             / (xc[:, None] * qn[qs][None, :]),
                                             round_to)
                    for j, qi in enumerate(qs):
                        acc_i.setdefault(qi, []).append(nc)
                        acc_c.setdefault(qi, []).append(cos[:, j])
                oq, on, oc = [], [], []
                for qi, chunks in acc_i.items():
                    ids_all = np.concatenate(chunks)
                    cos_all = np.concatenate(acc_c[qi])
                    sel = np.nan_to_num(cos_all, nan=-np.inf)
                    idx = np.lexsort((ids_all, -sel))[:kk]
                    oq += [qids[qi]] * len(idx)
                    on += list(ids_all[idx])
                    oc += list(cos_all[idx])
                yield pd.DataFrame({"query_id": oq, "neighbor_id": on,
                                    "cos": oc})

        # NULL __cell = unassignable row (a null-element vector nulls
        # every centroid distance, so ivf_assign's array_min/position
        # is null).  The expr path excludes such rows naturally (the
        # probe join never matches a null cell); the kernel must match
        # — without this filter pandas renders the null cell as NaN
        # and int(NaN) kills the task (round-10 null-element probe).
        scored = (assigned.filter(F.col("__cell").isNotNull())
                  .select(F.col(id_col), F.col(vec_col),
                          F.col("__cell")).mapInPandas(
            _t, schema=f"query_id {qid_dt}, neighbor_id {id_dt}, cos double"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


# --------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# --------------------------------------------------------------------------
def first_k_centroids(corpus, k: int, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> np.ndarray:
    """The k lowest-id vectors as centroids — deterministic (and hence
    oracle-reproducible); ``train_centroids`` is the production seed.
    NULL vectors are skipped (the _drop_null_vecs contract — a null
    among the first k would otherwise crash the float conversion), and
    so are DEGENERATE vectors (a NaN or null coordinate, round 10):
    one NaN centroid wins every NaN-is-greatest argmax — Spark's
    array_max and np.argmax both rank NaN first — collapsing the whole
    corpus into that cluster; degenerate vectors are never centroid
    seeds, the train_centroids / ml.KMeans contract."""
    rows = (_drop_null_vecs(_sdf(corpus), vec_col)
            .filter(~F.exists(F.col(vec_col),
                              lambda x: x.isNull() | F.isnan(x))
                    & (l2_norm(F.col(vec_col)) > 0))
            .orderBy(id_col).select(vec_col).limit(k).collect())
    return (_stack_f64([r[0] for r in rows]) if rows
            else np.empty((0, 0)))


def assign_cluster(vec: Column, centroids: np.ndarray, round_to: int = 6) -> Column:
    """Nearest-centroid cell by ROUNDED cosine (argmax, ties -> lowest
    cluster id).  Let-bound cosine array so each centroid's expression
    appears once in the plan (same pathology note as ivf_assign).
    One ``_lit_vec`` per centroid ROW (ONE parsed expression per
    vector; r14 — ``F.lit(list)`` expands to a py4j round-trip per
    ELEMENT and dominated plan build at ~0.2 s per 64-dim centroid).

    Literal-expression form: right for SMALL k (IVF cells).  For k that
    grows with the corpus (SemDeDup's k ~ sqrt(n)) use the broadcast
    centroid-table join inside semantic_dedup — k=50k centroids cannot
    be an expression tree.

    r14: ``vec`` may be a column NAME — the whole argmax is then ONE
    parsed SQL expression (see _cos_sql for why)."""
    if isinstance(vec, str):
        from ..colname import quote_name
        v = quote_name(vec)
        vecs = ",".join(_lit_vec_sql(c) for c in centroids)
        coss = (f"transform(array({vecs}), "
                f"c -> round({_cos_sql(v, 'c')}, {int(round_to)}))")
        return F.expr(_let_sql(
            coss, "cs",
            "cast(array_position(cs, array_max(cs)) - 1 as int)"))
    from .text import _let
    coss = F.array(*[
        F.round(cosine(vec, _lit_vec(c)), round_to)
        for c in centroids])
    return _let(coss, lambda cs: (F.array_position(cs, F.array_max(cs)) - 1).cast("int"))


def semantic_dedup(corpus, n_clusters: int = 8, threshold: float = 0.95,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   centroids: str = "first-k", round_to: int = 6,
                   seed: int = 42) -> SparkDataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then compare vectors
    only WITHIN a cluster; a vector whose cosine to a lower-id
    cluster-mate is >= threshold is a semantic duplicate of it.

    Scale design (100 TB): centroids live in a k-row table BROADCAST to
    the corpus — never an expression tree, because SemDeDup's k grows
    with the corpus (~sqrt(n); the paper uses 50k clusters for 5B
    embeddings) and a 50k-branch argmax expression is unbuildable and
    uncompilable.  Assignment = crossJoin(broadcast(centroids)) +
    per-id max_by argmax: one corpus scan, map-side partial aggregate,
    no corpus shuffle.  The pairwise stage then self-joins within
    clusters only — shuffle keyed on cluster id, per-cluster work
    O((n/k)^2), no all-pairs stage anywhere.  The assigned (id,
    cluster, vec) relation is persisted so the two pair-join branches
    share one assignment pass.  The cluster exchange carries the
    INPUT-width vector (r14: a float corpus shuffles 4 bytes/coord,
    not an 8-byte float64 unit-vector copy) — the per-cluster pass
    re-derives the unit form with the identical numpy expression,
    bit-identical downstream.

    ``centroids='first-k'`` picks the k lowest-id vectors (deterministic,
    used by the correctness oracle); ``'kmeans'`` uses train_centroids.

    Returns (vec_id, cluster, dup_of): one row per REMOVED vector,
    dup_of = the smallest lower-id cluster-mate with cosine >= threshold.
    """
    import pandas as pd

    sdf = _drop_null_vecs(_sdf(corpus), vec_col)
    if centroids == "first-k":
        cent = first_k_centroids(corpus, n_clusters, vec_col, id_col)
    else:
        cent = train_centroids(corpus, n_cells=n_clusters, vec_col=vec_col, seed=seed)
    k = len(cent)
    # unit centroids, double precision (the assignment compares rounded
    # cosines, so unit-form dot == cosine at round_to decimals)
    C = np.asarray(cent, dtype="float64")
    Cu = C / np.sqrt((C ** 2).sum(axis=1, keepdims=True))
    if Cu.nbytes <= 64 << 20:
        # centroids fit a task closure: assignment is a vectorized
        # Arrow pass (numpy argmax over X @ C.T) — a pure map stage, NO
        # shuffle before the cluster exchange, no k-branch expression
        # tree (plan build is O(1), and BLAS beats interpreted
        # higher-order functions by orders of magnitude).  r14 form: a
        # Series->Series pandas_udf returning ONLY the cluster int —
        # the vector crosses INTO Python once and never back (the
        # previous mapInPandas shipped it out again as __raw: the
        # Python->JVM return leg carried ~4·d bytes/row; an
        # ArrowEvalPython projection keeps the JVM-side column and the
        # out-leg is 4 bytes/row).  Per-row math is unchanged, so the
        # assignment is bit-identical batch composition aside, and the
        # computation is batch-independent.
        rnd0, Cu0 = int(round_to), Cu

        def _cluster_of(vals):
            if not len(vals):
                return pd.Series([], dtype="int32")
            X = _stack_f64(vals)
            Xn = X / np.sqrt((X ** 2).sum(axis=1, keepdims=True))
            # centroid BLOCKS with a running (max, argmax): the full
            # n×k cosine matrix is DRAM traffic that makes every
            # worker queue on the memory bus at large k (the KMeans
            # lesson, ml.py:_assign_arrow) — each n×512 block stays
            # cache-resident.  Strict > keeps the FIRST max across
            # blocks -> lowest cluster id, matching np.argmax and
            # the oracle's (cos DESC, cid ASC) tie-break.  float64
            # throughout: the rounded-cosine compare spaces values
            # 1e-6 apart, inside float32's error band.
            n_r = len(Xn)
            best = np.full(n_r, -np.inf)
            bidx = np.zeros(n_r, dtype=np.int64)
            rows_ix = np.arange(n_r)
            for j in range(0, len(Cu0), 512):
                cos = _round_half_up(Xn @ Cu0[j:j + 512].T, rnd0)
                a = cos.argmax(axis=1)
                v = cos[rows_ix, a]
                upd = v > best
                best[upd] = v[upd]
                bidx[upd] = a[upd] + j
            return pd.Series(bidx.astype("int32"))

        # Series->Series eval type via REAL annotation objects: the
        # module-wide `from __future__ import annotations` stringifies
        # inline hints, which PySpark 4's type-hint inference rejects
        _cluster_of.__annotations__ = {"vals": pd.Series, "return": pd.Series}
        assign_udf = F.pandas_udf(_cluster_of, "int")
        # the INPUT-width vector rides to the cluster exchange
        # JVM-side (__raw: float corpora shuffle 4 bytes/coord, not an
        # 8-byte unit-vector copy); the per-cluster pass re-normalizes
        # with the identical numpy expression, bit-identical downstream
        assigned = sdf.select(F.col(id_col), F.col(vec_col).alias("__raw"),
                              assign_udf(F.col(vec_col)).alias("cluster"))
    else:
        # production k (~sqrt(n)): centroids are a broadcast TABLE —
        # a 50k-branch argmax expression is unbuildable/uncompilable.
        # crossJoin(broadcast) + per-id max_by: map-side partial agg,
        # the corpus shuffles once on id.
        cdf = sdf.sparkSession.createDataFrame(
            [(i, [float(x) / float(np.sqrt((np.asarray(c, dtype="float64") ** 2).sum()))
                  for x in c])
             for i, c in enumerate(cent)],
            "cid int, cvec array<double>")
        scored = (sdf.select(F.col(id_col).cast("long").alias(id_col),
                             normalize(F.col(vec_col)).alias("__u"))
                  .crossJoin(F.broadcast(cdf))
                  .select(F.col(id_col), F.col("__u"), F.col("cid"),
                          F.round(dot(F.col("__u"), F.col("cvec")),
                                  round_to).alias("__cos")))
        assigned = (scored.groupBy(id_col)
                    .agg(F.max_by("cid", F.struct(F.col("__cos"),
                                                  (-F.col("cid")).alias("__nc")))
                         .alias("cluster"),
                         F.first("__u").alias("__u")))

    # Within-cluster pair scan as a per-cluster Arrow batch + BLAS
    # matmul (how SemDeDup runs in production): each cluster's unit
    # vectors cross the JVM->Python boundary ONCE (n_c x d doubles),
    # against n_c^2 per-pair rows for the join form — and the
    # interpreted higher-order dot is replaced by X @ X.T.  Column
    # blocks bound the similarity matrix to n_c x B so a large cluster
    # never materializes n_c^2 doubles at once.
    thr, rnd, idc = float(threshold), int(round_to), id_col

    def _cluster_dups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[idc].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        if "__raw" in pdf.columns:
            # Arrow-assignment branch ships the raw input vector;
            # normalize here with the same expression _assign used so
            # the unit vectors (and every downstream rounded cosine)
            # are bit-identical to the previous __u-shipping form
            X = _stack_f64(pdf["__raw"].to_numpy()[order])
            X = X / np.sqrt((X ** 2).sum(axis=1, keepdims=True))
        else:
            X = _stack_f64(pdf["__u"].to_numpy()[order])
        n_rows = len(ids)
        out_id, out_dup = [], []
        # bound the n_rows×B similarity block to ~1 GB regardless of
        # cluster size: a fixed B=2048 puts a 1M-row cluster's block at
        # 16 GB — past task memory.  Total FLOPs are unchanged; only the
        # peak is capped (the cluster's own vectors are already the
        # applyInPandas group, so n_rows×d is the floor we can't cut).
        B = max(64, min(2048, (1 << 27) // max(n_rows, 1)))
        for s in range(0, n_rows, B):
            e = min(s + B, n_rows)
            Sb = X @ X[s:e].T                     # (n_rows, e-s)
            Sb = _round_half_up(Sb, rnd)
            M = Sb >= thr
            # strict upper triangle: row index (candidate dup_of) must
            # precede the column's global position == lower id
            M &= np.arange(n_rows)[:, None] < np.arange(s, e)[None, :]
            hit = M.any(axis=0)
            first = M.argmax(axis=0)              # min position = min id
            for col in np.nonzero(hit)[0]:
                out_id.append(ids[s + col])
                out_dup.append(ids[first[col]])
        cl = pdf["cluster"].iloc[0] if n_rows else 0
        return pd.DataFrame({idc: out_id,
                             "cluster": [int(cl)] * len(out_id),
                             "dup_of": out_dup})

    return (assigned.groupBy("cluster")
            .applyInPandas(_cluster_dups,
                           schema=f"{idc} long, cluster int, dup_of long"))
