"""Dedup / similarity / text / multimodal / streaming operators."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_exact_dedup(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    texts = ["hello world", "Hello   World", "unique one", "another doc", "hello world"]
    df = vs.from_arrays(spark=spark, doc_id=list(range(5)), text=texts)
    kept = dedup.exact_dedup(df, normalize=True)
    ids = sorted(kept.to_pandas_df()["doc_id"])
    assert ids == [0, 2, 3]  # 0/1/4 normalize-equal, min id kept
    groups = dedup.exact_dup_groups(df)
    g = groups.to_pandas_df()
    assert len(g) == 1 and g.iloc[0]["n_dups"] == 3


def test_minhash_recovers_near_dups(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    base = "the quick brown fox jumps over the lazy dog again and again for testing purposes"
    near = base.replace("lazy", "sleepy")
    other = "completely different content about distributed query engines and columnar formats"
    df = vs.from_arrays(spark=spark, doc_id=[1, 2, 3], text=[base, near, other])
    pairs = dedup.minhash_lsh_candidates(df, num_perm=32, num_bands=16, shingle_k=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    jac = dedup.ngram_jaccard(df, shingle_k=3)
    jrows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert jrows[(1, 2)] > 0.5
    deduped = dedup.minhash_lsh_dedup(df, num_perm=32, num_bands=16,
                                      shingle_k=3, threshold=0.5)
    assert sorted(deduped.to_pandas_df()["doc_id"]) == [1, 3]


def test_one_jaccard_contract(spark):
    # every verify tail scores the same way: exact shingle Jaccard
    # rounded to 6 decimals, thresholded on the rounded value
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for _ in range(4):
        base = list(rng.choice(vocab, 30))
        texts.append(" ".join(base))
        for n_sub in (1, 3):  # near duplicates at two distances
            near = list(base)
            for j in rng.choice(30, n_sub, replace=False):
                near[j] = f"x{rng.integers(10**6)}"
            texts.append(" ".join(near))
    texts += [" ".join(rng.choice(vocab, 30)) for _ in range(6)]
    ids = list(range(len(texts)))
    df = vs.from_arrays(spark=spark, doc_id=ids, text=texts)
    kw = dict(shingle_k=3, threshold=0.5)
    near = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.near_dup_pairs(df, num_perm=64, num_bands=32,
                                          **kw).collect()}
    all_pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard(df, pairs=all_pairs, **kw).collect()}
    assert len(near) >= 8 and near == exact
    # 25/31-style ratios show the rounding
    assert all(v == round(v, 6) for v in exact.values())
    every = dedup.ngram_jaccard(df, pairs=all_pairs, shingle_k=3)
    assert every.count() == all_pairs.count()
    kept = dedup.minhash_lsh_dedup(df, num_perm=64, num_bands=32, **kw)
    assert sorted(kept.to_pandas_df()["doc_id"]) == \
        sorted(set(ids) - {b for _, b in near})

def test_simhash_hamming(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    a = "spark is a distributed engine for large scale data processing workloads"
    b = "spark is a distributed engine for large scale data processing jobs"
    c = "cats enjoy sleeping on warm windowsills during quiet rainy afternoons"
    df = vs.from_arrays(spark=spark, doc_id=[1, 2, 3], text=[a, b, c])
    pairs = dedup.simhash_near_dups(df, max_hamming=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


@pytest.mark.parametrize("max_hamming", [3, 6, 12])
def test_simhash_blocking_exact_and_exactly_once(spark, max_hamming):
    """Pins the r14 blocking internals: variable-width disjoint chunks
    (64 % (h+1) chunks get an extra bit, so ALL hash bits block) and
    the canonical-first-chunk dedup that replaced `.distinct()`.

    Oracle = brute force: collect every doc's simhash, enumerate all
    pairs within the distance in Python.  The operator must return
    exactly that set — completeness is the pigeonhole guarantee the
    chunking must preserve — and EXACTLY ONCE per pair (a pair shares
    several chunks; without the canonical-chunk filter the join emits
    one row per shared chunk)."""
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    rng = np.random.RandomState(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    base = [vocab[i] for i in rng.randint(0, len(vocab), 12)]
    texts = []
    for i in range(36):
        words = list(base)
        # mutate 0-4 positions: a spread of hamming distances, many
        # pairs landing inside the threshold (and sharing many chunks)
        for _ in range(int(rng.randint(0, 5))):
            words[int(rng.randint(0, len(words)))] = \
                vocab[int(rng.randint(0, len(vocab)))]
        texts.append(" ".join(words))
    df = vs.from_arrays(spark=spark, doc_id=list(range(36)), text=texts)
    sims = {r["doc_id"]: r["__sim"] for r in
            dedup._simhash_long(df._spark_df(), "doc_id", "text",
                                64).collect()}
    expect = {(a, b) for a in sims for b in sims if a < b
              and bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
              <= max_hamming}
    rows = dedup.simhash_near_dups(df, max_hamming=max_hamming).collect()
    got = [(r["id_a"], r["id_b"]) for r in rows]
    assert set(got) == expect
    assert len(got) == len(expect), "each pair must be emitted exactly once"


def test_simhash_long_twin_matches_column_form(spark):
    """Pins the r15 packed-lane rewrite of _simhash_long (one SUM per
    bit PAIR, votes reconstructed as 2*ones_b > n_tokens) against the
    interpreted Column form bit-for-bit, including empty and
    whitespace-heavy docs (NULL text drops at the explode, which is
    the long form's documented contract — the Column form emits NULL,
    and neither blocks nor pairs)."""
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup
    rng = np.random.RandomState(11)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    texts = [" ".join(vocab[i] for i in rng.randint(0, len(vocab),
                                                    int(rng.randint(1, 40))))
             for _ in range(40)]
    texts += ["", "   ", "one", "a  b\tc\nd"]
    ids = list(range(len(texts)))
    df = vs.from_arrays(spark=spark, doc_id=ids, text=texts)
    long_form = {r["doc_id"]: r["__sim"] for r in
                 dedup._simhash_long(df._spark_df(), "doc_id", "text",
                                     64).collect()}
    col_form = {r["doc_id"]: r["s"] for r in
                df._spark_df().select(
                    "doc_id",
                    dedup.simhash("text", num_bits=64).alias("s")).collect()}
    assert long_form == {k: v for k, v in col_form.items() if v is not None}


def test_cosine_topk_exact(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8).astype("float64")
    df = vs.from_arrays(spark=spark, vec_id=list(range(50)),
                        embedding=[list(v) for v in vecs])
    queries = [(0, list(vecs[0]))]
    topk = similarity.brute_force_topk(df, queries, k=5)
    rows = topk.collect()
    assert rows[0]["neighbor_id"] == 0 and abs(rows[0]["cos"] - 1.0) < 1e-9
    # numpy oracle
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    expected = set(np.argsort(-sims)[:5])
    got = {r["neighbor_id"] for r in rows}
    assert got == expected


def test_cosine_topk_arrow_strategy_matches_expr(spark):
    """The Arrow map-side top-k (batch BLAS + batch-local composite-
    order selection) is a physical strategy for the SAME operator:
    identical output to the HOF/window form — including boundary TIES
    (integer vectors make every dot product exact, and duplicated rows
    plant cos-ties at the k boundary that only the (cos desc, id asc)
    selection order resolves identically).  'auto' dispatches arrow
    above q×d=256 (plan shows a Python map stage), expr below."""
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(7)
    vecs = rng.randint(-5, 6, size=(120, 6)).astype("float64")
    vecs[vecs.sum(1) == 0, 0] += 1  # avoid zero vectors
    vecs[60:] = vecs[:60]  # exact duplicates -> cos ties at the boundary
    df = vs.from_arrays(spark=spark, vec_id=list(range(120)),
                        embedding=[list(v) for v in vecs])
    df = vs.DataFrame(df.spark.repartition(7))  # multi-batch selection
    queries = [(i, list(vecs[i])) for i in range(8)]
    a = similarity.brute_force_topk(df, queries, k=5, strategy="expr")
    b = similarity.brute_force_topk(df, queries, k=5, strategy="arrow")
    ra = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
          for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
          for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb
    # auto dispatch: 8 queries x 6 dims = 48 -> expr (no Python stage);
    # 50 queries x 6 dims = 300 -> arrow
    small = similarity.brute_force_topk(df, queries, k=3)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    big_q = [(i, list(vecs[i])) for i in range(50)]
    big = similarity.brute_force_topk(df, big_q, k=3)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan


def test_ivf_topk_arrow_matches_expr(spark):
    """ivf_topk's arrow scoring (per-cell BLAS matmul, batch-local
    top-k under the final composite order, driver-side probe selection
    with the Column form's (distance, cell-id) tie order) must equal
    the expr form exactly on integer vectors (dot products exact), and
    'auto' dispatches by q×d."""
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(3)
    vecs = rng.randint(-4, 5, size=(200, 8)).astype("float64")
    vecs[vecs.sum(1) == 0, 0] += 1
    df = vs.from_arrays(spark=spark, vec_id=list(range(200)),
                        embedding=[list(v) for v in vecs])
    df = vs.DataFrame(df.spark.repartition(5))
    queries = [(i, list(vecs[i])) for i in range(6)]
    a = similarity.ivf_topk(df, queries, k=5, n_cells=8, n_probe=8,
                            strategy="expr")
    b = similarity.ivf_topk(df, queries, k=5, n_cells=8, n_probe=8,
                            strategy="arrow")
    ra = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
          for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
          for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb and len(ra) == 30
    big_q = [(i, list(vecs[i])) for i in range(40)]  # 40*8=320 > 256
    plan = similarity.ivf_topk(df, big_q, k=3)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "MapInPandas" in plan, plan


def test_topk_query_dispatch_edge_cases(spark):
    """ADVICE r7: (a) empty query set under explicit strategy='arrow'
    returns an empty frame (expr fallback) instead of a numpy axis
    error, for both brute_force_topk and ivf_topk; (b) the 'auto'
    decision on a DataFrame query side probes q×d with a bounded
    limit().count(), never a full collect — checked by dispatching on
    a query frame Spark can't know is large (range-generated) and
    asserting the chosen plan, both sides of the threshold."""
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype("float64")
    df = vs.from_arrays(spark=spark, vec_id=list(range(60)),
                        embedding=[list(v) for v in vecs])
    for fn, kw in ((similarity.brute_force_topk, {}),
                   (similarity.ivf_topk, {"n_cells": 4, "n_probe": 2})):
        out = fn(df, [], k=3, strategy="arrow", **kw)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]
    # DataFrame query side: auto must pick expr at q*d=6*8=48 <= 256
    # and arrow at 40*8=320 > 256, deciding from the bounded probe
    qsmall = df.spark.limit(6).select("vec_id", "embedding")
    qbig = df.spark.limit(40).select("vec_id", "embedding")
    p1 = (similarity.brute_force_topk(df, qsmall, k=3)
          ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in p1, p1
    p2 = (similarity.brute_force_topk(df, qbig, k=3)
          ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in p2, p2
    p3 = (similarity.ivf_topk(df, qsmall, k=3, n_cells=4, n_probe=2)
          ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in p3, p3
    p4 = (similarity.ivf_topk(df, qbig, k=3, n_cells=4, n_probe=2)
          ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in p4, p4


def test_similarity_null_and_degenerate_vectors(spark):
    """Round-8 contract: NULL vectors are excluded at every similarity/
    clustering operator boundary (corpus AND query sides — the Arrow
    kernels crashed on np.stack(None), found by a null smoke);
    degenerate cosines (zero-norm vectors, NaN coordinates) are NULL
    and rank LAST in BOTH physical strategies, and the batch-local
    Arrow selection treats them as -inf so they can never evict a real
    neighbor.  The two strategies must be bit-identical on a corpus
    full of degenerates."""
    from vaex_spark.datapipe import similarity as S
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
            (2, None), (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [float("nan"), 1.0, 0.0, 0.0]), (5, [0.5, 0.5, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = [(0, [1.0, 0.0, 0.0, 0.0])]
    a = sorted(map(tuple, S.brute_force_topk(
        df, q, k=5, strategy="expr").collect()))
    b = sorted(map(tuple, S.brute_force_topk(
        df, q, k=5, strategy="arrow").collect()))
    assert a == b
    ranks = {r[1]: (r[3], r[2]) for r in a}  # neighbor -> (rank, cos)
    assert 2 not in ranks                       # null vector excluded
    assert ranks[0][0] == 1 and ranks[1][0] == 2 and ranks[5][0] == 3
    assert ranks[3][1] is None and ranks[4][1] is None  # degenerate
    assert {ranks[3][0], ranks[4][0]} == {4, 5}         # ... rank last
    ia = sorted(map(tuple, S.ivf_topk(df, q, k=5, n_cells=2, n_probe=2,
                                      strategy="expr").collect()))
    ib = sorted(map(tuple, S.ivf_topk(df, q, k=5, n_cells=2, n_probe=2,
                                      strategy="arrow").collect()))
    assert ia == ib == a
    # null QUERY rows in a DataFrame query side are excluded too
    qdf = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0]), (9, None)],
                                "vec_id bigint, embedding array<double>")
    out = S.brute_force_topk(df, qdf, k=3)
    assert {r["query_id"] for r in out.collect()} == {0}
    # every other family runs clean over the same corpus
    assert S.lsh_topk(df, q, k=3, bits=3, n_tables=2).count() >= 1
    assert S.embedding_near_dups(df, threshold=0.9, bits=2,
                                 n_tables=2).count() >= 0
    assert S.semantic_dedup(df, n_clusters=2, threshold=0.9).count() >= 0
    assert len(S.train_centroids(df, n_cells=2)) == 2
    # first-k centroid seeding skips a null in the first k rows
    nf = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>")
    assert S.first_k_centroids(nf, 2).tolist() == [[1.0, 0.0], [0.0, 1.0]]


def test_round_half_up_matches_spark_round(spark):
    """The Arrow kernels' _round_half_up agrees with F.round (BigDecimal
    HALF_UP) on exact decimal midpoints where np.round (half-to-even)
    does not, and on ordinary values, signs, and specials."""
    from vaex_spark.datapipe.similarity import _round_half_up
    vals = [0.125, -0.125, 0.375, -0.375, 0.005, 2.675, -2.675,
            1.0, -1.0, 0.123456, -0.654321, 0.0]
    for r in (2, 6):
        sdf = spark.createDataFrame([(v,) for v in vals], "x double")
        want = [row[0] for row in
                sdf.select(F.round("x", r)).collect()]
        got = list(_round_half_up(np.array(vals), r))
        assert got == want, (r, list(zip(vals, got, want)))
    out = _round_half_up(np.array([np.nan, np.inf, -np.inf]), 6)
    assert np.isnan(out[0]) and out[1] == np.inf and out[2] == -np.inf


def test_bucket_long_matches_column_form(spark):
    """_bucket_long (one Arrow BLAS matmul per batch, long format
    emitted directly) must produce the exact (id, table, bucket) rows
    of the Column hyperplane_bucket form on real embeddings, and
    _bucket_auto dispatches by Catalyst stats (Column form for a
    one-advisory-partition frame; Arrow beyond — forced via a tiny
    advisory)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import (_bucket_auto, _bucket_long,
                                                _hyperplanes,
                                                hyperplane_bucket)
    emb = vs.open("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    sdf = emb.spark.select("vec_id", "embedding")
    dim, bits, nt, seed = 64, 6, 8, 42
    buckets = F.array(*[hyperplane_bucket(F.col("embedding"),
                                          _hyperplanes(dim, bits, seed + t))
                        for t in range(nt)])
    old = sorted(map(tuple, sdf.select(
        "vec_id", F.posexplode(buckets).alias("table", "bucket")).collect()))
    new = sorted(map(tuple, _bucket_long(
        sdf, "vec_id", "embedding", dim, bits, nt, seed).collect()))
    assert old == new and len(new) == sdf.count() * nt
    # dispatch: Column only when BOTH one advisory partition AND under
    # the ~500k interpreted plane-coord bound (r9 work-aware gate) —
    # 500 rows x 2 tables x 6 bits x 64 dims = 384k stays Column...
    small = _bucket_auto(sdf, "vec_id", "embedding", dim, bits, 2, seed)
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    # ...while the full nt=8 set (1.5M coords) goes Arrow even at one
    # partition (Column measured 3.8-4.8s vs Arrow 0.43-0.54s at
    # comparable work, SCALECHECK_r09)
    coords = _bucket_auto(sdf, "vec_id", "embedding", dim, bits, nt, seed)
    assert "MapInPandas" in coords._jdf.queryExecution().executedPlan().toString()
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        big = _bucket_auto(sdf, "vec_id", "embedding", dim, bits, 2, seed)
        assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64MB")


def test_lsh_and_ivf_recall(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(1)
    vecs = rng.randn(200, 16)
    df = vs.from_arrays(spark=spark, vec_id=list(range(200)),
                        embedding=[list(v) for v in vecs])
    queries = [(0, list(vecs[0])), (1, list(vecs[1]))]
    exact = similarity.brute_force_topk(df, queries, k=5)
    etop = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    lsh = similarity.lsh_topk(df, queries, k=5, bits=4, n_tables=4)
    ltop = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    assert len(etop & ltop) >= 4  # decent recall incl. self-matches
    ivf = similarity.ivf_topk(df, queries, k=5, n_cells=8, n_probe=4)
    itop = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    assert (0, 0) in itop and (1, 1) in itop


def test_text_stats(docs):
    from vaex_spark.datapipe import text
    out = text.with_text_stats(docs)
    pdf = out.to_pandas_df()
    assert (pdf["n_tokens"] > 0).all()
    assert pdf["quality"].between(0, 1).all()
    assert pdf["lang_guess"].notna().all()
    # fingerprint: identical normalized text -> identical fingerprint
    assert pdf["fingerprint"].nunique() == pdf["fingerprint"].count()


def test_shingles(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.text import shingles
    df = vs.from_arrays(spark=spark, t=["a b c d e"])
    arr = df._spark_df().select(shingles(F.col("t"), k=3).alias("s")).collect()[0]["s"]
    assert arr == ["a b c", "b c d", "c d e"]


def test_multimodal_features(spark):
    from vaex_spark.datapipe import multimodal as mm
    t = mm.make_fake_image_table(spark, n=10)
    feats = mm.image_features(t)
    rows = feats.collect()
    assert len(rows) == 10
    assert all(len(r["features"]) == 8 for r in rows)
    # deterministic: same run twice gives same features
    rows2 = mm.image_features(t).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in rows2]


def test_streaming_window(spark, tmp_path):
    import shutil
    from vaex_spark import streaming as st
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(src / "events.parquet"))
    s = st.open_stream(str(src), spark=spark)
    assert s.schema["ts"] == "timestamp"
    win = st.window_agg(s, "ts", "1 hour", {"n": "count"}, watermark="1 hour")
    # complete mode emits every window; append would hold back windows
    # still within the watermark (those 2 remain in state at EOF)
    st.run_to_memory(win, "t_win", output_mode="complete")
    total = spark.sql("select sum(n) from t_win").collect()[0][0]
    assert total == 1000


def test_streaming_stateful_running_agg(spark, tmp_path):
    import shutil
    from vaex_spark import streaming as st
    src = tmp_path / "src2"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(src / "events.parquet"))
    s = st.open_stream(str(src), spark=spark)
    run = st.stream_running_agg(s, ["event_type"], "value")
    st.run_to_memory(run, "t_run", output_mode="update")
    rows = {r.event_type: r for r in spark.sql("select * from t_run").collect()}
    # cross-check the lifetime aggregates against a batch groupby
    import vaex_spark as vs
    from pyspark.sql import functions as F
    batch = vs.open("/root/testdata/sf0.001/events.parquet", spark=spark)
    want = {r.event_type: r for r in batch.spark.groupBy("event_type").agg(
        F.count("value").alias("n"), F.sum("value").alias("s"),
        F.max("value").alias("m")).collect()}
    assert set(rows) == set(want)
    for k in want:
        assert rows[k].running_count == want[k].n
        assert abs(rows[k].running_sum - want[k].s) < 1e-6
        assert rows[k].running_max == want[k].m


def test_embedding_near_dups_recall(spark):
    """Planted near-identical vectors must all be found (LSH blocking +
    exact cosine verify); unrelated random pairs must not pass."""
    import numpy as np
    from vaex_spark.datapipe import similarity
    rng = np.random.RandomState(5)
    base = rng.randn(200, 32)
    rows = [(i, base[i].tolist()) for i in range(200)]
    # plant 10 near-dups: tiny perturbations of existing vectors
    planted = []
    for j in range(10):
        src = j * 17
        noisy = base[src] + rng.randn(32) * 0.01
        rows.append((1000 + j, noisy.tolist()))
        planted.append((src, 1000 + j))
    sdf = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = similarity.embedding_near_dups(sdf, threshold=0.95)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    for a, b in planted:
        assert (a, b) in pairs, f"planted pair {(a, b)} missed"
    # random gaussian pairs essentially never reach cos 0.95 in 32-d
    assert len(pairs) == len(planted)


def test_connected_components_and_cc_dedup(spark, docs):
    from vaex_spark.datapipe import dedup
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 30), (20, 30), (40, 50)], "id_a bigint, id_b bigint")
    comp = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10, 30: 10, 40: 40, 50: 40}
    # cluster dedup keeps exactly one survivor per component
    kept = dedup.minhash_lsh_dedup_cc(docs, threshold=0.5)
    n_kept = kept.count()
    pairwise = dedup.minhash_lsh_dedup(docs, threshold=0.5)
    assert n_kept <= pairwise.count()
    # survivors contain every component representative exactly once
    verified = dedup.near_dup_pairs(docs, threshold=0.5)
    comp2 = dedup.connected_components(verified).collect()
    n_docs = docs.count()
    dup_nodes = {r.id for r in comp2}
    reps = {r.comp for r in comp2}
    assert n_kept == n_docs - len(dup_nodes) + len(reps)


def test_stream_static_join(spark, tmp_path):
    import shutil
    import vaex_spark as vs
    from vaex_spark import streaming as st
    src = tmp_path / "src3"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(src / "events.parquet"))
    s = st.open_stream(str(src), spark=spark)
    dim = spark.createDataFrame(
        [(t,) for t in ["click", "view", "purchase"]], ["event_type"]
    ).withColumn("is_tracked", __import__("pyspark").sql.functions.lit(True))
    joined = st.stream_static_join(s, dim, on="event_type", how="left")
    st.run_to_memory(joined.select("event_type", "is_tracked"), "t_join",
                     output_mode="append")
    rows = spark.sql(
        "select count(*) as n, count(is_tracked) as tracked from t_join").collect()[0]
    assert rows.n == 1000
    batch = vs.open("/root/testdata/sf0.001/events.parquet", spark=spark)
    want = len(batch[batch.event_type.isin(["click", "view", "purchase"])])
    assert rows.tracked == want


def test_run_foreach_batch(spark, tmp_path):
    import shutil
    from vaex_spark import streaming as st
    src = tmp_path / "src4"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(src / "events.parquet"))
    s = st.open_stream(str(src), spark=spark)
    seen = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    st.run_foreach_batch(s._spark_df() if hasattr(s, "_spark_df") else s, sink,
                         checkpoint=str(tmp_path / "ckpt4"))
    assert sum(seen.values()) == 1000


def test_stream_stream_join(spark, tmp_path):
    import shutil
    from pyspark.sql import functions as F
    from vaex_spark import streaming as st
    src_a = tmp_path / "ssj_a"
    src_b = tmp_path / "ssj_b"
    for d in (src_a, src_b):
        d.mkdir()
        shutil.copy("/root/testdata/sf0.001/events.parquet", str(d / "events.parquet"))
    a = st.open_stream(str(src_a), spark=spark)._spark_df()
    b = st.open_stream(str(src_b), spark=spark)._spark_df()
    a = a.select(F.col("event_id"), F.col("ts").alias("ts_a"),
                 F.col("value").alias("value_a"))
    b = b.select(F.col("event_id").alias("event_id_b"), F.col("ts").alias("ts_b"),
                 F.col("value").alias("value_b"))
    joined = st.stream_stream_join(
        a, b, on=a["event_id"] == b["event_id_b"],
        left_time="ts_a", right_time="ts_b",
        left_delay="1 hour", right_delay="1 hour",
        condition=(b["ts_b"] >= a["ts_a"]) & (b["ts_b"] <= a["ts_a"] + F.expr("interval 1 hour")))
    st.run_to_memory(joined.select("event_id", "value_a", "value_b"),
                     "t_ssj", output_mode="append")
    rows = spark.sql("select count(*) n from t_ssj").collect()[0]
    assert rows.n == 1000  # self-join on unique id, ts condition trivially true


def test_audio_features(spark):
    from vaex_spark.datapipe import multimodal as mm
    t = mm.make_fake_audio_table(spark, n=12)
    feats = mm.audio_features(t)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r["features"]) == 6 for r in rows)
    # deterministic + binary payload not in output schema
    assert "audio" not in feats.columns
    rows2 = mm.audio_features(t).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in rows2]


def test_pii_redaction(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe import text as T
    df = vs.from_arrays(
        text=["mail bob@x.org now", "call +1 555-123-4567", "ip 192.168.0.1",
              "ssn 123-45-6789", "clean line"], spark=spark)
    out = T.with_pii_scrub(df)
    rows = out[["text_redacted", "pii_email", "pii_phone", "pii_ipv4", "pii_ssn"]].to_pandas_df()
    assert rows["text_redacted"].tolist()[0] == "mail [email] now"
    assert "[phone]" in rows["text_redacted"].tolist()[1]
    assert "[ipv4]" in rows["text_redacted"].tolist()[2]
    assert "[ssn]" in rows["text_redacted"].tolist()[3]
    assert rows["text_redacted"].tolist()[4] == "clean line"
    assert rows["pii_email"].tolist() == [1, 0, 0, 0, 0]
    assert rows["pii_ssn"].tolist() == [0, 0, 0, 1, 0]


def test_repetition_stats(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.repetition import repetition_stats
    # doc 1: "ab cd\nab cd\nxy" -> 3 lines, "ab cd" duplicated
    df = vs.from_arrays(doc_id=[1, 2],
                        text=["ab cd\nab cd\nxy",
                              "w w w w w unique tail"], spark=spark)
    out = {r["doc_id"]: r for r in repetition_stats(df).spark.collect()}
    r1 = out[1]
    assert r1["n_lines"] == 3
    assert abs(r1["dup_line_frac"] - 1 / 3) < 1e-12          # 3 lines, 2 distinct
    assert abs(r1["dup_line_char_frac"] - 5 / 12) < 1e-12    # one repeat of 'ab cd'
    r2 = out[2]
    # 2-grams of doc2: 'w w' x4 (12 chars), 'w unique' (8), 'unique tail'
    # (11) -> top covers 12 of 31 gram chars
    assert abs(r2["top2gram_char_frac"] - 12 / 31) < 1e-12
    assert r2["dup_line_frac"] == 0.0


def test_gopher_filter(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.repetition import gopher_filter
    rep = " ".join(["spam spam spam"] * 10)
    clean = "the quick brown fox jumps over a lazy dog near the river bank today"
    df = vs.from_arrays(doc_id=[1, 2], text=[rep, clean], spark=spark)
    kept = [r["doc_id"] for r in gopher_filter(df).spark.collect()]
    assert kept == [2]


def test_contamination(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import contamination
    probe_span = "one two three four five six seven eight nine ten"
    docs = vs.from_arrays(
        doc_id=[1, 2, 3],
        text=[f"prefix words here {probe_span} suffix words",
              "totally different content with no overlap at all whatsoever",
              f"{probe_span} leading match"], spark=spark)
    probes = vs.from_arrays(probe_id=[100], text=[probe_span], spark=spark)
    out = contamination(docs, probes, k=8, probe_id_col="probe_id")
    got = {(r["doc_id"], r["probe_id"]): r["n_overlap"] for r in out.collect()}
    assert (2, 100) not in got
    assert got[(1, 100)] == 3 and got[(3, 100)] == 3  # 10-word span -> 3 8-shingles


def test_pack_sequences_chunk(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.packing import pack_sequences
    df = vs.from_arrays(doc_id=[0, 1, 2, 3, 4],
                        n=[300, 300, 300, 600, 50], spark=spark)
    out = {r["doc_id"]: r for r in
           pack_sequences(df, "n", 512, order_key="doc_id").spark.collect()}
    # stream offsets: 0,300,600,900,1500 -> bins 0,0,1,1,2
    assert [out[i]["bin"] for i in range(5)] == [0, 0, 1, 1, 2]
    assert out[1]["end_bin"] == 1          # 300..599 straddles the cut
    assert out[2]["offset"] == 600 % 512


def test_pack_chunk_partition_count_invariance(spark):
    """Pins the r14 scale-adaptive range-partition count: chunk
    packing's global cumsum (_before_local + _poff) must yield
    IDENTICAL bin/end_bin/offset at ANY partition count.  Forcing a
    tiny advisory partition size makes range_partition_count pick a
    different (larger) n than the default run — outputs must match
    row for row."""
    import vaex_spark as vs
    from vaex_spark.datapipe.packing import pack_sequences
    rng = np.random.RandomState(3)
    lens = [int(x) for x in rng.randint(1, 900, 500)]
    df = vs.from_arrays(doc_id=list(range(len(lens))), n=lens, spark=spark)

    def run():
        rows = pack_sequences(df, "n", 512, order_key="doc_id").spark.collect()
        return sorted((r["doc_id"], r["bin"], r["end_bin"], r["offset"])
                      for r in rows)

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    base = run()
    try:
        spark.conf.set(key, "1KB")
        tiny = run()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert tiny == base


def test_pack_sequences_carry(spark):
    """Pins the r15 carry-columns variant: carrying extra columns
    through the range exchange must not change bin/end_bin/offset
    (carry never feeds the range sampler or the cumsum), must bring
    the carried values back intact, and must reject collisions with
    pack internals / non-chunk strategies."""
    import pytest

    import vaex_spark as vs
    from vaex_spark.datapipe.packing import pack_sequences
    rng = np.random.RandomState(7)
    lens = [int(x) for x in rng.randint(1, 900, 300)]
    texts = [f"t{i}" for i in range(len(lens))]
    df = vs.from_arrays(doc_id=list(range(len(lens))), n=lens,
                        text=texts, spark=spark)
    plain = {r["doc_id"]: (r["bin"], r["end_bin"], r["offset"])
             for r in pack_sequences(df, "n", 512,
                                     order_key="doc_id").spark.collect()}
    carried = pack_sequences(df, "n", 512, order_key="doc_id",
                             carry=["text"]).spark.collect()
    assert {r["doc_id"]: (r["bin"], r["end_bin"], r["offset"])
            for r in carried} == plain
    assert all(r["text"] == f"t{r['doc_id']}" for r in carried)
    with pytest.raises(ValueError, match="collide"):
        pack_sequences(df, "n", 512, order_key="doc_id", carry=["bin"])
    with pytest.raises(ValueError, match="chunk"):
        pack_sequences(df, "n", 512, order_key="doc_id",
                       strategy="nextfit", carry=["text"])


def test_pack_sequences_nextfit(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.packing import pack_sequences
    lens = [300, 300, 300, 600, 50, 500, 20]
    df = vs.from_arrays(doc_id=list(range(len(lens))), n=lens, spark=spark)
    rows = pack_sequences(df, "n", 512, order_key="doc_id",
                          strategy="nextfit").spark.collect()
    by_doc = {r["doc_id"]: r["bin"] for r in rows}
    # greedy reference within each partition: docs in order, no splits
    import collections
    per_bin = collections.defaultdict(int)
    for r in rows:
        per_bin[r["bin"]] += min(r["n_tokens"], 512)
    assert all(v <= 512 for v in per_bin.values())
    # same-partition consecutive docs that fit must share a bin
    assert by_doc[4] == by_doc[5] or by_doc[4] != by_doc[3]



def _planted_near_dup_docs(seed=7):
    """(corpus, batch) text lists: batch docs are corpus docs with their
    last m = 0..20 of 30 words swapped, so their Jaccards against the
    corpus, (26 - m) / (26 + m), span 0.13..1 and hit 0.3 exactly at
    m = 14; plus unrelated docs, a short doc and a NULL."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(400)]
    corpus = [" ".join(rng.choice(vocab, 30)) for _ in range(12)]
    batch = []
    for m in range(21):
        words = corpus[m % len(corpus)].split()
        for pos in range(30 - m, 30):
            words[pos] = f"x{m}_{pos}"
        batch.append(" ".join(words))
    batch += [" ".join(rng.choice(vocab, 25)) for _ in range(5)]
    batch += ["w1 w2 w3", None]
    return corpus, batch


def _exact_jaccard6(a, b, k=5):
    """The verify tail's Jaccard in pure Python: k-word shingle sets of
    the lowercased, whitespace-collapsed words, rounded half-up to 6
    decimals like Spark's round()."""
    from decimal import ROUND_HALF_UP, Decimal

    def sets(t):
        w = " ".join(t.lower().split()).split(" ")
        return ({" ".join(w)} if len(w) < k else
                {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)})
    sa, sb = sets(a), sets(b)
    j = (len(sa) + len(sb) - len(sa | sb)) / len(sa | sb)
    return float(Decimal(j).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_near_dup_against_corpus_matches_brute_force(spark):
    """The screen keeps exactly the batch rows whose exact 6-decimal
    Jaccard against every corpus doc is below the threshold, with and
    without a persisted corpus index.  One row per band (r=1, b=64)
    puts LSH recall at ~1 - 0.7^64 for J >= 0.3, so the test pins the
    verify tail, not banding luck."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (corpus_lsh_index,
                                           near_dup_against_corpus)
    ctexts, btexts = _planted_near_dup_docs()
    corpus = vs.from_arrays(doc_id=np.arange(len(ctexts)), text=ctexts,
                            spark=spark)
    bids = np.arange(100, 100 + len(btexts))
    batch = vs.DataFrame(spark.createDataFrame(
        list(zip(bids.tolist(), btexts)), "doc_id long, text string"))
    params = dict(num_perm=64, num_bands=64)
    index = corpus_lsh_index(corpus, **params).spark
    best = {i: max((_exact_jaccard6(t, c) for c in ctexts), default=0.0)
            if t is not None else 0.0 for i, t in zip(bids.tolist(), btexts)}
    for threshold in (0.3, 0.5, 0.8):
        want = sorted(i for i, j in best.items() if j < threshold)
        assert 0 < len(want) < len(best), threshold
        for ci in (None, index):
            got = sorted(r["doc_id"] for r in near_dup_against_corpus(
                batch, corpus, threshold=threshold, corpus_index=ci,
                **params).spark.select("doc_id").collect())
            assert got == want, (threshold, ci is None)


def test_near_dup_against_corpus_builds_candidates_once(spark):
    """The candidate pairs feed one join: the physical plan holds one
    (__bid, __cid) aggregate exchange, not one per use."""
    import re

    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (corpus_lsh_index,
                                           near_dup_against_corpus)
    ctexts, btexts = _planted_near_dup_docs()
    corpus = vs.from_arrays(doc_id=np.arange(len(ctexts)), text=ctexts,
                            spark=spark)
    batch = vs.from_arrays(doc_id=np.arange(100, 105), text=btexts[:5],
                           spark=spark)
    out = near_dup_against_corpus(batch, corpus,
                                  corpus_index=corpus_lsh_index(corpus).spark)
    plan = out.spark._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"hashpartitioning\(__bid#\d+L?, __cid#\d+L?",
                          plan)) == 1, plan


def test_tfidf_terms(spark):
    import math
    import vaex_spark as vs
    from vaex_spark.datapipe.text import tf_idf_terms
    df = vs.from_arrays(doc_id=[1, 2],
                        text=["apple apple banana", "banana cherry"], spark=spark)
    rows = {(r["doc_id"], r["term"]): r for r in tf_idf_terms(df, k=2).spark.collect()}
    # 'apple' only in doc1 (tf=2, df=1): tfidf = 2*(ln(3/2)+1)
    want = round(2 * (math.log(3 / 2) + 1), 6)
    assert abs(rows[(1, "apple")]["tfidf"] - want) < 1e-9
    assert rows[(1, "apple")]["rank"] == 1
    # 'banana' in both docs (df=2): idf = ln(3/3)+1 = 1 -> tfidf = tf
    assert abs(rows[(2, "cherry")]["tfidf"] - round(math.log(3 / 2) + 1, 6)) < 1e-9


def test_unigram_logprob(spark):
    import math
    import vaex_spark as vs
    from vaex_spark.datapipe.text import unigram_logprob
    df = vs.from_arrays(doc_id=[1, 2], text=["a a b", "c"], spark=spark)
    got = {r["doc_id"]: r for r in unigram_logprob(df).spark.collect()}
    # corpus: a:2 b:1 c:1, total=4, vocab=3 -> p(a)=3/7, p(b)=p(c)=2/7
    lp = lambda c: round(math.log((c + 1) / 7.0), 9)
    d1 = (2 * lp(2) + lp(1)) / 3
    assert abs(got[1]["mean_logprob"] - d1) < 1e-9
    assert got[2]["n_tokens"] == 1
    assert abs(got[2]["mean_logprob"] - lp(1)) < 1e-9
    # rarer-token doc scores lower
    assert got[2]["mean_logprob"] < got[1]["mean_logprob"]


def test_curate_pipeline(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.curate import curate
    good = ("the quick brown fox jumps over the lazy dog while the calm river "
            "flows past green hills and quiet farms under a clear morning sky")
    rep = " ".join(["spam spam spam"] * 12)
    dup = good
    df = vs.from_arrays(doc_id=[1, 2, 3],
                        text=[good, rep, dup], spark=spark)
    out = curate(df, min_quality=None, langs=None, dedup="exact",
                 pack_tokens=16)
    rows = out.spark.collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [1]                    # rep filtered, dup removed
    assert all(r["bin"] >= 0 for r in rows)
    # skippable stages: everything off returns the frame unchanged
    noop = curate(df, langs=None, min_quality=None,
                  repetition_filter=False, dedup=None)
    assert noop.spark.count() == 3


def test_video_frame_sampling_and_resize(spark):
    from vaex_spark.datapipe import multimodal as mm
    vids = mm.make_fake_video_table(spark, n=5)
    frames = mm.frame_sample_stub(vids, every_ms=1000)
    rows = frames.collect()
    durations = {r["video_id"]: r["video"]["duration_ms"] for r in rows}
    counts = {}
    for r in rows:
        counts[r["video_id"]] = counts.get(r["video_id"], 0) + 1
        assert r["frame_ts_ms"] == r["frame_index"] * 1000
    for vid, c in counts.items():
        assert c == max(durations[vid] // 1000, 1)
    imgs = mm.make_fake_image_table(spark, n=4)
    resized = mm.resize_stub(imgs, width=16, height=16).collect()
    assert all(r["image"]["width"] == 16 and r["image"]["height"] == 16
               for r in resized)


def test_mix_budget_exact_excludes_crossing_doc(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import mix_budget
    df = vs.from_arrays(doc_id=[1, 2, 3, 4], src=["a"] * 4,
                        n=[10, 10, 10, 10], spark=spark)
    out = mix_budget(df, {"a": 25.0}, group_col="src", length_col="n",
                     order_key="doc_id", strategy="exact")
    assert sorted(r["doc_id"] for r in out.spark.collect()) == [1, 2]


def test_mix_budget_hash_deterministic_and_near_budget(spark):
    """The 100 TB strategy: deterministic selection (same ids on rerun),
    a subset of the group, and the achieved volume within sampling noise
    of the budget."""
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import mix_budget
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    budgets = {"en": 30000.0}
    sel1 = mix_budget(docs, budgets, group_col="lang", strategy="hash")
    sel2 = mix_budget(docs, budgets, group_col="lang", strategy="hash")
    ids1 = sorted(r["doc_id"] for r in sel1.spark.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in sel2.spark.select("doc_id").collect())
    assert ids1 == ids2 and ids1
    used = sel1.spark.agg(F.sum("n_chars")).collect()[0][0]
    total = (docs.spark.filter(F.col("lang") == "en")
             .agg(F.sum("n_chars")).collect()[0][0])
    assert used <= total
    # expectation = budget; allow 3-sigma-ish sampling noise
    assert abs(used - 30000.0) < 0.5 * 30000.0
    # dropped groups: nothing outside the recipe survives
    langs = {r["lang"] for r in sel1.spark.select("lang").distinct().collect()}
    assert langs == {"en"}


def test_remove_boilerplate_lines(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.text import remove_boilerplate_lines
    docs = vs.from_arrays(
        doc_id=[1, 2, 3],
        text=["COOKIE BANNER\nreal content one",
              "cookie banner\nother real text\nunique line",
              "totally unique document"],
        spark=spark)
    out = {r["doc_id"]: r["text"]
           for r in remove_boilerplate_lines(docs, min_docs=2).spark.collect()}
    # the shared (case-normalized) line vanished from both docs
    assert out[1] == "real content one"
    assert out[2] == "other real text\nunique line"
    assert out[3] == "totally unique document"


def test_remove_boilerplate_all_boiler_doc_kept_empty(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.text import remove_boilerplate_lines
    docs = vs.from_arrays(doc_id=[1, 2], text=["same", "same"], spark=spark)
    out = {r["doc_id"]: r["text"]
           for r in remove_boilerplate_lines(docs, min_docs=2).spark.collect()}
    assert out == {1: "", 2: ""}


def test_exact_dedup_incremental_and_fingerprint_table(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (corpus_fingerprints,
                                           exact_dedup_incremental)
    seen = vs.from_arrays(doc_id=[1, 2], text=["alpha beta", "gamma"], spark=spark)
    batch = vs.from_arrays(doc_id=[10, 11, 12, 13],
                           text=["ALPHA   beta", "delta", "delta", "epsilon"],
                           spark=spark)
    out = sorted(r["doc_id"] for r in
                 exact_dedup_incremental(batch, seen).spark.collect())
    # 10 dies (normalized dup of seen 'alpha beta'), 12 dies (in-batch dup)
    assert out == [11, 13]
    # the persistable fingerprint-table path gives identical results
    fps = corpus_fingerprints(seen)
    out2 = sorted(r["doc_id"] for r in
                  exact_dedup_incremental(batch, fps).spark.collect())
    assert out2 == [11, 13]
    # a seen text dies even when a fresh row shares its id, and a
    # caller column named __fp rides through untouched
    batch2 = vs.from_arrays(doc_id=[20, 20, 21], text=["zeta", "gamma", "eta"],
                            __fp=[7, 8, 9], spark=spark)
    for s_ in (seen, fps):
        rows = sorted((r["doc_id"], r["text"], r["__fp"]) for r in
                      exact_dedup_incremental(batch2, s_).spark.collect())
        assert rows == [(20, "zeta", 7), (21, "eta", 9)]


def test_near_dup_against_corpus_drops_fuzzy_matches(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import near_dup_against_corpus
    corpus = vs.from_arrays(
        doc_id=[1], text=["the quick brown fox jumps over the lazy dog today"],
        spark=spark)
    batch = vs.from_arrays(
        doc_id=[10, 11],
        text=["the quick brown fox jumps over the lazy dog now",  # near-dup
              "completely different content about spark engines"],
        spark=spark)
    out = sorted(r["doc_id"] for r in
                 near_dup_against_corpus(batch, corpus, threshold=0.4)
                 .spark.collect())
    assert out == [11]


def test_exact_dedup_strategies_agree(spark):
    """window / minby / auto select identical rows under keep=min and
    keep=max, on a frame with normalized duplicates and on the
    documents table; an unknown strategy raises."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import exact_dedup
    small = vs.from_arrays(doc_id=list(range(6)), spark=spark,
                           text=["a b", "A  b", "c", "d", "a b", "c"])
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    want = {"min": [0, 2, 3], "max": [3, 4, 5]}
    for df in (small, docs):
        for keep in ("min", "max"):
            got = {s: sorted(exact_dedup(df, keep=keep, strategy=s)
                             .to_pandas_df()["doc_id"])
                   for s in ("window", "minby", "auto")}
            assert got["window"] == got["minby"] == got["auto"], (keep, got)
            if df is small:
                assert got["window"] == want[keep], (keep, got)
    with pytest.raises(ValueError, match="strategy"):
        exact_dedup(small, strategy="agg")


def test_streaming_curation_matches_batch(spark, tmp_path):
    """The curation pipeline run per micro-batch over a real file stream
    (foreachBatch + availableNow) must keep exactly the docs the batch
    run keeps — the operators are micro-batch-safe (quality/repetition
    are per-row; exact dedup here is per-batch + cross-batch via the
    persistable fingerprint table)."""
    import shutil
    import vaex_spark as vs
    from vaex_spark import streaming as st
    from vaex_spark.datapipe.curate import curate

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                str(src / "documents.parquet"))

    batch_df = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    expected = sorted(r["doc_id"] for r in
                      curate(batch_df, dedup="exact").spark
                      .select("doc_id").collect())

    stream = st.open_stream(str(src), spark=spark)
    out_dir = str(tmp_path / "out")
    kept: list = []

    def do_batch(bdf, batch_id):
        curated = curate(bdf, dedup="exact")
        sdf = curated._spark_df() if hasattr(curated, "_spark_df") else curated
        kept.extend(r["doc_id"] for r in sdf.select("doc_id").collect())

    st.run_foreach_batch(stream, do_batch, checkpoint=str(tmp_path / "ckpt"))
    assert sorted(kept) == expected


def test_curate_stream_cross_batch_dedup(spark, tmp_path):
    """Two micro-batches where batch 2 repeats batch 1's documents: the
    streaming curation keeps batch 1's survivors once and drops every
    cross-batch duplicate via the persisted fingerprint table."""
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark import streaming as st

    texts = ["a real document with plenty of words to pass the filters %d" % i
             for i in range(20)]
    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"doc_id": range(20), "text": texts})
    b1.to_parquet(src / "b1.parquet")

    common = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
                  checkpoint=str(tmp_path / "ckpt"),
                  min_quality=None, repetition_filter=False, dedup=None)

    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, **common)
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n1 == 20

    # batch 2: 10 duplicates of batch 1 (different ids) + 5 new docs
    b2 = pd.DataFrame({"doc_id": range(100, 115),
                       "text": texts[:10] + ["fresh unseen document number %d with enough words" % i
                                             for i in range(5)]})
    b2.to_parquet(src / "b2.parquet")
    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, **common)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 25  # 20 + 5 new; 10 cross-batch dups dropped
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == list(range(20)) + list(range(110, 115))


def test_curate_stream_replay_idempotent(spark, tmp_path):
    """Replaying a batch that ALREADY landed (crash after both writes,
    checkpoint lost → same files reprocessed under the same batch_id)
    must neither duplicate rows nor anti-join away its own documents:
    both sinks are batch_id-partitioned and dynamically overwritten, and
    dedup state reads only strictly-earlier batches."""
    import pandas as pd
    from vaex_spark import streaming as st

    texts = ["a real document with plenty of words to pass the filters %d" % i
             for i in range(12)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(12), "text": texts}).to_parquet(src / "b1.parquet")

    common = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
                  min_quality=None, repetition_filter=False, dedup=None)

    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt1"), **common)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 12

    # fresh checkpoint → the SAME files replay as batch 0 again, with
    # state/out already holding batch 0's artifacts
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt2"), **common)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 12  # no dup appends, no self-anti-join drop
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == list(range(12))
    # state table likewise replayed in place
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.count() == state.select("__fp").distinct().count() == 12


def test_curate_stream_cross_batch_dedup_file_uri(spark, tmp_path):
    """The state/index existence probes go through the Hadoop FS, so a
    ``file://`` out/state dir still screens batch 2 against batch 1 (an
    os.path probe never sees a URI and silently turned dedup off: 35
    rows instead of 25)."""
    import pandas as pd
    from vaex_spark import streaming as st

    texts = ["a real document with plenty of words to pass the filters %d" % i
             for i in range(20)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(20), "text": texts}).to_parquet(src / "b1.parquet")
    common = dict(out_dir=f"file://{tmp_path}/out", state_dir=f"file://{tmp_path}/state",
                  checkpoint=str(tmp_path / "ckpt"),
                  min_quality=None, repetition_filter=False, dedup=None)
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    pd.DataFrame({"doc_id": range(100, 115),
                  "text": texts[:10] + ["fresh unseen document number %d with enough words" % i
                                        for i in range(5)]}).to_parquet(src / "b2.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)

    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(tmp_path / "out")).select("doc_id").collect())
    assert ids == list(range(20)) + list(range(110, 115))
    assert spark.read.parquet(str(tmp_path / "state")).count() == 25


def _stream_sinks(spark, tmp_path, batch_id):
    """(out ids, out fingerprints, state fps, lsh ids) of one batch."""
    from vaex_spark.datapipe.text import fingerprint

    def part(d):
        return spark.read.parquet(str(tmp_path / d)).filter(F.col("__batch_id") == batch_id)

    out = part("out")
    ids = {r[0] for r in out.select("doc_id").collect()}
    fps = {r[0] for r in out.select(fingerprint(F.col("text"))).collect()}
    state = {r[0] for r in part("state").select("__fp").collect()}
    lsh = {r[0] for r in part("lsh").select("doc_id").distinct().collect()}
    return ids, fps, state, lsh


def test_curate_stream_derived_sinks_match_out(spark, tmp_path):
    """The state and LSH sinks of batch N describe exactly the rows
    emitted to out's batch-N partition — on a normal run and after
    batch 1 replays from a checkpoint that never committed it (its
    out/state/lsh partitions already on disk).  Batch 1 carries
    within-batch, cross-batch exact and cross-batch near duplicates, so
    every screen drops rows."""
    import shutil

    import pandas as pd
    from vaex_spark import streaming as st

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "for testing purposes in document number %d")
    texts = [base % i for i in range(10)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(12), "source": "s",
                  "text": texts + [texts[0].upper(), texts[1] + "  "]}
                 ).to_parquet(src / "b0.parquet")
    common = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
                  fuzzy_lsh_dir=str(tmp_path / "lsh"), sketch_dir=str(tmp_path / "sk"),
                  min_quality=None, repetition_filter=False)
    ckpt = str(tmp_path / "ckpt")
    st.curate_stream(st.open_stream(str(src), spark=spark), checkpoint=ckpt, **common)
    shutil.copytree(ckpt, str(tmp_path / "ckpt_before_1"))

    fresh = ["completely different content about distributed engines "
             "and columnar formats variant %d with extra words" % i for i in range(4)]
    pd.DataFrame({"doc_id": range(100, 111), "source": "s",
                  "text": [texts[2].title(), texts[3],                     # exact
                           texts[4].replace("lazy", "sleepy"),             # near
                           texts[5].replace("lazy", "sleepy")]
                          + fresh + [fresh[0].upper(), fresh[1], "x"]}     # within
                 ).to_parquet(src / "b1.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark), checkpoint=ckpt, **common)

    want = {0: set(range(10)), 1: {104, 105, 106, 107, 110}}
    for b in (0, 1):
        ids, fps, state, lsh = _stream_sinks(spark, tmp_path, b)
        assert ids == want[b], (b, ids)
        assert state == fps and lsh == ids

    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt_before_1"), **common)
    ids, fps, state, lsh = _stream_sinks(spark, tmp_path, 1)
    assert ids == want[1]
    assert state == fps and lsh == ids



def test_curate_stream_jobs_carry_phase_labels(spark, tmp_path):
    """Every job of a batch is labelled in Spark's status store with
    the batch phase that ran it (open, out and one label per derived
    sink), appended to the stream's own description."""
    import pandas as pd
    from vaex_spark import streaming as st

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    src = tmp_path / "src"
    src.mkdir()
    common = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
                  fuzzy_lsh_dir=str(tmp_path / "lsh"), sketch_dir=str(tmp_path / "sk"),
                  checkpoint=str(tmp_path / "ckpt"), min_quality=None,
                  repetition_filter=False)
    for b in (0, 1):
        # no two documents share a 5-word shingle, so batch 1 emits rows
        texts = [" ".join(f"{w}{b}{i}" for w in words) for i in range(3)]
        pd.DataFrame({"doc_id": [10 * b + i for i in range(3)], "source": "s",
                      "text": texts}).to_parquet(src / f"b{b}.parquet")
        q = st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    descs = [jobs.apply(i).description() for i in range(jobs.size())]
    descs = [d.get() for d in descs if d.isDefined()]
    mine = [d for d in descs if f"runId = {q.runId}" in d]
    phases = {d.rsplit("curate_stream batch 1: ", 1)[-1] for d in mine}
    assert phases == {"open", "out", "state", "lsh", "sketch"}, mine


def test_curate_stream_all_duplicate_batch_writes_nothing(spark, tmp_path):
    """A batch whose documents all duplicate earlier emissions emits no
    rows: no sink gets a partition for it, the missing out partition is
    not an error, and the next batch screens and lands normally."""
    import os

    import pandas as pd
    from vaex_spark import streaming as st

    texts = ["a real document with plenty of words to pass the filters %d" % i
             for i in range(8)]
    src = tmp_path / "src"
    src.mkdir()
    dirs = dict(out_dir="out", state_dir="state", fuzzy_lsh_dir="lsh", sketch_dir="sk")
    common = dict({k: str(tmp_path / v) for k, v in dirs.items()},
                  checkpoint=str(tmp_path / "ckpt"),
                  min_quality=None, repetition_filter=False)
    batches = [
        pd.DataFrame({"doc_id": range(8), "text": texts}),
        pd.DataFrame({"doc_id": range(100, 104), "text": [t.upper() for t in texts[:4]]}),
        pd.DataFrame({"doc_id": range(200, 203),
                      "text": ["fresh unseen document number %d with enough words" % i
                               for i in range(2)] + [texts[5]]}),
    ]
    for b, pdf in enumerate(batches):
        pdf.assign(source="s").to_parquet(src / f"b{b}.parquet")
        st.curate_stream(st.open_stream(str(src), spark=spark), **common)

    for d in dirs.values():
        parts = sorted(e for e in os.listdir(tmp_path / d) if e.startswith("__batch_id="))
        assert parts == ["__batch_id=0", "__batch_id=2"], (d, parts)
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(tmp_path / "out")).select("doc_id").collect())
    assert ids == list(range(8)) + [200, 201]


def _seeded_batches(seed: int = 7, n: int = 6):
    """Micro-batches of fresh documents plus exact (case/whitespace
    variants), near (one word swapped) and within-batch duplicates."""
    import random

    import pandas as pd
    rng = random.Random(seed)
    word = lambda: "".join(rng.choice("abcdefghij") for _ in range(5))  # noqa: E731
    earlier, batches, next_id = [], [], 0
    for b in range(n):
        texts = [" ".join(word() for _ in range(25)) for _ in range(12)]
        texts.append(texts[0].upper())
        if earlier:
            texts += [rng.choice(earlier) + "  ", rng.choice(earlier).title()]
            for t in rng.sample(earlier, 2):
                words = t.split()
                words[rng.randrange(len(words))] = word()
                texts.append(" ".join(words))
        earlier += texts[:12]
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        batches.append(pd.DataFrame({"doc_id": ids, "text": texts,
                                     "source": [f"s{i % 2}" for i in ids]}))
    return batches


_SEEDED_DIRS = dict(out_dir="out", state_dir="state", fuzzy_lsh_dir="lsh",
                    sketch_dir="sketch")


def _curate_seeded(spark, base):
    """One curate_stream call: processes the source files under
    ``base/src`` its checkpoint has not committed."""
    from vaex_spark import streaming as st
    st.curate_stream(st.open_stream(str(base / "src"), spark=spark),
                     **{k: str(base / v) for k, v in _SEEDED_DIRS.items()},
                     checkpoint=str(base / "ckpt"), min_quality=None,
                     repetition_filter=False)


def _run_seeded(spark, base, batches, first: int = 0):
    (base / "src").mkdir(exist_ok=True)
    for b, pdf in enumerate(batches, start=first):
        pdf.to_parquet(base / "src" / f"b{b}.parquet")
        _curate_seeded(spark, base)


def _sink_rows(spark, d, max_batch: int | None = None) -> list:
    """A sink's rows, sorted; sketches as their HLL estimates, which
    do not depend on the order rows reached the sketch."""
    sdf = spark.read.parquet(str(d))
    if max_batch is not None:
        sdf = sdf.filter(F.col("__batch_id") <= max_batch)
    if "__hll" in sdf.columns:
        sdf = sdf.withColumn("__hll", F.hll_sketch_estimate("__hll"))
    return sorted((tuple(r) for r in sdf.collect()), key=repr)


@pytest.fixture(scope="module")
def seeded_stream(spark, tmp_path_factory):
    """Batches 0-5 of the seeded stream through curate_stream with the
    exact, fuzzy and sketch sinks, recording every session conf key set
    and the operator-persist registry around the run."""
    from pyspark.sql.conf import RuntimeConfig
    from vaex_spark.cache import _OP_PERSISTED

    base = tmp_path_factory.mktemp("seeded_stream")
    keys, orig = [], RuntimeConfig.set

    def conf_set(self, key, value):
        keys.append(key)
        return orig(self, key, value)

    before = [id(x) for x in _OP_PERSISTED]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(RuntimeConfig, "set", conf_set)
        _run_seeded(spark, base, _seeded_batches())
    return {"base": base, "conf_keys": keys,
            "persisted": (before, [id(x) for x in _OP_PERSISTED])}


# (rows, sha256 of repr(_sink_rows(...))) per sink after batches 0-5
# of _seeded_batches(), recorded from the batch that wrote its sinks
# one after another and cached its near-dup screen's relations
_SEEDED_SINK_DIGESTS = {
    "out": (72, "6a5aa8a790200129b5c7fefd45cbb94d4b40ad2db56c50659cf27d06ad0c3ea7"),
    "state": (72, "0ae5875fa39ba49bd45a3a290b75a6cb57441515aa7337554fa5caf87b927e73"),
    "lsh": (2304, "66e9effea340781fe9e60e004415225cf249bff381dfa90a8dbe9f6c2e1f2e1d"),
    "sketch": (12, "28b2e708e2aeeeb184f647deb260e36879ea6db27a120ce315c0f57cce572180"),
}


def test_curate_stream_seeded_sinks_unchanged(spark, seeded_stream):
    """Every sink of a seeded six-batch stream holds exactly the rows
    the sequential batch wrote, so overlapping the batch's actions and
    dropping the screen's persists changed no sink content."""
    import hashlib
    got = {}
    for d in _SEEDED_DIRS.values():
        rows = _sink_rows(spark, seeded_stream["base"] / d)
        got[d] = (len(rows), hashlib.sha256(repr(rows).encode()).hexdigest())
    assert got == _SEEDED_SINK_DIGESTS


def test_curate_stream_leaves_session_conf_alone(seeded_stream):
    """Dynamic partition overwrite is a per-write option: the batch
    never sets the session's partitionOverwriteMode, which every other
    query on the session would otherwise see while the batch runs."""
    assert "spark.sql.sources.partitionOverwriteMode" not in seeded_stream["conf_keys"]


def test_curate_stream_registers_no_operator_persists(seeded_stream):
    """Six batches without a release_operator_caches() leave the
    operator-persist registry as they found it: a long-running stream
    holds no cached relation of any earlier batch."""
    before, after = seeded_stream["persisted"]
    assert after == before


def test_curate_stream_failed_sink_fails_batch_and_replay_converges(
        spark, tmp_path, seeded_stream, monkeypatch):
    """An LSH index write that raises in batch 2 fails the stream while
    the other sinks of that batch run to completion.  A rerun from the
    same checkpoint replays batch 2, and after batch 3 every sink
    equals the clean run's batches 0-3 row for row."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    fail = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if fail and path.rstrip("/").endswith("/lsh"):
            raise RuntimeError("injected lsh sink failure")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    batches = _seeded_batches()
    _run_seeded(spark, tmp_path, batches[:2])
    fail.append(True)
    with pytest.raises(StreamingQueryException, match="injected lsh sink failure"):
        _run_seeded(spark, tmp_path, batches[2:3], first=2)
    fail.clear()
    _curate_seeded(spark, tmp_path)  # replays batch 2
    _run_seeded(spark, tmp_path, batches[3:4], first=3)
    for d in _SEEDED_DIRS.values():
        assert (_sink_rows(spark, tmp_path / d)
                == _sink_rows(spark, seeded_stream["base"] / d, max_batch=3)), d


# ---------------------------------------------------------------------------
# round 4: semantic dedup / substring dedup / chunking / PMI
# ---------------------------------------------------------------------------
def test_semantic_dedup_identical_vectors(spark):
    """Identical vectors land in the same cluster and the higher id is
    removed with dup_of = the lowest twin."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import semantic_dedup
    vecs = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.70, 0.72], [1.0, 0.01]]
    df = vs.from_arrays(vec_id=list(range(5)), embedding=vecs, spark=spark)
    out = {r["vec_id"]: (r["cluster"], r["dup_of"])
           for r in semantic_dedup(df, n_clusters=2, threshold=0.99).collect()}
    assert out[2][1] == 0           # exact twin of 0
    assert out[4][1] == 0           # cos([1,0],[1,.01]) ~ 0.99995
    assert 1 not in out and 3 not in out  # orthogonal / off-threshold kept


def test_semantic_dedup_no_cross_cluster_pairs(spark):
    """Pairs above threshold in DIFFERENT clusters are not reported —
    the SemDeDup contract (blocking trades recall for scale)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import semantic_dedup
    # centroids = first 2 vectors (orthogonal); v2/v3 are near-dups of
    # each other but sit on opposite sides of the centroid boundary
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.72, 0.69], [0.69, 0.72]]
    df = vs.from_arrays(vec_id=list(range(4)), embedding=vecs, spark=spark)
    out = semantic_dedup(df, n_clusters=2, threshold=0.9).collect()
    assert out == []  # 2 -> cluster 0, 3 -> cluster 1: never compared


def test_duplicated_spans_counts(spark):
    """A 10-token window shared by two docs is counted in both; unique
    docs report zero; short docs (< width tokens) have n_spans = 0."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import duplicated_spans
    common = "one two three four five six seven eight nine ten"
    docs = vs.from_arrays(
        doc_id=[1, 2, 3, 4],
        text=[common + " tail a", "head b " + common,
              "totally different words here that no other document shares at all",
              "short doc"],
        spark=spark)
    rows = {r["doc_id"]: r for r in
            duplicated_spans(docs, width=10).spark.collect()}
    assert rows[1]["n_spans"] == 3 and rows[2]["n_spans"] == 3
    # doc1 tokens: common(10) + 2 -> windows at 0,1,2; window 0 == doc2's window 2
    assert rows[1]["n_dup_spans"] == 1 and rows[2]["n_dup_spans"] == 1
    assert rows[1]["dup_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert rows[3]["n_dup_spans"] == 0
    assert rows[4]["n_spans"] == 0 and rows[4]["dup_frac"] == 0.0


def test_chunk_documents_cover_and_overlap(spark):
    """Chunks tile the token stream with the stated overlap: chunk i
    starts at i*stride; every token is covered; last chunks shorten."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import chunk_documents
    toks = ["t%d" % i for i in range(50)]
    docs = vs.from_arrays(doc_id=[7], text=[" ".join(toks)], spark=spark)
    rows = sorted(chunk_documents(docs, chunk_tokens=16, stride=12).spark.collect(),
                  key=lambda r: r["chunk_id"])
    assert [r["chunk_start"] for r in rows] == [0, 12, 24, 36, 48]
    assert [r["n_chunk_tokens"] for r in rows] == [16, 16, 16, 14, 2]
    assert rows[1]["chunk_text"].split(" ") == toks[12:28]
    assert rows[4]["chunk_text"].split(" ") == toks[48:50]
    # coverage: union of [start, start+len) == [0, 50)
    covered = set()
    for r in rows:
        covered |= set(range(r["chunk_start"], r["chunk_start"] + r["n_chunk_tokens"]))
    assert covered == set(range(50))
    # NULL text emits zero chunks (regression: size(null)=-1 made the
    # chunk-start sequence raise illegal boundaries mid-scan); empty
    # text still emits its single empty-token chunk
    mixed = spark.createDataFrame([(1, None), (2, ""), (3, "a b c")],
                                  "doc_id bigint, text string")
    got = chunk_documents(mixed, chunk_tokens=2, stride=2)
    per = {r["doc_id"]: r for r in got.collect()}
    assert 1 not in per and 2 in per and 3 in per
    assert got.filter(F.col("doc_id") == 3).count() == 2


def test_bigram_pmi_null_empty_docs_no_phantom_tokens(spark):
    """Pins the r15 single-pass (word, next-or-null) rewrite's NULL
    guard: a NULL doc must contribute NO tokens (without the guard,
    non-ANSI size(NULL) = -1 makes sequence(1, -1) a descending range
    emitting phantom (NULL, NULL) pairs that poison the totals); an
    empty doc contributes exactly its one '' token and no bigram."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import bigram_pmi
    docs = vs.from_arrays(spark=spark,
                          doc_id=[0, 1, 2, 3],
                          text=["a b a b a b a b a b", None, "", "solo"])
    out = bigram_pmi(docs, min_count=1).collect()
    pairs = {(r["w1"], r["w2"]): r["c_ab"] for r in out}
    assert None not in {w for p in pairs for w in p}
    assert pairs[("a", "b")] == 5 and pairs[("b", "a")] == 4
    # unigram totals feed pmi: N_uni must be 10 + 1('') + 1(solo) = 12,
    # N_bi = 9 — ln(c_ab * N_uni^2 / (N_bi * c_a * c_b))
    import math
    got = next(r["pmi"] for r in out if (r["w1"], r["w2"]) == ("a", "b"))
    assert got == round(math.log(5 * 12 * 12 / (9 * 5 * 5)), 6), got


def test_bigram_pmi_favors_exclusive_pairs(spark):
    """A bigram whose words only ever co-occur outranks one built from
    high-frequency words; counts respect min_count."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import bigram_pmi
    docs = vs.from_arrays(
        doc_id=[1, 2],
        text=["san francisco " * 6 + "the cat the dog the cow the pig the hen the fox",
              "the a " * 8],
        spark=spark)
    rows = {(r["w1"], r["w2"]): r for r in bigram_pmi(docs, min_count=5).collect()}
    assert ("san", "francisco") in rows
    sf = rows[("san", "francisco")]
    assert sf["c_ab"] == 6
    # 'san' and 'francisco' appear ONLY together -> highest pmi
    assert all(sf["pmi"] >= r["pmi"] for r in rows.values())
    assert all(r["c_ab"] >= 5 for r in rows.values())


def test_strip_duplicated_spans_removes_covered_tokens(spark):
    """Tokens covered by a shared 10-token window are stripped from BOTH
    docs; unique docs come back (normalized) intact; a fully-duplicated
    doc becomes ''."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import strip_duplicated_spans
    common = "one two three four five six seven eight nine ten"
    docs = vs.from_arrays(
        doc_id=[1, 2, 3],
        text=["Pre " + common + " post", common,
              "unique words only in this document here nothing shared at all"],
        spark=spark)
    rows = {r["doc_id"]: r["text"]
            for r in strip_duplicated_spans(docs, width=10).spark.collect()}
    assert rows[1] == "pre post"   # covered middle stripped, normalized case
    assert rows[2] == ""           # entire doc was the duplicated window
    assert rows[3] == "unique words only in this document here nothing shared at all"


def test_connected_components_chain_pointer_jumping(spark):
    """A 300-node path graph has diameter 299: plain min-label
    propagation needs 299 rounds, so max_iter=12 must either converge
    via pointer jumping (shortcut=True, ~log2(299) rounds) or fail loud
    (strict) instead of returning silently wrong labels."""
    import pytest
    from vaex_spark.datapipe import dedup
    n = 300
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint")
    comp = {r.id: r.comp
            for r in dedup.connected_components(chain, max_iter=12).collect()}
    assert comp == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=12, shortcut=False)
    # non-strict legacy mode still returns (unconverged) labels
    assert dedup.connected_components(
        chain, max_iter=2, shortcut=False, strict=False).count() == n


def test_distribution_drift_js_tvd(spark):
    """Hand-checkable drift: group 'a' matches the corpus bucket mix
    exactly at 50/50 -> low JS; group 'b' is all-one-bucket -> high."""
    import math
    from vaex_spark.datapipe import text as dtext
    rows = ([("a", 5)] * 10 + [("a", 15)] * 10   # a: 50/50 over buckets 0,1
            + [("b", 5)] * 20)                    # b: all bucket 0
    sdf = spark.createDataFrame(rows, "source string, nt int")
    out = {r.grp: r for r in dtext.distribution_drift(
        sdf, F.col("nt"), group_col="source", bucket_width=10.0).collect()}
    # corpus: bucket0 = 30/40, bucket1 = 10/40
    p_a, q = [0.5, 0.5], [0.75, 0.25]
    p_b = [1.0, 0.0]
    def js(p, q):
        s = 0.0
        for pi, qi in zip(p, q):
            m = (pi + qi) / 2.0
            if pi > 0:
                s += pi * math.log(pi / m) / 2.0
            if qi > 0:
                s += qi * math.log(qi / m) / 2.0
        return s
    assert abs(out["a"].js_divergence - round(js(p_a, q), 6)) < 1e-6
    assert abs(out["b"].js_divergence - round(js(p_b, q), 6)) < 1e-6
    assert abs(out["a"].tvd - 0.25) < 1e-6
    assert abs(out["b"].tvd - 0.25) < 1e-6
    assert out["a"].n_docs == 20 and out["b"].n_docs == 20
    assert out["b"].js_divergence > out["a"].js_divergence


def test_bloom_filter_membership_and_roundtrip():
    import numpy as np
    from vaex_spark.datapipe.dedup import BloomFilter
    rng = np.random.RandomState(3)
    keys = rng.randint(-2**62, 2**62, size=20_000, dtype=np.int64)
    bf = BloomFilter.for_capacity(20_000, fpp=0.01)
    bf.add_np(keys)
    # no false negatives, ever
    assert bf.might_contain_np(keys).all()
    # false-positive rate near the design point (loose 3x bound)
    probe = rng.randint(-2**62, 2**62, size=50_000, dtype=np.int64)
    fresh = probe[~np.isin(probe, keys)]
    fpr = bf.might_contain_np(fresh).mean()
    assert fpr < 0.03, fpr
    # serialization round-trip is bit-exact
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert (bf2.words == bf.words).all() and (bf2.m, bf2.k) == (bf.m, bf.k)
    # sharded build merges to the same filter
    h1 = BloomFilter(bf.m, bf.k); h1.add_np(keys[:9_000])
    h2 = BloomFilter(bf.m, bf.k); h2.add_np(keys[9_000:])
    assert (h1.merge(h2).words == bf.words).all()


def test_bloom_incremental_dedup_matches_exact(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           corpus_fingerprints,
                                           exact_dedup_incremental)
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 3 = 0"))
    plain = sorted(r["doc_id"] for r in
                   exact_dedup_incremental(batch, seen).spark.collect())
    bf = build_fingerprint_bloom(seen)
    boosted = sorted(r["doc_id"] for r in
                     exact_dedup_incremental(batch, seen, bloom=bf, bloom_min_corpus_ratio=0)
                     .spark.collect())
    assert boosted == plain and len(plain) > 0
    # and from the persisted fingerprint table (fp_col path)
    fps = corpus_fingerprints(seen)
    bf2 = build_fingerprint_bloom(fps, fp_col="__fp")
    boosted2 = sorted(r["doc_id"] for r in
                      exact_dedup_incremental(batch, fps, bloom=bf2, bloom_min_corpus_ratio=0)
                      .spark.collect())
    assert boosted2 == plain


def test_bloom_build_capacity_from_stats_is_single_job(spark):
    """capacity=None sizes the bitmap from Catalyst plan stats — the
    build must run exactly ONE job (the mapInPandas bitmap collect),
    with no separate count pass, and the resulting filter must still
    have no false negatives at the estimated capacity."""
    import vaex_spark as vs
    from tests.test_job_counts import count_jobs
    from vaex_spark.datapipe.dedup import build_fingerprint_bloom
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    build_fingerprint_bloom(docs)  # warm (parquet footer read etc.)
    n = []
    with count_jobs(spark, n):
        bf = build_fingerprint_bloom(docs)
    assert n[0] <= 1, f"stats-sized bloom build ran {n[0]} jobs"
    # no false negatives regardless of how rough the capacity estimate was
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.dedup import fingerprint
    fps = (docs.spark.select(fingerprint(F.col("text")).alias("__fp"))
           .toPandas()["__fp"].to_numpy())
    assert bf.might_contain_np(fps).all()


def test_bloom_build_capacity_falls_back_to_count(spark):
    """When the plan has no usable size stats (e.g. a local-relation
    union Catalyst reports at the defaultSizeInBytes sentinel is fine,
    but a zero/unknown estimate is not), the build counts instead of
    guessing — and explicit capacity= skips both."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import BloomFilter, build_fingerprint_bloom
    docs = vs.from_arrays(doc_id=list(range(50)),
                          text=[f"doc {i}" for i in range(50)], spark=spark)
    bf = build_fingerprint_bloom(docs)          # works whichever path fires
    bf2 = build_fingerprint_bloom(docs, capacity=50)
    assert isinstance(bf, BloomFilter) and isinstance(bf2, BloomFilter)
    proto = BloomFilter.for_capacity(50, 0.01)
    assert (bf2.m, bf2.k) == (proto.m, proto.k)


def test_corpus_wants_bloom_gates_the_build(spark):
    """corpus_wants_bloom mirrors exact_dedup_incremental's crossover
    so pipelines can skip the bloom BUILD when the anti-join will win:
    False at corpus≈batch (tied filter stats), True when forced with
    ratio<=0, and zero Spark jobs either way."""
    import vaex_spark as vs
    from tests.test_job_counts import count_jobs
    from vaex_spark.datapipe.dedup import corpus_wants_bloom
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 3 = 0"))
    n = []
    with count_jobs(spark, n):
        assert corpus_wants_bloom(batch, seen) is False
        assert corpus_wants_bloom(batch, seen,
                                  bloom_min_corpus_ratio=0) is True
    assert n[0] == 0, f"stats-only check ran {n[0]} jobs"


def test_bloom_crossover_shipped_default_picks_antijoin_at_parity(spark):
    """The q77 bench regime (corpus≈2×batch, same source): the shipped
    bloom_min_corpus_ratio=4 heuristic must reject the bloom plan — the
    executed plan has a LeftAnti and NO Arrow membership stage."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           exact_dedup_incremental)
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 3 = 0"))
    bf = build_fingerprint_bloom(seen)
    out = exact_dedup_incremental(batch, seen, bloom=bf).spark
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_supplied_bloom_survives_unknown_stats(spark):
    """A USER-SUPPLIED bloom is discarded only on a CONFIRMED ratio
    failure: when Catalyst can't price the batch (here an RDD-backed
    frame — the defaultSizeInBytes sentinel, same as join products)
    the caller's paid-for filter stays in force and the corpus-scan
    plan runs (Arrow membership stage present, no corpus shuffle) —
    while the BUILD gate corpus_wants_bloom keeps its conservative
    unknown→False default."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           corpus_wants_bloom,
                                           exact_dedup_incremental)
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    raw = docs.spark.filter("doc_id % 3 = 0")
    batch = vs.DataFrame(spark.createDataFrame(raw.rdd, raw.schema))
    from vaex_spark.plan import size_bytes
    assert size_bytes(batch.spark) is None  # stats truly unknown
    bf = build_fingerprint_bloom(seen)
    out = exact_dedup_incremental(batch, seen, bloom=bf).spark
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan  # bloom membership kept
    assert corpus_wants_bloom(batch, seen) is False  # build gate: no
    # and the kept-bloom path returns the exact survivor set
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    base = {r["doc_id"] for r in
            exact_dedup_incremental(vs.DataFrame(raw), seen)
            .spark.select("doc_id").collect()}
    assert kept == base


def test_bloom_incremental_corpus_never_exchanges(spark):
    """The 100 TB contract: with a bloom prefilter the corpus
    fingerprint relation is only scanned map-side under broadcast
    joins — no Exchange may sit between the corpus scan and its join."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           exact_dedup_incremental)
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 3 = 0"))
    bf = build_fingerprint_bloom(seen)
    out = exact_dedup_incremental(batch, seen, bloom=bf, bloom_min_corpus_ratio=0).spark
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    # corpus-side join must be broadcast (semi + the anti re-check)
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan)) >= 1, plan
    assert len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)) >= 1, plan
    # no sort-merge join anywhere in the incremental-check path
    assert "SortMergeJoin" not in plan, plan


def test_cap_per_group_deterministic_and_exact(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import cap_per_group
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    out = cap_per_group(docs, cap=7, group_col="source")
    pdf = out.spark.groupBy("source").count().toPandas()
    assert (pdf["count"] <= 7).all()
    # groups smaller than the cap pass through whole
    base = docs.spark.groupBy("source").count().toPandas().set_index("source")["count"]
    got = pdf.set_index("source")["count"]
    for src, n in base.items():
        assert got.get(src, 0) == min(n, 7), (src, n, got.get(src))
    # deterministic across runs (hash ranking, fixed seed)
    ids1 = sorted(r["doc_id"] for r in out.spark.select("doc_id").collect())
    out2 = cap_per_group(docs, cap=7, group_col="source")
    ids2 = sorted(r["doc_id"] for r in out2.spark.select("doc_id").collect())
    assert ids1 == ids2
    # explicit order_key keeps the first-by-key rows
    out3 = cap_per_group(docs, cap=2, group_col="source", order_key="doc_id")
    pdf3 = out3.spark.select("source", "doc_id").toPandas()
    exp = (docs.spark.select("source", "doc_id").toPandas()
           .sort_values(["source", "doc_id"]).groupby("source").head(2))
    assert (set(map(tuple, pdf3.to_numpy().tolist()))
            == set(map(tuple, exp.to_numpy().tolist())))


def test_cap_per_group_plans_window_group_limit(spark):
    """The skew contract: row_number<=cap must plan WindowGroupLimit
    (map-side per-group truncation before the exchange), so a hot
    domain never ships more than cap rows per input split."""
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import cap_per_group
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    plan = (cap_per_group(docs, cap=5).spark
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan


def test_exact_dedup_quality_survivor(spark):
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import exact_dedup
    df = vs.from_arrays(
        doc_id=[1, 2, 3, 4, 5, 6],
        text=["aa", "AA", "aa", "bb", "bb", "cc"],
        q=[0.1, 0.9, 0.9, 0.5, 0.5, 0.2],
        spark=spark)
    for strat in ("window", "minby"):
        out = sorted(r["doc_id"] for r in
                     exact_dedup(df, quality_col="q", strategy=strat)
                     .spark.collect())
        # 'aa' group: ids 2 and 3 tie at q=0.9 -> min id 2
        # 'bb' group: tie at 0.5 -> min id 4; 'cc' alone
        assert out == [2, 4, 6], (strat, out)


def test_corpus_lsh_index_persisted_equals_derived(spark, tmp_path):
    """near_dup_against_corpus(corpus_index=persisted parquet) must give
    the same survivors as the derive-in-plan path — the snapshot
    pattern that skips re-hashing the corpus per batch."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (corpus_lsh_index,
                                           near_dup_against_corpus)
    docs = vs.open("/root/testdata/sf0.1/documents.parquet", spark=spark)
    corpus = vs.DataFrame(docs.spark.filter("doc_id % 2 = 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 2 = 1"))
    derived = sorted(r["doc_id"] for r in
                     near_dup_against_corpus(batch, corpus, threshold=0.5)
                     .spark.select("doc_id").collect())
    idx_path = str(tmp_path / "lsh_index.parquet")
    corpus_lsh_index(corpus).spark.write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    via_index = sorted(r["doc_id"] for r in
                       near_dup_against_corpus(batch, corpus, threshold=0.5,
                                               corpus_index=idx)
                       .spark.select("doc_id").collect())
    assert via_index == derived and len(derived) > 0
    vs.cache.release_operator_caches()


def test_hll_sketch_estimate_and_incremental_merge(spark, tmp_path):
    import vaex_spark as vs
    from vaex_spark.datapipe.sketches import (distinct_sketch,
                                              estimate_distinct,
                                              merge_sketch_tables)
    docs = vs.open("/root/testdata/sf0.1/documents.parquet", spark=spark)
    # grouped estimates within HLL error of exact
    sk = distinct_sketch(docs, "text", group_col="source")
    est = {r["source"]: r["n_distinct"] for r in
           estimate_distinct(sk, group_col="source").spark.collect()}
    exact = {r["source"]: r["n"] for r in
             docs.spark.groupBy("source")
             .agg(__import__("pyspark.sql.functions", fromlist=["F"])
                  .count_distinct("text").alias("n")).collect()}
    assert set(est) == set(exact)
    for s, n in exact.items():
        assert abs(est[s] - n) <= max(2, 0.05 * n), (s, est[s], n)
    # incremental: sketch halves, persist, merge == sketch of the whole
    h1 = distinct_sketch(vs.DataFrame(docs.spark.filter("doc_id % 2 = 0")),
                         "text", group_col="source")
    h2 = distinct_sketch(vs.DataFrame(docs.spark.filter("doc_id % 2 = 1")),
                         "text", group_col="source")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    h1.spark.write.parquet(p1)
    h2.spark.write.parquet(p2)
    merged = merge_sketch_tables(spark.read.parquet(p1),
                                 spark.read.parquet(p2), group_col="source")
    est2 = {r["source"]: r["n_distinct"] for r in
            estimate_distinct(merged, group_col="source").spark.collect()}
    full = {r["source"]: r["n_distinct"] for r in
            estimate_distinct(sk, group_col="source").spark.collect()}
    assert est2 == full  # same sketch params -> merge is lossless
    # ungrouped global form
    g = estimate_distinct(distinct_sketch(docs, "text")).spark.collect()[0]["n_distinct"]
    n_all = docs.spark.select("text").distinct().count()
    assert abs(g - n_all) <= max(2, 0.05 * n_all)


def test_stratified_sample_exact_counts_and_determinism(spark):
    import math
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import stratified_sample
    docs = vs.open("/root/testdata/sf0.1/documents.parquet", spark=spark)
    out = stratified_sample(docs, 0.2, group_col="source")
    got = {r["source"]: r["n"] for r in
           out.spark.groupBy("source").agg(
               __import__("pyspark.sql.functions", fromlist=["F"])
               .count(__import__("pyspark.sql.functions", fromlist=["F"]).lit(1))
               .alias("n")).collect()}
    base = {r["source"]: r["n"] for r in
            docs.spark.groupBy("source").agg(
                __import__("pyspark.sql.functions", fromlist=["F"])
                .count(__import__("pyspark.sql.functions", fromlist=["F"]).lit(1))
                .alias("n")).collect()}
    for s, n in base.items():
        assert got[s] == math.ceil(0.2 * n), (s, got[s], n)
    # deterministic: identical selection across runs
    ids1 = sorted(r["doc_id"] for r in out.spark.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  stratified_sample(docs, 0.2, group_col="source")
                  .spark.select("doc_id").collect())
    assert ids1 == ids2
    # different seed -> different (but equally-sized) selection
    ids3 = sorted(r["doc_id"] for r in
                  stratified_sample(docs, 0.2, group_col="source", seed=7)
                  .spark.select("doc_id").collect())
    assert len(ids3) == len(ids1) and ids3 != ids1


def test_curate_stream_sketch_state_running_cardinality(spark, tmp_path):
    """curate_stream(sketch_dir=) co-maintains per-batch HLL sketches;
    stream_cardinality merges them into running per-source distinct
    counts without rescanning any document batch."""
    import pandas as pd
    import vaex_spark as vs  # noqa: F401
    from vaex_spark import streaming as st

    texts = ["a real document with plenty of words to pass the filters %d" % i
             for i in range(20)]
    src = tmp_path / "src"
    src.mkdir()
    b1 = pd.DataFrame({"doc_id": range(20), "text": texts,
                       "source": ["s1"] * 12 + ["s2"] * 8})
    b1.to_parquet(src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"),
                  state_dir=str(tmp_path / "state"),
                  checkpoint=str(tmp_path / "ckpt"),
                  sketch_dir=str(tmp_path / "sk"),
                  min_quality=None, repetition_filter=False, dedup=None)
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    card1 = {r["source"]: r["n_distinct"] for r in
             st.stream_cardinality(spark, str(tmp_path / "sk")).spark.collect()}
    assert card1 == {"s1": 12, "s2": 8}
    # batch 2: 5 dups of batch 1 (dropped, so sketches don't grow) + 6 new
    b2 = pd.DataFrame({"doc_id": range(100, 111),
                       "text": texts[:5] + [
                           "fresh unseen document number %d with enough words" % i
                           for i in range(6)],
                       "source": ["s1"] * 5 + ["s2"] * 6})
    b2.to_parquet(src / "b2.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    card2 = {r["source"]: r["n_distinct"] for r in
             st.stream_cardinality(spark, str(tmp_path / "sk")).spark.collect()}
    assert card2 == {"s1": 12, "s2": 14}  # only the 6 fresh docs counted


def test_clean_text_artifacts(spark):
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.text import clean_text
    raw = ("“Smart” quotes — and NBSP…  runs\t\t"
           "here ​zero\x07bell  \nline end   \n ok")
    got = spark.range(1).select(clean_text(F.lit(raw)).alias("t")).collect()[0]["t"]
    assert got == '"Smart" quotes - and NBSP... runs here zerobell\nline end\n ok'
    # already-clean ASCII is a fixed point
    plain = "clean ascii text\nwith two lines"
    got2 = spark.range(1).select(clean_text(F.lit(plain)).alias("t")).collect()[0]["t"]
    assert got2 == plain


def test_clean_text_idempotent_property(spark):
    """clean(clean(x)) == clean(x) over adversarial unicode strings —
    normalization must be a projection (one batched Spark pass over a
    hypothesis-generated corpus)."""
    from hypothesis import given, settings, strategies as st
    import pandas as pd
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.text import clean_text
    alphabet = st.sampled_from(list(
        "ab c\t\n“”‘’–—… ​"
        "﻿­\x07\x00e."))
    texts = st.lists(st.text(alphabet, max_size=40), min_size=1, max_size=24)

    @settings(max_examples=20, deadline=None)
    @given(texts)
    def check(batch):
        pdf = pd.DataFrame({"t": batch})
        sdf = spark.createDataFrame(pdf)
        out = sdf.select(clean_text(F.col("t")).alias("c1")) \
                 .select("c1", clean_text(F.col("c1")).alias("c2")).collect()
        for r in out:
            assert r["c1"] == r["c2"], (r["c1"], r["c2"])

    check()


def test_stratified_sample_exact_ceil_decimal(spark):
    """ADVICE r4: the cutoff was ceil over a double product, so
    frac=0.07 on a 100-row group kept 8 (0.07*100 -> 7.000000000000001).
    The decimal cutoff honors the documented EXACT ceil(frac*n)."""
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.datapipe.mixing import stratified_sample
    df = vs.DataFrame(spark.createDataFrame(pd.DataFrame({
        "doc_id": range(160),
        "source": ["a"] * 100 + ["b"] * 60})))
    for frac, exp in ((0.07, {"a": 7, "b": 5}),    # ceil(4.2) = 5
                      (0.2, {"a": 20, "b": 12}),   # exact multiples
                      (0.29, {"a": 29, "b": 18})): # ceil(17.4) = 18
        out = stratified_sample(df, frac, group_col="source",
                                id_col="doc_id")
        got = (out.spark.groupBy("source").count().collect())
        assert {r["source"]: r["count"] for r in got} == exp, frac


def test_stratified_sample_boundary_bucket_parity(spark):
    """The skew-proof boundary-bucket path must select the bit-identical
    row set to the naive full-group rank (bucket order is a prefix of
    the md5 order), across fracs and group sizes including k landing
    inside and exactly on a bucket edge."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.mixing import stratified_sample
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({
        "doc_id": np.arange(3000),
        "source": (["hot"] * 2500 + ["warm"] * 400 + ["cold"] * 100)})
    sdf = spark.createDataFrame(pdf)
    # force the boundary-bucket path: with the default 64MB advisory the
    # small-frame fast path (plain rank) would run instead
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    try:
        for frac in (0.001, 0.07, 0.2, 0.5, 1.0):
            got = set(r["doc_id"] for r in stratified_sample(
                sdf, frac, group_col="source", id_col="doc_id")
                .select("doc_id").collect())
            # naive oracle: full rank per group
            h = F.md5(F.concat_ws("-", F.col("doc_id").cast("string"),
                                  F.lit("42")))
            w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
            from decimal import Decimal
            exp = set(r["doc_id"] for r in sdf
                      .withColumn("__rn", F.row_number().over(w))
                      .withColumn("__k", F.ceil(
                          F.count(F.lit(1)).over(Window.partitionBy("source"))
                          .cast("decimal(20,0)") * F.lit(Decimal(repr(frac)))))
                      .filter(F.col("__rn") <= F.col("__k"))
                      .select("doc_id").collect())
            assert got == exp, (frac, len(got), len(exp))
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")


def test_stratified_sample_ranks_only_boundary_bucket(spark):
    """Plan shape: the data-path row_number window must run over the
    boundary-bucket rows only (its input carries the __hb equality
    filter), so a hot group never serializes fully into one task."""
    import numpy as np
    import pandas as pd
    from vaex_spark.datapipe.mixing import stratified_sample
    pdf = pd.DataFrame({"doc_id": np.arange(5000),
                        "source": ["hot"] * 5000})
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    try:
        out = stratified_sample(spark.createDataFrame(pdf), 0.1,
                                group_col="source", id_col="doc_id")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    # the rank window's subtree must filter __hb = boundary first
    import re
    assert re.search(r"__hb#\d+L? = ", plan) or "__bd_b" in plan, plan
    assert "row_number" in plan


def test_bloom_crossover_heuristic_falls_back(spark):
    """With corpus ≈ batch, Catalyst size stats trip the
    bloom_min_corpus_ratio heuristic and the plan is the plain
    anti-join (no ArrowEvalPython membership stage) even though a bloom
    was supplied; results unchanged.  With ratio=0 the bloom path is
    forced and plans the Arrow membership scan."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           exact_dedup_incremental)
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    seen = vs.DataFrame(docs.spark.filter("doc_id % 3 != 0"))
    batch = vs.DataFrame(docs.spark.filter("doc_id % 3 = 0"))
    bf = build_fingerprint_bloom(seen)
    auto = exact_dedup_incremental(batch, seen, bloom=bf)  # default ratio 4
    plan_auto = auto._spark_df()._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_auto, plan_auto
    forced = exact_dedup_incremental(batch, seen, bloom=bf,
                                     bloom_min_corpus_ratio=0)
    plan_forced = forced._spark_df()._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_forced, plan_forced
    a = sorted(r["doc_id"] for r in auto.spark.collect())
    f = sorted(r["doc_id"] for r in forced.spark.collect())
    assert a == f and len(a) > 0


def test_kll_quantile_sketch_merge_and_bounds(spark, tmp_path):
    """KLL state tables: per-group quantiles within the sketch's rank
    error of exact; merging two snapshot tables == sketching the union
    (same bound); state survives a parquet round-trip; n is exact."""
    import numpy as np
    import pandas as pd
    import vaex_spark as vs
    from vaex_spark.datapipe import sketches as sk
    rng = np.random.RandomState(7)
    a = pd.DataFrame({"v": rng.lognormal(3, 1, 30000),
                      "g": ["x"] * 20000 + ["y"] * 10000})
    b = pd.DataFrame({"v": rng.lognormal(3.5, 1, 15000),
                      "g": ["x"] * 5000 + ["y"] * 10000})
    da, db = spark.createDataFrame(a), spark.createDataFrame(b)
    sa = sk.quantile_sketch(da, "v", group_col="g")
    # persist state, read back, merge with the second snapshot
    path = str(tmp_path / "kll")
    sa.spark.write.parquet(path)
    sa2 = vs.DataFrame(spark.read.parquet(path))
    m = sk.merge_quantile_tables(sa2, sk.quantile_sketch(db, "v", group_col="g"),
                                 group_col="g")
    est = {r["g"]: r for r in
           sk.estimate_quantiles(m, [0.25, 0.5, 0.9], group_col="g")
           .spark.collect()}
    allv = pd.concat([a, b])
    for g, sub in allv.groupby("g"):
        n = len(sub)
        assert est[g]["n"] == n  # KLL tracks stream length exactly
        vals = np.sort(sub["v"].to_numpy())
        for p, colname in ((0.25, "q_0_25"), (0.5, "q_0_5"), (0.9, "q_0_9")):
            got = est[g][colname]
            # normalized rank error at k=200 is ~1.65%; assert 3% slack
            rank = np.searchsorted(vals, got) / n
            assert abs(rank - p) < 0.03, (g, p, rank, got)


def test_theta_sketch_set_algebra(spark):
    """Theta sketches answer union/intersection/difference cardinality
    within a few % of exact — the overlap questions HLL cannot."""
    import numpy as np
    import pandas as pd
    from vaex_spark.datapipe import sketches as sk
    rng = np.random.RandomState(11)
    a = pd.DataFrame({"key": rng.randint(0, 6000, 50000)})
    b = pd.DataFrame({"key": rng.randint(3000, 9000, 50000)})
    ta = sk.theta_sketch(spark.createDataFrame(a), "key")
    tb = sk.theta_sketch(spark.createDataFrame(b), "key")
    r = sk.theta_set_estimates(ta, tb).spark.collect()[0]
    ka, kb = set(a.key), set(b.key)
    for got, exact in ((r["n_a"], len(ka)), (r["n_b"], len(kb)),
                       (r["n_union"], len(ka | kb)),
                       (r["n_intersection"], len(ka & kb)),
                       (r["n_only_a"], len(ka - kb))):
        assert abs(got - exact) <= 0.05 * max(exact, 1), (got, exact)


def test_corpus_profile_with_sketch_state(spark):
    """corpus_profile(include_sketches=True): exact columns match the
    plain profile, and the attached HLL/KLL state yields per-source
    distinct-text and median-length estimates within sketch bounds —
    one aggregate producing both report and mergeable state."""
    import vaex_spark as vs
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.text import corpus_profile
    docs = vs.open("/root/testdata/sf0.01/documents.parquet", spark=spark)
    plain = {r["source"]: r for r in corpus_profile(docs).spark.collect()}
    rich = corpus_profile(docs, include_sketches=True).spark
    rows = rich.withColumn("n_distinct",
                           F.hll_sketch_estimate(F.col("__hll")).cast("long")) \
               .withColumn("p50_sketch",
                           F.kll_sketch_get_quantile_bigint(F.col("__kll"),
                                                            F.lit(0.5))) \
               .collect()
    exact = {r["source"]: (r["nd"], r["med"]) for r in
             docs.spark.groupBy("source").agg(
                 F.countDistinct("text").alias("nd"),
                 F.expr("percentile(n_chars, 0.5)").alias("med")).collect()}
    for r in rows:
        p = plain[r["source"]]
        assert (r["n_docs"], r["n_tokens"]) == (p["n_docs"], p["n_tokens"])
        nd, med = exact[r["source"]]
        assert abs(r["n_distinct"] - nd) <= max(2, 0.03 * nd)
        # KLL median within rank error of exact (values, not ranks:
        # allow the neighboring order statistic)
        assert abs(r["p50_sketch"] - med) <= max(50, 0.1 * med)


def test_curate_stream_fuzzy_cross_batch(spark, tmp_path):
    """fuzzy_lsh_dir: batch 2's NEAR-duplicates of batch 1's emissions
    (one word substituted — exact fingerprints differ) are dropped via
    the persisted MinHash-LSH index; genuinely fresh docs survive; the
    index itself is batch_id-partitioned like every other sink."""
    import pandas as pd
    from vaex_spark import streaming as st

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "for testing purposes in document number %d")
    texts = [base % i for i in range(12)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(12), "text": texts}).to_parquet(src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"),
                  fuzzy_lsh_dir=str(tmp_path / "lsh"), fuzzy_threshold=0.5,
                  min_quality=None, repetition_filter=False, dedup=None)

    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, checkpoint=str(tmp_path / "ckpt"), **common)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 12
    assert spark.read.parquet(str(tmp_path / "lsh")).count() > 0

    # batch 2: 6 near-dups (one word changed) + 4 fresh docs
    near = [texts[i].replace("lazy", "sleepy") for i in range(6)]
    fresh = ["completely different content about distributed engines "
             "and columnar formats variant %d with extra words" % i
             for i in range(4)]
    pd.DataFrame({"doc_id": range(200, 210),
                  "text": near + fresh}).to_parquet(src / "b2.parquet")
    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, checkpoint=str(tmp_path / "ckpt"), **common)

    out = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == list(range(12)) + list(range(206, 210)), ids


def test_curate_stream_winnow_cross_batch(spark, tmp_path):
    """winnow_index_dir: batch 2 docs sharing a long run with batch 1's
    emissions (a verbatim 12-word span lifted into otherwise-new text —
    exact fingerprints AND shingle-Jaccard both change, so neither the
    exact nor the fuzzy stage would catch it at threshold) are dropped
    via the persisted winnow fingerprint index; genuinely fresh docs
    survive; the index is batch_id-partitioned like every other
    sink."""
    import pandas as pd
    from vaex_spark import streaming as st

    base = ("document number %d starts here then the quick brown fox "
            "jumps over the lazy dog every single time and closes with "
            "its own distinct trailing words %d %d")
    texts = [base % (i, i * 7, i * 13) for i in range(10)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(10), "text": texts}).to_parquet(
        src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"),
                  state_dir=str(tmp_path / "state"),
                  winnow_index_dir=str(tmp_path / "widx"),
                  winnow_min_shared=1,
                  min_quality=None, repetition_filter=False, dedup=None)

    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, checkpoint=str(tmp_path / "ckpt"), **common)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 10
    widx = spark.read.parquet(str(tmp_path / "widx"))
    assert widx.count() > 0 and set(widx.columns) >= {"doc_id", "fp"}

    # batch 2: 5 docs lift the shared 12-word run into new prose
    # (winnow guarantee: a shared run of >= window+k-1 = 8 words yields
    # a shared fingerprint), 4 docs are genuinely fresh
    lifted = ["totally new framing sentence before the quick brown fox "
              "jumps over the lazy dog every single time plus novel "
              "commentary afterwards variant %d" % i for i in range(5)]
    fresh = ["independent text about columnar engines and shuffle "
             "planning with no borrowed spans at all variant %d "
             "padding words here" % i for i in range(4)]
    pd.DataFrame({"doc_id": range(300, 309),
                  "text": lifted + fresh}).to_parquet(src / "b2.parquet")
    stream = st.open_stream(str(src), spark=spark)
    st.curate_stream(stream, checkpoint=str(tmp_path / "ckpt"), **common)

    out = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == list(range(10)) + list(range(305, 309)), ids


def test_corpus_winnow_index_grouped_default(spark, tmp_path):
    """Pins the r9 DECISION: corpus_winnow_index defaults to the FLAT
    (id, fp) relation — append-safe for the streaming sink and the
    universal on-disk interchange shape — while grouped=True stays the
    explicit opt-in for write-once snapshots (the q99 bench path).
    Also pins WHY the default matters: a grouped index assembled from
    per-batch FRAGMENTS applies max_df per fragment row, so boilerplate
    spread across batches escapes the cap that the flat index (or a
    true single-snapshot grouped index) enforces globally."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import (corpus_winnow_index,
                                          winnow_overlap_against_corpus)
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    flat = corpus_winnow_index(docs).spark
    assert set(flat.columns) == {"doc_id", "fp"}  # flat by default
    grp = corpus_winnow_index(docs, grouped=True).spark
    assert set(grp.columns) == {"fp", "__cids"}
    # fragment hazard: boilerplate fp in 4 docs, split 2+2 across two
    # "batch" fragments; max_df=3 must cap it on the flat/global index
    # but fails to on the naive fragment union
    # >= window + k - 1 = 8 words shared guarantees a common
    # fingerprint; 12 words leaves frames fully inside the run
    boiler = ("exact same boilerplate sentence repeated verbatim in "
              "every single document every time")
    frames = [spark.createDataFrame(
        [(base + i, f"{boiler} unique tail {base + i} word") for i in range(2)],
        "doc_id bigint, text string") for base in (0, 100)]
    frag_idx = corpus_winnow_index(frames[0], grouped=True).unionByName(
        corpus_winnow_index(frames[1], grouped=True))
    flat_idx = corpus_winnow_index(frames[0]).unionByName(
        corpus_winnow_index(frames[1]))
    batch = spark.createDataFrame(
        [(900, f"{boiler} totally novel continuation words")],
        "doc_id bigint, text string")
    hits_flat = winnow_overlap_against_corpus(
        batch, min_shared=1, max_df=3, corpus_index=flat_idx).count()
    hits_frag = winnow_overlap_against_corpus(
        batch, min_shared=1, max_df=3, corpus_index=frag_idx).count()
    assert hits_flat == 0          # global df=4 > 3: capped
    assert hits_frag > 0           # per-fragment df=2 <= 3: escapes


def test_curate_stream_degenerate_texts_all_stages(spark, tmp_path):
    """Round-9 streaming degenerate audit: NULL and empty texts flow
    through ALL THREE cross-batch stages (exact fingerprint state,
    fuzzy LSH index, winnow fingerprint index) without poisoning any
    state table or cross-matching each other.

    Contracts pinned: (a) NULL docs emit ZERO rows into the LSH and
    winnow index sinks (a null band/fingerprint row would equi-join
    nothing, but must not exist at all); (b) a batch-2 NULL doc is an
    exact duplicate of a batch-1 NULL doc (SQL grouping semantics —
    all-null texts fingerprint identically) but NEVER of an empty doc,
    and vice versa; (c) real docs still dedup across batches with the
    degenerates present; (d) replaying batch 1 with state present
    (fresh checkpoint) is idempotent with planted NULLs."""
    import pandas as pd
    from vaex_spark import streaming as st

    real = ["a perfectly ordinary document with plenty of words number %d"
            % i for i in range(6)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(8),
                  "text": real + [None, ""]}).to_parquet(src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"),
                  state_dir=str(tmp_path / "state"),
                  fuzzy_lsh_dir=str(tmp_path / "lsh"),
                  fuzzy_threshold=0.5,
                  winnow_index_dir=str(tmp_path / "widx"),
                  winnow_min_shared=1,
                  min_quality=None, repetition_filter=False, dedup=None)

    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt1"), **common)
    out1 = spark.read.parquet(str(tmp_path / "out"))
    assert out1.count() == 8  # degenerates pass (no quality filter on)
    # (a) NULL docs contribute NOTHING to the fuzzy / winnow indexes
    lsh = spark.read.parquet(str(tmp_path / "lsh"))
    widx = spark.read.parquet(str(tmp_path / "widx"))
    assert lsh.filter(F.col("doc_id") == 6).count() == 0
    assert widx.filter(F.col("doc_id") == 6).count() == 0
    assert lsh.filter(F.col("doc_id") == 7).count() > 0  # '' is real
    # (d) replay batch 1 against existing state: idempotent
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt2"), **common)
    out1b = spark.read.parquet(str(tmp_path / "out"))
    assert out1b.count() == 8
    assert sorted(r["doc_id"] for r in out1b.select("doc_id").collect()) \
        == list(range(8))

    # batch 2: one real dup, one fresh real, one NULL, one empty,
    # one whitespace-only (normalizes to the empty fingerprint)
    pd.DataFrame({"doc_id": [100, 101, 102, 103, 104],
                  "text": [real[0],
                           "genuinely new content with plenty of words",
                           None, "", "   "]}).to_parquet(src / "b2.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt3"), **common)
    out2 = spark.read.parquet(str(tmp_path / "out"))
    ids = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    # 100 (exact dup of 0), 102 (NULL = dup of NULL 6), 103/104
    # (empty/whitespace = dup of empty 7) all drop; 101 survives.
    # Crucially 102 dropped because of 6, NOT because of 7 — and the
    # fuzzy/winnow stages never matched any degenerate.
    assert ids == list(range(8)) + [101], ids
    # state tables stayed clean of null-doc rows across all batches
    assert spark.read.parquet(str(tmp_path / "lsh")) \
        .filter(F.col("doc_id").isin(6, 102)).count() == 0
    assert spark.read.parquet(str(tmp_path / "widx")) \
        .filter(F.col("doc_id").isin(6, 102)).count() == 0
    # exact-state fingerprints: NULL's fp differs from empty's fp
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.select("__fp").distinct().count() == state.count()


def test_corpus_vector_index_and_screen(spark, tmp_path):
    """The packed vector index (one row per vector: n_tables LSH
    bucket ids + pre-normalized unit) and the incremental embedding
    screen: (a) the screen equals the exact brute-force batch×corpus
    cosine set at recall-1 LSH params (bits=2/n_tables=24 at a 0.95
    threshold — same guarantee math as q44); (b) corpus= and persisted
    corpus_index= paths agree bit-for-bit through a parquet round
    trip; (c) Column and Arrow packed builders agree on buckets and
    (to 8 decimals) units, including NULL units for zero vectors;
    (d) the keep-novel wrapper returns exactly the unflagged batch
    rows, with null-vector rows kept (not candidates by contract)."""
    import numpy as np
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import (
        _bucket_packed, corpus_vector_index,
        embedding_dedup_against_corpus, near_dup_embeddings_against_corpus)
    rng = np.random.RandomState(11)
    V = rng.randn(120, 12)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(120)],
        "vec_id bigint, embedding array<double>")
    brows = [(1000 + j, [float(x) for x in (V[j] + rng.randn(12) * 0.005)])
             for j in range(8)]
    brows += [(2000 + j, [float(x) for x in rng.randn(12)])
              for j in range(8)]
    brows += [(3000, None), (3001, [0.0] * 12)]
    batch = spark.createDataFrame(brows,
                                  "vec_id bigint, embedding array<double>")
    kw = dict(bits=2, n_tables=24, threshold=0.95)
    idx = corpus_vector_index(corpus, bits=2, n_tables=24)
    idx.write.mode("overwrite").parquet(str(tmp_path / "vidx"))
    pidx = spark.read.parquet(str(tmp_path / "vidx"))
    got = sorted((r["batch_id"], r["corpus_id"], r["cos"]) for r in
                 near_dup_embeddings_against_corpus(
                     batch, corpus_index=pidx, **kw).collect())
    # (a) exact truth
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    truth = []
    for bid, vec in brows:
        if vec is None or not np.linalg.norm(vec):
            continue
        u = np.asarray(vec) / np.linalg.norm(vec)
        for j in range(120):
            c = round(float(u @ U[j]), 8)
            if c >= 0.95:
                truth.append((bid, j, c))
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in sorted(truth)]
    for (_, _, cg), (_, _, ct) in zip(got, sorted(truth)):
        assert abs(cg - ct) < 1e-6
    # (b) in-plan corpus path parity
    got2 = sorted((r["batch_id"], r["corpus_id"], r["cos"]) for r in
                  near_dup_embeddings_against_corpus(
                      batch, corpus, **kw).collect())
    assert got == got2
    # (b2) screen strategy parity: at these recall-1 params auto
    # resolves DENSE (n_tables=24 >= 2^bits=4); the forced blocked
    # plan must emit the identical rows, and forced dense too
    for strat in ("dense", "blocked"):
        gs = sorted((r["batch_id"], r["corpus_id"], r["cos"]) for r in
                    near_dup_embeddings_against_corpus(
                        batch, corpus_index=pidx, strategy=strat,
                        **kw).collect())
        assert gs == got, strat
        vs.cache.release_operator_caches()
    # (c) builder strategy parity (force Arrow via tiny advisory)
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "8KB")
        arrow = _bucket_packed(batch.repartition(5), "vec_id", "embedding",
                               12, 2, 24, 42)
        assert "MapInPandas" in \
            arrow._jdf.queryExecution().executedPlan().toString()
        ra = {r["vec_id"]: r for r in arrow.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64MB")
    col = _bucket_packed(batch, "vec_id", "embedding", 12, 2, 24, 42)
    rc = {r["vec_id"]: r for r in col.collect()}
    assert set(ra) == set(rc) and 3000 not in ra  # null vec dropped
    # by the builder itself (one-contract-everywhere), in BOTH branches
    for k in ra:
        assert list(ra[k]["__buckets"]) == list(rc[k]["__buckets"]), k
        ua, uc = ra[k]["__unit"], rc[k]["__unit"]
        if ua is None or uc is None:
            assert ua is None and uc is None, k  # zero vector: both null
        else:
            assert all(abs(x - y) < 1e-8 for x, y in zip(ua, uc)), k
    # (d) keep-novel: flagged near-dups dropped, null/zero vecs kept
    kept = sorted(r["vec_id"] for r in embedding_dedup_against_corpus(
        batch, corpus_index=pidx, **kw).collect())
    flagged = {a for a, _, _ in got}
    assert kept == sorted(set(b for b, _ in brows) - flagged)
    assert 3000 in kept and 3001 in kept
    vs.cache.release_operator_caches()


def test_suggest_lsh_params_closed_form():
    """suggest_lsh_params must (a) meet the recall floor by the exact
    Charikar formula, (b) return the candidate-minimal feasible pair
    (brute-checked over the whole feasible set), (c) shrink expected
    candidates when the table budget grows (more tables allow more
    bits), and (d) raise when no configuration can meet the floor."""
    import math
    import pytest as _pytest
    from vaex_spark.datapipe.similarity import suggest_lsh_params
    for thr, rec, mt in [(0.95, 0.999, 32), (0.8, 0.99, 16),
                         (0.42, 0.9, 24), (0.99, 0.9999, 8)]:
        got = suggest_lsh_params(1_000_000, thr, recall=rec, max_tables=mt)
        p = 1.0 - math.acos(thr) / math.pi
        b, T = got["bits"], got["n_tables"]
        assert 1 <= T <= mt
        form = 1.0 - (1.0 - p ** b) ** T
        assert abs(form - got["per_pair_recall"]) < 1e-12
        assert form >= rec
        assert got["expected_candidates_per_query"] == \
            _pytest.approx(T * 1_000_000 / 2 ** b)
        # brute optimality over every feasible (b', T')
        for b2 in range(1, 31):
            pb = p ** b2
            if not (0.0 < pb < 1.0):
                continue
            T2 = math.ceil(math.log(1.0 - rec) / math.log(1.0 - pb))
            if 1 <= T2 <= mt:
                assert (T * 1e6 / 2 ** b
                        <= T2 * 1e6 / 2 ** b2 + 1e-9), (b2, T2)
    small = suggest_lsh_params(1_000_000, 0.95, recall=0.999, max_tables=8)
    big = suggest_lsh_params(1_000_000, 0.95, recall=0.999, max_tables=64)
    assert big["expected_candidates_per_query"] <= \
        small["expected_candidates_per_query"]
    with _pytest.raises(ValueError, match="threshold"):
        suggest_lsh_params(1_000_000, 0.0, recall=0.999, max_tables=4)
    # r10 verdict nit: nonsense inputs raise instead of returning a
    # negative/zero candidate budget a caller could size capacity from
    for bad_kw in (dict(n_corpus=-5), dict(n_corpus=0),
                   dict(threshold=1.5), dict(threshold=-0.1),
                   dict(max_tables=0), dict(dim=1)):
        kw = dict(n_corpus=1000, threshold=0.95, recall=0.999,
                  max_tables=8) | bad_kw
        with _pytest.raises(ValueError):
            suggest_lsh_params(kw.pop("n_corpus"), kw.pop("threshold"), **kw)
    exact = suggest_lsh_params(100, 1.0)
    assert exact["per_pair_recall"] == 1.0


def test_suggest_lsh_params_dim_aware_candidates():
    """dim= integrates the exact random-pair angle distribution
    (round 10): at moderate dims random cosines fluctuate around 0,
    so E[p^b] exceeds the (1/2)^b concentration limit by Jensen —
    dim-aware expected candidates must (a) exceed the dim-less
    estimate, (b) shrink monotonically toward it as dim grows, and
    (c) reproduce the 1M x dim-64 probe's MEASURED candidate count
    (1,776/query, SCALECHECK_r10) within a few percent — the naive
    form underestimated it 1.88x.  The recall floor and chosen
    (bits, n_tables) are per-PAIR quantities, untouched by dim."""
    from vaex_spark.datapipe.similarity import suggest_lsh_params
    naive = suggest_lsh_params(1_000_000, 0.95)
    d64 = suggest_lsh_params(1_000_000, 0.95, dim=64)
    d512 = suggest_lsh_params(1_000_000, 0.95, dim=512)
    d4096 = suggest_lsh_params(1_000_000, 0.95, dim=4096)
    assert (d64["bits"], d64["n_tables"]) == \
        (naive["bits"], naive["n_tables"])
    assert d64["per_pair_recall"] == naive["per_pair_recall"]
    n0 = naive["expected_candidates_per_query"]
    c64, c512, c4096 = (d["expected_candidates_per_query"]
                        for d in (d64, d512, d4096))
    assert c64 > c512 > c4096 > n0
    assert c4096 / n0 < 1.1  # approaches the concentration limit
    assert abs(c64 - 1776) / 1776 < 0.05  # matches the measured probe


def test_embedding_near_dups_degenerates_and_strategies(spark):
    """embedding_near_dups degenerate contract + strategy parity:
    (a) a NaN-coordinate vector must pair with NOTHING in either
    strategy — before the r9 null guard, Spark's NaN-greatest
    comparison semantics let the blocked verify's NaN cosine PASS
    `>= threshold` and emit garbage pairs (reproduced: (1,3,NaN),
    (2,3,NaN)); (b) zero vectors and NULL vectors are never pairs;
    (c) dense (auto at n_tables >= 2^bits) and forced-blocked emit
    identical rows; (d) strategy='dense' raises loudly when the corpus
    exceeds max_dense_corpus."""
    import pytest as _pytest
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import embedding_near_dups
    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1e-9]), (3, [float("nan"), 1.0]),
         (4, [0.0, 0.0]), (5, None), (6, [1.0, 1e-8])],
        "vec_id bigint, embedding array<double>")
    want = [(1, 2, 1.0), (1, 6, 1.0), (2, 6, 1.0)]
    got = {}
    for strat in ("auto", "dense", "blocked"):
        got[strat] = sorted(map(tuple, embedding_near_dups(
            c, threshold=0.95, bits=1, n_tables=8, dim=2,
            strategy=strat).collect()))
        vs.cache.release_operator_caches()
    assert got["auto"] == got["dense"] == got["blocked"] == want
    with _pytest.raises(ValueError, match="max_dense_corpus"):
        embedding_near_dups(c, bits=1, n_tables=8, dim=2,
                            strategy="dense", max_dense_corpus=3)


def test_vec_f64_contract():
    """_vec_f64/_stack_f64 — THE driver-side float64 coercion boundary
    for the whole vector family (round 10, one helper over every call
    site): a None element becomes NaN (degenerate under the existing
    NaN contract) instead of a float(None) TypeError killing the job;
    clean vectors take the plain np.asarray fast path bit-identically;
    ragged matrix builds still FAIL LOUDLY (a dim mismatch must never
    become silently-wrong math)."""
    import numpy as np
    import pytest as _pytest
    from vaex_spark.datapipe.similarity import _stack_f64, _vec_f64
    v = _vec_f64([1.0, None, 0.0])
    assert v.dtype == np.float64
    assert v[0] == 1.0 and np.isnan(v[1]) and v[2] == 0.0
    # object-dtype input (what a driver Row can hand over)
    o = _vec_f64(np.array([0.5, None], dtype=object))
    assert o[0] == 0.5 and np.isnan(o[1])
    clean = [0.25, -1.5, 3.0]
    assert _vec_f64(clean).tolist() == clean
    M = _stack_f64([[1.0, 2.0], [None, 4.0]])
    assert M.shape == (2, 2) and np.isnan(M[1, 0]) and M[1, 1] == 4.0
    with _pytest.raises(ValueError):
        _stack_f64([[1.0, 2.0], [1.0]])


def test_null_element_vectors_degenerate_every_strategy(spark):
    """Round-10 contract (the r9 verdict's one defect): a NULL ELEMENT
    inside an otherwise-valid vector — ``[1.0, null, 0.0]``, what a
    bad upstream join or a sloppy Parquet writer actually produces —
    is the NaN-coordinate case, NOT the null-vector case: the row
    stays, its cosines are degenerate (null, ranks last, never pairs),
    and every physical strategy of every vector operator agrees
    bit-identically.  Before the fix the driver float() boundaries
    (dense/auto screens — the shipped q44/q100/q102 path — collected
    queries, centroid seeds) crashed with TypeError from ONE bad row
    while 'blocked' degraded gracefully: a strategy-parity break."""
    import vaex_spark as vs
    from vaex_spark.datapipe import similarity as S
    c = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, None, 0.0]), (2, [0.9, 0.1, 0.0]),
         (3, None), (4, [float("nan"), 1.0, 0.0]), (5, [0.5, 0.5, 0.0]),
         (6, [0.95, 0.05, 0.0])],
        "vec_id bigint, embedding array<double>")
    # self near-dups: all three strategies identical, null-element row
    # 1 pairs with nothing
    nd = {}
    for strat in ("blocked", "dense", "auto"):
        nd[strat] = sorted(map(tuple, S.embedding_near_dups(
            c, threshold=0.5, bits=2, n_tables=4,
            strategy=strat).collect()))
        vs.cache.release_operator_caches()
    assert nd["blocked"] == nd["dense"] == nd["auto"]
    assert nd["auto"] and not any(1 in p[:2] for p in nd["auto"])
    # top-k: null-element CORPUS row ranks last with a null cosine in
    # both strategies; a null-element QUERY (DataFrame or list form)
    # is a degenerate query — k null-cos rows by neighbor id, never a
    # crash
    q = [(0, [1.0, 0.0, 0.0]), (7, [0.4, None, 0.1])]
    te = sorted(map(tuple, S.brute_force_topk(
        c, q, k=4, strategy="expr").collect()))
    ta = sorted(map(tuple, S.brute_force_topk(
        c, q, k=4, strategy="arrow").collect()))
    assert te == ta
    assert {r for r in te if r[0] == 7} == \
        {(7, n, None, i + 1) for i, n in enumerate([0, 1, 2, 4])}
    qdf = spark.createDataFrame(q, "vec_id bigint, embedding array<double>")
    tdf = sorted(map(tuple, S.brute_force_topk(c, qdf, k=4).collect()))
    assert tdf == te
    # ivf: a null-element corpus row has a NULL cell (its centroid
    # distances are null) — unassignable, excluded by BOTH the expr
    # probe join and the Arrow kernel (int(NaN) crashed it before)
    ie = sorted(map(tuple, S.ivf_topk(
        c, q, k=4, n_cells=2, n_probe=2, strategy="expr").collect()))
    ia = sorted(map(tuple, S.ivf_topk(
        c, q, k=4, n_cells=2, n_probe=2, strategy="arrow").collect()))
    assert ie == ia
    assert S.lsh_topk(c, q, k=3, bits=2, n_tables=2).count() >= 1
    # against-corpus screen: null elements planted on BOTH sides,
    # all strategies bit-identical, degenerates never candidates
    batch = spark.createDataFrame(
        [(10, [1.0, 0.01, 0.0]), (11, [0.0, None, 1.0]), (12, None)],
        "vec_id bigint, embedding array<double>")
    ac = {}
    for strat in ("blocked", "dense", "auto"):
        ac[strat] = sorted(map(tuple, S.near_dup_embeddings_against_corpus(
            batch, c, threshold=0.5, bits=2, n_tables=4,
            strategy=strat).collect()))
        vs.cache.release_operator_caches()
    assert ac["blocked"] == ac["dense"] == ac["auto"]
    assert ac["auto"] and all(p[0] == 10 for p in ac["auto"])
    kept = sorted(r[0] for r in S.embedding_dedup_against_corpus(
        batch, c, threshold=0.5, bits=2, n_tables=4)
        .select("vec_id").collect())
    assert kept == [11, 12]  # degenerates are never dups — kept
    # semantic dedup + centroid seeding run clean; a degenerate vector
    # is never a centroid seed (one NaN centroid would win every
    # NaN-is-greatest argmax and collapse the corpus into one cluster)
    assert S.semantic_dedup(c, n_clusters=2, threshold=0.9).count() >= 0
    assert np.isfinite(S.train_centroids(c, n_cells=2)).all()
    assert np.isfinite(S.first_k_centroids(c, 2)).all()
    assert S.first_k_centroids(c, 2).tolist() == \
        [[1.0, 0.0, 0.0], [0.9, 0.1, 0.0]]


def test_null_element_vectors_persisted_index_paths(spark, tmp_path):
    """The same null-element plant through the PERSISTED index family:
    corpus_vector_index stores a NULL __unit and an all-zero bucket
    row for a degenerate vector IDENTICALLY in both builder strategies
    (before round 10 the Column form stored NULL where Arrow stored
    [NaN,...], and Spark's NaN-greatest `> 0` set bucket bits numpy
    left clear); the screen and ivf paths over a parquet round-trip
    never crash and never pair the degenerate row."""
    from vaex_spark.datapipe import similarity as S
    c = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, None, 0.0]), (2, [0.9, 0.1, 0.0]),
         (4, [float("nan"), 1.0, 0.0]), (5, [0.0, 0.0, 0.0]),
         (6, [0.95, 0.05, 0.0])],
        "vec_id bigint, embedding array<double>")
    # builder representation parity (Column form at one tiny
    # partition, Arrow forced via advisory)
    col = sorted((r["vec_id"], list(r["__buckets"]),
                  None if r["__unit"] is None else
                  [round(x, 10) for x in r["__unit"]])
                 for r in S._bucket_packed(c.coalesce(1), "vec_id",
                                           "embedding", 3, 2, 4, 42)
                 .collect())
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "8KB")
        arr = sorted((r["vec_id"], list(r["__buckets"]),
                      None if r["__unit"] is None else
                      [round(x, 10) for x in r["__unit"]])
                     for r in S._bucket_packed(c.repartition(3), "vec_id",
                                               "embedding", 3, 2, 4, 42)
                     .collect())
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64MB")
    assert col == arr
    degenerate = {1, 4, 5}
    for vid, buckets, unit in col:
        if vid in degenerate:
            assert unit is None and buckets == [0, 0, 0, 0]
    # screen over the persisted index, both strategies, null elements
    # on both sides
    S.corpus_vector_index(c, bits=2, n_tables=4).write.mode(
        "overwrite").parquet(str(tmp_path / "vidx"))
    idx = spark.read.parquet(str(tmp_path / "vidx"))
    batch = spark.createDataFrame(
        [(10, [1.0, 0.01, 0.0]), (11, [0.0, None, 1.0])],
        "vec_id bigint, embedding array<double>")
    r1 = sorted(map(tuple, S.near_dup_embeddings_against_corpus(
        batch, corpus_index=idx, threshold=0.5, bits=2, n_tables=4,
        strategy="blocked").collect()))
    r2 = sorted(map(tuple, S.near_dup_embeddings_against_corpus(
        batch, corpus_index=idx, threshold=0.5, bits=2, n_tables=4,
        strategy="dense").collect()))
    assert r1 == r2 and r1 and not any(p[1] in degenerate for p in r1)
    # ivf index with a null-element corpus row round-trips and matches
    S.corpus_ivf_index(c, n_cells=2).write.mode("overwrite").parquet(
        str(tmp_path / "iidx"))
    iidx = spark.read.parquet(str(tmp_path / "iidx"))
    qs = [(0, [1.0, 0.0, 0.0])]
    ia = sorted(map(tuple, S.ivf_topk(
        None, qs, k=4, n_probe=2, corpus_index=iidx,
        strategy="expr").collect()))
    ib = sorted(map(tuple, S.ivf_topk(
        None, qs, k=4, n_probe=2, corpus_index=iidx,
        strategy="arrow").collect()))
    assert ia == ib and ia


def test_index_param_stamp_family_wide(spark, tmp_path):
    """The corpus_vector_index parameter-stamp contract applied to the
    WHOLE persisted-index family (round 10): corpus_winnow_index
    stamps (k, window, fp_type) and corpus_lsh_index stamps
    (shingle_k, num_perm, num_bands) as column metadata riding the
    parquet footer; the against-corpus screens validate the stamp so
    a parameter-mismatched index FAILS LOUDLY instead of silently
    returning a near-empty screen (different winnow params select
    different fingerprints; different MinHash params hash
    incomparable buckets).  Stamp-less (legacy) indexes skip the
    check and still screen."""
    import pytest as _pytest
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup as D
    from vaex_spark.datapipe import text as T
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    corpus = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    T.corpus_winnow_index(corpus, k=5, window=4, fp_type="gram").spark \
        .write.mode("overwrite").parquet(str(tmp_path / "w"))
    widx = spark.read.parquet(str(tmp_path / "w"))
    n_ok = T.winnow_overlap_against_corpus(
        batch, corpus_index=widx, k=5, window=4, fp_type="gram",
        min_shared=2).count()
    assert n_ok > 0
    for kw in (dict(k=4, window=4, fp_type="gram"),
               dict(k=5, window=5, fp_type="gram"),
               dict(k=5, window=4, fp_type="hash")):
        with _pytest.raises(ValueError, match="built with"):
            T.winnow_overlap_against_corpus(batch, corpus_index=widx,
                                            min_shared=2, **kw)
    legacy = widx.withMetadata("fp", {})
    assert T.winnow_overlap_against_corpus(
        batch, corpus_index=legacy, k=5, window=4, fp_type="gram",
        min_shared=2).count() == n_ok
    # the grouped (fp, __cids) form carries the same stamp
    T.corpus_winnow_index(corpus, k=5, window=4, fp_type="gram",
                          grouped=True).spark \
        .write.mode("overwrite").parquet(str(tmp_path / "wg"))
    with _pytest.raises(ValueError, match="built with"):
        T.winnow_overlap_against_corpus(
            batch, corpus_index=spark.read.parquet(str(tmp_path / "wg")),
            k=6, window=4, fp_type="gram")
    D.corpus_lsh_index(corpus, shingle_k=5, num_perm=64,
                       num_bands=32).spark \
        .write.mode("overwrite").parquet(str(tmp_path / "m"))
    midx = spark.read.parquet(str(tmp_path / "m"))
    assert D.near_dup_against_corpus(
        batch, corpus, corpus_index=midx, shingle_k=5, num_perm=64,
        num_bands=32).count() > 0
    with _pytest.raises(ValueError, match="built with"):
        D.near_dup_against_corpus(batch, corpus, corpus_index=midx,
                                  shingle_k=5, num_perm=32, num_bands=16)


def test_ivf_empty_and_degenerate_corpus(spark):
    """An EMPTY (or all-null) corpus is a normal state — batch 1 of an
    incremental pipeline: ivf_topk returns the empty result in every
    path (expr, arrow, derived, persisted index) instead of the
    argmin-of-empty / untyped-empty-array crashes the round-10 fuzz
    found; an empty corpus_ivf_index frame is a legitimate artifact
    (zero centroid rows), while a NON-empty frame without centroid
    rows stays the documented loud error.  A corpus whose only finite
    vector is the zero vector still ranks it (degenerate-kept, null
    cos) identically in all paths."""
    import numpy as np
    import pytest as _pytest
    from vaex_spark.datapipe import similarity as S
    e = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    q = [(0, [1.0, 0.0, 0.0])]
    assert S.train_centroids(e, n_cells=2).shape == (0, 0)
    for strat in ("expr", "arrow"):
        assert S.ivf_topk(e, q, k=3, n_cells=2,
                          strategy=strat).collect() == []
    eidx = S.corpus_ivf_index(e, n_cells=2)
    assert eidx.count() == 0
    assert S.ivf_topk(None, q, k=3, corpus_index=eidx).collect() == []
    with _pytest.raises(ValueError, match="centroid"):
        S.ivf_topk(None, [(0, [1.0, 0.0])], k=3,
                   corpus_index=spark.createDataFrame(
                       [(1, [1.0, 0.0], None, None)],
                       "vec_id bigint, embedding array<double>, "
                       "__cell int, __centroid array<double>"))
    dg = spark.createDataFrame(
        [(0, None), (2, [0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    want = [(0, 2, None, 1)]
    for strat in ("expr", "arrow"):
        assert sorted(map(tuple, S.ivf_topk(
            dg, q, k=3, n_cells=2, strategy=strat).collect())) == want
    didx = S.corpus_ivf_index(dg, n_cells=2)
    assert sorted(map(tuple, S.ivf_topk(
        None, q, k=3, corpus_index=didx).collect())) == want


def test_vector_index_param_stamp(spark, tmp_path):
    """corpus_vector_index stamps (bits, n_tables, seed, dim) as
    column metadata riding the artifact through parquet; the screen
    validates them so a parameter-mismatched index FAILS LOUDLY
    instead of silently degrading (a seed mismatch blocks on garbage
    buckets — near-empty screen; an n_tables mismatch joins only the
    overlapping posexplode positions — quietly cut recall).  A
    pre-stamp (legacy) index falls back to the dim-only probe."""
    import pytest as _pytest
    from vaex_spark.datapipe import similarity as S
    c = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (6, [0.95, 0.05, 0.0])],
        "vec_id bigint, embedding array<double>")
    S.corpus_vector_index(c, bits=3, n_tables=2, seed=7).write.mode(
        "overwrite").parquet(str(tmp_path / "v"))
    idx = spark.read.parquet(str(tmp_path / "v"))
    fld = next(f for f in idx.schema.fields if f.name == "__buckets")
    stamp = dict(fld.metadata)["vaex_spark_lsh"]
    assert {k: int(v) for k, v in stamp.items()} == \
        {"bits": 3, "n_tables": 2, "seed": 7, "dim": 3}
    batch = spark.createDataFrame(
        [(10, [1.0, 0.01, 0.0])], "vec_id bigint, embedding array<double>")
    ok = S.near_dup_embeddings_against_corpus(
        batch, corpus_index=idx, threshold=0.5, bits=3, n_tables=2,
        seed=7, strategy="blocked")
    assert ok.count() == 3
    for bad in (dict(bits=3, n_tables=2, seed=8),
                dict(bits=4, n_tables=2, seed=7),
                dict(bits=3, n_tables=3, seed=7)):
        with _pytest.raises(ValueError, match="built with"):
            S.near_dup_embeddings_against_corpus(
                batch, corpus_index=idx, threshold=0.5,
                strategy="blocked", **bad)
    # dim mismatch caught from the stamp (no probe job needed)
    b8 = spark.createDataFrame(
        [(10, [1.0] * 8)], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="dim=3.*dim=8"):
        S.near_dup_embeddings_against_corpus(
            b8, corpus_index=idx, bits=3, n_tables=2, seed=7)
    # legacy index (stamp stripped): dim probe fallback still screens
    legacy = idx.withMetadata("__buckets", {})
    assert not dict(
        next(f for f in legacy.schema.fields
             if f.name == "__buckets").metadata)
    ok2 = S.near_dup_embeddings_against_corpus(
        batch, corpus_index=legacy, threshold=0.5, bits=3, n_tables=2,
        seed=7, strategy="blocked")
    assert sorted(map(tuple, ok2.collect())) == \
        sorted(map(tuple, ok.collect()))


def test_corpus_ivf_index_round_trip(spark, tmp_path):
    """The persisted IVF index: (a) ivf_topk(corpus_index=) through a
    parquet round trip returns EXACTLY the derived path's rows (same
    centroids by construction — persisting pins the layout-dependent
    training sample); (b) at n_probe = n_cells the result equals exact
    brute-force top-k (every cell probed => every corpus row scored,
    independent of the centroids); (c) at n_probe < n_cells the index
    and derived paths still agree with each other (same centroids =>
    same probe set); (d) a frame without centroid rows is rejected
    loudly."""
    import numpy as np
    import pytest as _pytest
    from vaex_spark.datapipe import similarity as S
    rng = np.random.RandomState(3)
    V = rng.randn(300, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(300)],
        "vec_id bigint, embedding array<double>")
    queries = [(int(i), [float(x) for x in (V[i * 7] + 0.01 * rng.randn(16))])
               for i in range(6)]
    idx = S.corpus_ivf_index(corpus, n_cells=8)
    idx.write.mode("overwrite").parquet(str(tmp_path / "ivfidx"))
    pidx = spark.read.parquet(str(tmp_path / "ivfidx"))
    assert pidx.filter(F.col("__centroid").isNotNull()).count() == 8
    assert pidx.filter(F.col("__centroid").isNull()).count() == 300
    derived = sorted(map(tuple, S.ivf_topk(
        corpus, queries, k=5, n_cells=8, n_probe=8).collect()))
    persisted = sorted(map(tuple, S.ivf_topk(
        None, queries, k=5, n_probe=8, corpus_index=pidx).collect()))
    assert derived == persisted
    brute = sorted(map(tuple, S.brute_force_topk(
        corpus, queries, k=5).collect()))
    assert derived == brute
    d2 = sorted(map(tuple, S.ivf_topk(
        corpus, queries, k=5, n_cells=8, n_probe=2).collect()))
    p2 = sorted(map(tuple, S.ivf_topk(
        None, queries, k=5, n_probe=2, corpus_index=pidx).collect()))
    assert d2 == p2
    with _pytest.raises(ValueError, match="centroid"):
        S.ivf_topk(None, queries, k=5,
                   corpus_index=pidx.filter(F.col("__centroid").isNull()))


def test_vector_dim_guards_fail_loud(spark, tmp_path):
    """Dimension hazards in the packed-vector family must FAIL LOUDLY,
    never degrade into silently-missed duplicates: (a) a ragged
    embedding column (one wrong-length vector) raises in BOTH builder
    strategies with the same message — the Column form would otherwise
    zip_with truncated planes into wrong buckets, the Arrow form would
    die shapelessly in np.stack; (b) screening a batch against a
    persisted index built at a different dim raises a ValueError
    naming both dims (a wrong-embedding-model batch would otherwise
    block on garbage buckets and return an empty screen)."""
    import pytest as _pytest
    from vaex_spark.datapipe.similarity import (
        _bucket_packed, corpus_vector_index,
        near_dup_embeddings_against_corpus)
    ragged = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [2.0] * 8), (3, [3.0] * 5)],
        "vec_id bigint, embedding array<double>")
    with _pytest.raises(Exception, match="length != dim=8"):
        _bucket_packed(ragged, "vec_id", "embedding", 8, 2, 4, 42).collect()
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "8KB")
        arrow = _bucket_packed(ragged.repartition(3), "vec_id",
                               "embedding", 8, 2, 4, 42)
        assert "MapInPandas" in \
            arrow._jdf.queryExecution().executedPlan().toString()
        with _pytest.raises(Exception, match="length != dim=8"):
            arrow.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64MB")
    corpus12 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(12)]) for i in range(6)],
        "vec_id bigint, embedding array<double>")
    idx = corpus_vector_index(corpus12, bits=2, n_tables=4)
    idx.write.mode("overwrite").parquet(str(tmp_path / "idx12"))
    batch8 = spark.createDataFrame(
        [(100, [1.0] * 8)], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="dim=12.*dim=8"):
        near_dup_embeddings_against_corpus(
            batch8, corpus_index=spark.read.parquet(str(tmp_path / "idx12")),
            bits=2, n_tables=4)


def test_curate_stream_vector_cross_batch(spark, tmp_path):
    """vector_index_dir: batch 2 docs whose EMBEDDING is near-identical
    (cos >= 0.95) to a batch-1 emission are dropped via the persisted
    packed vector index — text differs, so neither exact nor fuzzy nor
    winnow would catch them; genuinely novel embeddings survive; the
    index is batch_id-partitioned like every other sink, and a stream
    without the embedding column raises instead of silently skipping
    the screen."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest
    from vaex_spark import streaming as st

    rng = np.random.RandomState(5)
    E = rng.randn(10, 8)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({
        "doc_id": range(10),
        "text": ["original document body number %d with plenty of words"
                 % i for i in range(10)],
        "embedding": [list(map(float, E[i])) for i in range(10)],
    }).to_parquet(src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"),
                  state_dir=str(tmp_path / "state"),
                  vector_index_dir=str(tmp_path / "vidx"),
                  vector_threshold=0.95,
                  # strategy/max_dense_batch are SCREEN-only keys: the
                  # index-build call must key-filter them (round 10 —
                  # unfiltered they TypeError the corpus_vector_index
                  # write AFTER the batch's output emission, wedging
                  # the stream)
                  vector_params=dict(bits=2, n_tables=24,
                                     strategy="auto",
                                     max_dense_batch=65536),
                  min_quality=None, repetition_filter=False, dedup=None)
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt"), **common)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 10
    vidx = spark.read.parquet(str(tmp_path / "vidx"))
    assert vidx.count() == 10
    assert {"doc_id", "__buckets", "__unit"} <= set(vidx.columns)

    # batch 2: 4 docs = REWRITTEN text but near-identical embeddings
    # (paraphrase dups), 3 docs with genuinely novel embeddings, 1
    # doc with a NULL embedding (degenerate: never a candidate by the
    # _drop_null_vecs contract -> emitted, and never indexed -> cannot
    # poison later batches by matching other null/zero rows), and 1
    # doc with a null ELEMENT in its embedding (the round-10 class:
    # degenerate like a NaN coordinate -> emitted, never a dup, and
    # the dense/auto screen must not crash on it)
    near = [list(map(float, E[i] + rng.randn(8) * 0.005)) for i in range(4)]
    novel = [list(map(float, rng.randn(8))) for _ in range(3)]
    null_elem = [1.0, None] + list(map(float, rng.randn(6)))
    pd.DataFrame({
        "doc_id": range(400, 409),
        "text": ["completely rewritten paraphrase variant %d with new "
                 "words" % i for i in range(9)],
        "embedding": near + novel + [None] + [null_elem],
    }).to_parquet(src / "b2.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt"), **common)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "out")).select("doc_id").collect())
    assert ids == list(range(10)) + [404, 405, 406, 407, 408], ids
    vidx2 = spark.read.parquet(str(tmp_path / "vidx"))
    # 10 + 3 novel + 408; null-embedding 407 absent, null-element 408
    # indexed as degenerate (NULL __unit — pairs with nothing)
    assert vidx2.count() == 14
    assert vidx2.filter(F.col("doc_id") == 407).count() == 0
    r408 = vidx2.filter(F.col("doc_id") == 408).collect()
    assert len(r408) == 1 and r408[0]["__unit"] is None
    # stream without the vec col: loud failure, not a silent no-screen
    src2 = tmp_path / "src2"
    src2.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["no embedding column here"]}
                 ).to_parquet(src2 / "b1.parquet")
    with _pytest.raises(Exception, match="vector_index_dir"):
        st.curate_stream(
            st.open_stream(str(src2), spark=spark),
            checkpoint=str(tmp_path / "ckpt3"),
            out_dir=str(tmp_path / "out2"),
            state_dir=str(tmp_path / "state2"),
            vector_index_dir=str(tmp_path / "vidx2"),
            min_quality=None, repetition_filter=False, dedup=None)


def test_banded_long_bit_identical_to_column_form(spark):
    """_banded_long (explode + codegen min-aggregates) must produce the
    EXACT (id, band, bucket) rows of the Column signature form
    (posexplode(minhash_bands_col(minhash_signature(text)))) on real
    documents — the fast path is a physical rewrite of the same hash
    family, and persisted LSH indexes built by either must
    interoperate.  Covers short docs (n < k) via planted rows."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (_banded_long, minhash_bands_col,
                                           minhash_signature)
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    extra = vs.from_arrays(doc_id=[9001, 9002, 9003],
                           text=["tiny", "two words", ""], spark=spark)
    sdf = docs.spark.select("doc_id", "text").unionByName(extra.spark)
    num_perm, num_bands, k = 64, 16, 5
    sig = minhash_signature(F.col("text"), num_perm=num_perm, shingle_k=k)
    bands = minhash_bands_col(sig, num_bands, num_perm // num_bands)
    old = sorted((r["doc_id"], r["band"], r["bucket"]) for r in
                 sdf.select("doc_id", F.posexplode(bands).alias("band", "bucket"))
                 .collect())
    new = sorted((r["doc_id"], r["band"], r["bucket"]) for r in
                 _banded_long(sdf, "doc_id", "text", num_perm, num_bands, k)
                 .collect())
    assert old == new
    assert len(new) == sdf.count() * num_bands


def test_banded_auto_dispatch(spark):
    """_banded_auto is stats-gated: a corpus Catalyst places in ONE
    advisory partition takes the zero-exchange Column form (no
    HashAggregate over __s0 buffers in the plan); forcing a tiny
    advisory makes the same corpus multi-partition and flips to the
    explode + codegen min-aggregate form.  Values are identical either
    way (the bit-identity test above)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import _banded_auto
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    sdf = docs.spark.select("doc_id", "text")
    small = _banded_auto(sdf, "doc_id", "text", 64, 16, 5)
    assert "__s0" not in small._jdf.queryExecution().optimizedPlan().toString()
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        big = _banded_auto(sdf, "doc_id", "text", 64, 16, 5)
        assert "__s0" in big._jdf.queryExecution().optimizedPlan().toString()
        assert (sorted(map(tuple, small.collect()))
                == sorted(map(tuple, big.collect())))
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "64MB")


def test_winnow_fingerprints_matches_bruteforce(spark):
    """winnow_fingerprints == per-window-min brute force computed from
    Spark's own k-gram hashes (positions exploded driver-side), on real
    documents including ones shorter than the window."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import shingles, winnow_fingerprints
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    k, w = 5, 4
    got = {}
    for r in winnow_fingerprints(docs, k=k, window=w).spark.collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    # brute force from the same hash function (Spark xxhash64 on grams)
    rows = (docs.spark.select(
        "doc_id", F.posexplode(shingles(F.col("text"), k=k)).alias("p", "g"))
        .select("doc_id", "p", F.xxhash64("g").alias("h"))
        .collect())
    seqs = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["p"])):
        seqs.setdefault(r["doc_id"], []).append(r["h"])
    exp = {}
    for did, hs in seqs.items():
        fps = {min(hs[s:s + w]) for s in range(len(hs))}
        exp[did] = fps
    assert got == exp
    # compression: winnowing stores far fewer hashes than all grams
    n_grams = sum(len(v) for v in seqs.values())
    n_fps = sum(len(v) for v in got.values())
    assert n_fps < 0.8 * n_grams


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing guarantee: two documents sharing a run of at least
    window + k - 1 words share at least one fingerprint; documents with
    entirely disjoint vocabularies share none."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_fingerprints
    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w + k - 1
    a = "one two " + shared + " three four five six"
    b = "seven eight nine ten " + shared + " eleven"
    c = "totally different words everywhere in this unrelated document"
    df = vs.from_arrays(doc_id=[1, 2, 3], text=[a, b, c], spark=spark)
    fps = {}
    for r in winnow_fingerprints(df, k=k, window=w).spark.collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared run must produce a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_overlap_pairs_single_fingerprint_pass(spark):
    """The fingerprint pass over the corpus text runs exactly ONCE in
    both overlap forms.  Capped (default): the grouped pair generator
    is structurally single-pass — one FileScan of the corpus, no
    persist, no self-join.  Uncapped (max_df=None): the fp self-join
    would recompute the pass on each side, so the narrow (id, fp)
    relation is persisted and both sides read the cache
    (InMemoryTableScan)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_overlap_pairs
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    out = winnow_overlap_pairs(docs, min_shared=1).spark
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "Join" not in plan, plan
    uncapped = winnow_overlap_pairs(docs, min_shared=1, max_df=None).spark
    uncapped.count()
    plan2 = uncapped._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("InMemoryTableScan") >= 2, plan2
    vs.cache.release_operator_caches()


def test_winnow_expr_strategy_matches_window(spark):
    """The zero-exchange expression selection (_winnow_fps_expr) is
    bit-identical to the declarative window form for BOTH fp types —
    including with the source repartitioned (multi-partition scan) and
    at a non-default (k, window) so the slice arithmetic is exercised
    off the defaults.  Also covers the edge docs the fixture carries:
    n < k (single whole-text gram) and n < window (truncated trailing
    frames only)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_fingerprints
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    sdf = docs.spark.repartition(5)
    edge = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e"), (3, ""), (4, "x x x x x x x"),
         # non-ASCII: array_min and F.min must agree on UTF8String
         # binary order (é > z in bytes, < z in some collations)
         (5, "zebra é ágil ñu zebra é ágil ñu zebra"),
         # NULL text: the r8 expr form manufactured one phantom ""
         # gram (size(null)->null->greatest(null,1)=1) and emitted the
         # empty-string fingerprint where the window twin emits zero
         # rows — the r9 null guard pins zero rows in BOTH strategies
         (6, None),
         (7, "   ")],
        "doc_id bigint, text string")
    for frame, k, w in ((sdf, 5, 4), (sdf, 3, 7), (edge, 5, 4),
                        (edge, 2, 3)):
        for fp_type in ("hash", "gram"):
            win = [tuple(r) for r in winnow_fingerprints(
                frame, k=k, window=w, fp_type=fp_type,
                strategy="window").collect()]
            ex = [tuple(r) for r in winnow_fingerprints(
                frame, k=k, window=w, fp_type=fp_type,
                strategy="expr").collect()]
            assert set(win) == set(ex), (fp_type, k, w)
            # unique-id input => no duplicate (id, fp) rows either
            assert len(ex) == len(set(ex)), (fp_type, k, w)
            if frame is edge:  # the planted NULL doc emits nothing
                assert not any(i == 6 for i, _ in ex), (fp_type, k, w)
    with pytest.raises(ValueError):
        winnow_fingerprints(sdf, strategy="nope")
    with pytest.raises(ValueError):
        winnow_fingerprints(sdf, k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(sdf, window=0)


def test_winnow_null_and_dup_id_contracts(spark):
    """User-visible surface of the r9 fixes: (a) a NULL-text doc emits
    NO fingerprints, so at min_shared=1 it matches nothing — not even
    empty/whitespace docs (the r8 expr defect made NULL share the ""
    fingerprint with every empty doc); (b) duplicate doc_id rows
    through the capped pair generator produce no id_a == id_b
    self-pairs and no multiplicity-inflated n_shared."""
    from vaex_spark.datapipe.text import (
        winnow_overlap_pairs, winnow_overlap_against_corpus,
        winnow_dedup_against_corpus)
    sdf = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, None),
         (5, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_overlap_pairs(sdf, min_shared=1).collect()}
    # NULL docs (1, 4) appear in NO pair; empty/whitespace (2, 3)
    # legitimately share the ""-gram fingerprint with each other only
    assert pairs == {(2, 3): 1}, pairs
    # batch-vs-corpus: NULL batch docs never flag, and empty corpus
    # docs never flag a NULL batch doc
    corpus = spark.createDataFrame(
        [(100, ""), (101, "totally unrelated corpus text here")],
        "doc_id bigint, text string")
    hits = winnow_overlap_against_corpus(
        sdf, corpus, min_shared=1).collect()
    assert sorted(r["batch_id"] for r in hits) == [2, 3], hits
    kept = winnow_dedup_against_corpus(sdf, corpus, min_shared=1)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 5]
    # duplicate-id robustness of the capped pair path
    dup = spark.createDataFrame(
        [(1, "a b c d e f g h"), (1, "a b c d e f g h"),
         (2, "a b c d e f g h")],
        "doc_id bigint, text string")
    dpairs = {(r["id_a"], r["id_b"]): r["n_shared"]
              for r in winnow_overlap_pairs(
                  dup, k=3, window=2, min_shared=1).collect()}
    assert all(a != b for a, b in dpairs), dpairs
    assert dpairs == {(1, 2): 4}, dpairs


def test_ann_list_queries_null_vector_contract(spark):
    """List-form (id, vector) queries follow the same NULL contract as
    the DataFrame side (_drop_null_vecs): a None vector is skipped at
    every list-accepting entry point, not a float(None) crash."""
    from vaex_spark.datapipe.similarity import (
        brute_force_topk, lsh_topk, ivf_topk)
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(30)],
        "vec_id bigint, embedding array<double>")
    queries = [(0, [1.0, 0.0, 1.0]), (1, None), (2, [0.0, 1.0, 0.0])]
    for fn, kw in ((brute_force_topk, {}),
                   (lsh_topk, {"bits": 2, "n_tables": 2}),
                   (ivf_topk, {"n_cells": 2, "n_probe": 2})):
        rows = fn(corpus, queries, k=3, **kw).collect()
        qids = {r["query_id"] for r in rows}
        assert 1 not in qids, (fn.__name__, rows)
        assert {0, 2} <= qids, (fn.__name__, rows)


def test_winnow_expr_zero_exchange_plan(spark):
    """The expr selection never key-exchanges, sorts, or leaves the
    JVM — scan -> project (the whole selection is one Column) ->
    Generate explode (the declarative twin pays Exchange(doc)+Sort for
    the window and a hash Exchange for the distinct).  The only
    Exchange permitted is the stats-gated round-robin spread of the
    RAW text rows (1-file scan at sf0.001 < 32 cores — 1/expansion of
    what the window form shuffles)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_fingerprints
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    plan = (winnow_fingerprints(docs.spark, strategy="expr")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Generate explode" in plan, plan
    for bad in ("hashpartitioning", "Sort", "Window", "MapInPandas",
                "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, (bad, plan)
    assert plan.count("Exchange") <= 1, plan  # the parallelism spread
    # the spread never STACKS on an upstream repartition — Catalyst
    # collapses adjacent round-robins, so the plan keeps exactly one
    # Exchange (and still no key exchange / sort) even when the caller
    # already spread the corpus themselves
    wide = winnow_fingerprints(
        docs.spark.repartition(64), strategy="expr")
    plan2 = wide._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 1, plan2
    assert "RoundRobinPartitioning" in plan2, plan2
    assert "hashpartitioning" not in plan2 and "Sort" not in plan2, plan2


def test_winnow_overlap_against_corpus(spark, tmp_path):
    """Cross-corpus winnow overlap: (a) matches a python brute force
    built from the same Spark fingerprints, independently for BOTH
    fp_types (hash and gram orderings select different window
    positions, so each checks against its own oracle); (b) the
    persisted corpus_winnow_index round-trips through parquet
    bit-identically (fresh-corpus path == parquet-reloaded index
    path); (c) corpus-side max_df cap drops a planted boilerplate
    fingerprint while keeping every real overlap."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import (corpus_winnow_index,
                                          winnow_fingerprints,
                                          winnow_overlap_against_corpus)
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    corpus = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    # python brute force over the engine's own fingerprint relation —
    # independently for BOTH fingerprint domains (hash and gram
    # orderings legitimately select different window positions, so
    # their pair sets may differ; each must match its own oracle)
    for fp_type in ("hash", "gram"):
        res = winnow_overlap_against_corpus(batch, corpus, min_shared=1,
                                            fp_type=fp_type)
        pairs = {(r["batch_id"], r["corpus_id"]): r["n_shared"]
                 for r in res.spark.collect()}
        bf = {}
        for side, frame in (("b", batch), ("c", corpus)):
            for r in winnow_fingerprints(frame,
                                         fp_type=fp_type).spark.collect():
                bf.setdefault((side, r["doc_id"]), set()).add(r["fp"])
        exp = {}
        for (sb, bid), bs in bf.items():
            if sb != "b":
                continue
            for (sc, cid), cs in bf.items():
                if sc == "c" and len(bs & cs) >= 1:
                    exp[(bid, cid)] = len(bs & cs)
        assert pairs == exp and pairs, fp_type
        if fp_type == "hash":
            got = pairs
    # persisted index path: identical through a parquet round-trip,
    # for BOTH index shapes (flat (id, fp) and pre-grouped (fp, ids) —
    # the grouped form's plan must carry no groupBy of the index)
    for grouped in (False, True):
        idx = corpus_winnow_index(corpus, grouped=grouped).spark
        path = str(tmp_path / f"winnow_idx_{grouped}.parquet")
        idx.write.parquet(path)
        reloaded = spark.read.parquet(path)
        res = winnow_overlap_against_corpus(batch.spark,
                                            corpus_index=reloaded,
                                            min_shared=1)
        via_idx = {(r["batch_id"], r["corpus_id"]): r["n_shared"]
                   for r in res.collect()}
        assert via_idx == got, grouped
        if grouped:
            plan = res._jdf.queryExecution().optimizedPlan().toString()
            assert "collect_list" not in plan, plan
    with pytest.raises(ValueError):
        winnow_overlap_against_corpus(batch)  # neither corpus nor index
    # corpus-side boilerplate cap: append one shared 8-word run to
    # EVERY doc; with max_df its fingerprint is dropped, so pairs whose
    # ONLY link is the boilerplate disappear while real overlaps stay
    boiler = "copyright all rights reserved see license file terms"
    hot_docs = vs.DataFrame(docs.spark.withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(boiler))))
    hc = hot_docs[hot_docs.doc_id % 3 != 0]
    hb = hot_docs[hot_docs.doc_id % 3 == 0]
    uncapped = winnow_overlap_against_corpus(hb, hc, min_shared=1,
                                             max_df=None).spark.count()
    capped = {(r["batch_id"], r["corpus_id"]) for r in
              winnow_overlap_against_corpus(hb, hc, min_shared=1,
                                            max_df=256).spark.collect()}
    n_b, n_c = hb.spark.count(), hc.spark.count()
    assert uncapped == n_b * n_c  # boilerplate links every cross pair
    # the cap keeps every ORIGINAL overlap (their shared body
    # fingerprints are untouched) and stays bounded far below the
    # cross product — it cannot restore the base set EXACTLY because
    # appending text shifts window selections near the junction,
    # surfacing additional genuinely-shared rare grams
    assert set(got) <= capped
    assert len(capped) < 0.05 * uncapped


def test_winnow_dedup_against_corpus(spark):
    """The keep-only-novel form: surviving rows == batch minus exactly
    the docs winnow_overlap_against_corpus flags; replicated texts are
    all screened out, novel ones all survive."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import (winnow_dedup_against_corpus,
                                          winnow_overlap_against_corpus)
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    corpus = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    kept = {r["doc_id"] for r in winnow_dedup_against_corpus(
        batch, corpus, min_shared=1).spark.select("doc_id").collect()}
    flagged = {r["batch_id"] for r in winnow_overlap_against_corpus(
        batch, corpus, min_shared=1).spark.collect()}
    all_batch = {r["doc_id"] for r in
                 batch.spark.select("doc_id").collect()}
    assert kept == all_batch - flagged and flagged
    # a batch replicating a corpus doc verbatim is fully screened out
    clone = vs.DataFrame(
        corpus.spark.limit(5).withColumn("doc_id", F.col("doc_id") + 10000))
    assert winnow_dedup_against_corpus(
        clone, corpus, min_shared=1).spark.count() == 0


def test_winnow_max_df_caps_boilerplate(spark):
    """max_df (MOSS's over-common-fingerprint rule) drops fingerprints
    shared by more than max_df documents BEFORE the self-join: a
    boilerplate run shared by all m docs no longer emits its m(m-1)/2
    pairs, while a pair sharing a RARE run (df=2) survives the cap."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_overlap_pairs
    k, w = 5, 4
    boiler = "all rights reserved license text follows here now"  # 8 = w+k-1
    m = 10
    texts, ids = [], []
    for i in range(m):
        filler = " ".join(f"u{i}w{j}" for j in range(12))
        texts.append(f"{filler} {boiler} tail{i}a tail{i}b")
        ids.append(i)
    rare = " ".join(f"rare{j}" for j in range(12))  # shared by docs 100, 101 only
    texts += [f"intro{0} {rare} endx{0}", f"intro{1} {rare} endx{1}"]
    ids += [100, 101]
    df = vs.from_arrays(doc_id=ids, text=texts, spark=spark)
    uncapped = {(r["id_a"], r["id_b"]) for r in winnow_overlap_pairs(
        df, k=k, window=w, min_shared=1, max_df=None).spark.collect()}
    capped = {(r["id_a"], r["id_b"]) for r in winnow_overlap_pairs(
        df, k=k, window=w, min_shared=1, max_df=5).spark.collect()}
    boiler_pairs = {(a, b) for a in range(m) for b in range(m) if a < b}
    assert boiler_pairs <= uncapped and (100, 101) in uncapped
    assert capped & boiler_pairs == set(), capped
    assert (100, 101) in capped
    vs.cache.release_operator_caches()


def test_lsh_bucket_cap_drops_giant_clusters(spark):
    """minhash_lsh_candidates(max_bucket_size=...) drops over-full
    (band, bucket) groups: an 8-copy identical-template cluster stops
    emitting its 28 quadratic candidates, while an independent near-dup
    pair (bucket size 2) survives."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import minhash_lsh_candidates
    template = " ".join(f"tmpl{j}" for j in range(30))
    near_a = " ".join(f"pair{j}" for j in range(30))
    near_b = near_a + " extraword"
    ids = list(range(8)) + [100, 101]
    texts = [template] * 8 + [near_a, near_b]
    df = vs.from_arrays(doc_id=ids, text=texts, spark=spark)
    base = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(df).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_candidates(df, max_bucket_size=4).collect()}
    cluster_pairs = {(a, b) for a in range(8) for b in range(8) if a < b}
    assert cluster_pairs <= base and (100, 101) in base
    assert capped & cluster_pairs == set(), capped
    assert (100, 101) in capped
    vs.cache.release_operator_caches()


@pytest.mark.parametrize("fn_name", [
    "shingles", "minhash_signature", "minhash_bands", "simhash"])
def test_null_text_column_fns_emit_null(spark, fn_name):
    """Round-9 NULL-asymmetry audit (the winnow bug class —
    ``size(null)`` = -1 / ``greatest(null, 1)`` = 1 manufacturing
    phantom elements): every text-derived Column function emits NULL
    for a NULL text, never a phantom value a null doc could share with
    empty docs — and stays non-null for empty text ('' is a real,
    hashable document)."""
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.text import shingles
    from vaex_spark.datapipe.dedup import (minhash_signature,
                                           minhash_bands_col, simhash)
    col = {
        "shingles": lambda: shingles("text", 3),
        "minhash_signature": lambda: minhash_signature("text", num_perm=4),
        "minhash_bands": lambda: minhash_bands_col(
            minhash_signature("text", num_perm=4), 2, 2),
        "simhash": lambda: simhash("text", num_bits=8),
    }[fn_name]()
    sdf = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real words here")],
        "doc_id bigint, text string")
    rows = dict((r[0], r[1]) for r in
                sdf.select("doc_id", col.alias("v")).collect())
    assert rows[1] is None, (fn_name, rows)
    assert rows[2] is not None and rows[3] is not None, (fn_name, rows)


def test_null_text_strategy_parity_minhash(spark):
    """The MinHash Column band form and the exploding _banded_long
    codegen twin (auto-dispatched by stats) emit IDENTICAL (id, band,
    bucket) sets on a frame with planted NULL / empty / whitespace
    texts — before r9 the Column form emitted bands for NULL docs that
    the exploding twin dropped, so the auto dispatch made near-dup
    candidacy of NULL docs depend on partition-count stats."""
    from pyspark.sql import functions as F
    from vaex_spark.datapipe.dedup import (minhash_signature,
                                           minhash_bands_col, _banded_long)
    sdf = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c d e f g"),
         (5, "a b c d e f g"), (6, None)],
        "doc_id bigint, text string")
    col_form = sdf.select(
        "doc_id",
        F.posexplode(minhash_bands_col(
            minhash_signature("text", num_perm=8), 4, 2))
        .alias("band", "bucket"))
    long_form = _banded_long(sdf, "doc_id", "text", 8, 4, 5)
    a = {tuple(r) for r in col_form.collect()}
    b = {tuple(r) for r in long_form.collect()}
    assert a == b
    assert not any(i in (1, 6) for i, _, _ in a), a


def test_null_text_stats_and_strip_contracts(spark):
    """repetition_stats keeps one row per INPUT doc (n_lines=0, null
    fracs for null/empty/whitespace text) and gopher_filter judges
    repetition only — degenerate docs pass through; NULL text survives
    strip_duplicated_spans as NULL, never coalesced to ''."""
    from vaex_spark.datapipe.repetition import repetition_stats, gopher_filter
    from vaex_spark.datapipe.dedup import strip_duplicated_spans
    import vaex_spark as vs
    sdf = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "),
         (4, "dup dup dup dup dup dup dup dup dup dup"),
         (5, "a perfectly normal sentence with reasonable words")],
        "doc_id bigint, text string")
    stats = {r["doc_id"]: (r["n_lines"], r["dup_line_frac"])
             for r in repetition_stats(sdf).collect()}
    assert set(stats) == {1, 2, 3, 4, 5}
    assert stats[1] == (0, None) and stats[2] == (0, None) \
        and stats[3] == (0, None)
    kept = sorted(r["doc_id"] for r in
                  gopher_filter(sdf).select("doc_id").collect())
    assert kept == [1, 2, 3, 5], kept  # 4 fails top2gram, degenerates pass
    stripped = {r["doc_id"]: r["text"]
                for r in strip_duplicated_spans(sdf, width=3)
                ._spark_df().collect()}
    assert stripped[1] is None and stripped[2] == ""
    vs.cache.release_operator_caches()


def test_fingerprint_table_normalize_stamp(spark, tmp_path):
    """corpus_fingerprints stamps normalize= on __fp (the round-10
    index-stamp contract, exact-dedup member): screening with the
    other normalize setting hashes different strings and would
    silently miss every dup — it raises instead; the matched setting
    and stamp-less legacy tables keep working."""
    import pytest as _pytest
    import vaex_spark as vs
    from vaex_spark.datapipe import dedup as D
    seen = vs.from_arrays(spark=spark, doc_id=[1, 2],
                          text=["Hello  World", "other doc"])
    D.corpus_fingerprints(seen, normalize=True).spark.write.mode(
        "overwrite").parquet(str(tmp_path / "fp"))
    tbl = spark.read.parquet(str(tmp_path / "fp"))
    batch = vs.from_arrays(spark=spark, doc_id=[10, 11],
                           text=["HELLO   WORLD", "fresh content"])
    kept = D.exact_dedup_incremental(batch, tbl, normalize=True)
    assert sorted(kept.to_pandas_df()["doc_id"]) == [11]
    with _pytest.raises(ValueError, match="normalize"):
        D.exact_dedup_incremental(batch, tbl, normalize=False)
    legacy = tbl.withMetadata("__fp", {})
    kept2 = D.exact_dedup_incremental(batch, legacy, normalize=False)
    # legacy table with mismatched normalize silently misses the dup -
    # exactly the hazard the stamp closes for new artifacts
    assert sorted(kept2.to_pandas_df()["doc_id"]) == [10, 11]


def _spark_footer(d) -> str:
    """The Spark schema JSON in the footer of one parquet file under d."""
    import glob

    import pyarrow.parquet as pq
    f = sorted(glob.glob(str(d) + "/*.parquet"))[0]
    return pq.read_schema(f).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"].decode()


def test_index_stamp_footer_format(spark, docs, tmp_path):
    """Each index family's stamp as it sits in the parquet footer, byte
    for byte (key order and JSON types included): indexes already on
    disk keep validating only while this holds.  The checker returns
    the same stamp from the read-back schema."""
    import json

    from vaex_spark.datapipe import dedup as D
    from vaex_spark.datapipe import similarity as S
    from vaex_spark.datapipe import stamp
    from vaex_spark.datapipe import text as T
    vecs = spark.createDataFrame([(0, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0])],
                                 "vec_id bigint, embedding array<double>")
    cases = {
        "fp": (D.corpus_fingerprints(docs, normalize=False).spark, "fp",
               '{"vaex_spark_fp":{"normalize":false}}'),
        "minhash": (D.corpus_lsh_index(docs, shingle_k=4, num_perm=32,
                                       num_bands=16).spark, "minhash",
                    '{"vaex_spark_minhash":{"num_perm":32,"num_bands":16,'
                    '"shingle_k":4}}'),
        "winnow": (T.corpus_winnow_index(docs, k=5, window=4,
                                         fp_type="gram").spark, "winnow",
                   '{"vaex_spark_winnow":{"fp_type":"gram","window":4,"k":5}}'),
        "winnow_grouped": (T.corpus_winnow_index(docs, k=6, window=3,
                                                 grouped=True).spark, "winnow",
                           '{"vaex_spark_winnow":{"fp_type":"hash","window":3,'
                           '"k":6}}'),
        "vector": (S.corpus_vector_index(vecs, bits=3, n_tables=2, seed=7),
                   "vector",
                   '{"vaex_spark_lsh":{"seed":7,"bits":3,"dim":3,"n_tables":2}}'),
    }
    for name, (sdf, family, meta) in cases.items():
        sdf.write.parquet(str(tmp_path / name))
        assert f'"metadata":{meta}' in _spark_footer(tmp_path / name), name
        back = spark.read.parquet(str(tmp_path / name))
        want = next(iter(json.loads(meta).values()))
        assert stamp.check(back, family) == want, name


def test_index_screen_and_builder_defaults_agree():
    """For every stamped key, each screen and its index builder default
    to the same value: curate_stream leaves every key it is not given
    to those defaults on both sides."""
    import inspect

    from vaex_spark.datapipe import dedup as D
    from vaex_spark.datapipe import similarity as S
    from vaex_spark.datapipe import stamp
    from vaex_spark.datapipe import text as T
    pairs = [("fp", D.exact_dedup_incremental, D.corpus_fingerprints),
             ("minhash", D.near_dup_against_corpus, D.corpus_lsh_index),
             ("winnow", T.winnow_overlap_against_corpus, T.corpus_winnow_index),
             ("winnow", T.winnow_dedup_against_corpus, T.corpus_winnow_index),
             ("vector", S.near_dup_embeddings_against_corpus,
              S.corpus_vector_index),
             ("vector", S.embedding_dedup_against_corpus,
              S.corpus_vector_index)]
    for family, screen, build in pairs:
        for k in stamp.BUILD_KEYS[family]:
            a = inspect.signature(screen).parameters[k].default
            b = inspect.signature(build).parameters[k].default
            assert a == b and a is not inspect.Parameter.empty, \
                (screen.__name__, k, a, b)


def test_curate_stream_winnow_params_screen_only_key(spark, tmp_path):
    """winnow_params may hold the screen-only max_df: the index build
    takes only the stamped keys, so batch 1 writes its winnow index
    (stamped with the given k and window and the default fp_type) and
    batch 2's screen runs with max_df."""
    import pandas as pd

    from vaex_spark import streaming as st
    from vaex_spark.datapipe import stamp
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(4), "text": [
        f"document {i} carries a handful of its own words {i * 7}"
        for i in range(4)]}).to_parquet(src / "b1.parquet")
    common = dict(out_dir=str(tmp_path / "out"),
                  state_dir=str(tmp_path / "state"),
                  winnow_index_dir=str(tmp_path / "widx"),
                  winnow_params=dict(k=4, window=3, max_df=8),
                  min_quality=None, repetition_filter=False, dedup=None)
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt"), **common)
    widx = spark.read.parquet(str(tmp_path / "widx"))
    assert widx.count() > 0
    assert stamp.check(widx, "winnow") == {"fp_type": "hash", "window": 3,
                                           "k": 4}
    pd.DataFrame({"doc_id": [10], "text": [
        "an entirely fresh text with nothing shared at all"]}).to_parquet(
        src / "b2.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark),
                     checkpoint=str(tmp_path / "ckpt"), **common)
    ids = sorted(r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / "out")).select("doc_id").collect())
    assert ids == [0, 1, 2, 3, 10], ids


# a column-metadata read or write, or a stamp key spelled out
_STAMP_CODE = re.compile(
    r"withMetadata|\bmetadata=|\.metadata\b|[\"']vaex_spark_\w+[\"']")


def test_index_stamp_lives_in_stamp_module():
    """Only datapipe/stamp.py reads or writes column metadata."""
    import pathlib

    import vaex_spark as vs
    pkg = pathlib.Path(vs.__file__).resolve().parent
    offenders = [str(p.relative_to(pkg)) for p in sorted(pkg.rglob("*.py"))
                 if p.relative_to(pkg).as_posix() != "datapipe/stamp.py"
                 and _STAMP_CODE.search(p.read_text(encoding="utf-8"))]
    assert offenders == []


def test_lsh_params_must_be_positive(spark):
    """bits=0 is not harmless (round-10 parameter probe): zero
    hyperplanes put EVERY vector in one bucket, silently turning a
    'blocked' screen into the all-pairs cartesian the scale design
    exists to avoid (verify kept results correct while the candidate
    join dies at corpus scale); bits<0 / n_tables<1 died as cryptic
    numpy shift/concatenate errors.  Every LSH entry point now raises
    a ValueError naming the parameters and pointing at
    suggest_lsh_params."""
    import pytest as _pytest
    from vaex_spark.datapipe import similarity as S
    c = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(4)],
        "vec_id bigint, embedding array<double>")
    for kw in (dict(bits=0, n_tables=2), dict(bits=-1, n_tables=2),
               dict(bits=2, n_tables=0)):
        with _pytest.raises(ValueError, match="positive|>= 1"):
            S.embedding_near_dups(c, threshold=0.5, strategy="blocked",
                                  **kw).count()
        with _pytest.raises(ValueError, match="positive|>= 1"):
            S.corpus_vector_index(c, **kw).count()
        with _pytest.raises(ValueError, match="positive|>= 1"):
            S.near_dup_embeddings_against_corpus(c, c, threshold=0.5,
                                                 **kw).count()
        with _pytest.raises(ValueError, match="positive|>= 1"):
            S.lsh_topk(c, [(0, [1.0, 0.0, 0.0])], k=3, **kw).count()
    assert S.embedding_near_dups(c, threshold=0.5, bits=2,
                                 n_tables=4).count() >= 0


# ---------------------------------------------------------------------------
# state-dir compaction (r11: compact_index_dir + curate_stream hook)
# ---------------------------------------------------------------------------
def _dir_rows(spark, d):
    sdf = spark.read.parquet(d)
    cols = sorted(c for c in sdf.columns if c != "__batch_id")
    return sorted(tuple(r) for r in sdf.select(*cols).collect())


def _part_names(d):
    import os
    return sorted(e for e in os.listdir(d) if e.startswith("__batch_id="))


def test_compact_index_dir_fold_stamp_heal(spark, tmp_path):
    """compact_index_dir folds per-batch partitions into one negative-id
    consolidated partition: row multiset identical, column-metadata
    stamp survives the rewrite, file count drops, keep_latest spares
    the in-flight batch, and the heal pass converges a simulated
    cut-short deletion (duplicate partition) back to a clean state."""
    import shutil

    from pyspark.sql import functions as F
    from vaex_spark.streaming import compact_index_dir

    d = str(tmp_path / "idx")
    meta = {"vaex_spark_lsh": {"bits": 3, "n_tables": 2, "seed": 7, "dim": 4}}
    for b in range(5):
        sdf = (spark.range(b * 10, b * 10 + 10)
               .select(F.col("id").alias("vec_id"),
                       F.array(F.col("id") * 2, F.col("id") * 3)
                       .alias("__buckets", metadata=meta),
                       F.lit(b).alias("__batch_id"))
               .repartition(4))  # 4 small files per batch partition
        sdf.write.mode("append").partitionBy("__batch_id").parquet(d)
    before = _dir_rows(spark, d)
    assert len(before) == 50

    stats = compact_index_dir(spark, d, keep_latest=1)
    assert stats["compacted"] and stats["batches_folded"] == 4
    assert stats["files_after"] < stats["files_before"]
    # watermark encoded in the consolidated id: high=3 -> -(3+2)
    assert _part_names(d) == ["__batch_id=-5", "__batch_id=4"]
    assert _dir_rows(spark, d) == before
    # stamp survives the rewrite
    fld = next(f_ for f_ in spark.read.parquet(d).schema.fields
               if f_.name == "__buckets")
    assert dict(fld.metadata)["vaex_spark_lsh"] == meta["vaex_spark_lsh"]
    # prior-filter semantics: a batch-5 screen still sees every earlier row
    n_prior = (spark.read.parquet(d)
               .filter(F.col("__batch_id") < 5).count())
    assert n_prior == 50

    # heal: simulate a deletion phase cut short by re-creating an
    # already-folded source partition (duplicate rows on disk)
    import pathlib
    dup = pathlib.Path(d) / "__batch_id=2"
    shutil.copytree(pathlib.Path(d) / "__batch_id=4", dup)
    assert len(_dir_rows(spark, d)) == 60  # duplicates visible
    stats2 = compact_index_dir(spark, d, keep_latest=1)
    assert _dir_rows(spark, d) == before  # healed, no refold needed
    assert not stats2["compacted"]  # only one fresh source (id 4) left

    # growth: two more batches, second compaction folds old consolidated
    for b in (5, 6):
        (spark.range(b * 10, b * 10 + 10)
         .select(F.col("id").alias("vec_id"),
                 F.array(F.col("id") * 2, F.col("id") * 3)
                 .alias("__buckets", metadata=meta),
                 F.lit(b).alias("__batch_id"))
         .write.mode("append").partitionBy("__batch_id").parquet(d))
    all_rows = _dir_rows(spark, d)
    stats3 = compact_index_dir(spark, d, keep_latest=1)
    assert stats3["compacted"] and stats3["batches_folded"] == 2  # 4 and 5
    assert _part_names(d) == ["__batch_id=-7", "__batch_id=6"]
    assert _dir_rows(spark, d) == all_rows

    # stale tmp dir at entry is swept, not installed
    (pathlib.Path(d) / "_compact_tmp").mkdir()
    stats4 = compact_index_dir(spark, d, keep_latest=1)
    assert not (pathlib.Path(d) / "_compact_tmp").exists()
    assert _dir_rows(spark, d) == all_rows


def test_curate_stream_compaction_screens_bit_identical(spark, tmp_path):
    """The compact_every hook: a 5-batch vector-screened stream with
    per-batch compaction produces EXACTLY the emissions of the same
    stream without compaction (cross-batch exact + vector screens
    included), and a genuine checkpoint-restore replay of the LAST
    batch — the only batch Structured Streaming ever replays — stays
    idempotent with compaction active (keep_latest spares the
    in-flight partition)."""
    import shutil

    import numpy as np
    import pandas as pd
    from vaex_spark import streaming as st

    rng = np.random.default_rng(11)

    def mk(ids, vecs, texts):
        return pd.DataFrame({"doc_id": list(ids), "text": texts,
                             "source": ["web"] * len(texts),
                             "embedding": [list(map(float, v)) for v in vecs]})

    base = rng.normal(size=(12, 8))
    texts1 = ["document body with plenty of words number %d" % i for i in range(12)]
    batches = [mk(range(12), base, texts1)]
    # batch 1: 4 exact text dups of batch 0, 4 near-dup vectors (same
    # vector, new text), 4 genuinely new
    batches.append(mk(range(100, 112),
                      np.vstack([base[:4], base[4:8], rng.normal(size=(4, 8))]),
                      [texts1[i] for i in range(4)]
                      + ["reworded version of an earlier doc %d" % i for i in range(4)]
                      + ["fresh unseen content entirely %d" % i for i in range(4)]))
    for b in range(2, 5):
        batches.append(mk(range(b * 100, b * 100 + 4), rng.normal(size=(4, 8)),
                          ["batch %d original text %d" % (b, i) for i in range(4)]))
    # plant cross-batch FUZZY and WINNOW dups into batch 2: id 250 lifts
    # batch 0's full 8-word text (winnow guarantee k+window-1 = 8) inside
    # novel padding (low shingle-jaccard, winnow-only hit); id 251 is
    # batch 0's text plus one word (shingle-jaccard 0.8, fuzzy hit)
    batches[2] = pd.concat([batches[2], mk(
        [250, 251], rng.normal(size=(2, 8)),
        ["unrelated preface alpha beta gamma delta " + texts1[0]
         + " epsilon zeta eta theta closing words here",
         texts1[1] + " appended"])], ignore_index=True)

    def run(root, compact_every, ckpt_snapshot_before=None):
        src = root / "src"
        src.mkdir(parents=True)
        common = dict(out_dir=str(root / "out"), state_dir=str(root / "state"),
                      vector_index_dir=str(root / "vidx"),
                      vector_threshold=0.999,
                      vector_params=dict(bits=3, n_tables=4, seed=7),
                      fuzzy_lsh_dir=str(root / "lsh"), fuzzy_threshold=0.4,
                      winnow_index_dir=str(root / "widx"),
                      winnow_min_shared=1,
                      sketch_dir=str(root / "sketch"),
                      checkpoint=str(root / "ckpt"),
                      min_quality=None, repetition_filter=False, dedup=None,
                      compact_every=compact_every)
        for i, b in enumerate(batches):
            if ckpt_snapshot_before == i:
                shutil.copytree(common["checkpoint"], str(root / "ckpt_snap"))
            b.to_parquet(src / f"b{i}.parquet")
            st.curate_stream(st.open_stream(str(src), spark=spark), **common)
        return common

    def emitted(common):
        out = spark.read.parquet(common["out_dir"])
        return sorted(r["doc_id"] for r in out.select("doc_id").collect())

    plain = run(tmp_path / "plain", None)
    comp = run(tmp_path / "comp", 1, ckpt_snapshot_before=4)

    assert emitted(plain) == emitted(comp)
    ids = emitted(comp)
    # the screens dropped the planted dups in BOTH runs
    assert [i for i in ids if i < 100] == list(range(12))
    assert [i for i in ids if 100 <= i < 200] == list(range(108, 112))
    # the planted cross-batch fuzzy (251) and winnow (250) dups dropped
    # in both runs; batch 2's originals kept
    assert [i for i in ids if 200 <= i < 300] == list(range(200, 204))
    # compaction actually happened: a negative consolidated partition
    # in every state dir, and the per-batch partitions it folded are gone
    for d in ("state", "vidx", "out", "sketch", "lsh", "widx"):
        parts = _part_names(str(tmp_path / "comp" / d))
        assert any(p.startswith("__batch_id=-") for p in parts), (d, parts)
        assert len(parts) <= 3, (d, parts)
    # running cardinality still reads a compacted sketch dir (binary
    # HLL state rows survive the fold and stay mergeable)
    from vaex_spark.streaming import stream_cardinality
    card = {r["source"]: r["n_distinct"] for r in
            stream_cardinality(spark, str(tmp_path / "comp" / "sketch"))
            .spark.collect()}
    assert abs(card["web"] - len(ids)) <= max(3, 0.05 * len(ids))

    # genuine crash-replay: restore the checkpoint snapshot taken before
    # the last batch — Structured Streaming re-runs EXACTLY batch 4
    # (same id, same file) against state dirs that already hold batch
    # 4's artifacts AND compacted earlier batches
    shutil.rmtree(str(tmp_path / "comp" / "ckpt"))
    shutil.copytree(str(tmp_path / "comp" / "ckpt_snap"),
                    str(tmp_path / "comp" / "ckpt"))
    st.curate_stream(st.open_stream(str(tmp_path / "comp" / "src"),
                                    spark=spark), **comp)
    assert emitted(comp) == ids


def test_compact_index_dir_crash_fuzz(spark, tmp_path, monkeypatch):
    """Fault-injection fuzz (r11 verdict task 3): kill compaction at
    EVERY filesystem operation — including the per-file sub-steps of an
    object-store-style NON-ATOMIC rename (copy k of n files, then die)
    and a delete that dies mid-file-list — then recover exactly the way
    curate_stream recovers (the next compact_every entry heals first).
    Every interleaving must converge to the golden row multiset: zero
    lost rows, zero duplicated rows, at most one consolidated
    partition, and a further run stays stable."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from vaex_spark import streaming as st

    golden = str(tmp_path / "golden")
    for b in range(4):
        (spark.range(b * 5, b * 5 + 5)
         .select(F.col("id").alias("vec_id"), F.lit(b).alias("__batch_id"))
         .coalesce(1)
         .write.mode("append").partitionBy("__batch_id").parquet(golden))
    golden_rows = _dir_rows(spark, golden)
    assert len(golden_rows) == 20

    class Fault(RuntimeError):
        pass

    real_fs = st._Fs

    def local_fs(base):
        # force the os/shutil branch: the object-store semantics below
        # are simulated on local paths
        fs = object.__new__(real_fs)
        fs.local = os
        fs.base = base.removeprefix("file:")
        return fs

    def make_fuzz(state):
        class FuzzFs:
            """_Fs twin with an op-budget kill switch and object-store
            semantics: rename = per-file copy then per-file delete
            (s3a), delete = one file at a time."""

            def __init__(self, spark_, base):
                self._fs = local_fs(base)
                self.base = self._fs.base

            def _tick(self):
                state["ops"] += 1
                if state["kill_at"] is not None \
                        and state["ops"] >= state["kill_at"]:
                    raise Fault(f"injected at op {state['ops']}")

            @staticmethod
            def _walk_files(p):
                out = []
                for root, _dirs, files in os.walk(p):
                    out.extend(os.path.join(root, f_) for f_ in files)
                return sorted(out)

            def listdir(self):
                self._tick()
                return self._fs.listdir()

            def exists(self, name):
                self._tick()
                return self._fs.exists(name)

            def size_of(self, name):
                self._tick()
                return self._fs.size_of(name)

            def count_files(self, name):
                self._tick()
                return self._fs.count_files(name)

            def mkdir(self, name):
                self._tick()
                self._fs.mkdir(name)

            def delete(self, name):
                p = self._fs._p(name)
                if os.path.isdir(p):
                    for f_ in self._walk_files(p):
                        self._tick()
                        os.remove(f_)
                    shutil.rmtree(p, ignore_errors=True)
                elif os.path.exists(p):
                    self._tick()
                    os.remove(p)

            def rename(self, src, dst):
                sp, dp = self._fs._p(src), self._fs._p(dst)
                for f_ in self._walk_files(sp):
                    rel = os.path.relpath(f_, sp)
                    target = os.path.join(dp, rel)
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    self._tick()
                    shutil.copy2(f_, target)
                for f_ in self._walk_files(sp):
                    self._tick()
                    os.remove(f_)
                shutil.rmtree(sp, ignore_errors=True)
        return FuzzFs

    work = str(tmp_path / "work")

    def reset():
        if os.path.isdir(work):
            shutil.rmtree(work)
        shutil.copytree(golden, work)

    # budget run: count the ops of one full object-store-mode compaction
    reset()
    state = {"ops": 0, "kill_at": None}
    monkeypatch.setattr(st, "_Fs", make_fuzz(state))
    stats = st.compact_index_dir(spark, work, keep_latest=1)
    assert stats["compacted"] and stats["batches_folded"] == 3
    assert _dir_rows(spark, work) == golden_rows
    total_ops = state["ops"]
    assert total_ops >= 10, total_ops

    for k in range(1, total_ops + 1):
        reset()
        state["ops"], state["kill_at"] = 0, k
        try:
            st.compact_index_dir(spark, work, keep_latest=1)
        except Fault:
            pass
        # recover the way curate_stream does: the next compact entry
        # heals, then folds whatever sources remain
        state["kill_at"] = None
        st.compact_index_dir(spark, work, keep_latest=1)
        assert _dir_rows(spark, work) == golden_rows, f"kill at op {k}"
        parts = _part_names(work)
        assert sum(p.startswith("__batch_id=-") for p in parts) <= 1, \
            (k, parts)
        # stability: one more run changes nothing
        st.compact_index_dir(spark, work, keep_latest=1)
        assert _dir_rows(spark, work) == golden_rows, \
            f"kill at op {k} (stability)"
    monkeypatch.setattr(st, "_Fs", real_fs)


def test_compact_index_dir_edge_cases(spark, tmp_path):
    """Edge fuzz for compact_index_dir: missing dir, all partitions
    inside keep_latest, keep_latest=0 (offline full fold), and a tiny
    target_file_bytes (multi-file consolidated output) — never a crash,
    rows always preserved."""
    from pyspark.sql import functions as F
    from vaex_spark.streaming import compact_index_dir

    # nonexistent dir -> clean no-op
    st = compact_index_dir(spark, str(tmp_path / "nope"))
    assert st["compacted"] is False and st["batches_folded"] == 0

    # negative keep_latest would silently fold the in-flight batch
    import pytest as _pytest
    with _pytest.raises(ValueError, match="keep_latest"):
        compact_index_dir(spark, str(tmp_path / "nope"), keep_latest=-1)

    d = str(tmp_path / "idx")
    for b in range(3):
        (spark.range(b * 5, b * 5 + 5)
         .select(F.col("id").alias("k"), F.lit(b).alias("__batch_id"))
         .write.mode("append").partitionBy("__batch_id").parquet(d))
    rows = _dir_rows(spark, d)

    # keep_latest covers every partition -> no-op
    assert compact_index_dir(spark, d, keep_latest=5)["compacted"] is False
    assert _dir_rows(spark, d) == rows

    # keep_latest=0: offline full fold, every batch partition gone
    st = compact_index_dir(spark, d, keep_latest=0)
    assert st["compacted"] and st["batches_folded"] == 3
    assert _part_names(d) == ["__batch_id=-4"]  # high=2 -> -(2+2)
    assert _dir_rows(spark, d) == rows

    # partial consolidated partition (object-store rename cut short —
    # no install-complete marker): heal must delete the PARTIAL COPY
    # and must NOT honor its watermark, which would delete sources the
    # incomplete copy cannot replace
    import shutil
    d2 = str(tmp_path / "idx2")
    for b in range(3):
        (spark.range(b * 5, b * 5 + 5)
         .select(F.col("id").alias("k"), F.lit(b).alias("__batch_id"))
         .write.mode("append").partitionBy("__batch_id").parquet(d2))
    rows2 = _dir_rows(spark, d2)
    import pathlib
    shutil.copytree(pathlib.Path(d2) / "__batch_id=0",
                    pathlib.Path(d2) / "__batch_id=-9")  # claims watermark 7
    st = compact_index_dir(spark, d2, keep_latest=1)
    assert st["compacted"] and st["batches_folded"] == 2
    assert _part_names(d2) == ["__batch_id=-3", "__batch_id=2"]
    assert _dir_rows(spark, d2) == rows2  # nothing lost to the fake watermark
    assert (pathlib.Path(d2) / "__batch_id=-3" / "_VS_COMPLETE").exists()

    # tiny target bytes: consolidated output splits into several files,
    # rows still identical (fold the consolidated part with new batches)
    for b in (3, 4):
        (spark.range(b * 5, b * 5 + 5)
         .select(F.col("id").alias("k"), F.lit(b).alias("__batch_id"))
         .write.mode("append").partitionBy("__batch_id").parquet(d))
    rows = _dir_rows(spark, d)
    st = compact_index_dir(spark, d, keep_latest=0, target_file_bytes=256)
    assert st["compacted"] and st["files_after"] > 1
    assert _dir_rows(spark, d) == rows


def test_suggest_winnow_params_closed_form():
    """suggest_winnow_params: (k, window) from the MOSS thresholds —
    k = noise floor, window = t - k + 1 (largest window whose guarantee
    still covers t) — and sizing predictions that reproduce the 1M-doc
    probe's measured density within its documented boundary factor."""
    import pytest as _pytest

    from vaex_spark.datapipe.text import suggest_winnow_params
    p = suggest_winnow_params(8, noise_words=5)
    assert (p["k"], p["window"], p["guarantee_words"]) == (5, 4, 8)
    # probe-calibrated density: 0.4 * 1.022
    assert abs(p["expected_fps_per_gram"] - 0.4088) < 1e-3
    # sizing twin of the winnow_1m probe: 1M docs x 60 words, k=5, w=4
    q = suggest_winnow_params(8, 5, n_docs=1_000_000, words_per_doc=60)
    measured = 22_883_870  # SCALECHECK_r11 winnow_1m flat index rows
    assert abs(q["expected_index_rows"] - measured) / measured < 0.01
    # tighter guarantee -> smaller window -> denser index
    dense = suggest_winnow_params(6, 5)
    assert dense["window"] == 2
    assert dense["expected_fps_per_gram"] > p["expected_fps_per_gram"]
    # t == k: every gram fingerprinted (window 1, density EXACTLY 1 —
    # the boundary excess never pushes a density above 1 fp/gram)
    exact = suggest_winnow_params(5, 5)
    assert exact["window"] == 1
    assert exact["expected_fps_per_gram"] == 1.0
    # docs shorter than k words carry no grams -> zero predicted rows
    tiny = suggest_winnow_params(8, 5, n_docs=100, words_per_doc=3)
    assert tiny["expected_fps_per_doc"] == 0 == tiny["expected_index_rows"]
    for bad in (dict(min_match_words=4, noise_words=5),
                dict(min_match_words=8, noise_words=0),
                dict(min_match_words=8, noise_words=5, words_per_doc=0),
                dict(min_match_words=8, noise_words=5, words_per_doc=60,
                     n_docs=0)):
        with _pytest.raises(ValueError):
            suggest_winnow_params(**bad)
