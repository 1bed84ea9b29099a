"""Property-based spot checks (hypothesis) — beyond the reference's
strategy (SURVEY §5 notes vaex has none).  Bounded example counts keep
Spark round-trips cheap; oracles are numpy/pandas.

Set VS_HYP_EXAMPLES=200 to run the join suites to convergence (the
round-3 'neither' bug showed where hand-picked cases run out); default
keeps CI round-trips cheap.  conftest.py loads a derandomized profile
so whatever budget runs, it replays the same corpus every time."""

import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

N_DEEP = int(os.environ.get("VS_HYP_EXAMPLES", "10"))

finite_floats = st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False)


@settings(max_examples=8, deadline=None)
@given(data=st.lists(finite_floats, min_size=1, max_size=25),
       threshold=finite_floats)
def test_filter_sum_partition(spark, data, threshold):
    """sum(x) == sum(x | x>t) + sum(x | x<=t) for any threshold."""
    import vaex_spark as vs
    df = vs.from_arrays(x=np.array(data, dtype="float64"), spark=spark)
    total = df.sum("x")
    hi = df[df.x > threshold].sum("x")
    lo = df[df.x <= threshold].sum("x")
    assert total == pytest.approx(hi + lo, rel=1e-9, abs=1e-6)


@settings(max_examples=8, deadline=None)
@given(data=st.lists(finite_floats, min_size=2, max_size=25, unique=True))
def test_sort_head_is_min(spark, data):
    import vaex_spark as vs
    df = vs.from_arrays(x=np.array(data, dtype="float64"), spark=spark)
    smallest = df.sort("x").head(1).to_pandas_df()["x"][0]
    assert smallest == min(data)
    assert df.min("x") == min(data) and df.max("x") == max(data)


@settings(max_examples=8, deadline=None)
@given(values=st.lists(finite_floats, min_size=1, max_size=20),
       edges=st.lists(st.floats(min_value=-100, max_value=100,
                                allow_nan=False, allow_infinity=False),
                      min_size=2, max_size=6, unique=True))
def test_digitize_matches_numpy(spark, values, edges):
    import vaex_spark as vs
    edges = sorted(edges)
    df = vs.from_arrays(x=np.array(values, dtype="float64"), spark=spark)
    got = df[f"digitize(x, {edges!r})"].tolist()
    want = np.digitize(values, edges).tolist()
    assert got == want


@settings(max_examples=6, deadline=None)
@given(strings=st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12), min_size=1, max_size=15),
    start=st.integers(min_value=0, max_value=5),
    stop=st.integers(min_value=5, max_value=12))
def test_str_slice_matches_pandas(spark, strings, start, stop):
    import pandas as pd
    import vaex_spark as vs
    df = vs.from_arrays(s=strings, spark=spark)
    got = df.s.str.slice(start, stop).tolist()
    want = pd.Series(strings).str.slice(start, stop).tolist()
    assert got == want


@settings(max_examples=6, deadline=None)
@given(data=st.lists(st.integers(min_value=-1000, max_value=1000),
                     min_size=1, max_size=30))
def test_value_counts_total(spark, data):
    import vaex_spark as vs
    df = vs.from_arrays(k=data, spark=spark)
    vc = df.value_counts("k")
    assert int(vc.sum()) == len(data)
    assert df.nunique("k") == len(set(data))


@settings(max_examples=N_DEEP, deadline=None)
@given(
    lts=st.lists(st.integers(0, 100), min_size=1, max_size=12),
    rts=st.lists(st.integers(0, 100), min_size=1, max_size=12),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
def test_join_asof_matches_pandas(spark, lts, rts, direction):
    """join_asof equals pandas merge_asof on arbitrary integer keys
    (unique within each side; single partition-key group)."""
    import math
    import pandas as pd
    import vaex_spark as vs
    lts, rts = sorted(set(lts)), sorted(set(rts))
    left = vs.from_arrays(t=[float(t) for t in lts],
                          lv=list(range(len(lts))), spark=spark)
    right = vs.from_arrays(t=[float(t) for t in rts],
                           rv=[100 + i for i in range(len(rts))], spark=spark)
    out = left.join_asof(right, on="t", direction=direction)
    got = {r["lv"]: r["rv"] for r in out.spark.collect()}
    lp = pd.DataFrame({"t": [float(t) for t in lts], "lv": range(len(lts))})
    rp = pd.DataFrame({"t": [float(t) for t in rts],
                       "rv": [100 + i for i in range(len(rts))]})
    exp = pd.merge_asof(lp, rp, on="t", direction=direction)
    for lv, rv in zip(exp["lv"], exp["rv"]):
        want = None if (isinstance(rv, float) and math.isnan(rv)) else int(rv)
        assert got[lv] == want, (direction, lts, rts)


@settings(max_examples=N_DEEP, deadline=None)
@given(
    lrows=st.lists(st.tuples(st.sampled_from(["a", "b", "c"]),
                             st.integers(0, 60)),
                   min_size=1, max_size=14, unique=True),
    rrows=st.lists(st.tuples(st.sampled_from(["a", "b", "c"]),
                             st.integers(0, 60)),
                   min_size=1, max_size=14, unique=True),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tolerance=st.sampled_from([None, 0, 3, 10]),
    exact=st.booleans(),
)
def test_join_asof_by_tolerance_matches_pandas(spark, lrows, rrows,
                                               direction, tolerance, exact):
    """join_asof with by= partitioning, tolerance=, and
    allow_exact_matches= equals pandas merge_asof across the full
    option matrix (the round-3 'neither' lesson: hand-picked cases run
    out exactly where option combinations interact)."""
    import math
    import pandas as pd
    import vaex_spark as vs
    if direction == "nearest" and not exact:
        # pandas raises for this combination; semantics undefined
        return
    lrows, rrows = sorted(lrows), sorted(rrows)
    left = vs.from_arrays(g=[g for g, _ in lrows],
                          t=[float(t) for _, t in lrows],
                          lv=list(range(len(lrows))), spark=spark)
    right = vs.from_arrays(g=[g for g, _ in rrows],
                           t=[float(t) for _, t in rrows],
                           rv=[100 + i for i in range(len(rrows))], spark=spark)
    out = left.join_asof(right, on="t", by="g", direction=direction,
                         tolerance=tolerance, allow_exact_matches=exact)
    got = {r["lv"]: r["rv"] for r in out.spark.collect()}
    lp = pd.DataFrame({"g": [g for g, _ in lrows],
                       "t": [float(t) for _, t in lrows],
                       "lv": range(len(lrows))}).sort_values("t")
    rp = pd.DataFrame({"g": [g for g, _ in rrows],
                       "t": [float(t) for _, t in rrows],
                       "rv": [100 + i for i in range(len(rrows))]}).sort_values("t")
    exp = pd.merge_asof(lp, rp, on="t", by="g", direction=direction,
                        tolerance=None if tolerance is None else float(tolerance),
                        allow_exact_matches=exact)
    assert len(got) == len(lrows)
    for lv, rv in zip(exp["lv"], exp["rv"]):
        want = None if (isinstance(rv, float) and math.isnan(rv)) else int(rv)
        assert got[lv] == want, (direction, tolerance, exact, lrows, rrows)


@settings(max_examples=6, deadline=None)
@given(lens=st.lists(st.integers(1, 700), min_size=1, max_size=30),
       budget=st.sampled_from([128, 512]))
def test_pack_chunk_invariants(spark, lens, budget):
    """Chunk packing: offsets partition the token stream — bins are
    contiguous from 0, per-doc (bin,offset) reconstructs the cumsum."""
    import vaex_spark as vs
    from vaex_spark.datapipe.packing import pack_sequences
    df = vs.from_arrays(doc_id=list(range(len(lens))), n=lens, spark=spark)
    rows = {r["doc_id"]: r for r in
            pack_sequences(df, "n", budget, order_key="doc_id").spark.collect()}
    acc = 0
    for i, n in enumerate(lens):
        r = rows[i]
        assert r["bin"] == acc // budget
        assert r["offset"] == acc % budget
        assert r["end_bin"] == (acc + n - 1) // budget
        acc += n


@settings(max_examples=6, deadline=None)
@given(words=st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
                      min_size=8, max_size=20))
def test_contamination_self_probe(spark, words):
    """A probe lifted verbatim from a document always hits it, with
    overlap equal to its distinct shingle count."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import contamination, shingles
    from pyspark.sql import functions as F
    text = " ".join(words)
    docs = vs.from_arrays(doc_id=[1], text=[text], spark=spark)
    probes = vs.from_arrays(probe_id=[9], text=[text], spark=spark)
    out = contamination(docs, probes, k=8, probe_id_col="probe_id").collect()
    n_distinct = docs._spark_df().select(
        F.size(F.array_distinct(shingles("text", k=8))).alias("n")
    ).collect()[0]["n"]
    assert len(out) == 1
    assert out[0]["n_overlap"] == n_distinct


@settings(max_examples=6, deadline=None)
@given(n=st.integers(min_value=20, max_value=300),
       k=st.integers(min_value=1, max_value=6),
       window=st.integers(min_value=2, max_value=9))
def test_boundary_exchange_window_matches_pandas(spark, n, k, window):
    """shift/diff/rolling over the partition-boundary exchange equal the
    pandas oracle with partitioning forced MULTI (tiny advisory size),
    for random sizes, shift distances, and window widths."""
    import pandas as pd
    import vaex_spark as vs
    rng = np.random.RandomState(n * 1000 + k)
    vals = rng.rand(n) * 100
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    try:
        df = vs.from_arrays(i=np.arange(n), v=vals, spark=spark)
        pdf = pd.DataFrame({"i": np.arange(n), "v": vals})
        got = (df.shift(k, column="v", order_key="i").spark
               .select("i", "v").toPandas().sort_values("i")["v"].to_numpy())
        exp = pdf["v"].shift(k).to_numpy()
        np.testing.assert_allclose(got, exp, equal_nan=True)
        got = (df.diff(column="v", order_key="i").spark
               .select("i", "v").toPandas().sort_values("i")["v"].to_numpy())
        exp = pdf["v"].diff().to_numpy()
        np.testing.assert_allclose(got, exp, equal_nan=True)
        got = (df.rolling(window, column="v", order_key="i").mean().spark
               .select("i", "v").toPandas().sort_values("i")["v"].to_numpy())
        exp = pdf["v"].rolling(window).mean().to_numpy()
        np.testing.assert_allclose(got, exp, equal_nan=True, rtol=1e-9)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")


@settings(max_examples=N_DEEP, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000),
       closed=st.sampled_from(["left", "right", "both", "neither"]),
       width=st.sampled_from([0.5, 1.0, 2.0]))
def test_join_range_matches_bruteforce(spark, seed, closed, width):
    """Bucketized interval join == brute-force containment for random
    points/intervals across every closed mode (incl. interval bounds
    landing exactly on bucket boundaries)."""
    import vaex_spark as vs
    rng = np.random.RandomState(seed)
    xs = np.round(rng.uniform(0, 10, 15), 2)
    los = np.round(rng.uniform(0, 8, 6), 2)
    his = los + np.round(rng.uniform(0, 3, 6), 2)
    # force some exact bucket-multiple bounds (the ADVICE boundary case)
    los[0], his[0] = 2.0, 4.0
    left = vs.from_arrays(x=xs, pid=np.arange(15), spark=spark)
    right = vs.from_arrays(lo=los, hi=his, iid=np.arange(6), spark=spark)
    out = left.join_range(right, "x", "lo", "hi", how="inner",
                          bucket_width=width, closed=closed)
    got = sorted((r["pid"], r["iid"]) for r in
                 out.spark.select("pid", "iid").collect())
    lo_ok = {"left": np.greater_equal, "both": np.greater_equal,
             "right": np.greater, "neither": np.greater}[closed]
    hi_ok = {"left": np.less, "neither": np.less,
             "right": np.less_equal, "both": np.less_equal}[closed]
    exp = sorted((p, i) for p, xv in enumerate(xs) for i in range(6)
                 if lo_ok(xv, los[i]) and hi_ok(xv, his[i]))
    assert got == exp


@settings(max_examples=6, deadline=None)
@given(n_toks=st.lists(st.integers(1, 40), min_size=1, max_size=6),
       chunk=st.integers(2, 12), stride=st.integers(1, 12))
def test_chunk_documents_matches_bruteforce(spark, n_toks, chunk, stride):
    """chunk_documents == the python sliding-window oracle for random
    doc lengths / chunk sizes / strides: starts at i*stride while
    start < n, text = tokens[start:start+chunk]."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import chunk_documents
    texts = [" ".join(f"w{d}x{i}" for i in range(nt))
             for d, nt in enumerate(n_toks)]
    df = vs.from_arrays(doc_id=list(range(len(texts))), text=texts, spark=spark)
    got = {(r["doc_id"], r["chunk_id"]):
           (r["chunk_start"], r["n_chunk_tokens"], r["chunk_text"])
           for r in chunk_documents(df, chunk_tokens=chunk,
                                    stride=stride).spark.collect()}
    exp = {}
    for d, nt in enumerate(n_toks):
        toks = texts[d].split(" ")
        for ci, start in enumerate(range(0, nt, stride)):
            piece = toks[start:start + chunk]
            exp[(d, ci)] = (start, len(piece), " ".join(piece))
    assert got == exp


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(st.lists(st.sampled_from(["a", "b", "c", "d"]),
                              min_size=1, max_size=12),
                     min_size=2, max_size=6),
       width=st.integers(2, 5))
def test_duplicated_spans_matches_bruteforce(spark, docs, width):
    """duplicated_spans == the python window-counting oracle on random
    small-alphabet docs (dense window collisions stress min_docs)."""
    from collections import defaultdict
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import duplicated_spans
    texts = [" ".join(toks) for toks in docs]
    df = vs.from_arrays(doc_id=list(range(len(texts))), text=texts, spark=spark)
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
           for r in duplicated_spans(df, width=width).spark.collect()}
    windows = defaultdict(set)   # gram -> {doc}
    per_doc = []
    for d, toks in enumerate(docs):
        grams = [" ".join(toks[i:i + width])
                 for i in range(len(toks) - width + 1)] if len(toks) >= width else []
        per_doc.append(grams)
        for g in grams:
            windows[g].add(d)
    for d, grams in enumerate(per_doc):
        n_dup = sum(1 for g in grams if len(windows[g]) >= 2)
        assert got[d] == (len(grams), n_dup), (d, docs, width)


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 5000),
       n=st.integers(6, 40), k=st.integers(2, 5),
       thr=st.sampled_from([0.3, 0.6, 0.9]))
def test_semantic_dedup_matches_bruteforce(spark, seed, n, k, thr):
    """semantic_dedup == the numpy oracle replaying its contract: assign
    to argmax of round-6 cosine vs the first-k centroids (ties -> lowest
    cid), then within a cluster remove ids having a lower-id mate at
    rounded cosine >= threshold, dup_of = the smallest such mate."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import semantic_dedup
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 8)
    # inject exact duplicates so thresholds always have work to do
    X[n // 2] = X[0]
    X[n - 1] = X[1]
    df = vs.from_arrays(vec_id=list(range(n)),
                        embedding=[[float(v) for v in row] for row in X],
                        spark=spark)
    got = sorted((r["vec_id"], r["cluster"], r["dup_of"]) for r in
                 semantic_dedup(df, n_clusters=k, threshold=thr).collect())
    Xn = X / np.sqrt((X ** 2).sum(1, keepdims=True))
    C = Xn[:k]
    cos_c = np.round(Xn @ C.T, 6)
    assign = cos_c.argmax(1)          # first max -> lowest cid
    S = np.round(Xn @ Xn.T, 6)
    exp = []
    for j in range(n):
        mates = [i for i in range(j)
                 if assign[i] == assign[j] and S[i, j] >= thr]
        if mates:
            exp.append((j, int(assign[j]), min(mates)))
    assert got == sorted(exp), (seed, n, k, thr)


@settings(max_examples=6, deadline=None)
@given(seed=st.integers(0, 10_000),
       n_docs=st.integers(3, 12),
       k=st.sampled_from([2, 3, 5]),
       w=st.sampled_from([2, 4, 7]),
       min_shared=st.sampled_from([1, 2]))
def test_winnow_overlap_pairs_matches_python(spark, seed, n_docs, k, w,
                                             min_shared):
    """winnow_overlap_pairs == a pure-python MOSS replay: normalize,
    k-gram, per-position window-min over gram strings, distinct per
    doc, then pair counts of shared fingerprints — random small-vocab
    docs (2-9 words from an 8-word vocab) force heavy gram collisions,
    short docs (n<k, n<w), and tie-heavy windows.  fp_type='gram' so
    the oracle needs no xxhash64; the hash form shares the selection
    machinery (pinned by the expr/window parity test)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import winnow_overlap_pairs
    rng = np.random.RandomState(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "iota"]
    texts = [" ".join(rng.choice(vocab, size=rng.randint(2, 10)))
             for _ in range(n_docs)]
    df = vs.from_arrays(doc_id=list(range(n_docs)), text=texts, spark=spark)
    got = sorted((r["id_a"], r["id_b"], r["n_shared"]) for r in
                 winnow_overlap_pairs(df, k=k, window=w,
                                      min_shared=min_shared,
                                      fp_type="gram").spark.collect())
    fps = {}
    for did, text in enumerate(texts):
        words = " ".join(text.lower().split()).split(" ")
        m = max(len(words) - (k - 1), 1)
        grams = [" ".join(words[i:i + k]) for i in range(m)]
        sel = {min(grams[i:i + w]) for i in range(len(grams))}
        fps[did] = sel
    exp = []
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            shared = len(fps[a] & fps[b])
            if shared >= min_shared:
                exp.append((a, b, shared))
    assert got == sorted(exp), (seed, n_docs, k, w, min_shared)
