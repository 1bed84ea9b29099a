"""The hot text and vector builders are each ONE parsed SQL expression
(one py4j round-trip) over a column name.  These tests pin the values of
that one form against independent references — Python for shingles and
n-grams, a sequential-sum sign/argmin for the hyperplane bucket and the
IVF cell, frozen hashes for MinHash — including the degenerate inputs
(NaN/zero vectors, NULL/empty/whitespace text) where a naive string
format would diverge.  Persisted LSH and vector indexes hold these
values, so a change here is an index-format change."""

import hashlib
import inspect
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import vaex_spark as vs
from vaex_spark.datapipe import dedup, repetition, similarity, text


def test_lit_vec_roundtrips_special_floats(spark):
    vals = [0.1, -0.0, 1e-300, 1.7976931348623157e308, float("nan"),
            float("inf"), float("-inf"), 2.5000000000000004]
    out = spark.range(1).select(
        F.expr(similarity._lit_vec_sql(vals)).alias("v")).collect()[0]["v"]
    for a, b in zip(vals, out):
        if math.isnan(a):
            assert math.isnan(b)
        else:
            assert a == b and math.copysign(1, a) == math.copysign(1, b)


def _seq_dot(x, p):
    """Spark's aggregate(zip_with(...)) order: a left-to-right sum from
    0.0 — the reference must not reassociate (BLAS would)."""
    acc = 0.0
    for a, b in zip(x, p):
        acc += float(a) * float(b)
    return acc


_VECS = [(1, [0.5, -0.25, 2.0, 1.0]), (2, [0.0, 0.0, 0.0, 0.0]),
         (3, [float("nan"), 1.0, 1.0, 1.0]), (4, [-1.0, -2.0, -3.0, 4.0])]


def test_hyperplane_bucket_sql_matches_column(spark):
    """bucket = sum_b (dot(vec, plane_b) > 0) << b with numpy's sign
    rule on degenerate vectors: a NaN dot leaves its bit clear (Spark's
    NaN-greatest ``> 0`` alone would set it) and a zero vector is
    bucket 0 — the Arrow BLAS builder's values, so stored index bytes
    agree across builder strategies."""
    planes = similarity._hyperplanes(4, 5, seed=7)
    rng = np.random.RandomState(7)
    rows = _VECS + [(10 + i, [float(x) for x in rng.randn(4)])
                    for i in range(20)]
    df = spark.createDataFrame(rows, "id bigint, embedding array<double>")
    got = dict(map(tuple, df.select(
        "id", similarity.hyperplane_bucket("embedding", planes)).collect()))
    want = {i: sum(1 << b for b, p in enumerate(planes)
                   if bool(np.float64(_seq_dot(v, p)) > 0))
            for i, v in rows}
    assert got == want
    assert got[2] == 0 and got[3] == 0


def test_ivf_assign_sql_matches_column(spark):
    """Nearest-centroid cell = the first argmin of the squared
    distances (ties keep the lowest cell).  A vector with a NaN
    coordinate is NaN-distant from every centroid — cell 0, as
    ``np.argmin`` gives; a zero vector goes to the smallest-norm
    centroid."""
    rng = np.random.RandomState(3)
    cent = rng.randn(5, 4)
    rows = _VECS + [(10 + i, [float(x) for x in rng.randn(4)])
                    for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, embedding array<double>")
    got = dict(map(tuple, df.select(
        "id", similarity.ivf_assign("embedding", cent)).collect()))
    want = {i: int(np.argmin([_seq_dot(np.subtract(v, c), np.subtract(v, c))
                              for c in cent]))
            for i, v in rows}
    assert got == want
    assert got[3] == 0
    assert got[2] == int(np.argmin((cent ** 2).sum(1)))


def test_gram_hashes_null_doc_emits_no_rows(spark):
    """The array-form gram hasher keeps the NULL contract: a NULL text
    contributes ZERO gram rows (the unguarded array form would
    manufacture one phantom xxhash64('') gram), and values equal
    xxhash64 over shingles() for normal docs."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, None), (3, ""), (4, "one two"),
         (5, "x y z w v u t s r q")],
        "doc_id bigint, text string")
    got = sorted(map(tuple, dedup._gram_hashes(df, "doc_id", "text", 5).collect()))
    want = sorted(map(tuple, df.select(
        "doc_id", F.explode(text.shingles("text", k=5)).alias("g"))
        .select("doc_id", F.xxhash64("g").alias("__h")).collect()))
    assert got == want
    assert not any(i == 2 for i, _ in got)


def test_cos_sql_matches_cosine_column(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [3.0, 2.0, 1.0]),
         (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),     # zero norm -> null
         (3, [float("nan"), 1.0, 1.0], [1.0, 1.0, 1.0])],
        "id bigint, a array<double>, b array<double>")
    col = df.select("id", similarity.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    sql = df.select("id", F.expr(similarity._cos_sql("a", "b")).alias("c")).collect()
    for x, y in zip(sorted(col), sorted(sql)):
        assert x["id"] == y["id"]
        if x["c"] is None or (x["c"] != x["c"]):
            assert y["c"] is None or (y["c"] != y["c"])
        else:
            assert x["c"] == y["c"]


_EDGE = [(0, "the quick brown fox jumps over the lazy dog again and again"),
         (1, "short doc"), (2, None), (3, ""), (4, "  Spaced   out\tTABS\nhere  "),
         (5, "a b c d e"), (6, "one"), (7, "x " * 200)]


@pytest.fixture(scope="module")
def _edge_docs(spark):
    return spark.createDataFrame(_EDGE, "doc_id long, text string")


def _py_words(doc):
    """The shared tokenizer: lowercase, Java ``\\s`` runs to one space,
    trim spaces, split on the space ('' is one empty word)."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", doc.lower()).strip(" ").split(" ")


def _collect(sdf):
    return {r[0]: r[1] for r in sdf.collect()}


@pytest.mark.parametrize("k", [1, 2, 5, 8])
def test_shingles_sql_matches_column(spark, _edge_docs, k):
    """shingles == a Python reference on NULL / empty / short /
    whitespace-heavy / long docs: NULL text → NULL, fewer than k words
    → the whole text as one shingle."""
    def ref(doc):
        if doc is None:
            return None
        w = _py_words(doc)
        if len(w) < k:
            return [" ".join(w)]
        return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]
    got = _collect(_edge_docs.select("doc_id", text.shingles("text", k=k)))
    assert got == {i: ref(t) for i, t in _EDGE}


@pytest.mark.parametrize("n", [1, 2, 5, 8])
def test_word_ngrams_forms_match_r14_semantics(spark, _edge_docs, n):
    """word_ngrams == a Python reference on NULL / empty / short /
    whitespace-heavy / long docs, including the empty-array contract
    for fewer than n words (NULL text included) that distinguishes it
    from shingles."""
    def ref(doc):
        w = [] if doc is None else _py_words(doc)
        return [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
    got = _collect(_edge_docs.select("doc_id", repetition.word_ngrams("text", n)))
    assert got == {i: ref(t) for i, t in _EDGE}


def _digest(rows):
    return hashlib.sha256(repr(sorted(
        (r[0], None if r[1] is None else list(r[1])) for r in rows
    )).encode()).hexdigest()[:16]


# (num_perm, num_bands) -> (signature digest, band-array digest) on
# _EDGE at shingle_k=5, frozen from the builders that wrote the
# persisted LSH indexes in use
_MINHASH_FROZEN = {(64, 32): ("925185672c9d2065", "b703e07b4b837d4e"),
                   (16, 8): ("857fa9b01c8e653f", "e55b38f2d8ddc983"),
                   (8, 8): ("cde121a0b9ab3ffb", "1d33c08fd606d32f")}


@pytest.mark.parametrize("num_perm,num_bands", [(64, 32), (16, 8), (8, 8)])
def test_minhash_sql_twins_match_column(spark, _edge_docs, num_perm, num_bands):
    """minhash_signature and the band-array SQL text keep their frozen
    values — same base hashes, permutation family, band seeds — and
    the NULL contract (NULL doc → NULL signature and bands)."""
    sig = _edge_docs.select("doc_id", dedup.minhash_signature(
        "text", num_perm=num_perm, shingle_k=5)).collect()
    bands = _edge_docs.select("doc_id", F.expr(dedup._minhash_bands_sql(
        dedup._minhash_signature_sql(text._shingles_sql("text", 5), num_perm),
        num_bands, num_perm // num_bands))).collect()
    assert (_digest(sig), _digest(bands)) == _MINHASH_FROZEN[
        (num_perm, num_bands)]
    assert dict(map(tuple, sig))[2] is None
    assert dict(map(tuple, bands))[2] is None


# --------------------------------------------------------------------------
# one form per builder: a name or an Expression naming a stored column
# --------------------------------------------------------------------------
_CENT = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]])

_BUILDERS = {
    "shingles": ("text", lambda c: text.shingles(c, k=2)),
    "word_ngrams": ("text", lambda c: repetition.word_ngrams(c, 2)),
    "minhash_signature": ("text", lambda c: dedup.minhash_signature(
        c, num_perm=4, shingle_k=2)),
    "quality_score": ("text", lambda c: text.quality_score(c)),
    "hyperplane_bucket": ("vec", lambda c: similarity.hyperplane_bucket(
        c, _CENT)),
    "ivf_assign": ("vec", lambda c: similarity.ivf_assign(c, _CENT)),
}


@pytest.mark.parametrize("builder", sorted(_BUILDERS))
def test_builder_takes_odd_name_as_str_and_expression(spark, builder):
    """A column named 'a b' works as the str and as ``df['a b']``; a
    computed Column has no SQL-name spelling and raises TypeError
    naming the builder."""
    kind, build = _BUILDERS[builder]
    if kind == "text":
        sdf = spark.createDataFrame(
            [(1, "The cat and the hat sat"), (2, None), (3, "")],
            "id bigint, `a b` string")
    else:
        sdf = spark.createDataFrame(
            [(1, [0.5, 2.0]), (2, [-3.0, 0.25]), (3, [0.0, 0.0])],
            "id bigint, `a b` array<double>")
    df = vs.DataFrame(sdf)
    by_name = sdf.select("id", build("a b")).orderBy("id").collect()
    by_expr = sdf.select("id", build(df["a b"])).orderBy("id").collect()
    assert by_name == by_expr and len(by_name) == 3
    with pytest.raises(TypeError, match=builder):
        build(F.col("`a b`"))
    with pytest.raises(TypeError, match=builder):
        build(df["a b"] + df["a b"] if kind == "vec" else df["a b"].str.upper())


def test_builders_have_one_body():
    """Source scan: no listed builder branches on ``isinstance(..., str)``
    to choose between a parsed SQL string and a Column-API body; each
    resolves its argument through colname.name_sql, and the deleted
    twins stay deleted."""
    fns = [text.shingles, text.quality_score, repetition.word_ngrams,
           dedup.minhash_signature, similarity.hyperplane_bucket,
           similarity.ivf_assign]
    for fn in fns:
        src = inspect.getsource(fn)
        assert not re.search(r"isinstance\(\s*\w+\s*,\s*str\s*\)", src), \
            fn.__name__
        assert "name_sql(" in src and "F.expr(" in src, fn.__name__
    assert not hasattr(similarity, "assign_cluster")
    assert not hasattr(dedup, "minhash_bands_col")
    assert "precomputed_shingles" not in inspect.signature(
        dedup.minhash_signature).parameters
