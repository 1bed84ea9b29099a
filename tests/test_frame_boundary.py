"""The frame boundary of the datapipe and operator entry points.

Every entry point accepts a ``vaex_spark.DataFrame`` or a raw Spark
frame.  One table records the kind of frame each returns: the
same-kind entry points (``dataframe._same_kind``) hand back the kind
they were given, a few return a vaex frame always and a few a Spark
frame always.  Each is called with a vaex frame, a filtered vaex frame
(the filter must reach the plan) and a raw Spark frame; the row counts
pin that all three see the same rows.
"""

import ast
import datetime as dt
import inspect
import pathlib
import re

import pytest
from pyspark.sql import DataFrame as SparkDataFrame

import vaex_spark as vs
from vaex_spark.dataframe import _sdf
from vaex_spark.datapipe import (curate, dedup, mixing, packing, repetition,
                                 similarity, sketches, text)
from vaex_spark.operators import scale, window

_T0 = dt.datetime(2024, 1, 1)
_DOCS = [
    (1, "the cat sat on the mat with the hat today", "a", 1.0, 0,
     [1.0, 0.0, 0.0]),
    (2, "the cat sat on the mat with the hat today", "a", -1.0, 30,
     [1.0, 0.0, 0.0]),
    (3, "a completely different document about spark and data", "b", 2.0,
     60, [0.0, 0.0, 1.0]),
    (4, "line one\nline one\nboiler plate footer", "b", 3.0, 900,
     [1.0, 1.0, 0.0]),
    (5, "boiler plate footer\nsomething else entirely here", "a", -2.0,
     960, [0.0, 1.0, 1.0]),
    (6, "yet another text with several distinct words in it", "b", 4.0,
     2000, [1.0, 0.0, 1.0]),
]


@pytest.fixture(scope="module")
def frames(spark):
    return _frames(spark)


def _frames(spark):
    rows = [(i, t, s, len(t), x, _T0 + dt.timedelta(seconds=sec), e)
            for i, t, s, x, sec, e in _DOCS]
    sdf = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, n_chars int, "
              "x double, ts timestamp, embedding array<double>")
    corpus = spark.createDataFrame(
        [(101, _DOCS[0][1], [1.0, 0.0, 0.0]),
         (103, _DOCS[2][1], [0.0, 0.0, 1.0])],
        "doc_id bigint, text string, embedding array<double>")
    vocab = spark.createDataFrame([("the",), ("cat",), ("line",)],
                                  "token string")
    vdf = vs.DataFrame(sdf)
    return {"vaex": vdf, "filtered": vdf[vdf.x > 0], "spark": sdf,
            "corpus": corpus, "vocab": vocab}


# (name, return kind, call(frame, frames), rows for the 6-row frame,
#  rows for its 4-row x > 0 filter)
_CASES = [
    ("curate", "same", lambda d, f: curate.curate(
        d, min_quality=None, repetition_filter=False), 5, 4),
    ("mix_budget", "same", lambda d, f: mixing.mix_budget(
        d, {"a": 60, "b": 1000}), 4, 4),
    ("cap_per_group", "same", lambda d, f: mixing.cap_per_group(d, 2), 4, 3),
    ("stratified_sample", "same", lambda d, f: mixing.stratified_sample(
        d, 0.5), 4, 3),
    ("pack_sequences", "same", lambda d, f: packing.pack_sequences(
        d, "n_chars", 50), 6, 4),
    ("repetition_stats", "same", lambda d, f: repetition.repetition_stats(
        d), 6, 4),
    ("gopher_filter", "same", lambda d, f: repetition.gopher_filter(d), 5, 3),
    ("embedding_dedup_against_corpus", "same",
     lambda d, f: similarity.embedding_dedup_against_corpus(
         d, f["corpus"], id_col="doc_id"), 3, 2),
    ("winnow_fingerprints", "same", lambda d, f: text.winnow_fingerprints(
        d), 14, 9),
    ("winnow_overlap_pairs", "same", lambda d, f: text.winnow_overlap_pairs(
        d), 1, 0),
    ("corpus_winnow_index", "same", lambda d, f: text.corpus_winnow_index(
        d), 14, 9),
    ("winnow_overlap_against_corpus", "same",
     lambda d, f: text.winnow_overlap_against_corpus(d, f["corpus"]), 3, 2),
    ("winnow_dedup_against_corpus", "same",
     lambda d, f: text.winnow_dedup_against_corpus(d, f["corpus"]), 3, 2),
    ("with_text_stats", "same", lambda d, f: text.with_text_stats(d), 6, 4),
    ("tf_idf_terms", "same", lambda d, f: text.tf_idf_terms(d), 18, 12),
    ("unigram_logprob", "same", lambda d, f: text.unigram_logprob(d), 6, 4),
    ("remove_boilerplate_lines", "same",
     lambda d, f: text.remove_boilerplate_lines(d), 6, 4),
    ("chunk_documents", "same", lambda d, f: text.chunk_documents(
        d, chunk_tokens=4, stride=4), 15, 10),
    ("with_clean_text", "same", lambda d, f: text.with_clean_text(d), 6, 4),
    ("build_vocab", "same", lambda d, f: text.build_vocab(d), 33, 29),
    ("oov_rate", "same", lambda d, f: text.oov_rate(d, f["vocab"]), 2, 2),
    ("corpus_profile", "same", lambda d, f: text.corpus_profile(d), 2, 2),
    ("rolling_range", "same", lambda d, f: window.rolling_range(
        d, 3600, on="ts", column="x", agg="sum"), 6, 4),
    ("sessionize", "same", lambda d, f: window.sessionize(
        d, "ts", 60, by="source"), 6, 4),
    ("global_rank", "same", lambda d, f: window.global_rank(d, "doc_id"),
     6, 4),
    ("ntile_exact", "same", lambda d, f: window.ntile_exact(d, 2, "doc_id"),
     6, 4),
    ("exact_dedup", "vaex", lambda d, f: dedup.exact_dedup(d), 5, 4),
    ("duplicated_spans", "vaex", lambda d, f: dedup.duplicated_spans(
        d, width=3), 6, 4),
    ("distinct_sketch", "vaex", lambda d, f: sketches.distinct_sketch(
        d, "text", group_col="source"), 2, 2),
    ("brute_force_topk", "spark", lambda d, f: similarity.brute_force_topk(
        d, [(0, [1.0, 0.0, 0.0])], k=2, id_col="doc_id"), 2, 2),
    ("semantic_dedup", "spark", lambda d, f: similarity.semantic_dedup(
        d, n_clusters=2, id_col="doc_id"), 1, 0),
    ("bigram_pmi", "spark", lambda d, f: text.bigram_pmi(d, min_count=2),
     12, 1),
    ("distribution_drift", "spark", lambda d, f: text.distribution_drift(
        d, "x"), 2, 2),
    ("salted_group_count", "spark", lambda d, f: scale.salted_group_count(
        d, "source"), 2, 2),
]


@pytest.mark.parametrize("name,kind,call,n_all,n_pos", _CASES,
                         ids=[c[0] for c in _CASES])
def test_entry_point_return_kind_and_rows(frames, name, kind, call, n_all,
                                          n_pos):
    for given, n in (("vaex", n_all), ("filtered", n_pos), ("spark", n_all)):
        out = call(frames[given], frames)
        want = (vs.DataFrame if kind == "vaex"
                or (kind == "same" and given != "spark") else SparkDataFrame)
        assert isinstance(out, want), (given, type(out))
        assert _sdf(out).count() == n, given


def test_same_kind_keeps_name_doc_and_signature():
    from vaex_spark.dataframe import _same_kind

    def entry(df, n: int = 1, *, flag=False):
        """Doc."""
        return df

    decorated = _same_kind(entry)
    assert (decorated.__name__, decorated.__doc__) == ("entry", "Doc.")
    assert inspect.signature(decorated) == inspect.signature(entry)


def test_same_kind_takes_the_frame_by_keyword(frames):
    out = text.corpus_winnow_index(corpus=frames["vaex"])
    assert isinstance(out, vs.DataFrame)
    assert isinstance(text.with_clean_text(df=frames["spark"]),
                      SparkDataFrame)


# --------------------------------------------------------------------------
# text builders take a vaex Expression like a column name
# --------------------------------------------------------------------------
@pytest.mark.parametrize("build", [
    lambda t: repetition.word_ngrams(t, 2),
    lambda t: dedup.simhash(t),
    lambda t: dedup.minhash_signature(t, num_perm=8, shingle_k=3),
], ids=["word_ngrams", "simhash", "minhash_signature"])
def test_text_builders_accept_expression(spark, build):
    df = vs.DataFrame(spark.createDataFrame(
        [(1, "A b  c d e"), (2, None), (3, "x y"), (4, "")],
        "doc_id bigint, text string"))
    sdf = df._spark_df()
    got = sdf.select("doc_id", build(df.text).alias("v")).orderBy("doc_id")
    want = sdf.select("doc_id", build("text").alias("v")).orderBy("doc_id")
    assert got.collect() == want.collect()


# --------------------------------------------------------------------------
# source scans: one boundary helper, one word tokenizer
# --------------------------------------------------------------------------
_PKG = pathlib.Path(__file__).resolve().parent.parent / "vaex_spark"
_UNWRAP = re.compile(r"_spark_df\(\) if|hasattr\([^)]*[\"']_spark_df[\"']\)"
                     r"|if wrapped")
# lower(x) -> '\s+' to ' ', as Column calls or SQL text, whitespace removed
_TOKENIZE = re.compile(r"regexp_replace\((?:F\.)?lower\((?:[^()]|\([^()]*\))*"
                       r"\),r?([\"'])\\+s\+\1")


def test_frame_unwrap_lives_in_dataframe_only():
    offenders = [f"{path.relative_to(_PKG)}:{n}"
                 for path in sorted(_PKG.rglob("*.py"))
                 if path != _PKG / "dataframe.py"
                 for n, line in enumerate(path.read_text().splitlines(), 1)
                 if _UNWRAP.search(line)]
    assert offenders == []


def _without_functions(src: str, names) -> str:
    for seg in [ast.get_source_segment(src, node)
                for node in ast.parse(src).body
                if isinstance(node, ast.FunctionDef) and node.name in names]:
        src = src.replace(seg, "")
    return src


def _tokenizer_count(src: str) -> int:
    return len(_TOKENIZE.findall(re.sub(r"\s", "", src)))


def test_word_tokenizer_is_written_once():
    found = {}
    for path in sorted(_PKG.rglob("*.py")):
        src = path.read_text()
        if path == _PKG / "datapipe" / "text.py":
            # fingerprint lowercases and collapses whitespace but does
            # not split: a different rule, kept on its own
            src = _without_functions(src, {"fingerprint"})
            assert _tokenizer_count(_without_functions(
                src, {"_words", "_words_sql"})) == 0
        if _tokenizer_count(src):
            found[str(path.relative_to(_PKG))] = _tokenizer_count(src)
    # the Column helper and its SQL-text twin
    assert found == {"datapipe/text.py": 2}
