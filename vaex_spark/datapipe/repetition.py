"""Repetition-based quality signals for training-data curation.

The signal set follows the public Gopher/MassiveText filtering rules
(Rae et al. 2021, "Scaling Language Models", appendix A1.1): documents
dominated by duplicated lines or repeated n-grams are low-quality for
LM training.  Definitions used here (deterministic, engine-independent,
so a DuckDB oracle can replay them):

* ``dup_line_frac``       — (n_lines - n_distinct_lines) / n_lines
* ``dup_line_char_frac``  — characters in repeat occurrences of
  duplicated lines (count-1 per line) / total line characters
* ``top_ngram_char_frac`` — occurrences(top gram) * len(top gram) /
  total normalized text length; the top gram is max by (count, gram)
  so ties break deterministically
* ``dup_ngram_char_frac`` — sum over grams seen >1 time of
  count*len(gram), over the summed char length of ALL gram occurrences

100 TB plan: every signal is explode -> groupBy(doc_id[, gram]) ->
groupBy(doc_id) — two hash-partial-aggregated shuffles keyed by doc,
no driver materialization, no UDFs.  Rows stay (id, gram) pairs; text
bodies never shuffle (Catalyst prunes them out of the exchange).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import _words_sql
from ..dataframe import _same_kind

__all__ = ["word_ngrams", "repetition_stats", "gopher_filter"]


def _word_ngrams_sql(qn: str, n: int) -> str:
    """SQL text of :func:`word_ngrams` for a quoted column name.  Grams
    are n let-bound ``try_element_at`` references joined by
    ``concat_ws`` (no per-gram ``array_join(slice(...))`` allocation;
    every window is in range, so the values are the slice's) — the
    let-binding keeps the split evaluated once, see
    text._shingles_sql."""
    n = int(n)
    words = _words_sql(qn)
    refs = ", ".join(f"try_element_at(wd, i + {1 + j})" for j in range(n))
    body = (f"CASE WHEN size(wd) < {n} THEN cast(array() as array<string>) "
            f"ELSE transform(sequence(0, size(wd) - {n}), "
            f"i -> concat_ws(' ', {refs})) END")
    return f"element_at(transform(array({words}), wd -> {body}), 1)"


def word_ngrams(text, n: int = 2) -> Column:
    """Array of space-joined word n-grams of the normalized text
    (empty array when the document has fewer than n words), built as
    ONE parsed SQL expression over a column name (or an Expression
    naming one)."""
    from ..colname import name_sql
    return F.expr(_word_ngrams_sql(name_sql(text, "word_ngrams"), n))


def _gram_stats(sdf, id_col: str, gram_sql: str, out_top: str, out_dup: str):
    """Shared explode->count->ratio pipeline for one n-gram size.

    r15: assembled as SQL text (selectExpr / F.expr aggregates) — the
    Column form of this one helper measured 408 py4j round-trips of
    plan build per call, and repetition_stats pays it twice (plus
    line stats) in q51/q54/q56's build; the parsed strings build the
    identical trees (max-by-struct tie-break, plain `/` ratios) in
    ~20 round-trips.  ``gram_sql`` is the gram array's SQL text."""
    from ..colname import quote_name
    qid = quote_name(id_col)
    g = (sdf.selectExpr(qid, f"explode({gram_sql}) as _g")
         .groupBy(id_col, "_g").agg(F.expr("count(1) as _cnt")))
    per_doc = g.groupBy(id_col).agg(
        # max on a struct -> deterministic (count first, then gram text)
        F.expr("max(struct(_cnt, _g)) as _top"),
        F.expr("sum(CASE WHEN _cnt > 1 THEN _cnt * length(_g) "
               "ELSE 0 END) as _dupchars"),
        F.expr("sum(_cnt * length(_g)) as _allchars"))
    return per_doc.selectExpr(
        qid,
        f"(_top._cnt * length(_top._g)) / _allchars as {quote_name(out_top)}",
        f"_dupchars / _allchars as {quote_name(out_dup)}")


@_same_kind
def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id",
                     top_n: int = 2, dup_n: int = 5):
    """Per-document repetition signals.

    Returns (id, n_lines, dup_line_frac, dup_line_char_frac,
    top{top_n}gram_char_frac, dup{dup_n}gram_char_frac) — one row per
    INPUT document (r9): docs with no non-empty lines (null/empty/
    whitespace text) keep a row with ``n_lines`` 0 and null fracs
    instead of silently vanishing from the stats (and therefore from
    :func:`gopher_filter`, which judges repetition, not emptiness —
    compose a length/quality filter for that).
    """
    from ..colname import quote_name
    qid, qt = quote_name(id_col), quote_name(text_col)

    # one-parse SQL text throughout (r15): the Column form of these
    # stats measured ~1,280 py4j round-trips of plan build — driver
    # latency paid per query at any scale (guide §5); the strings
    # build the identical trees
    line_counts = (df.selectExpr(
        qid, f"explode(filter(split({qt}, '\\n'), x -> trim(x) != '')) as _l")
        .groupBy(id_col, "_l").agg(F.expr("count(1) as _cnt")))
    line_stats = line_counts.groupBy(id_col).agg(
        F.expr("cast(sum(_cnt) as long) as n_lines"),
        F.expr("(sum(_cnt) - count(1)) / sum(_cnt) as dup_line_frac"),
        F.expr("sum(CASE WHEN _cnt > 1 THEN (_cnt - 1) * length(_l) "
               "ELSE 0 END) / sum(_cnt * length(_l)) as dup_line_char_frac"))

    top_name = f"top{top_n}gram_char_frac"
    dup_name = f"dup{dup_n}gram_char_frac"
    tops = _gram_stats(df, id_col, _word_ngrams_sql(qt, top_n),
                       top_name, "_ignore_dup")
    dups = _gram_stats(df, id_col, _word_ngrams_sql(qt, dup_n),
                       "_ignore_top", dup_name)

    out = (df.select(F.col(id_col))
           .join(line_stats, on=id_col, how="left")
           .withColumn("n_lines",
                       F.coalesce(F.col("n_lines"), F.lit(0).cast("long")))
           .join(tops.select(id_col, top_name), on=id_col, how="left")
           .join(dups.select(id_col, dup_name), on=id_col, how="left"))
    return out


@_same_kind
def gopher_filter(df, text_col: str = "text", id_col: str = "doc_id",
                  max_dup_line_frac: float = 0.30,
                  max_dup_line_char_frac: float = 0.20,
                  max_top2gram_char_frac: float = 0.20,
                  max_dup5gram_char_frac: float = 0.15):
    """Keep documents passing the Gopher repetition thresholds
    (defaults from the published rule set).  Returns the surviving rows
    of ``df`` (broadcast-free semi-join on the id)."""
    stats = repetition_stats(df, text_col=text_col, id_col=id_col)
    keep = stats.filter(
        (F.coalesce(F.col("dup_line_frac"), F.lit(0.0)) <= max_dup_line_frac)
        & (F.coalesce(F.col("dup_line_char_frac"), F.lit(0.0)) <= max_dup_line_char_frac)
        & (F.coalesce(F.col("top2gram_char_frac"), F.lit(0.0)) <= max_top2gram_char_frac)
        & (F.coalesce(F.col("dup5gram_char_frac"), F.lit(0.0)) <= max_dup5gram_char_frac)
    ).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")
