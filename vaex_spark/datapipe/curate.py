"""End-to-end corpus curation: the standard LM-training data pipeline
assembled from the datapipe operators, in the published order
(language-ID -> quality -> repetition -> dedup -> packing, the
C4/CCNet/Gopher/RefinedWeb recipe).

One call, one lazy plan per stage — nothing materializes until the
caller acts.  Each stage is the already-audited scalable operator, so
the composition inherits their shuffle discipline: text bodies move
only in the initial scans; every exchange carries (id, small) pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..dataframe import _same_kind, _sdf

__all__ = ["curate"]


@_same_kind
def curate(df, text_col: str = "text", id_col: str = "doc_id",
           clean: bool = False,
           langs: list[str] | None = None,
           min_quality: float | None = 0.3,
           repetition_filter: bool = True,
           dedup: str | None = "exact",
           near_threshold: float = 0.85,
           pack_tokens: int | None = None):
    """Run the curation pipeline; returns the curated frame (with a
    ``bin`` column when ``pack_tokens`` is set).

    Stages (each skippable via None/False):
      0. ``clean`` — encoding/typography normalization (clean_text);
         OFF by default so existing oracles stay byte-stable
      1. ``langs`` — keep docs whose n-gram lang_id guess is in the list
      2. ``min_quality`` — heuristic quality score threshold
      3. ``repetition_filter`` — Gopher repetition thresholds
      4. ``dedup`` — 'exact' (normalized hash) or 'minhash' (near-dup
         pairwise drop at ``near_threshold``)
      5. ``pack_tokens`` — concat-and-chunk sequence packing budget
    """
    from . import dedup as D
    from .packing import pack_sequences
    from .repetition import gopher_filter
    from .text import lang_id, quality_score, token_count_whitespace

    if clean:
        from .text import clean_text
        df = df.withColumn(text_col, clean_text(F.col(text_col)))
    t = F.col(text_col)

    if langs is not None:
        df = df.filter(lang_id(t).isin(list(langs)))
    if min_quality is not None:
        df = df.filter(quality_score(text_col) >= float(min_quality))
    if repetition_filter:
        df = gopher_filter(df, text_col=text_col, id_col=id_col)
    if dedup == "exact":
        df = _sdf(D.exact_dedup(df, text_col=text_col, id_col=id_col))
    elif dedup == "minhash":
        df = _sdf(D.minhash_lsh_dedup(df, text_col=text_col, id_col=id_col,
                                      threshold=near_threshold))
    elif dedup is not None:
        raise ValueError(f"dedup={dedup!r} (exact|minhash|None)")
    if pack_tokens is not None:
        # carry the document columns THROUGH pack_sequences' range
        # exchange (r15) instead of joining bins back on id: the join
        # form computed the whole upstream plan (quality + gopher +
        # dedup) twice — once under the pack, once as the probe side —
        # and paid the join's exchanges on top.  Bin assignment is
        # unchanged (partition-count-invariant cumsum; carry never
        # feeds the range sampler).
        sized = df.withColumn("__n_tok", token_count_whitespace(t))
        others = [c for c in df.columns if c != id_col]
        packed = pack_sequences(sized, "__n_tok", int(pack_tokens),
                                id_col=id_col, order_key=id_col,
                                carry=others)
        # same output surface as the join form: id, document columns,
        # bin
        df = packed.select(id_col, *others, "bin")
    return df
