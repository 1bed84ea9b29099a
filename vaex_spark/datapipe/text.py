"""Text analysis operators for large-scale training-data pipelines.

All pure Column expressions (whole-stage codegen, no Python in the hot
path) so they run at 100 TB without UDF serialization overhead:

* token_count      — whitespace tokens + a BPE-ish word/punct regex count
* quality_score    — length / punctuation / stopword-ratio heuristics
* lang_id          — n-gram/stopword-hit heuristic over a small language set
* fingerprint      — 64-bit rolling-hash document fingerprint (xxhash64)

Each returns a Column; DataFrame-level helpers add them as columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import stamp
from ..dataframe import _same_kind, _sdf
from ..plan import range_partition_count


def _c(x) -> Column:
    from ..expression import Expression
    if isinstance(x, Expression):
        return x.col
    if isinstance(x, Column):
        return x
    return F.col(x)


def _let(col: Column, fn) -> Column:
    """Poor man's LET: evaluate ``col`` once per row, bind it as a lambda
    variable inside ``fn``.  ``transform(array(x), v -> f(v))`` computes x
    a single time — without this, an expensive subexpression referenced N
    times is inlined and recomputed N times by codegen."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _words(text) -> Column:
    """The word tokenizer every text operator shares: lowercase,
    whitespace runs to one space, trim, split on the space.
    :func:`_words_sql` builds the same tree from SQL text.  Persisted
    LSH and winnow indexes hold hashes of these words, so both forms
    must keep exactly this rule."""
    return F.split(F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " ")), " ")


def _words_sql(qn: str) -> str:
    """SQL text of :func:`_words` for a quoted column name."""
    return f"split(trim(regexp_replace(lower({qn}), '\\\\s+', ' ')), ' ')"


# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------
def token_count_whitespace(text) -> Column:
    """Number of whitespace-separated tokens."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


_BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(text) -> Column:
    """BPE-ish token estimate: letter runs, single digits, punctuation
    marks — a cheap, deterministic proxy for subword tokenizers."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(_BPE_TOKEN_RE), 0))


# --------------------------------------------------------------------------
# quality scoring
# --------------------------------------------------------------------------
_STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def quality_features(text) -> dict[str, Column]:
    """The classic C4/Gopher-style cheap quality signals."""
    t = _c(text)
    n_chars = F.length(t)
    n_tokens = token_count_whitespace(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.!?,;:]", ""))
    n_digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    # one alternation regex == sum of per-word counts (\b guards make
    # matches disjoint full words), but a single scan instead of 10
    stop_re = r"\b(" + "|".join(_STOPWORDS_EN) + r")\b"
    stop_hits = F.size(F.regexp_extract_all(F.lower(t), F.lit(stop_re), 0))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_word_len": (n_chars.cast("double") / safe_tokens),
        "alpha_ratio": (n_alpha.cast("double") / safe_chars),
        "punct_ratio": (n_punct.cast("double") / safe_chars),
        "digit_ratio": (n_digits.cast("double") / safe_chars),
        "stopword_ratio": (stop_hits.cast("double") / safe_tokens),
    }


def quality_score(text) -> Column:
    """Scalar quality score in [0,1]: product of clipped signal scores.
    Deterministic, expression-only.

    ``text`` may be a column NAME (r14): the whole score is then ONE
    parsed SQL expression mirroring the Column tree exactly — ~30
    Column-API calls at 1-2 ms py4j latency each were ~0.1 s of plan
    build per query (see similarity._cos_sql)."""
    if isinstance(text, str):
        from ..colname import quote_name
        t = quote_name(text)
        ntok = (f"CASE WHEN length(trim({t})) = 0 THEN 0 "
                f"ELSE size(split(trim({t}), '\\\\s+')) END")
        safe_chars = f"cast(greatest(length({t}), 1) as double)"
        stop_re = "\\\\b(" + "|".join(_STOPWORDS_EN) + ")\\\\b"
        stop_hits = (f"size(regexp_extract_all(lower({t}), "
                     f"'{stop_re}', 0))")
        len_score = f"least(cast({ntok} as double) / 20.0D, 1.0D)"
        alpha = (f"(cast(length(regexp_replace({t}, '[^A-Za-z]', '')) "
                 f"as double) / {safe_chars})")
        stop_score = (f"least(cast({stop_hits} as double) / "
                      f"greatest({ntok}, 1) * 4.0D, 1.0D)")
        not_digit = (f"greatest(0.0D, 1.0D - "
                     f"cast(length(regexp_replace({t}, '[^0-9]', '')) "
                     f"as double) / {safe_chars} * 3.0D)")
        return F.expr(f"round({len_score} * {alpha} * {stop_score} * "
                      f"{not_digit}, 6)")
    f = quality_features(text)
    # each component scaled into [0,1]
    len_score = F.least(f["n_tokens"].cast("double") / 20.0, F.lit(1.0))
    alpha_score = f["alpha_ratio"]
    stop_score = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    not_digit = F.greatest(F.lit(0.0), F.lit(1.0) - f["digit_ratio"] * 3.0)
    return F.round(len_score * alpha_score * stop_score * not_digit, 6)


# --------------------------------------------------------------------------
# language identification (heuristic)
# --------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": ["the", "and", "is", "of", "you", "that"],
    "de": ["der", "die", "und", "ist", "nicht", "das"],
    "fr": ["le", "la", "les", "et", "est", "vous"],
    "es": ["el", "la", "los", "es", "que", "para"],
    "it": ["il", "la", "che", "di", "non", "per"],
}


def lang_id(text) -> Column:
    """Stopword-hit language guess over a small closed set; 'und'
    (undetermined) when nothing matches.  One pass, pure expressions.

    The score array is let-bound so each language's regex count appears
    ONCE in the generated code; argmax = first index of the max (ties
    break by dict order, same as a chained strictly-greater scan).  The
    naive chained-when form inlines every score into every comparison —
    exponential code size that blew Janino's 64KB method limit and fell
    back to interpreted eval."""
    low = F.lower(_c(text))
    names = F.array(*[F.lit(lang) for lang in _LANG_MARKERS])
    scores = F.array(*[
        F.size(F.regexp_extract_all(
            low, F.lit(r"\b(" + "|".join(words) + r")\b"), 0))
        for words in _LANG_MARKERS.values()])
    return _let(scores, lambda sc: F.when(
        F.array_max(sc) > 0,
        F.element_at(names, F.array_position(sc, F.array_max(sc)).cast("int")),
    ).otherwise(F.lit("und")))


# --------------------------------------------------------------------------
# fingerprinting
# --------------------------------------------------------------------------
def fingerprint(text, normalize: bool = True) -> Column:
    """64-bit document fingerprint.  xxhash64 over the (optionally
    whitespace/case-normalized) text — the Spark-native rolling hash."""
    t = _c(text)
    if normalize:
        t = F.regexp_replace(F.lower(t), r"\s+", " ")
        t = F.trim(t)
    return F.xxhash64(t)


def shingles(text, k: int = 5) -> Column:
    """Array of k-word shingles (for MinHash / Jaccard).  NULL text →
    NULL array (r9: was ``[null]`` — ``size(null)`` = -1 < k took the
    whole-text branch and ``array_join(null)`` = null became a phantom
    single-null shingle, which made every pair of NULL docs Jaccard-1.0
    duplicates and fed the MinHash Column form a signature the
    exploding ``_banded_long`` twin never computes).

    r14: grams are built from k ``try_element_at`` references on a
    LET-BOUND words array instead of ``array_join(slice(words, i+1,
    k))`` on the raw split expression.  The let-binding is load-
    bearing, not a style choice: interpreted HOF evaluation re-runs
    every occurrence of a non-variable subexpression, so k references
    to the INLINE ``words`` re-ran the regex+split chain k times PER
    GRAM — measured 0.34 → 1.17 s at k=8 on the exploded sf0.1 corpus
    (a 5.7× q50 regression this round's own 113-query profile caught)
    — while k references to a lambda VARIABLE are k array accesses
    (0.34 → 0.21 s, the intended ~2× win; values identical — the loop
    stops at n-k so every window is full-width).

    A plain column NAME takes the ONE-parse SQL-text fast path (r14
    opt: the Column form is ~6 HOF-lambda constructions ≈ 90 ms of
    py4j plan-build per call on this driver; the parsed string is
    ~1 ms and yields the identical tree — same mechanism as
    _winnow_fps_expr / _gram_hashes, parity pinned in
    tests/test_sqlexpr_parity.py)."""
    if isinstance(text, str):
        from ..colname import quote_name
        return F.expr(_shingles_sql(quote_name(text), k))
    t = _c(text)
    words = _words(t)

    def _body(wd):
        n = F.size(wd)
        # transform over 0..n-k producing space-joined k-grams
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.array_join(wd, " "))).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", *[
                F.try_element_at(wd, i + 1 + j) for j in range(k)])))
    return F.when(t.isNull(), F.lit(None).cast("array<string>")).otherwise(
        _let(words, _body))


def _shingles_sql(qn: str, k: int) -> str:
    """SQL text of :func:`shingles` for a quoted column name — the
    same tree :func:`shingles` builds through the Column API (null
    guard, let-bound words, n<k whole-text branch, k try_element_at
    references per gram), assembled with zero py4j round-trips."""
    k = int(k)
    words = _words_sql(qn)
    refs = ", ".join(f"try_element_at(wd, i + {1 + j})" for j in range(k))
    body = (f"CASE WHEN size(wd) < {k} THEN array(array_join(wd, ' ')) "
            f"ELSE transform(sequence(0, greatest(size(wd) - {k}, 0)), "
            f"i -> concat_ws(' ', {refs})) END")
    return (f"CASE WHEN {qn} IS NULL THEN cast(null as array<string>) "
            f"ELSE element_at(transform(array({words}), wd -> {body}), 1) "
            f"END")


def _winnow_fps_expr(text_col: str, k: int, window: int, gram: bool) -> Column:
    """Zero-exchange winnow selection as ONE row-level Column: the
    per-document distinct fingerprint array, entirely in Catalyst
    expressions — ``explode`` it and the whole selection is a narrow
    scan->project->generate plan with NO Exchange, NO Sort, and NO
    Python worker.

    The selection is row-local per document (a window's minimum never
    needs another doc's grams), so nothing forces the Exchange(doc) +
    Sort + window + distinct machinery the declarative twin pays (two
    full shuffles of the exploded gram relation, PLANS_r07 q96):

    * ``words``  — one split of the normalized text (let-bound via
      :func:`_let` so the split appears once in the expression tree;
      the win over the posexplode twin comes from dropping the row
      expansion + exchange + sort + window machinery, not from split
      dedup — a let-vs-inline A/B on shingles() measured a wash),
    * ``keys``   — ``transform(sequence(1, n-k+1), i ->
      concat_ws(' ', slice(words, i, k)))`` (+ ``xxhash64`` per gram
      for ``fp_type='hash'``), also let-bound,
    * minima     — ``transform(sequence(1, size(keys)), i ->
      array_min(slice(keys, i, window)))``: every window start, with
      trailing frames truncated by ``slice`` — exactly the window
      twin's ``rowsBetween(0, window-1)`` semantics,
    * distinct   — ``array_distinct`` (per-doc, which IS the global
      (id, fp) distinct since id is in the output key).

    Values are bit-identical to the window form: the hash form mins
    the same xxhash64 longs; the gram form's ``array_min`` compares
    UTF8String binary order, the same order ``F.min`` sorts strings
    by.  Short docs (n < k) emit ``slice(words, 1, k)`` = the whole
    text as their single gram, matching shingles()' n<k branch.
    O(n·log window) comparisons per doc (r14 doubling rewrite below);
    winnow windows are small anyway (the SIGMOD'03 guarantee needs
    window+k-1-word runs, so window ~4–50); r14 A/B at sf0.1 (250k
    grams, noop sink): 0.13–0.17 s vs 0.32–0.38 s for the r13
    per-position ``array_min(slice(h, i, window))`` form, vs
    0.68–0.95 s for an Arrow mapInPandas sliding-min kernel of the
    same selection (the Arrow hop + per-doc numpy dispatch cost more
    than interpreted HOFs at window=4), and ~1.0–1.4 s for the window
    twin.  The two r14 changes, each ~2× on the interpreted-HOF CPU
    (guide §4.1 "prefer built-ins" applied INSIDE the lambda bodies):

    * grams via k ``try_element_at`` references instead of
      ``concat_ws(slice(words, i, k))`` — no per-position array
      allocation; trailing truncation is identical because
      ``try_element_at`` past the end is NULL and ``concat_ws``
      skips NULLs (exactly what ``slice``'s truncation produced);
      NULL-safe under ANSI (``element_at`` would raise).
    * sliding minima by doubling: ``m1 = zip_with(h, shift(h, s),
      least)`` turns per-position minima over width ``2s`` into
      width-``s`` minima — ceil(log2 window) cheap two-arg passes
      instead of per-position ``slice`` + ``array_min`` (min is
      idempotent, so the final partial shift may overlap).
      ``zip_with`` pads the shorter (shifted) array with NULL and
      ``least`` skips NULLs — the trailing truncated windows of the
      spec fall out for free.

    Both rewrites are value-identical to the r13 form (pinned by the
    exceptAll parity sweep in tests and the q96 DuckDB oracle, which
    replays the selection declaratively).

    The whole expression is assembled as ONE SQL string and parsed by
    a single ``F.expr`` call (r14): on this driver a py4j round-trip
    costs 1–2 ms and a higher-order-function lambda ~10 ms to
    construct, so the Column-API form of this expression alone cost
    ~0.2 s of plan-build per query; the parsed-string twin is ~1 ms
    (guide §5 — driver work is part of query latency).  Every
    doubling level is let-bound via the ``element_at(transform(
    array(x), v -> body), 1)`` idiom so no subtree is ever inlined
    twice (an UNBOUND doubling chain re-evaluates the previous level
    2× per level — O(n·window) again at large windows).

    NULL texts emit an EMPTY array (explode drops the row), matching
    the window twin where ``posexplode`` of the null gram zip yields
    no rows.  Without the guard, ``size(null)`` → null →
    ``greatest(null, 1)`` = 1 manufactures one phantom gram that
    ``concat_ws`` renders as ``""`` — a NULL doc would then share a
    fingerprint with every empty-string doc."""
    from ..colname import quote_name
    qn = quote_name(text_col)

    def slet(val: str, var: str, body: str) -> str:
        # SQL let-binding: evaluate `val` once, reference it as `var`
        return (f"element_at(transform(array({val}), {var} -> {body}),"
                f" 1)")

    words = _words_sql(qn)
    refs = ", ".join(f"try_element_at(wd, i + {j})" for j in range(k))
    grams = (f"transform(sequence(1, greatest(size(wd) - {k - 1}, 1)), "
             f"i -> concat_ws(' ', {refs}))")
    keys = grams if gram else f"transform({grams}, g -> xxhash64(g))"

    # sliding minima by doubling.  Shift schedule: 1, 2, 4, ... plus a
    # final partial shift to land exactly on `window` (overlap is fine,
    # min is idempotent).  Each level is LET-BOUND so its input is a
    # variable — zip_with(var, slice(var, ...)) references it twice,
    # and an unbound chain would re-evaluate the whole previous level
    # per reference.
    shifts = []
    shift = 1
    while shift < window:
        shifts.append(shift)
        shift *= 2
        if shift * 2 > window and shift < window:
            shifts.append(window - shift)
            break

    def level(var: str, s: int) -> str:
        return (f"zip_with({var}, slice({var}, {s + 1}, "
                f"greatest(size({var}) - {s}, 0)), "
                f"(a, b) -> least(a, b))")

    # fold outside-in: body over h{n} ... wrapped down to h0
    body = f"array_distinct(h{len(shifts)})"
    for i in range(len(shifts), 0, -1):
        body = slet(level(f"h{i - 1}", shifts[i - 1]), f"h{i}", body)
    sel = slet(words, "wd", slet(keys, "h0", body))
    empty = ("cast(array() as array<string>)" if gram
             else "cast(array() as array<bigint>)")
    return F.expr(f"CASE WHEN {qn} IS NOT NULL THEN {sel} "
                  f"ELSE {empty} END")


@_same_kind
def winnow_fingerprints(df, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5, window: int = 4,
                        fp_type: str = "hash", strategy: str = "auto"):
    """Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    word k-gram, slide a ``window`` over consecutive hashes, and record
    each window's minimum (rightmost on ties).  Guarantees: any shared
    substring of at least ``window + k - 1`` words produces at least
    one shared fingerprint, while storing only ~2/(window+1) of the
    hashes — position-robust near-dup/plagiarism detection with a
    compact signature.

    The recorded SET is tie-rule-independent: whichever position a
    window's (rightmost-)min tie-break picks, the recorded VALUE is the
    window minimum — so the distinct (id, fp) output equals the plain
    per-window-min value set.  And that set is row-local per document,
    so the 100 TB plan is a ZERO-EXCHANGE scan: the whole selection is
    one row-level Column (:func:`_winnow_fps_expr` — let-bound split,
    gram+hash arrays, per-position ``array_min`` windows,
    ``array_distinct``) followed by ``explode`` — no Exchange(doc), no
    Sort, no distinct shuffle, no Python worker.  Join two corpora on
    ``fp`` to find overlap candidates, bounded by fingerprint matches
    rather than all-pairs.  ``strategy='auto'`` takes that ``'expr'``
    form; ``'window'`` keeps the declarative twin — posexplode of the
    gram relation, ``min over (partition by doc order by pos rows
    between current and window-1 following)`` + distinct — the form
    the DuckDB oracle SQL replays, and the parity oracle for the expr
    form in tests.  Trailing truncated windows are kept (a doc shorter
    than ``window`` grams still yields its global min).

    Winnowing needs only a TOTAL ORDER on k-grams; ``fp_type="hash"``
    (default) orders by xxhash64 — uniform selection density, 8-byte
    fingerprints.  ``fp_type="gram"`` orders by the gram STRING itself
    (lexicographic min) — bigger fingerprints and skewed toward rare
    prefixes, but reproducible in engines without xxhash64, which is
    what the DuckDB oracle (q96) checks the selection machinery with.

    Returns (id_col, fp) — one row per distinct selected fingerprint.
    PRECONDITION: ``id_col`` unique per row.  With duplicate id rows
    BOTH strategies degrade, differently: 'expr' dedups per INPUT ROW
    (``array_distinct`` on the per-doc array) and so emits duplicate
    (id, fp) pairs, while 'window' interleaves the copies' gram
    positions in ONE window partition — sliding minima then span two
    documents' grams, selecting fingerprints neither copy would alone.
    :func:`winnow_overlap_pairs`'s capped path dedups ids after
    grouping (no self-pairs, no inflated counts); the uncapped
    (``max_df=None``) self-join counts multiplicities — dedup
    upstream if your ids repeat.
    """
    from pyspark.sql import Window
    if fp_type not in ("hash", "gram"):
        raise ValueError(f"fp_type={fp_type!r}")
    if strategy not in ("auto", "window", "expr"):
        raise ValueError(f"strategy={strategy!r}")
    if int(k) < 1 or int(window) < 1:
        raise ValueError(f"k={k!r} and window={window!r} must be >= 1")
    if strategy == "auto":
        # the expr selection has STRICTLY fewer exchanges than the
        # window form at every scale (zero vs two) and measured faster
        # at every probed size, so auto is always expr; 'window' stays
        # as the explicit declarative twin (the form the DuckDB oracle
        # SQL replays, and the parity oracle for expr in tests).
        strategy = "expr"
    if strategy == "expr":
        # The pipeline is CPU-bound (k-gram + hash + sliding min) and
        # narrow, so its parallelism is the SCAN's.  A corpus small
        # enough to collapse to fewer scan partitions than the cluster
        # has cores would strand the whole pass on a few cores;
        # spreading the TEXT rows first costs one exchange of the raw
        # documents — 1/expansion of what the window form shuffles (it
        # exchanges the exploded gram relation) — and buys full-width
        # execution.  Stats-gated: at real scale the estimate exceeds
        # core count and the plan stays zero-exchange (unknown stats
        # also skip the spread — never shuffle a possibly-huge corpus
        # for parallelism it already has).
        nparts = range_partition_count(df)
        par = df.sparkSession.sparkContext.defaultParallelism
        if nparts is not None and 0 < nparts < par:
            df = df.repartition(par)
        fps = _winnow_fps_expr(text_col, k, window,
                               gram=(fp_type == "gram"))
        return df.select(F.col(id_col), F.explode(fps).alias("fp"))
    # declarative twin: k-grams via arrays_zip of k shifted slices +
    # row-level concat_ws (NOT shingles()'s transform() over an
    # inlined split — the split would be recomputed per element),
    # posexplode, min over the row frame, distinct.  greatest(n-k+1,
    # 1) makes short docs (n < k) emit exactly one zip row whose
    # missing slices pad to null, which concat_ws skips — the
    # whole-text gram, matching shingles()' n<k branch.
    words = _words(text_col)
    n = F.size(words)
    ln = F.greatest(n - (k - 1), F.lit(1))
    z = F.arrays_zip(*[F.slice(words, j + 1, ln).alias(f"w{j}")
                       for j in range(k)])
    grams = (df.select(F.col(id_col),
                       F.posexplode(z).alias("__pos", "__t"))
             .select(id_col, "__pos",
                     F.concat_ws(" ", *[F.col(f"__t.w{j}")
                                        for j in range(k)]).alias("__g")))
    key = F.xxhash64("__g") if fp_type == "hash" else F.col("__g")
    hashed = grams.select(id_col, "__pos", key.alias("__h"))
    frame = (Window.partitionBy(id_col).orderBy("__pos")
             .rowsBetween(0, window - 1))
    out = (hashed.select(F.col(id_col),
                         F.min("__h").over(frame).alias("fp"))
           .distinct())
    return out


@_same_kind
def winnow_overlap_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                         k: int = 5, window: int = 4, min_shared: int = 2,
                         fp_type: str = "hash", max_df: "int | None" = 256,
                         strategy: str = "auto"):
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints
    (id_a < id_b, with the shared count) — the overlap-candidate
    generator built on :func:`winnow_fingerprints`.

    ``max_df`` drops fingerprints whose document frequency exceeds it
    BEFORE the self-join — MOSS's over-common-fingerprint rule
    (Schleimer/Wilkerson/Aiken SIGMOD'03 §5 discard boilerplate
    matches).  Without the cap one fingerprint shared by m documents
    emits m(m−1)/2 pairs; at web scale a licence header / template
    fingerprint with df in the millions makes the join output
    quadratic.  A dropped fingerprint is shared by >max_df documents —
    useless as an overlap *discriminator* — so recall loss is limited
    to pairs whose ONLY shared runs are corpus-wide boilerplate; raise
    ``min_shared`` or ``max_df`` if those matter, ``max_df=None``
    disables the cap.  NOTE (since the cap became default-on): pairs
    whose only shared fingerprints are hot (df > max_df) silently
    disappear relative to ``max_df=None`` — see README §winnowing.

    Physical plan, capped (the default): ``groupBy(fp).collect_list
    (id)`` — ONE exchange of the narrow (id, fp) relation — then the
    cap is a free row-level ``size(ids) <= max_df`` filter on the
    grouped row, ordered pairs are generated by two NATIVE Generates
    (``posexplode`` of the sorted id array for id_a + its index,
    ``explode(slice(ids, i+2, ...))`` for every later id_b — per-group
    output bounded by max_df²/2 by construction; a nested
    ``transform``+``flatten`` prototype measured 10–30 % slower at
    both probed scales, interpreted HOF struct-building vs Generate),
    and one more exchange aggregates the per-pair shared counts.  No
    self-join, no persist (the fingerprint pass runs exactly once),
    no broadcast — two exchanges total, both of relations that are
    tiny next to the corpus text.  Measured: sf0.1 0.85 s vs 0.90 s
    and 100k-doc/1.19M-pair probe corpus 4.9 s vs 4.7 s against the
    persist + hot-fp anti-join + fp self-join form it replaces —
    equal-or-better walls with two fewer exchanges and no cache
    footprint, and strictly less shuffle I/O at cluster scale.

    Uncapped (``max_df=None``) falls back to the fp self-join with the
    (id, fp) relation PERSISTED (without it both join sides recompute
    the fingerprint pass — two corpus scans, verified in tests): a
    hot fingerprint's m(m−1)/2 pairs then STREAM out of the join
    rather than materializing as one m²/2-element array row, which is
    the degradation you want when the caller explicitly asked to keep
    boilerplate matches."""
    from ..cache import _register_persist
    fsdf = winnow_fingerprints(df, text_col=text_col, id_col=id_col,
                               k=k, window=window, fp_type=fp_type,
                               strategy=strategy)
    if max_df is not None:
        ids = F.col("__ids")
        # array_distinct guards duplicate doc_id input rows (the expr
        # fingerprint strategy dedups (id, fp) per ROW, not globally —
        # without it a repeated id would emit id_a == id_b self-pairs
        # and inflate n_shared); free on the already-grouped row.
        grp = (fsdf.groupBy("fp")
               .agg(F.array_sort(F.array_distinct(
                   F.collect_list(id_col))).alias("__ids"))
               .filter((F.size(ids) >= 2) & (F.size(ids) <= int(max_df))))
        lead = grp.select(F.posexplode(ids).alias("__i", "id_a"), ids)
        pairs = lead.select(
            "id_a",
            F.explode(F.slice(ids, F.col("__i") + 2,
                              F.greatest(F.size(ids) - F.col("__i") - 1,
                                         F.lit(0)))).alias("id_b"))
        out = (pairs.groupBy("id_a", "id_b")
               .agg(F.count(F.lit(1)).alias("n_shared"))
               .filter(F.col("n_shared") >= int(min_shared)))
        return out
    fsdf = _register_persist(fsdf)
    ia, ib = f"a.{id_col}", f"b.{id_col}"
    out = (fsdf.alias("a")
           .join(fsdf.alias("b"),
                 (F.col("a.fp") == F.col("b.fp"))
                 & (F.col(ia) < F.col(ib)))
           .groupBy(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
           .agg(F.count(F.lit(1)).alias("n_shared"))
           .filter(F.col("n_shared") >= int(min_shared)))
    return out


# --------------------------------------------------------------------------
# DataFrame-level helpers
# --------------------------------------------------------------------------
def suggest_winnow_params(min_match_words: int, noise_words: int = 5,
                          n_docs: int | None = None,
                          words_per_doc: int | None = None) -> dict:
    """Closed-form winnow parameter choice (the MOSS twin of
    :func:`~vaex_spark.datapipe.similarity.suggest_lsh_params`): given
    the detection contract — every shared run of at least
    ``min_match_words`` words MUST surface (the winnow guarantee
    threshold t), while shared runs shorter than ``noise_words`` are
    noise and may be ignored (the noise threshold k) — return the
    (k, window) that meets it with the SMALLEST index, plus the sizing
    predictions a capacity plan needs.

    Math (Schleimer, Wilkerson & Aiken, SIGMOD'03): k-gram hashing
    detects nothing shorter than k, so k = ``noise_words``; the winnow
    guarantee says any run of >= window + k - 1 words shares a
    fingerprint, so window = t - k + 1 — the largest window (smallest
    index) satisfying the guarantee at t = ``min_match_words``.
    Expected density is 2/(window+1) fingerprints per gram — measured
    at 1.022x on a 1M-doc corpus (+2.2% window-start boundary term,
    SCALECHECK_r11 winnow_1m), so predictions carry that factor.

    With ``n_docs`` and ``words_per_doc`` given, also predicts
    fingerprints per document, total index rows, and flat-index bytes
    (16 B per (int64 id, int64 fp) row before parquet encoding) — the
    numbers to size an index build or a
    :func:`~vaex_spark.streaming.compact_index_dir` cadence against.

    Raises when the contract is infeasible: min_match_words <
    noise_words (a guarantee below the noise floor means window < 1)
    or non-positive inputs."""
    t, k = int(min_match_words), int(noise_words)
    if k < 1:
        raise ValueError(f"noise_words must be >= 1, got {noise_words}")
    if t < k:
        raise ValueError(
            f"min_match_words ({t}) must be >= noise_words ({k}): the "
            "guarantee threshold cannot sit below the noise floor")
    window = t - k + 1
    boundary = 1.022  # measured window-start excess, winnow_1m probe
    # cap at 1.0: at window=1 every gram is its own window minimum, so
    # density is exactly 1 fp/gram — the boundary excess only applies
    # where winnowing actually thins (window >= 2)
    density = min(1.0, 2.0 / (window + 1) * boundary)
    out = {"k": k, "window": window, "guarantee_words": window + k - 1,
           "expected_fps_per_gram": round(density, 4)}
    if words_per_doc is not None:
        if int(words_per_doc) < 1:
            raise ValueError(f"words_per_doc must be >= 1, got {words_per_doc}")
        # a doc shorter than k words has NO k-grams and no fingerprints
        grams = max(0, int(words_per_doc) - k + 1)
        out["expected_fps_per_doc"] = round(density * grams, 2)
        if n_docs is not None:
            if int(n_docs) < 1:
                raise ValueError(f"n_docs must be >= 1, got {n_docs}")
            rows = density * grams * int(n_docs)
            out["expected_index_rows"] = int(rows)
            out["expected_index_bytes"] = int(rows * 16)
    return out


@_same_kind
def corpus_winnow_index(corpus, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5, window: int = 4,
                        fp_type: str = "hash", strategy: str = "auto",
                        grouped: bool = False):
    """The persistable winnow fingerprint index of a corpus: the
    distinct (id, fp) relation from :func:`winnow_fingerprints` —
    ~2/(window+1) of the k-gram hashes per document, 8 B each for
    ``fp_type='hash'``.  Write it to parquet once per corpus snapshot
    and feed it to :func:`winnow_overlap_against_corpus`
    (``corpus_index=``): each incoming batch then skips
    re-fingerprinting the ENTIRE corpus — at 100 TB the screen reads
    8 B/fingerprint instead of the corpus text — exactly the
    :func:`~vaex_spark.datapipe.dedup.corpus_lsh_index` contract for
    the MinHash family.  Must be built with the same (k, window,
    fp_type) the batch side uses; the selection is deterministic, so
    equal params mean equal fingerprints.

    ``grouped=True`` stores the index PRE-GROUPED as (fp, __cids
    sorted-id array) — the exact shape the screen's join consumes, so
    query time pays NO groupBy exchange over the index at all
    (measured 4.3 → 2.5 s on a 2M-fingerprint index; the grouping cost
    moves into the one-time build).  DECIDED (r9, pinned by
    test_corpus_winnow_index_grouped_default): the DEFAULT stays FLAT.
    Grouped is the right call ONLY for a write-once single-snapshot
    index — use it there (the q99 bench entry does) — but as a default
    it would break the two properties the flat relation guarantees for
    every other consumer: (a) APPEND-SAFETY — the streaming sink lands
    per-batch fragments, and grouped fragments of one fingerprint
    split a doc-id set across rows, turning the screen's ``size()
    <= max_df`` cap into a per-batch cap (boilerplate spanning batches
    escapes it); (b) the flat (id, fp) schema is the interchange shape
    every existing index on disk already has.  An explicit opt-in
    keeps the fast path available without making correctness depend on
    how the caller's snapshots were written."""
    fsdf = winnow_fingerprints(corpus, text_col=text_col, id_col=id_col,
                               k=k, window=window, fp_type=fp_type,
                               strategy=strategy)
    if grouped:
        fsdf = (fsdf.groupBy("fp")
                .agg(F.array_sort(F.collect_list(id_col)).alias("__cids")))
    # the build parameters ride in the artifact (stamp.py)
    return stamp.write(fsdf, "winnow", k=k, window=window, fp_type=fp_type)


@_same_kind
def winnow_overlap_against_corpus(batch, corpus=None, text_col: str = "text",
                                  id_col: str = "doc_id", k: int = 5,
                                  window: int = 4, min_shared: int = 2,
                                  fp_type: str = "hash",
                                  max_df: "int | None" = 256,
                                  strategy: str = "auto",
                                  corpus_index=None):
    """Cross-corpus winnow overlap (incremental plagiarism / overlap
    check): (batch_id, corpus_id, n_shared) for every batch document
    sharing >= ``min_shared`` winnowed fingerprints with a corpus
    document — the production shape where a NEW batch is screened
    against a standing corpus without self-joining the union.

    Physical plan: the corpus side (or the persisted ``corpus_index``
    — see :func:`corpus_winnow_index`) groups to (fp, sorted corpus-id
    array) — ONE exchange of the narrow index relation, where
    ``max_df`` is a free ``size() <= max_df`` filter (MOSS's
    over-common-fingerprint rule, applied to CORPUS document
    frequency: a fingerprint in more than max_df corpus docs is
    boilerplate, not a discriminator, and capping it bounds output at
    max_df pairs per batch fingerprint).  The batch fingerprints then
    equi-join on ``fp`` — AQE broadcasts the batch side when it is
    small, the common incremental case — explode the id array, and one
    pair-count aggregate finishes.  The corpus TEXT is never scanned
    when ``corpus_index`` is supplied, and neither side self-joins.

    Returns (batch_id, corpus_id, n_shared); compose downstream, or use
    :func:`winnow_dedup_against_corpus` for the keep-only-novel-rows
    form."""
    bfps = winnow_fingerprints(batch, text_col=text_col, id_col=id_col,
                               k=k, window=window, fp_type=fp_type,
                               strategy=strategy)
    grp = None
    if corpus_index is not None:
        cfps = _sdf(corpus_index)
        stamp.check(cfps, "winnow", k=k, window=window, fp_type=fp_type)
        if "__cids" in cfps.columns:  # pre-grouped index: no exchange
            grp = cfps.select("fp", "__cids")
        else:
            cfps = cfps.select(F.col(id_col), F.col("fp"))
    else:
        if corpus is None:
            raise ValueError("pass corpus= or corpus_index=")
        cfps = _sdf(winnow_fingerprints(
            corpus, text_col=text_col, id_col=id_col, k=k, window=window,
            fp_type=fp_type, strategy=strategy))
    if grp is None:
        grp = (cfps.groupBy("fp")
               .agg(F.array_sort(F.collect_list(id_col)).alias("__cids")))
    if max_df is not None:
        grp = grp.filter(F.size("__cids") <= int(max_df))
    pairs = (bfps.join(grp, on="fp")
             .select(F.col(id_col).alias("batch_id"),
                     F.explode("__cids").alias("corpus_id")))
    out = (pairs.groupBy("batch_id", "corpus_id")
           .agg(F.count(F.lit(1)).alias("n_shared"))
           .filter(F.col("n_shared") >= int(min_shared)))
    return out


@_same_kind
def winnow_dedup_against_corpus(batch, corpus=None, text_col: str = "text",
                                id_col: str = "doc_id", k: int = 5,
                                window: int = 4, min_shared: int = 2,
                                fp_type: str = "hash",
                                max_df: "int | None" = 256,
                                strategy: str = "auto",
                                corpus_index=None):
    """Keep only the batch documents with NO >= ``min_shared``-
    fingerprint winnow overlap against the corpus — the
    :func:`~vaex_spark.datapipe.dedup.near_dup_against_corpus` shape
    for run-overlap (plagiarism/contamination) instead of Jaccard.
    One left-anti join over :func:`winnow_overlap_against_corpus`'s
    flagged batch ids; returns the surviving batch rows unchanged."""
    hits = winnow_overlap_against_corpus(
        batch, corpus, text_col=text_col, id_col=id_col, k=k, window=window,
        min_shared=min_shared, fp_type=fp_type, max_df=max_df,
        strategy=strategy, corpus_index=corpus_index)
    flagged = hits.select(F.col("batch_id").alias(id_col)).distinct()
    return batch.join(flagged, on=id_col, how="left_anti")


@_same_kind
def with_text_stats(df, text_col: str = "text"):
    """Attach token counts / quality / language columns."""
    t = F.col(text_col)
    return (df
            .withColumn("n_tokens", token_count_whitespace(t))
            .withColumn("n_tokens_bpe", token_count_bpe(t))
            .withColumn("quality", quality_score(t))
            .withColumn("lang_guess", lang_id(t))
            .withColumn("fingerprint", fingerprint(t)))


# --------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# --------------------------------------------------------------------------
# Java-regex patterns (RE2-compatible: no backrefs/lookaround, so the
# same strings drive the DuckDB oracle).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ]?(\([0-9]{2,4}\)[-. ]?)?[0-9]{3,4}[-. ]?[0-9]{4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_counts(text, kinds: list[str] | None = None) -> dict[str, Column]:
    """Per-kind PII hit counts — pure regexp_count expressions."""
    c = _c(text)
    kinds = kinds or list(PII_PATTERNS)
    return {k: F.regexp_count(c, F.lit(PII_PATTERNS[k])) for k in kinds}


def redact_pii(text, kinds: list[str] | None = None,
               replacement: str = "[{kind}]") -> Column:
    """Replace PII matches with typed placeholders ([email], [phone],
    ...), chained regexp_replace — whole-stage codegen, no UDF, so the
    scrub runs at scan speed on 100 TB."""
    c = _c(text)
    for k in (kinds or list(PII_PATTERNS)):
        c = F.regexp_replace(c, PII_PATTERNS[k], replacement.format(kind=k))
    return c


def with_pii_scrub(df, text_col: str = "text"):
    """DataFrame helper: adds redacted text + per-kind counts."""
    out = df._copy() if hasattr(df, "_copy") else df
    for k, col in pii_counts(F.col(text_col)).items():
        out[f"pii_{k}"] = col
    out["text_redacted"] = redact_pii(F.col(text_col))
    return out


# --------------------------------------------------------------------------
# corpus-statistics scoring (TF-IDF, unigram LM)
# --------------------------------------------------------------------------
@_same_kind
def tf_idf_terms(df, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 3):
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn's formula: tf * (ln((N+1)/(df+1)) + 1) — public knowledge).

    100 TB plan: one explode -> (doc, term, tf) aggregate, one term-level
    document-frequency aggregate (term-cardinality-sized, broadcast), a
    map-side join, and a per-doc top-k window partitioned by doc.  Text
    bodies never shuffle; everything past the scan is (id, term, counts).
    Ties and ULP-level float drift break on (round(tfidf,6) desc, term
    asc) so the output is engine-independent.
    """
    from pyspark.sql import Window
    words = _words(text_col)
    terms = (df.select(F.col(id_col), F.explode(words).alias("term"))
             .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.select(F.count(F.lit(1))).collect()[0][0]
    docfreq = (terms.groupBy("term")
               .agg(F.count(F.lit(1)).alias("df_count")))
    scored = (terms.join(F.broadcast(docfreq), on="term")
              .withColumn("tfidf", F.round(
                  F.col("tf") * (F.log((F.lit(float(n_docs + 1))) /
                                       (F.col("df_count") + 1)) + 1), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (scored.withColumn("rank", F.row_number().over(w).cast("int"))
           .filter(F.col("rank") <= k)
           .select(id_col, "term", "tf", "df_count", "tfidf", "rank"))
    return out


@_same_kind
def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean unigram log-probability under the corpus's own
    add-one-smoothed unigram model — the classic LM-based quality signal
    (CCNet-style filtering; low scores = out-of-distribution text).

    p(w) = (count(w) + 1) / (total_tokens + vocab); score = mean over
    the document's tokens of ln p(w).  Two aggregates (per-term counts,
    broadcast; per-doc mean) — shuffles carry (id, term) only.
    Per-term logs are rounded to 9 digits before the decimal-exact mean
    so cross-engine libm ULP differences cannot surface.
    """
    words = _words(text_col)
    toks = df.select(F.col(id_col), F.explode(words).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("total"),
                        F.count(F.lit(1)).alias("vocab")).collect()[0]
    total, vocab = int(totals["total"]), int(totals["vocab"])
    logp = F.round(F.log((F.col("cnt") + 1) / F.lit(float(total + vocab))), 9)
    out = (toks.join(F.broadcast(counts), on="term")
           .withColumn("__lp", logp)
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                (F.sum(F.col("__lp").cast("decimal(28,9)")).cast("double") /
                 F.count(F.lit(1))).alias("mean_logprob")))
    return out


@_same_kind
def remove_boilerplate_lines(df, text_col: str = "text",
                             id_col: str = "doc_id",
                             min_docs: int = 2, normalize: bool = True):
    """C4-style line-level boilerplate removal: a line occurring in at
    least ``min_docs`` DISTINCT documents (nav bars, cookie banners,
    footers) is dropped from every document; each document's surviving
    lines are rejoined in original order.

    100 TB shape: explode to (id, pos, line_hash) — the shuffle for the
    distinct-doc count carries hashes, not line text; the boilerplate
    hash set (typically tiny: only lines crossing the threshold) comes
    back via a join that AQE broadcasts when it fits.  Rebuild is a
    groupBy(id) sort_array aggregate — one exchange of surviving lines.

    Returns (id, text) with cleaned text; documents whose every line was
    boilerplate keep an empty string (document-level filtering is a
    separate, explicit step).
    """
    line = F.col("__line")
    norm = F.lower(F.trim(line)) if normalize else line
    lines = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                       .alias("__pos", "__line"))
             .withColumn("__lh", F.xxhash64(norm)))
    boiler = (lines.groupBy("__lh")
              .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
              .filter(F.col("__nd") >= min_docs)
              .select("__lh"))
    kept = lines.join(boiler, on="__lh", how="left_anti")
    out = (kept.groupBy(id_col)
           .agg(F.array_join(
               F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                           lambda s: s["__line"]), "\n").alias(text_col)))
    # docs whose every line was boilerplate: restore as empty text
    all_ids = df.select(F.col(id_col))
    out = (all_ids.join(out, on=id_col, how="left")
           .withColumn(text_col, F.coalesce(F.col(text_col), F.lit(""))))
    return out


@_same_kind
def chunk_documents(df, text_col: str = "text", id_col: str = "doc_id",
                    chunk_tokens: int = 32, stride: int = 24):
    """Split documents into overlapping token-window chunks (RAG
    passage extraction / training-context splitting): chunk ``i`` covers
    tokens [i*stride, i*stride + chunk_tokens); the final chunks may be
    shorter (every start < n_tokens emits, so no token is dropped).

    Returns (doc_id, chunk_id, chunk_start, n_chunk_tokens, chunk_text).

    Scale design: pure Column ops — split -> sequence(0, n-1, stride) ->
    posexplode -> slice.  One narrow scan, zero shuffles, zero Python;
    output size is input tokens x (chunk_tokens/stride) overlap factor,
    produced streaming per partition (never materialized per-doc).

    NULL texts emit zero chunks (without the guard, ``size(null)`` is
    -1 and the chunk-start ``sequence(0, -2, stride)`` raises an
    illegal-boundaries error mid-scan — found by the r8 null-smoke).
    """
    base = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), _words(text_col).alias("__w")))
    out = (base
           .select(F.col(id_col), F.col("__w"),
                   F.posexplode(F.sequence(F.lit(0), F.size("__w") - 1,
                                           F.lit(stride)))
                   .alias("chunk_id", "chunk_start"))
           .select(F.col(id_col),
                   F.col("chunk_id").cast("int").alias("chunk_id"),
                   F.col("chunk_start").cast("int").alias("chunk_start"),
                   F.least(F.lit(chunk_tokens),
                           F.size("__w") - F.col("chunk_start"))
                   .cast("int").alias("n_chunk_tokens"),
                   F.array_join(F.slice(F.col("__w"), F.col("chunk_start") + 1,
                                        F.lit(chunk_tokens)), " ")
                   .alias("chunk_text")))
    return out


def bigram_pmi(df, text_col: str = "text", min_count: int = 5):
    """Collocation mining: token bigrams scored by pointwise mutual
    information, pmi = ln(c_ab * N_uni^2 / (N_bi * c_a * c_b)) with
    c_ab/c_a/c_b the bigram/unigram counts and N_* the totals.

    Returns (w1, w2, c_ab, pmi) for bigrams with c_ab >= min_count
    (unordered — callers sort/limit).

    Scale design (r15): ONE corpus scan/tokenization — the exploded
    stream is (word, next-word-or-NULL-at-doc-end) pairs, so the
    single counted relation pc = count by (w1, w2) yields BOTH the
    bigram counts (w2 non-null rows) and the exact unigram counts
    (every token appears exactly once as w1; uni = sum of pc over w1)
    — the previous form exploded tokens and bigrams separately, i.e.
    two full scans + two corpus-sized exchanges.  Totals are 1-row
    aggregates crossJoin-broadcast into the scoring projection — no
    driver collect, no window.  Only COUNTED (vocab-sized) relations
    persist, never the token stream.
    """
    from ..cache import _register_persist
    from ..colname import quote_name
    sdf = _sdf(df)
    qt = quote_name(text_col)
    words = _words_sql(qt)
    # try_element_at: the i+1 ref runs off the end on the last token
    # (NULL = end-of-doc marker) and must stay NULL, not raise, under
    # ANSI-on sessions.  The outer NULL guard is load-bearing: without
    # it a NULL doc reaches sequence(1, size(NULL)) = sequence(1, -1)
    # under non-ANSI size-of-null (-1), a DESCENDING 3-element range
    # that would emit three phantom (NULL, NULL) pairs per null doc.
    pair_sql = (f"explode(CASE WHEN {qt} IS NULL THEN "
                f"cast(null as array<struct<w1:string,w2:string>>) "
                f"ELSE element_at(transform(array({words}), wd -> "
                f"transform(sequence(1, size(wd)), "
                f"i -> struct(try_element_at(wd, i) as w1, "
                f"try_element_at(wd, i + 1) as w2))), 1) END)")
    pairs = sdf.selectExpr(f"{pair_sql} as __b").selectExpr(
        "__b.w1 as w1", "__b.w2 as w2")
    pc = _register_persist(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")))
    uni = pc.groupBy("w1").agg(F.sum("c_ab").alias("__c")) \
            .select(F.col("w1").alias("__t"), "__c")
    n_uni = pc.agg(F.sum("c_ab").alias("__nu"))
    bic = pc.filter(F.col("w2").isNotNull())
    n_bi = bic.agg(F.sum("c_ab").alias("__nb"))
    ua = uni.select(F.col("__t").alias("w1"), F.col("__c").alias("__ca"))
    ub = uni.select(F.col("__t").alias("w2"), F.col("__c").alias("__cb"))
    scored = (bic.filter(F.col("c_ab") >= min_count)
              .join(ua, on="w1").join(ub, on="w2")
              .crossJoin(F.broadcast(n_uni)).crossJoin(F.broadcast(n_bi))
              .select("w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
                      F.round(F.log(
                          (F.col("c_ab").cast("double") * F.col("__nu") * F.col("__nu")) /
                          (F.col("__nb").cast("double") * F.col("__ca") * F.col("__cb"))
                      ), 6).alias("pmi")))
    return scored


def distribution_drift(df, value_col, group_col: str = "source",
                       bucket_width: float = 10.0):
    """Per-group distribution drift versus the whole corpus: bucket a
    numeric per-document statistic (token count, quality score, ...),
    then compute each group's Jensen-Shannon divergence and total
    variation distance against the corpus-wide bucket distribution.

    The workhorse monitor for training-data mixes: a source whose
    length/quality profile drifts from the corpus (new crawl snapshot,
    broken extractor) shows up as a JS spike without eyeballing
    histograms.  Semantically mirrors the reference's
    df.count(binby=...) histogram comparisons (vaex/dataframe.py
    count/binby docs) as one aggregate query.

    Scale design: ONE shuffle of corpus-sized data — the (group,
    bucket) count aggregate (map-side partial combine).  Group totals
    and the global bucket histogram derive from that counted relation
    (persisted, #groups x #buckets rows); the grand total is a 1-row
    aggregate crossJoin-broadcast.  Every group x global-bucket cell is
    produced by a join of those tiny relations, so zero-count buckets
    still contribute their Q-side JS term.  Per-cell terms are cast to
    DECIMAL(38,18) before summing: decimal accumulation is exact and
    order-independent, making the rounded result partition-invariant
    and engine-portable (same discipline as the dsum() oracle helpers).
    """
    from ..cache import _register_persist
    sdf = _sdf(df)
    val = _c(value_col)
    binned = sdf.select(F.col(group_col).alias("grp"),
                        F.floor(val / F.lit(bucket_width)).alias("bucket"))
    cell = _register_persist(
        binned.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("c_gb")))
    grp_tot = cell.groupBy("grp").agg(F.sum("c_gb").alias("n_g"))
    glob = cell.groupBy("bucket").agg(F.sum("c_gb").alias("c_b"))
    total = glob.agg(F.sum("c_b").alias("n_all"))
    # group x global-bucket grid (groups x buckets rows — tiny), with the
    # group's own count left-joined in; missing cells are p=0.
    grid = (grp_tot.crossJoin(glob)
            .join(cell, on=["grp", "bucket"], how="left")
            .crossJoin(F.broadcast(total)))
    p = F.coalesce(F.col("c_gb"), F.lit(0)).cast("double") / F.col("n_g")
    q = F.col("c_b").cast("double") / F.col("n_all")
    m = (p + q) / F.lit(2.0)
    DECA = "decimal(38,18)"
    js_term = (F.when(p > 0, p * F.log(p / m) / F.lit(2.0)).otherwise(F.lit(0.0))
               + q * F.log(q / m) / F.lit(2.0)).cast(DECA)
    # arithmetic stays in double (identical IEEE trees on both engines);
    # only the finished per-cell term is cast to decimal for the
    # order-independent sum — decimal/decimal division would hit
    # engine-specific scale rules.
    tvd_term = (F.abs(p - q) / F.lit(2.0)).cast(DECA)
    return (grid.groupBy("grp")
            .agg(F.round(F.sum(js_term).cast("double"), 6).alias("js_divergence"),
                 F.round(F.sum(tvd_term).cast("double"), 6).alias("tvd"),
                 F.max("n_g").cast("long").alias("n_docs")))


def clean_text(text) -> Column:
    """Encoding/typography cleanup for crawled text — the normalization
    pass that precedes quality scoring and dedup in a crawl pipeline:

    * strip C0/C1 control characters (except \\t \\n \\r) and DEL,
    * strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and soft hyphen,
    * map typographic quotes/dashes/ellipsis to ASCII equivalents,
    * convert NBSP to a plain space and collapse space/tab runs,
    * trim each line's trailing whitespace and the document's ends.

    Pure Column regexp/translate chain — scan-speed, no UDF.  (Full
    NFKC needs ICU; this covers the high-frequency crawl artifacts and
    stays portable SQL, so oracles can reproduce it.)"""
    t = _c(text)
    # control chars (keep \t \n \r), DEL + C1 range
    t = F.regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]", "")
    # zero-width + soft hyphen
    t = F.regexp_replace(t, "[\\u200B\\u200C\\u200D\\uFEFF\\u00AD]", "")
    # typographic punctuation -> ASCII (1:1 via translate; explicit
    # escapes -- NBSP and curly quotes are invisible in source)
    t = F.translate(t,
                    "\u2018\u2019\u201A\u201C\u201D\u201E\u2013\u2014\u00A0",
                    "'''\"\"\"-- ")
    t = F.regexp_replace(t, "\u2026", "...")
    # collapse runs of spaces/tabs (not newlines), trim line ends
    t = F.regexp_replace(t, "[ \\t]+", " ")
    t = F.regexp_replace(t, " +\\n", "\n")
    return F.trim(t)


@_same_kind
def with_clean_text(df, text_col: str = "text", out_col: str | None = None):
    """Apply clean_text to a corpus column (in place by default)."""
    return df.withColumn(out_col or text_col, clean_text(F.col(text_col)))


@_same_kind
def build_vocab(df, text_col: str = "text", top_n: int = 1000):
    """Corpus vocabulary: the ``top_n`` most frequent tokens (shared
    ``_words`` tokenization) with 1-based frequency rank, count,
    and corpus coverage fraction — the tokenizer-prep view of an LM
    pipeline ("what does a 32k vocab cover?").

    100 TB plan: one explode + hash-partial-aggregated count (the only
    full-data shuffle, carrying (token) keys), then top-N via
    TakeOrderedAndProject — Spark's map-side top-N + driver merge, no
    global sort materialization.  Ties break on the token string so the
    vocabulary is deterministic across engines.  Coverage uses the
    EXACT total token count (same aggregate, no second scan of text).
    """
    toks = df.select(F.explode(_words(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("count"))
    from ..cache import _register_persist
    counts = _register_persist(counts)  # read twice: total + top-N
    # r14: the exact total token count rides the SAME lazy plan as a
    # broadcast 1-row cross join instead of an eager .collect() at
    # plan-BUILD time — the collect serialized a full job (plus its
    # persist materialization) into every call that merely constructs
    # the vocabulary plan, and a driver round-trip into the query path
    # (guide §5: the driver should do almost no data work).  Value-
    # identical: count/total both compute in float64 either way.
    # empty/all-null corpus: SUM over zero rows is NULL — coalesce to
    # 1; the top-N relation is empty anyway, so any non-zero
    # denominator yields the same (empty) result (round-10
    # empty-input sweep, the _vec_f64 defect class)
    total = F.broadcast(counts.agg(F.coalesce(
        F.sum("count"), F.lit(1)).cast("double").alias("__vocab_total")))
    from pyspark.sql import Window
    # the crossJoin sits BELOW the top-N limit deliberately: the
    # broadcast side builds before the main stage runs, so it is the
    # branch that materializes the counts persist — the TakeOrdered
    # branch then reads the cache instead of racing a second cold
    # computation of the token counts (the same persist-race class as
    # the LSH self-join; one extra constant column through the
    # TakeOrdered is free)
    top = (counts.crossJoin(total)
           .orderBy(F.col("count").desc(), F.col("token"))
           .limit(int(top_n))
           # rank over the already-limited top-N relation (top_n rows),
           # not the full vocabulary — the single partition is state-
           # sized by construction
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.col("count").desc(), F.col("token"))))
           .withColumn("coverage",
                       F.round(F.col("count") / F.col("__vocab_total"), 9))
           .select("rank", "token", F.col("count").cast("long").alias("count"),
                   "coverage"))
    return top


@_same_kind
def oov_rate(df, vocab, text_col: str = "text", group_col: str = "source"):
    """Per-group out-of-vocabulary token rate against a vocabulary
    table (``build_vocab`` output or any frame with a ``token``
    column): the held-out-domain health check run before training.

    Plan: explode to (group, token), LEFT JOIN the BROADCAST vocab
    (vocab tables are top-N-sized by construction), one grouped
    aggregate — token keys shuffle once, text never does."""
    vsdf = _sdf(vocab)
    toks = df.select(F.col(group_col),
                     F.explode(_words(text_col)).alias("token"))
    marked = toks.join(F.broadcast(vsdf.select("token").distinct()
                                   .withColumn("__in", F.lit(1))),
                       on="token", how="left")
    out = (marked.groupBy(group_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                .cast("long").alias("n_oov"))
           .withColumn("oov_rate", F.round(F.col("n_oov")
                                           / F.col("n_tokens"), 9)))
    return out


@_same_kind
def corpus_profile(df, text_col: str = "text", group_col: str = "source",
                   length_col: str = "n_chars", include_sketches: bool = False):
    """Per-group corpus health profile — the monitoring table a 100 TB
    curation pipeline materializes per snapshot: document count, total
    and mean whitespace tokens, mean quality score, and exact p50/p95
    of ``length_col``.  One grouped aggregate over scan-speed Column
    expressions (no UDF, no second pass).

    ``include_sketches=True`` additionally attaches mergeable state —
    an HLL fingerprint sketch (running distinct texts across snapshots)
    and a KLL length sketch (distribution merges) — turning each
    profile row into incremental state (see datapipe/sketches.py).
    """
    toks = token_count_whitespace(F.col(text_col))
    q = quality_score(F.col(text_col))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(toks.cast("long")).cast("long").alias("n_tokens"),
        F.round(F.sum(toks.cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_tokens"),
        F.round(F.sum(F.round(q, 6).cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)), 6).alias("mean_quality"),
        F.round(F.expr(f"percentile({length_col}, 0.5)"), 6).alias("p50_len"),
        F.round(F.expr(f"percentile({length_col}, 0.95)"), 6).alias("p95_len"),
    ]
    if include_sketches:
        aggs.append(F.hll_sketch_agg(
            fingerprint(F.col(text_col)), F.lit(12)).alias("__hll"))
        aggs.append(F.kll_sketch_agg_bigint(
            F.col(length_col).cast("bigint"), F.lit(200)).alias("__kll"))
    return df.groupBy(group_col).agg(*aggs)
