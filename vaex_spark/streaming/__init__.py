"""Structured Streaming surface (beyond-parity; SURVEY §2.10 — the
reference has no streaming subsystem, so this is designed Spark-first).

The same expression/aggregation layer drives streams: ``open_stream``
returns a vaex_spark DataFrame whose base is a streaming DataFrame;
windowed aggregations, watermarking and streaming dedup are thin
wrappers over the native operators.

Tested with file sources + ``availableNow`` triggers (bounded replay of
a directory), which is exactly how a 100 TB backfill runs in production;
swapping in kafka/kinesis sources is a config change.
"""

from __future__ import annotations

import contextlib
import functools

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..dataframe import DataFrame, _sdf
from ..session import get_session


def open_stream(path, schema=None, fmt: str = "parquet",
                spark: SparkSession | None = None, **options) -> DataFrame:
    """readStream over a directory; schema required by Spark for file
    streams — pass one or we infer from existing files."""
    spark = spark or get_session()
    reader = spark.readStream.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    ns_cols: list[str] = []
    if fmt == "parquet":
        # same TIMESTAMP(NANOS) tolerance as the batch reader: scan as
        # int64 nanos, rebuild micro-truncated timestamps
        import glob as g
        import os
        matches = sorted(g.glob(os.path.join(str(path), "*.parquet"))) or sorted(g.glob(str(path)))
        if matches:
            try:
                import pyarrow.parquet as pq
                fschema = pq.read_schema(matches[0])
                ns_cols = [f.name for f in fschema if str(f.type).startswith("timestamp[ns")]
                if ns_cols:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            except Exception:
                ns_cols = []
    if schema is None:
        import glob as g
        import os
        matches = sorted(g.glob(os.path.join(str(path), "*"))) or [str(path)]
        # skip write markers (_SUCCESS, .crc, _metadata) — inferring
        # from one of those fails with UNABLE_TO_INFER_SCHEMA
        data = [m for m in matches
                if not os.path.basename(m).startswith(("_", "."))]
        schema = spark.read.format(fmt).load((data or matches)[0]).schema
    sdf = reader.schema(schema).load(str(path))
    for c in ns_cols:
        if dict(sdf.dtypes).get(c) == "bigint":
            sdf = sdf.withColumn(c, F.timestamp_micros(F.floor(F.col(c) / 1000).cast("long")))
    return DataFrame(sdf)


def with_watermark(df: DataFrame, time_col: str, delay: str) -> DataFrame:
    out = DataFrame(df._spark_df().withWatermark(time_col, delay))
    out.variables = dict(df.variables)
    return out


def _agg_columns(df, agg: dict):
    """{output_name: descriptor | 'count' | ('sum', 'col')} -> agg Columns.
    A bare 'count' string means count(*) (the output name is free-form)."""
    from .. import agg as vagg
    out = []
    for name, spec in agg.items():
        if isinstance(spec, Column):
            out.append(spec.alias(name))
            continue
        if isinstance(spec, vagg.AggDescriptor):
            desc = spec
        elif spec == "count":
            desc = vagg.count()
        elif isinstance(spec, (tuple, list)) and len(spec) == 2:
            desc = vagg.from_spec(spec[0], spec[1])
        else:
            desc = vagg.from_spec(spec, name)
        out.append(desc.to_column(df).alias(name))
    return out


def window_agg(df: DataFrame, time_col: str, window: str, agg: dict,
               slide: str | None = None, watermark: str | None = None,
               extra_keys: list[str] | None = None) -> SparkDataFrame:
    """Tumbling/sliding window aggregation usable on batch AND stream
    (same code path — the Spark unification the reference lacks)."""
    from .. import agg as vagg
    sdf = df._spark_df()
    if watermark is not None:
        sdf = sdf.withWatermark(time_col, watermark)
    win = F.window(time_col, window, slide) if slide else F.window(time_col, window)
    keys = [win.alias("window")] + [F.col(k) for k in (extra_keys or [])]
    aggs = _agg_columns(df, agg)
    return sdf.groupBy(*keys).agg(*aggs)


def session_window_agg(df: DataFrame, time_col: str, gap: str, agg: dict,
                       keys: list[str] | None = None,
                       watermark: str | None = None) -> SparkDataFrame:
    from .. import agg as vagg
    sdf = df._spark_df()
    if watermark is not None:
        sdf = sdf.withWatermark(time_col, watermark)
    group = [F.session_window(F.col(time_col), gap).alias("session")] + [F.col(k) for k in (keys or [])]
    aggs = _agg_columns(df, agg)
    return sdf.groupBy(*group).agg(*aggs)


def stream_dedup(df: DataFrame, keys: list[str], time_col: str | None = None,
                 watermark: str | None = None) -> SparkDataFrame:
    """Streaming dedup; with a watermark uses the bounded-state variant
    (dropDuplicatesWithinWatermark) so state doesn't grow forever."""
    sdf = df._spark_df()
    if watermark is not None and time_col is not None:
        sdf = sdf.withWatermark(time_col, watermark)
        return sdf.dropDuplicatesWithinWatermark(keys)
    return sdf.dropDuplicates(keys)


def stateful_map(df: DataFrame, keys: list[str], fn, output_schema,
                 state_schema, time_col: str | None = None,
                 watermark: str | None = None, output_mode: str = "append",
                 timeout: str = "NoTimeout") -> SparkDataFrame:
    """Custom stateful per-key streaming operator —
    ``applyInPandasWithState`` (SURVEY §2.10 beyond-parity surface).

    ``fn(key, pdf_iter, state)`` receives the group key tuple, an
    iterator of Arrow-batched pandas frames for this trigger, and a
    ``GroupState`` handle (get/update/remove + timeouts); it yields
    output frames.  State lives in the state store per key — bounded by
    watermark/timeout, survives restarts via the checkpoint.  This is
    the escape hatch for operators with custom state machines
    (sessionization variants, CDC folding, online features).
    """
    sdf = _sdf(df)
    if watermark is not None and time_col is not None:
        sdf = sdf.withWatermark(time_col, watermark)
    return (sdf.groupBy(*[F.col(k) for k in keys])
            .applyInPandasWithState(fn, output_schema, state_schema,
                                    output_mode, timeout))


def stream_running_agg(df: DataFrame, keys: list[str], value_col: str,
                       time_col: str | None = None,
                       watermark: str | None = None) -> SparkDataFrame:
    """Canonical stateful_map use: per-key running (count, sum, max)
    carried across triggers — emits one row per key per trigger with the
    lifetime-so-far aggregates."""
    import pandas as pd
    key_names = list(keys)

    def fn(key, pdfs, state):
        if state.exists:
            n, s, mx = state.get
        else:
            n, s, mx = 0, 0.0, float("-inf")
        for pdf in pdfs:
            v = pdf[value_col]
            n += int(v.count())
            s += float(v.sum())
            mx = max(mx, float(v.max())) if len(v) else mx
        state.update((n, s, mx))
        yield pd.DataFrame({**{k: [key[i]] for i, k in enumerate(key_names)},
                            "running_count": [n], "running_sum": [s],
                            "running_max": [mx]})

    key_fields = ", ".join(f"{k} string" for k in key_names)
    out_schema = f"{key_fields}, running_count bigint, running_sum double, running_max double"
    state_schema = "n bigint, s double, mx double"
    return stateful_map(df, key_names, fn, out_schema, state_schema,
                        time_col=time_col, watermark=watermark,
                        output_mode="update")


def run_available_now(stream_sdf: SparkDataFrame, sink_path: str, checkpoint: str,
                      fmt: str = "parquet", output_mode: str = "append"):
    """Bounded execution: process everything currently in the source,
    then stop — the batch-backfill pattern."""
    q = (stream_sdf.writeStream.format(fmt)
         .option("path", sink_path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def run_to_memory(stream_sdf: SparkDataFrame, name: str, output_mode: str = "complete"):
    """availableNow into an in-memory table — the test/debug sink."""
    q = (stream_sdf.writeStream.format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_static_join(stream_df, static_df, on, how: str = "inner") -> SparkDataFrame:
    """Enrich a stream against a static dimension table (Spark planner
    broadcasts the static side per micro-batch; no state store needed).
    stream-static inner/left joins are supported natively by Structured
    Streaming — the static side is re-read each batch, so catalog/delta
    dims pick up updates.  Returns a streaming Spark DataFrame ready
    for a run_* sink, like the other streaming transforms here."""
    return _sdf(stream_df).join(_sdf(static_df), on=on, how=how)


def stream_stream_join(left, right, on,
                       left_time: str, right_time: str,
                       left_delay: str, right_delay: str,
                       condition=None, how: str = "inner") -> SparkDataFrame:
    """Stream-stream join with watermarks on both sides so the state
    store stays bounded (Spark buffers each side only within its
    watermark horizon).  ``condition`` adds the event-time range
    predicate that lets Spark evict state (without it an inner join
    buffers forever)."""
    lsdf = _sdf(left).withWatermark(left_time, left_delay)
    rsdf = _sdf(right).withWatermark(right_time, right_delay)
    join_cond = (lsdf[on] == rsdf[on]) if isinstance(on, str) else on
    if condition is not None:
        join_cond = join_cond & condition
    return lsdf.join(rsdf, on=join_cond, how=how)


def run_foreach_batch(stream_sdf: SparkDataFrame, fn, checkpoint: str,
                      trigger_available_now: bool = True):
    """foreachBatch sink: fn(batch_df, batch_id) runs per micro-batch
    with a normal (batch) DataFrame — the escape hatch for sinks Spark
    lacks (JDBC upserts, multi-sink fanout).  Exactly-once comes from
    the checkpoint's batch-id tracking as long as fn is idempotent per
    batch_id."""
    writer = _sdf(stream_sdf).writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q


def _concurrently(spark, fns) -> list:
    """Run the zero-argument callables on one thread each and return
    their results in order.  Each thread carries the calling thread's
    Spark local properties and tags (job group, description, the
    stream's query ids).  Every call runs to completion before the
    first error, in call order, is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=max(1, len(fns))) as pool:
        # wrapped one by one: each wrap clones the properties, so no two
        # threads set job groups or execution ids on one shared object
        futures = [pool.submit(inheritable_thread_target(spark)(fn))
                   for fn in fns]
    return [f.result() for f in futures]


@contextlib.contextmanager
def _job_description(spark, text: str):
    """Set the calling thread's Spark job description for the block and
    restore the one it had after.  Local properties are per thread, so
    threads of :func:`_concurrently` each set their own."""
    sc = spark.sparkContext
    key = "spark.job.description"
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, text)
    try:
        yield
    finally:
        sc.setLocalProperty(key, prev)


def curate_stream(stream_df, out_dir: str, state_dir: str, checkpoint: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  sketch_dir: str | None = None,
                  sketch_group: str = "source",
                  fuzzy_lsh_dir: str | None = None,
                  fuzzy_threshold: float = 0.5,
                  fuzzy_params: dict | None = None,
                  winnow_index_dir: str | None = None,
                  winnow_min_shared: int = 2,
                  winnow_params: dict | None = None,
                  vector_index_dir: str | None = None,
                  vector_threshold: float = 0.95,
                  vec_col: str = "embedding",
                  vector_params: dict | None = None,
                  compact_every: int | None = None,
                  **curate_kw):
    """Streaming corpus curation with CROSS-batch exact dedup.

    Each micro-batch runs the standard curate() pipeline, then drops
    documents whose normalized fingerprint was already emitted by ANY
    earlier batch (datapipe.dedup.exact_dedup_incremental against the
    fingerprint table persisted in ``state_dir``); survivors land in
    ``out_dir`` and their fingerprints in the state table.

    Idempotency per batch_id is REAL, not aspirational: both sinks are
    hive-partitioned by ``__batch_id`` and written with dynamic
    partition-overwrite, so a crash between the two writes (or a
    checkpoint replay of a whole batch) simply rewrites that batch's
    partitions in place — no duplicate appends.  The dedup state read is
    restricted to ``__batch_id < current`` (partition-pruned), so a
    replayed batch never anti-joins against its OWN half-landed
    fingerprints and silently drops its documents.  A restart resumes
    from the state table, and exactly-once comes from the stream
    checkpoint.  At 100 TB the state table is fingerprints only (8 B a
    row before encoding), shuffled hash-to-hash.

    Each batch is screened ONCE.  The survivors are written to
    ``out_dir`` first; every derived sink (fingerprint state, LSH,
    winnow and vector indexes, sketches) is then built from a read-back
    of the ``__batch_id=N`` partition just written, so each sink
    describes exactly the rows emitted and costs one or two jobs
    instead of a re-run of curate plus every screen.  A ``persist`` of
    the screened plan cannot do this: after the ``out_dir`` write Spark
    re-caches every cached plan that reads a written path
    (``recacheByPath``), and the screens read ``out_dir`` and the
    state dirs, so the cache is dropped and recomputed per sink.  A
    batch that emits nothing writes no partition to any sink.  With
    curate's default ``dedup="exact"`` (and no ``pack_tokens``) the
    within-batch exact dedup runs once, in the screen, not again inside
    curate.

    Actions that do not depend on each other overlap.  The prior dirs
    the screens read are opened together (each open is a
    schema-inference job), and the derived-sink writes run together
    once the out write has landed, each on its own thread carrying the
    stream's Spark local properties.  This is safe because every write
    is a per-batch idempotent overwrite of its own dir's
    ``__batch_id=N`` partition and reads only the out partition, which
    is complete before any of them starts.  The batch waits for every
    write and re-raises the first error, so a failed sink fails the
    batch; the checkpoint then replays it, the replay rewrites every
    partition of that batch in place, and the sinks converge to a
    clean run's contents.  Overwrite mode is dynamic per write, so the
    session's ``partitionOverwriteMode`` is never touched.  The screens
    hold no ``persist``: each cached relation would plan as its own
    nested query and re-run the screens upstream of it.  Instead each
    screen computes each of its relations once (the near-dup screen
    builds its candidate pairs and batch band table once and verifies
    each pair once), and a long-running stream leaves nothing in
    ``vaex_spark.cache``'s operator-persist registry.

    Every job of a batch is labelled in Spark's status store (UI,
    REST API, event log): its description is the stream's own
    (query name, id, runId, batch) followed by a line
    ``curate_stream batch N: <phase>``, where the phase is
    ``compact``, ``open`` (the prior dirs' schema inference), ``out``
    (the screens and the out write) or the derived sink being written
    (``state``, ``lsh``, ``winnow``, ``vector``, ``sketch``).

    ``fuzzy_lsh_dir`` additionally enables CROSS-batch NEAR-dup dedup:
    each batch's survivors are checked against every earlier batch's
    emitted documents via the persisted MinHash-LSH index
    (datapipe.dedup.corpus_lsh_index — (id, band, bucket) rows,
    ~num_bands × 16 B a document), so the corpus is never re-hashed;
    only (band, bucket) candidate joins and per-candidate text
    fetches run per batch.  Batch docs whose exact shingle-Jaccard
    against any earlier emission reaches ``fuzzy_threshold`` are
    dropped; the survivors' bands append to the index under the same
    per-``__batch_id`` idempotent-overwrite discipline as every other
    sink.  ``fuzzy_params`` tunes (shingle_k, num_perm, num_bands) —
    the index and batch sides always share the parameter set, which is
    what makes their buckets comparable.

    ``winnow_index_dir`` enables CROSS-batch RUN-OVERLAP screening
    (plagiarism/contamination, MOSS winnowing): each batch's survivors
    are checked against the persisted winnow fingerprint index of all
    earlier emissions (datapipe.text.corpus_winnow_index — distinct
    (id, fp) rows, ~2/(window+1) of the gram hashes per doc at 8 B
    each); a batch doc sharing >= ``winnow_min_shared`` fingerprints
    with ANY earlier emission is dropped
    (datapipe.text.winnow_dedup_against_corpus — one fp equi-join,
    the earlier corpora's TEXT is never read).  Survivors' fingerprints
    append to the index under the same per-``__batch_id``
    idempotent-overwrite discipline.  ``winnow_params`` tunes
    (k, window, fp_type, max_df); index and batch sides always share
    it.  PICK (k, window) with :func:`~vaex_spark.datapipe.text.
    suggest_winnow_params` from the detection contract (minimum run
    length that must surface, noise floor) — it also predicts index
    rows/bytes for capacity planning, probe-calibrated at 1M docs.
    Composes with the exact and fuzzy stages — each screens what
    the previous stages let through.

    ``vector_index_dir`` enables CROSS-batch EMBEDDING near-dup
    screening (incremental SemDeDup): the stream must carry ``vec_col``
    (raises at the first batch otherwise — a silent skip would look
    like a working screen); each batch's survivors are checked against
    the persisted packed vector index of all earlier emissions
    (datapipe.similarity.corpus_vector_index — one row per vector:
    n_tables LSH bucket ids + the pre-normalized vector), and batch
    docs with exact cosine >= ``vector_threshold`` against ANY earlier
    emission are dropped
    (datapipe.similarity.embedding_dedup_against_corpus — bucket-
    blocked candidates, vectors never shuffle).  Survivors' index rows
    append under the same per-``__batch_id`` idempotent-overwrite
    discipline.  ``vector_params`` tunes (bits, n_tables, seed, dim);
    index and batch sides always share it (build-only keys are
    key-filtered at the index write; screen-only keys like
    ``strategy`` reach only the screen).

    PICK (bits, n_tables) WITH :func:`~vaex_spark.datapipe.similarity.
    suggest_lsh_params` at your corpus size and threshold — the
    closed-form choice that meets a per-pair recall floor while
    minimizing candidates per batch doc.  The defaults (bits=6,
    n_tables=8) suit small tables; at millions of indexed vectors
    they flood the exact-cosine verify with ~n_tables·n/2^bits
    candidates per doc (the measured failure mode: a 50k-doc batch at
    too-low bits paid a multi-million-candidate interpreted verify).
    Never copy a recall-1 oracle parameter set (e.g. bits=2,
    n_tables=24) into production — n_tables >= 2^bits makes blocking
    a no-op.

    ``compact_every=K`` runs :func:`compact_index_dir` over every
    state dir (fingerprints, LSH, winnow, vector, sketch — and
    ``out_dir``) at the top of every K-th batch, BEFORE that batch's
    screens read the dirs — the small-file valve: without it a
    long-running stream accumulates one parquet partition per batch
    per index and every screen pays the per-file open cost for all of
    them.  Compaction never folds the newest batch partition
    (``keep_latest=1``), so checkpoint replays of the in-flight batch
    stay idempotent.
    """
    from ..datapipe import dedup as D, stamp

    # each screen's and builder's signature holds the defaults
    fuzzy_params, winnow_params, vector_params = (
        p or {} for p in (fuzzy_params, winnow_params, vector_params))

    def built(family, params):
        # a screen-only key (max_df, strategy, ...) is legal for the
        # screen but would TypeError the index build after the batch's
        # output emission, wedging the stream
        return {k_: v for k_, v in params.items()
                if k_ in stamp.BUILD_KEYS[family]}

    kw = dict(curate_kw)
    if kw.get("dedup", "exact") == "exact" and kw.get("pack_tokens") is None:
        # the exact screen below dedups the batch again with the same
        # min-id rule, and its anti-join drops whole fingerprint groups,
        # so curate's own pass would only add jobs, not change rows
        kw["dedup"] = None

    def do_batch(bdf, batch_id):
        from ..datapipe.curate import curate
        spark = bdf.sparkSession
        bid = int(batch_id)
        # every job of the batch carries its phase after the stream's
        # own description (query name, id, runId, batch)
        stream_desc = spark.sparkContext.getLocalProperty("spark.job.description")

        def phase(name):
            label = f"curate_stream batch {bid}: {name}"
            return _job_description(
                spark, f"{stream_desc}\n{label}" if stream_desc else label)

        def labelled(name, fn):
            with phase(name):
                return fn()

        def has_parts(d):
            # through _Fs, not os.path: file://, hdfs:// and s3a:// dirs
            # are real paths a local check can never see
            return any(e.startswith("__batch_id=")
                       for e in _Fs(spark, d).listdir())

        def prior(d):
            # strictly-earlier batches only: on replay this batch's own
            # rows may already be in the dir
            return spark.read.parquet(d).filter(F.col("__batch_id") < bid)

        def write(sdf, d):
            # dynamic overwrite per write, never via the session conf:
            # only this batch's partition is replaced, and other queries
            # on the session keep their own overwrite mode
            (sdf.withColumn("__batch_id", F.lit(bid))
             .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("__batch_id").parquet(d))

        if compact_every and bid > 0 and bid % int(compact_every) == 0:
            with phase("compact"):
                for d in (out_dir, state_dir, fuzzy_lsh_dir, winnow_index_dir,
                          vector_index_dir, sketch_dir):
                    # an empty listing means never-written, and
                    # compaction would be a no-op anyway
                    if d is not None and _Fs(spark, d).listdir():
                        compact_index_dir(spark, d)
        # each open infers the dir's schema (one job) and keeps the
        # parameter stamps the screens check, so open them together
        dirs = {k_: d for k_, d in (("state", state_dir), ("lsh", fuzzy_lsh_dir),
                                    ("winnow", winnow_index_dir),
                                    ("vector", vector_index_dir))
                if d is not None and has_parts(d)}
        if "lsh" in dirs:
            dirs["out"] = out_dir
        with phase("open"):
            priors = dict(zip(dirs, _concurrently(
                spark, [functools.partial(prior, d) for d in dirs.values()])))

        with phase("out"):
            fresh = curate(DataFrame(bdf), text_col=text_col, id_col=id_col, **kw)
            if "state" in priors:
                fresh = D.exact_dedup_incremental(
                    fresh, DataFrame(priors["state"]), text_col=text_col,
                    id_col=id_col)
            else:
                fresh = D.exact_dedup(fresh, text_col=text_col, id_col=id_col)
            if "lsh" in priors:
                fresh = D.near_dup_against_corpus(
                    fresh, DataFrame(priors["out"]), text_col=text_col,
                    id_col=id_col, threshold=float(fuzzy_threshold),
                    corpus_index=DataFrame(priors["lsh"]), **fuzzy_params)
            if winnow_index_dir is not None:
                from ..datapipe import text as T
                if "winnow" in priors:
                    fresh = T.winnow_dedup_against_corpus(
                        fresh, text_col=text_col, id_col=id_col,
                        min_shared=int(winnow_min_shared),
                        corpus_index=priors["winnow"], **winnow_params)
            if vector_index_dir is not None:
                from ..datapipe import similarity as SIM
                if vec_col not in fresh._spark_df().columns:
                    raise ValueError(
                        f"vector_index_dir= needs the stream to carry "
                        f"{vec_col!r}; columns: {fresh._spark_df().columns}")
                if "vector" in priors:
                    fresh = SIM.embedding_dedup_against_corpus(
                        fresh, vec_col=vec_col, id_col=id_col,
                        threshold=float(vector_threshold),
                        corpus_index=priors["vector"], **vector_params)
            fsdf = fresh._spark_df()
            write(fsdf, out_dir)
        # the derived sinks read back the partition just written instead
        # of re-running the screened plan once per sink; the explicit
        # schema skips the footer-inference job.  A batch that emitted
        # nothing has no partition, and neither do its derived sinks.
        part = f"__batch_id={bid}"
        if not _Fs(spark, out_dir).exists(part):
            return
        emitted = DataFrame(spark.read.schema(fsdf.schema)
                            .parquet(out_dir.rstrip("/") + "/" + part))
        # (phase, write) per derived sink; each write runs on its own
        # thread under its own phase label
        sinks = [("state", lambda: write(D.corpus_fingerprints(
            emitted, text_col=text_col)._spark_df(), state_dir))]
        if fuzzy_lsh_dir is not None:
            sinks.append(("lsh", lambda: write(D.corpus_lsh_index(
                emitted, text_col=text_col, id_col=id_col,
                **fuzzy_params)._spark_df(), fuzzy_lsh_dir)))
        if winnow_index_dir is not None:
            sinks.append(("winnow", lambda: write(T.corpus_winnow_index(
                emitted, text_col=text_col, id_col=id_col,
                **built("winnow", winnow_params))._spark_df(), winnow_index_dir)))
        if vector_index_dir is not None:
            sinks.append(("vector", lambda: write(SIM.corpus_vector_index(
                emitted, vec_col=vec_col, id_col=id_col,
                **built("vector", vector_params)), vector_index_dir)))
        if sketch_dir is not None:
            # per-batch HLL sketch of the EMITTED documents: a few-KB
            # mergeable state row per group, same idempotent-by-batch-id
            # discipline as the other sinks.  stream_cardinality() reads
            # + unions the whole dir for running per-group distinct
            # counts without rescanning any document batch.
            from ..datapipe.sketches import distinct_sketch
            sinks.append(("sketch", lambda: write(distinct_sketch(
                emitted, text_col, group_col=sketch_group)._spark_df(),
                sketch_dir)))
        _concurrently(spark, [functools.partial(labelled, name, fn)
                              for name, fn in sinks])

    return run_foreach_batch(stream_df, do_batch, checkpoint=checkpoint)


def stream_cardinality(spark, sketch_dir: str, sketch_group: str = "source"):
    """Running distinct-count per group over every batch curate_stream
    has emitted: merge the persisted per-batch HLL sketches (KBs of
    state, no document rescans)."""
    from ..datapipe.sketches import estimate_distinct, merge_sketch_tables
    sk = spark.read.parquet(sketch_dir).drop("__batch_id")
    merged = merge_sketch_tables(sk, group_col=sketch_group)
    return estimate_distinct(merged, group_col=sketch_group)


# ---------------------------------------------------------------------------
# state-dir compaction (the small-file valve for per-batch index partitions)
# ---------------------------------------------------------------------------
_TMP_DIR = "_compact_tmp"
_DONE_MARK = "_VS_COMPLETE"


class _Fs:
    """Minimal filesystem ops for compaction, via the Hadoop FileSystem
    API when the session exposes a JVM (works for file://, hdfs://,
    s3a:// alike — the 100-TB path), falling back to os/shutil for
    local paths on JVM-less sessions (Spark Connect)."""

    def __init__(self, spark, base: str):
        self.local = None
        try:
            jvm = spark._jvm
            self._Path = jvm.org.apache.hadoop.fs.Path
            self.base = self._Path(base)
            self.fs = self.base.getFileSystem(spark._jsc.hadoopConfiguration())
        except Exception:
            import os
            self.local = os
            self.base = base.removeprefix("file:")

    def _p(self, name):
        if self.local:
            return self.local.path.join(self.base, name)
        return self._Path(self.base, name)

    def listdir(self) -> list[str]:
        if self.local:
            return (self.local.listdir(self.base)
                    if self.local.path.isdir(self.base) else [])
        if not self.fs.exists(self.base):
            return []
        return [st.getPath().getName() for st in self.fs.listStatus(self.base)]

    def exists(self, name) -> bool:
        if self.local:
            return self.local.path.exists(self._p(name))
        return self.fs.exists(self._p(name))

    def delete(self, name) -> None:
        if self.local:
            import shutil
            p = self._p(name)
            if self.local.path.isdir(p):
                shutil.rmtree(p)
            elif self.local.path.exists(p):
                self.local.remove(p)
        else:
            self.fs.delete(self._p(name), True)

    def rename(self, src, dst) -> None:
        if self.local:
            self.local.rename(self._p(src), self._p(dst))
        else:
            if not self.fs.rename(self._p(src), self._p(dst)):
                raise IOError(f"rename {src} -> {dst} failed under {self.base}")

    def mkdir(self, name) -> None:
        if self.local:
            self.local.makedirs(self._p(name), exist_ok=True)
        else:
            self.fs.mkdirs(self._p(name))

    def size_of(self, name) -> int:
        if self.local:
            total = 0
            for root, _dirs, files in self.local.walk(self._p(name)):
                for f_ in files:
                    total += self.local.path.getsize(self.local.path.join(root, f_))
            return total
        return int(self.fs.getContentSummary(self._p(name)).getLength())

    def count_files(self, name) -> int:
        if self.local:
            n = 0
            for _root, _dirs, files in self.local.walk(self._p(name)):
                n += sum(1 for f_ in files if not f_.startswith(("_", ".")))
            return n
        return int(self.fs.getContentSummary(self._p(name)).getFileCount())


def _part_id(name: str):
    if name.startswith("__batch_id="):
        try:
            return int(name.split("=", 1)[1])
        except ValueError:
            return None
    return None


def compact_index_dir(spark, index_dir: str, keep_latest: int = 1,
                      target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """Fold per-batch ``__batch_id=N`` parquet partitions of a
    curate_stream state dir (fingerprints, LSH, winnow, vector, sketch
    — or ``out_dir`` itself) into ONE consolidated partition, sized at
    ~``target_file_bytes`` per file.

    At production batch cadence every index dir grows a partition per
    micro-batch — thousands of small files whose open/footer cost
    dominates every cross-batch screen (the classic small-file wall;
    each screen reads the WHOLE dir).  Compaction preserves screen
    semantics exactly:

    * the consolidated partition id is NEGATIVE (``-(high+2)`` where
      ``high`` is the largest batch id folded in — the id encodes its
      own watermark), so the screens' ``__batch_id < current``
      prior-filter keeps matching the consolidated rows;
    * the top ``keep_latest`` batch partitions are NEVER folded, so a
      checkpoint replay of the in-flight batch (the only batch
      Structured Streaming ever replays) still sees its own rows under
      its own id and keeps excluding them via ``< current`` — the
      replay-idempotency contract of curate_stream is untouched.
      ``keep_latest=0`` is for offline compaction of a STOPPED, fully
      committed stream only;
    * the indexes' parameter stamps (``datapipe/stamp.py``) ride in
      column metadata inside the parquet footers and survive the
      rewrite (pinned by test).

    Crash-safe without a manifest: the consolidated copy is fully
    written to an underscore-prefixed temp dir (invisible to Spark
    readers), installed with ONE rename, and only then are the folded
    sources (and the previous consolidated partition, whose rows were
    re-read into the new one) deleted.  The single-rename install is
    atomic on HDFS-like filesystems and the local FS; on object stores
    (s3a://) "rename" is a per-file copy+delete, so the install is not
    atomic there — the heal pass still converges a cut-short install
    (tmp is complete before any rename starts, and sources are deleted
    last), but prefer an HDFS-like store or run compaction only from
    the serialized ``compact_every=`` hook on object stores.  Every call starts by HEALING:
    a stale temp dir is dropped (its content, if any, was never
    installed — sources are still intact), and any partition at or
    below the newest consolidated partition's watermark is deleted
    (finishing a deletion phase a crash cut short, and sweeping stale
    replays of already-folded batch ids).  Run it where nothing reads
    the dir concurrently — e.g. curate_stream's ``compact_every=``
    hook, which calls it at the top of ``do_batch``.

    Returns stats: {compacted, batches_folded, files_before,
    files_after, watermark}.
    """
    if int(keep_latest) < 0:
        raise ValueError(
            f"keep_latest must be >= 0, got {keep_latest} — a negative "
            "value would silently fold the replayable in-flight batch "
            "(0 is the explicit offline-compaction opt-in)")
    fs = _Fs(spark, index_dir)
    if _TMP_DIR in fs.listdir():
        # a temp dir at entry was never installed (install is the very
        # next step after the write) — sources are intact, drop it
        fs.delete(_TMP_DIR)

    # -- heal: finish any interrupted deletion phase -----------------------
    entries = fs.listdir()
    neg = sorted(pid for pid in (_part_id(e) for e in entries)
                 if pid is not None and pid < 0)
    # a consolidated partition without the install-complete marker is a
    # PARTIAL install (only possible where "rename" is per-file
    # copy+delete, i.e. object stores): its sources were never deleted
    # (deletion happens after the marker), so the partial copy is the
    # disposable side — drop it and, crucially, do NOT honor its
    # watermark, which would delete sources an incomplete copy can't
    # replace
    swept_partial = False
    for pid in list(neg):
        part = f"__batch_id={pid}"
        if not fs.exists(f"{part}/{_DONE_MARK}"):
            fs.delete(part)
            neg.remove(pid)
            swept_partial = True
    if swept_partial:
        entries = fs.listdir()
    if neg:
        newest, watermark = neg[0], -neg[0] - 2
        for e in entries:
            pid = _part_id(e)
            if pid is not None and pid != newest and pid <= watermark:
                fs.delete(e)
        entries = fs.listdir()
    consolidated = [e for e in entries if (_part_id(e) or 0) < 0]

    # -- pick sources -------------------------------------------------------
    ids = sorted(pid for pid in (_part_id(e) for e in entries)
                 if pid is not None and pid >= 0)
    sources = ids[:-int(keep_latest)] if keep_latest > 0 else ids
    stats = {"compacted": False, "batches_folded": 0,
             "files_before": None, "files_after": None,
             "watermark": (-neg[0] - 2) if neg else None}
    if not sources or (len(sources) < 2 and not consolidated):
        return stats  # nothing worth rewriting
    high = sources[-1]
    new_part = f"__batch_id={-(high + 2)}"

    # -- rewrite --------------------------------------------------------------
    src_parts = [f"__batch_id={i}" for i in sources] + consolidated
    total_bytes = sum(fs.size_of(p) for p in src_parts)
    stats["files_before"] = sum(fs.count_files(p) for p in src_parts)
    # file count: total/target at scale, but never BELOW the core count
    # while files stay >= ~1MB — a consolidated file is one row group,
    # and a 2-file index turns the next screen's scan into a 2-task
    # straggler on a 32-core executor (measured: 4.3s -> 9.7s screen
    # after a 57MB index compacted to 2 files; parquet row groups are
    # the real split unit, the byte-range splits of a 1-row-group file
    # are empty).  At 100 TB total/target dominates and the floor is
    # inert.
    n_by_target = max(1, -(-total_bytes // max(int(target_file_bytes), 1)))
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        cores = 32
    floor = min(int(cores), max(1, total_bytes // (1 << 20)))
    n_out = max(n_by_target, floor)
    rows = (spark.read.parquet(index_dir)
            .filter(F.col("__batch_id") <= int(high))  # sources + old neg
            .drop("__batch_id"))
    tmp_path = index_dir.rstrip("/") + "/" + _TMP_DIR
    rows.repartition(int(n_out)).write.mode("overwrite").parquet(tmp_path)

    # -- install (one rename), then delete what it superseded ----------------
    fs.rename(_TMP_DIR, new_part)
    # install-complete marker (an underscore dir — invisible to Spark
    # readers): written only after the rename finished, checked by the
    # heal pass, deleted-sources only after it exists
    fs.mkdir(f"{new_part}/{_DONE_MARK}")
    for p in src_parts:
        fs.delete(p)
    stats.update(compacted=True, batches_folded=len(sources),
                 files_after=fs.count_files(new_part), watermark=high)
    return stats
