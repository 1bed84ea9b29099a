"""Spark job-count assertions (SURVEY §5: the reference asserts executor
pass counts; the Spark analogue is jobs per operation via the status
tracker's job-group API). These are performance-semantic regression nets:
an operator silently growing an extra full-scan job fails here."""

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def count_jobs(spark, bucket: list):
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count probe")
    try:
        yield
    finally:
        sc.setJobGroup(None, None)
    bucket.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture(scope="module")
def agg_job_cost(spark, lineitem):
    """Jobs per single-aggregate query on this Spark config. AQE
    materializes each shuffle stage as its own job, so the absolute
    number is config-dependent; all assertions below are relative to
    this calibrated cost."""
    lineitem.sum("l_quantity")  # warm codegen / scan caches
    n = []
    with count_jobs(spark, n):
        lineitem.sum("l_quantity")
    return n[0]


def test_delayed_stats_batch_into_one_query(spark, lineitem, agg_job_cost):
    """3 delayed stats + execute() must cost exactly what 1 stat costs
    (the reference's single-pass executor contract, SURVEY §4 #3)."""
    d1 = lineitem.sum("l_quantity", delay=True)
    d2 = lineitem.mean("l_extendedprice", delay=True)
    d3 = lineitem.count(delay=True)
    n = []
    with count_jobs(spark, n):
        lineitem.execute()
    assert n[0] == agg_job_cost
    assert d1.get() > 0 and d2.get() > 0 and d3.get() > 0


def test_binby_auto_limits_is_two_queries(spark, lineitem, agg_job_cost):
    """binby with limits=None = 1 batched min/max stats query + 1 grid
    query — regardless of the number of binby dimensions."""
    n = []
    with count_jobs(spark, n):
        grid = lineitem.count(binby=["l_quantity", "l_extendedprice"],
                              shape=8, limits=None)
    assert grid.shape == (8, 8)
    assert n[0] <= 2 * agg_job_cost


def test_explicit_limits_is_one_query(spark, lineitem, agg_job_cost):
    n = []
    with count_jobs(spark, n):
        lineitem.count(binby="l_quantity", shape=8, limits=[0.0, 50.0])
    assert n[0] <= agg_job_cost


def test_take_job_ceiling(spark, lineitem, agg_job_cost):
    """take()'s r14 bounds check costs ONE count job, memoized on the
    plan fingerprint — repeated takes on the same frame must not
    re-count, and the whole op (bounds + broadcast index join +
    collect) stays within a small multiple of one aggregate query."""
    lineitem.take([0, 1]).to_pandas_df()  # warm: populates _len_cache
    n = []
    with count_jobs(spark, n):
        out = lineitem.take([0, -1, 5, 5]).to_pandas_df()
    assert len(out) == 4
    # memoized len -> no count job.  The collect itself costs the
    # with_row_id offset probe + broadcasts + the position-order range
    # exchange, which AQE materializes as ~7 jobs on this config
    # (measured; the offset probe scans ReadSchema struct<> metadata
    # only).  The pin is the CEILING: a per-index job, a second
    # full-width scan, or a fresh count would push past it.
    assert n[0] <= 8, n[0]


def test_stat_module_tree_is_one_pass(spark, lineitem, agg_job_cost):
    """A whole vs.stat arithmetic tree resolves in ONE batched query:
    the leaves schedule on the delayed executor, calculate() runs a
    single execute()."""
    import vaex_spark as vs
    expr = vs.stat.mean("l_quantity") / vs.stat.sum("l_extendedprice") + vs.stat.count()
    expr.calculate(lineitem)  # warm
    n = []
    with count_jobs(spark, n):
        got = expr.calculate(lineitem)
    assert got > 0
    assert n[0] == agg_job_cost


# Calibrated at sf0.001 with AQE on (each shuffle stage = one job, plus
# broadcast-build jobs).  Ceilings = measured + 2: loose enough to ride
# AQE nondeterminism, tight enough that an operator silently growing an
# extra full-scan pass (or losing a broadcast to a shuffle) fails here.
HEADLINE_JOB_CEILING = {
    "q01_pricing_summary": 6,
    "q02_filter_project": 3,
    "q03_revenue_by_segment": 7,
    "q05_revenue_by_nation": 9,
    "q06_forecast_revenue": 4,
    "q07_orders_by_month": 6,
    "q10_window_diff": 2,
    "q11_rolling_avg": 4,
    "q18_histogram": 4,
    "q22_quantile": 4,
    "q26_dedup_exact": 7,
    "q27_token_stats": 4,
    "q31_cosine_pairs": 4,
    "q35_minhash_near_dups": 19,
    "q66_semantic_dedup": 3,
    "q67_duplicated_spans": 8,
    "q77_bloom_incremental_dedup": 7,  # r6: stats-sized bloom (no count job) + crossover anti-join
    "q78_domain_caps": 3,
    "q79_dedup_keep_best": 4,
    "q80_stratified_sample": 5,
    "q81_text_cleanup": 2,
    "q82_cube_orders": 5,
    "q83_trailing_time_window": 3,
    "q84_sessionization": 5,
    "q85_cheapest_supplier_per_part": 3,
    "q86_top_trigrams_per_source": 5,
    "q87_quality_deciles": 6,
    "q88_interval_overlap": 6,  # r8: max_explode=None drops the 2 empty-tail broadcasts
    "q89_vocabulary": 6,
    "q90_oov_rate": 10,
    "q91_corpus_profile": 5,
    "q93_group_delta_min": 3,
    "q94_salted_priority_count": 6,
    "q95_kmeans_assign": 5,
    "q96_winnow_overlap": 7,  # grouped pair-gen: scan+2 exchanges (r8)
    "q97_winnow_overlap_hash": 7,  # same shape, hash fingerprints
    # corpus-index grouping + batch fp join (AQE broadcast) + pair agg
    # (r9 re-measured: 8 jobs — the 9 is measured + 1, not slack)
    "q98_winnow_against_corpus": 9,
    # production shape: parquet-index scan (no index groupBy) + batch
    # fingerprint + AQE broadcast decision + pair agg; measured 7
    "q99_winnow_screen_indexed": 8,
    # packed-vector screen, dense strategy (auto at q100's recall-1
    # params): bounded batch collect (doubles as dim probe) + in-plan
    # index derivation + dense scan + orderBy sample (r10 measured 5:
    # the index param stamp supplies dim, dropping the bounded
    # index-dim probe job r9 paid)
    "q100_embedding_against_corpus": 6,
    # production twin: persisted packed index, dense screen only
    # (r10 measured 5, same one-job saving from the param stamp)
    "q102_vector_screen_indexed": 6,
    # persisted-IVF repeated-query path: bounded centroid collect +
    # query dispatch probe + ranking; NO training sample job, NO
    # assignment scan (r9 measured 6, steady state with index present)
    "q101_ivf_indexed_topk": 7,
    # ANN family (round-7 Arrow strategies must not add scans/jobs):
    # q33 = query collect + ranking (expr path at q×d<=256); q34 = dim
    # probe + bucket join; q44 = dim probe + persisted bucket relation
    # + verify joins
    "q33_topk_ann": 4,
    "q34_lsh_topk": 5,
    # r9 dense crossover: bounded corpus collect + one scan (was 7
    # blocked: persisted bucket relation + self-join + verify joins)
    "q44_embedding_near_dups": 3,
}


def test_headline_query_job_counts_do_not_regress(spark):
    """Every bench headline query must stay within its calibrated job
    budget — the per-query scheduling floor is the dominant small-SF
    cost, and each extra job is usually an accidental extra scan,
    un-reused exchange, or lost broadcast."""
    import bench
    import __spark_entry__ as e
    import vaex_spark as vs
    qs = e.queries()
    over = {}
    # every query with a calibrated ceiling — the bench headline set
    # plus the extended operators (ceilings = measured + 1 headroom)
    for name in HEADLINE_JOB_CEILING:
        qs[name](spark, "/root/testdata/sf0.001").toPandas()  # warm
        spark.catalog.clearCache()
        vs.cache.release_operator_caches()
        n = []
        with count_jobs(spark, n):
            qs[name](spark, "/root/testdata/sf0.001").toPandas()
        if n[0] > HEADLINE_JOB_CEILING[name]:
            over[name] = (n[0], HEADLINE_JOB_CEILING[name])
    assert not over, f"job-count regressions (got, ceiling): {over}"


def test_compact_index_dir_job_ceiling(spark, tmp_path):
    """compact_index_dir is ONE read->repartition->write job plus
    driver-side filesystem metadata — no per-partition jobs, no
    count()s of the sources (sizing comes from filesystem stats).
    Ceiling 3 = measured (1 write job; AQE can add a stage job) + 1."""
    d = str(tmp_path / "idx")
    for b in range(6):
        (spark.range(b * 100, b * 100 + 100)
         .select(F.col("id").alias("k"), F.lit(b).alias("__batch_id"))
         .repartition(2)
         .write.mode("append").partitionBy("__batch_id").parquet(d))
    from vaex_spark.streaming import compact_index_dir
    n = []
    with count_jobs(spark, n):
        stats = compact_index_dir(spark, d, keep_latest=1)
    assert stats["compacted"] and stats["batches_folded"] == 5
    assert n[0] <= 3, n[0]


def test_connected_components_one_action_per_round(spark):
    """r15: each CC round runs ONE action — the convergence count's
    full scan materializes the lazy localCheckpoint in the same job
    (the eager=True form paid a materialization job AND a separate
    limit(1).count() job per round, 5 jobs/round measured vs 4 now).
    Pinned as the per-round job delta between two path graphs whose
    round counts are deterministic under shortcut=False (a path of n
    nodes converges in n-1 propagation rounds + 1 detection round):
    4 = 3 AQE stage jobs for the union+groupBy agg + the fused
    materialize-and-count.  The ceiling sits half a job above 4, so a
    revert to 5 jobs a round still fails."""
    from vaex_spark.datapipe import dedup

    def cc_jobs(n_nodes):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n_nodes - 1)], "id_a long, id_b long")
        dedup.connected_components(pairs, shortcut=False).count()  # warm
        n = []
        with count_jobs(spark, n):
            dedup.connected_components(pairs, shortcut=False).count()
        return n[0]

    j8, j16 = cc_jobs(8), cc_jobs(16)
    per_round = (j16 - j8) / 8.0
    assert per_round <= 4.5, (j8, j16, per_round)


# curate_stream incremental batch (fuzzy_lsh_dir + sketch_dir): jobs of
# the out write, of each derived sink's write and of the whole batch.
# Measured + 1; the derived sinks are built from the read-back out
# partition, so a revert to writing them from the screened plan (16-28
# jobs a sink) fails, and the near-dup screen builds its candidate
# pairs and batch band table once, so a revert to feeding the pairs to
# two semi-join probes beside the pair join (out 18) fails.
# Measured at local[4]: out 11, state 2, lsh 1, sketch 2, batch 20 (27
# while the candidate pairs ran three times and the band table twice;
# 34 while the near-dup screen persisted its band and candidate
# relations and the exact screen anti-joined fingerprints and
# semi-joined back by id).
STREAM_SINK_JOB_CEILING = {"out": 12, "state": 3, "lsh": 2, "sketch": 3}
STREAM_BATCH_JOB_CEILING = 21


def test_curate_stream_batch_job_ceiling(spark, tmp_path, monkeypatch):
    """Each sink write runs under its own job group, set inside the
    writer on the thread that runs the write: the derived sinks write
    concurrently, so a global job-counter delta would count the other
    sinks' jobs too.  The batch total is a ``numTotalJobs`` delta over
    the whole stream run."""
    import pandas as pd
    from pyspark.sql.readwriter import DataFrameWriter
    from vaex_spark import streaming as st

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    groups: dict = {}
    orig = DataFrameWriter.parquet
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")

    def parquet(self, path, *a, **kw):
        d = path.rstrip("/").rsplit("/", 1)[-1]
        group = f"sink-{d}-{uuid.uuid4().hex[:8]}"
        groups.setdefault(d, []).append(group)
        saved = {k: sc.getLocalProperty(k) for k in keys}
        sc.setJobGroup(group, f"{d} sink write")
        try:
            return orig(self, path, *a, **kw)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    texts = ["the quick brown fox jumps over the lazy dog again and again "
             "for testing purposes in document number %d" % i for i in range(12)]
    texts += ["completely different content about distributed engines and "
              "columnar formats variant %d with extra words" % i for i in range(8)]
    src = tmp_path / "src"
    src.mkdir()
    common = {d: str(tmp_path / n) for d, n in (
        ("out_dir", "out"), ("state_dir", "state"),
        ("fuzzy_lsh_dir", "lsh"), ("sketch_dir", "sketch"))}
    common.update(checkpoint=str(tmp_path / "ckpt"), min_quality=None,
                  repetition_filter=False)
    pd.DataFrame({"doc_id": range(12), "text": texts[:12], "source": "s"}
                 ).to_parquet(src / "b0.parquet")
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    pd.DataFrame({"doc_id": range(100, 110), "source": "s",
                  "text": [texts[0].upper(), texts[1].replace("lazy", "sleepy")]
                  + texts[12:20]}).to_parquet(src / "b1.parquet")
    groups.clear()
    j0 = dag.numTotalJobs()
    st.curate_stream(st.open_stream(str(src), spark=spark), **common)
    total = dag.numTotalJobs() - j0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    sinks = {d: sum(len(tracker.getJobIdsForGroup(g)) for g in gs)
             for d, gs in groups.items()}
    assert spark.read.parquet(common["out_dir"]).count() == 20
    over = {d: (sinks.get(d), c) for d, c in STREAM_SINK_JOB_CEILING.items()
            if not 0 < sinks.get(d, 0) <= c}
    assert not over, f"sink write jobs (got, ceiling): {over}"
    assert total <= STREAM_BATCH_JOB_CEILING, (total, sinks)
