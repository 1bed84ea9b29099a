"""Physical-plan audits: filters and projections must reach the parquet
scan (PushedFilters / ReadSchema), small dims must broadcast, and no
query may fall back to a cartesian product.  These guard exactly the
properties that decide 100 TB behavior but are invisible at test scale."""

import re

import pytest


def _plan(sdf) -> str:
    return sdf._sc._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark):
    import vaex_spark as vs
    df = vs.open("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    flt = df[df.l_quantity > 45.0]
    plan = _plan(flt[["l_orderkey"]]._spark_df())
    assert "PushedFilters" in plan
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_quantity" in m.group(1), plan


def test_column_pruning_reaches_scan(spark):
    import vaex_spark as vs
    df = vs.open("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    two = df[["l_orderkey", "l_quantity"]]
    plan = _plan(two._spark_df())
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_orderkey", "l_quantity"}, read_cols


def test_virtual_column_only_reads_inputs(spark):
    """A virtual column's scan must read only the columns it uses."""
    import vaex_spark as vs
    df = vs.open("/root/testdata/sf0.001/lineitem.parquet", spark=spark)
    df["rev"] = df.l_extendedprice * (1 - df.l_discount)
    plan = _plan(df[["rev"]]._spark_df())
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_extendedprice", "l_discount"}, read_cols


def test_dim_join_broadcasts(spark):
    import vaex_spark as vs
    orders = vs.open("/root/testdata/sf0.001/orders.parquet", spark=spark)
    cust = vs.open("/root/testdata/sf0.001/customer.parquet", spark=spark)
    j = orders.join(cust, left_on="o_custkey", right_on="c_custkey",
                    how="inner", allow_duplication=True)
    plan = _plan(j._spark_df())
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_headline_queries_have_no_cartesian(spark):
    """Every declared query plans without CartesianProduct (the q33
    brute-force top-k crossJoin is query-side-bounded and broadcast,
    which Spark plans as BroadcastNestedLoopJoin, not a cartesian)."""
    import __spark_entry__ as entry
    sf = "/root/testdata/sf0.001"
    for name, fn in entry.queries().items():
        sdf = fn(spark, sf)
        from vaex_spark.dataframe import DataFrame
        if isinstance(sdf, DataFrame):
            sdf = sdf._spark_df()
        plan = _plan(sdf)
        assert "CartesianProduct" not in plan, name


def test_contamination_broadcasts_probes(spark):
    """The corpus side must NOT shuffle: probe shingles broadcast, so
    the join happens map-side."""
    import __spark_entry__ as e
    sdf = e.queries()["q50_contamination"](spark, "/root/testdata/sf0.001")
    plan = _plan(sdf)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_asof_join_has_no_pair_join(spark):
    """The as-of plan is union + window — no join of left against right
    candidates (that shape explodes at scale)."""
    import __spark_entry__ as e
    sdf = e.queries()["q48_asof_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(sdf)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Union" in plan and "Window" in plan, plan


def test_range_join_is_hash_not_nested_loop(spark):
    """Bucketized rewrite must produce an equi hash/sort-merge join, not
    BroadcastNestedLoopJoin."""
    import __spark_entry__ as e
    sdf = e.queries()["q49_range_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(sdf)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_sequences_no_global_sort_window(spark, capsys):
    """Chunk packing must not funnel rows into a single-task global
    window (the cumsum runs per range partition + tiny offset join)."""
    import io
    import logging
    import __spark_entry__ as e
    sdf = e.queries()["q52_pack_sequences"](spark, "/root/testdata/sf0.001")
    plan = _plan(sdf)
    # the only empty-partition-spec windows allowed are over the
    # metadata-sized offsets frame (guarded by bounded_window's rand key)
    import re as _re
    bad = [ln for ln in plan.splitlines()
           if "Window" in ln and "_pid" not in ln and "rand" not in ln]
    # window lines must be partitioned by _pid or the bounded-window key
    assert not any("partitionBy=[]" in ln for ln in bad), plan


def test_near_dup_involved_semijoin_adapts_both_ways(spark):
    """near_dup_pairs must NOT force-broadcast the involved-id set: AQE
    broadcasts it when the runtime size fits, and the same plan degrades
    to a shuffle join when broadcasting is disabled (the 100 TB
    high-dup-rate case, where the id set is tens of GB)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import near_dup_pairs
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)

    def final_plan():
        # drop persisted subtrees from prior runs: a cache hit would
        # splice in the previous run's stored physical plan (broadcasts
        # and all), masking what THIS conf actually plans
        spark.catalog.clearCache()
        sdf = near_dup_pairs(docs, text_col="text", id_col="doc_id",
                             threshold=0.5)
        sdf.collect()  # AQE finalizes join strategies at runtime
        return sdf._jdf.queryExecution().executedPlan().toString()

    plan = final_plan()
    assert "BroadcastHashJoin" in plan, plan  # AQE picked broadcast
    conf = spark.conf
    saved = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
             conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None))
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plan = final_plan()
        # nothing forces a broadcast once Spark's size checks say no
        semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semi and all("Broadcast" not in ln for ln in semi), plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved[0])
        if saved[1] is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved[1])


def test_spread_no_rdd_probe():
    """_spread must not probe partition counts via plan->RDD conversion
    (driver-side planning cost per call at scale); the small-input check
    reads catalog size stats instead."""
    import inspect
    from vaex_spark.datapipe import dedup
    src = inspect.getsource(dedup._spread)
    assert ".rdd" not in src
    assert "getNumPartitions" not in src


def test_headline_queries_no_data_single_partition(spark):
    """Sweep every bench headline query: an Exchange SinglePartition may
    only sit above pre-reduced input (partial HashAggregate) or the
    metadata-sized frames (__rpid pid maps, bounded-window rand keys) —
    never over raw data rows.  Guards the global-window rewrite and any
    future operator that would silently funnel the table through one
    task."""
    import bench
    import __spark_entry__ as e
    qs = e.queries()
    for name in bench.HEADLINE:
        sdf = qs[name](spark, "/root/testdata/sf0.001")
        plan = _plan(sdf)
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            if "REPARTITION_BY_NUM" in ln:
                # stats-bounded explicit-N range exchange: one partition
                # is correct while the catalog says the input fits one
                # advisory-sized partition (count grows with the data)
                continue
            below = "\n".join(lines[i + 1:i + 4])
            assert re.search(r"HashAggregate|SortAggregate|__rpid|__pcnt|rand\(",
                             below), f"{name}: data-sized SinglePartition\n{plan}"


def test_partition_sensitive_queries_invariant_under_tiny_partitions(spark):
    """Adversarial configuration sweep: the queries whose plans involve
    range exchanges, mono-id row tagging, self-joins, or per-partition
    state must give identical results when partitioning is forced MULTI
    (tiny advisory size, odd shuffle partition count).  This is the
    configuration that exposed the window donor-misalignment bug; AQE's
    small-scale coalescing must never be what makes a result correct."""
    import duckdb
    import sys
    sys.path.insert(0, "/root/repo/tools")
    import __spark_entry__ as entry
    from check_oracle import TABLES, normalize
    sensitive = ["q10_window_diff", "q25_shift", "q35_minhash_near_dups",
                 "q48_asof_join", "q49_range_join", "q52_pack_sequences",
                 "q59_boilerplate_lines", "q60_incremental_dedup",
                 # round 4: cluster self-join + shared persisted
                 # assignment / explode / counted relations
                 "q66_semantic_dedup", "q67_duplicated_spans",
                 "q69_bigram_pmi", "q70_strip_dup_spans",
                 # round 4b: scalar-broadcast thresholds over persisted
                 # aggs (q73/q74), decimal-accumulated divergence (q75),
                 # grouping-set nulls (q76)
                 "q73_supplier_share", "q74_quarter_top_supplier",
                 "q75_source_drift", "q76_rollup_revenue",
                 # round 5: persisted token-count relation read twice
                 # (vocab total + top-N), decimal means + exact
                 # percentiles per group
                 "q89_vocabulary", "q91_corpus_profile",
                 # round 7: the max_df cap's fp-partitioned count
                 # window feeding a persisted self-join relation
                 "q96_winnow_overlap",
                 # round 9: the against-corpus screens — grouped index
                 # derivation feeding a batch join (q98), the same
                 # screen over a persisted parquet index (q99), and the
                 # packed-vector screen whose persisted batch relation
                 # feeds blocking AND verify (q100)
                 "q98_winnow_against_corpus", "q99_winnow_screen_indexed",
                 "q100_embedding_against_corpus", "q101_ivf_indexed_topk",
                 "q102_vector_screen_indexed"]
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        for name in sensitive:
            got = normalize(qs[name](spark, sf).toPandas())
            exp = normalize(con.execute(oracles[name]).df())
            assert got.equals(exp), f"{name} not partition-invariant"
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_semantic_dedup_single_pass_no_cartesian(spark):
    """semantic_dedup: one corpus scan -> vectorized Arrow assignment
    (a Series->Series pandas_udf: ArrowEvalPython returns ONLY the
    int32 cluster id, the vector column never crosses back — r14) ->
    ONE exchange keyed on cluster -> per-cluster matmul
    (applyInPandas).  Never a cartesian product, never a corpus-level
    pair join, no second scan."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import semantic_dedup
    emb = vs.open("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    sdf = semantic_dedup(emb, n_clusters=4, threshold=0.42)
    plan = _plan(sdf)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan and "ArrowEvalPython" in plan, plan
    # the assignment hop must not ship the vector back out of Python:
    # a mapInPandas form would reappear as MapInPandas in the plan
    assert "MapInPandas" not in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # exactly one data exchange: the hash partition on cluster id
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(cluster" in plan, plan


def test_semantic_dedup_exchange_carries_input_width(spark):
    """r14 opt: the cluster exchange ships the INPUT-width vector
    (__raw, array<float> for a float parquet corpus — 4 bytes/coord),
    not a float64 unit-vector copy; the unit form is re-derived inside
    the per-cluster pass (bit-identical, pinned by the property test)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.similarity import semantic_dedup
    emb = vs.open("/root/testdata/sf0.001/embeddings.parquet", spark=spark)
    sdf = semantic_dedup(emb, n_clusters=4, threshold=0.42)
    plan = _plan(sdf)
    assert "__raw" in plan, plan
    assert "__u" not in plan.replace("__raw", ""), plan
    schema = dict(sdf.sparkSession.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").dtypes)
    assert schema["embedding"] == "array<float>"  # fixture precondition


def test_duplicated_spans_narrow_persist_reused(spark):
    """duplicated_spans: the exploded relation is (id, hash) ONLY —
    span text never shuffles — and is persisted so the dup-hash filter
    and per-doc recount share one tokenize+hash pass."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import duplicated_spans
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    sdf = duplicated_spans(docs, width=10).spark
    plan = _plan(sdf)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the persisted relation's schema is the narrow (doc_id, hash) pair
    m = re.search(r"\(\d+\) InMemoryTableScan\nOutput \[\d+\]: \[([^\]]*)\]", plan)
    assert m and "text" not in m.group(1) and "__h" in m.group(1), plan


def test_chunk_documents_no_shuffle(spark):
    """chunk_documents is a pure scan->generate pipeline: no Exchange
    anywhere (chunking 100 TB must not shuffle the corpus)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.text import chunk_documents
    docs = vs.open("/root/testdata/sf0.001/documents.parquet", spark=spark)
    plan = _plan(chunk_documents(docs).spark)
    assert "Exchange" not in plan, plan


def test_jaccard_verify_union_only_and_size_prune(spark):
    """r15 verify-stage shape (fe08fb4), pinned so it can't silently
    revert: every LSH/blocking verify computes exact Jaccard from the
    UNION size alone (|A∩B| = |A|+|B|−|A∪B| on distinct arrays — no
    array_intersect anywhere in the plan), and the loose-blocking
    simhash path (q36, where the size prune keeps only 19% of pairs)
    prunes candidates on the (id, |set|) size-ratio condition through
    narrow joins BEFORE any array-carrying join.  q35's recall-1
    minhash banding keeps the plain two-join verify on purpose — its
    candidates ≈ the answer, so a structural prune would add stages to
    drop ~nothing (dedup.py:near_dup_pairs)."""
    import __spark_entry__ as e
    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("q35_minhash_near_dups", "q36_simhash_near_dups",
                 "q61_fuzzy_incremental_dedup"):
        plan = _plan(qs[name](spark, sf))
        assert "array_intersect" not in plan, name
        assert "array_union" in plan, name
    # narrow prune-join sliver: an output of exactly (id, __n) — the
    # size column travels without the shingle array
    plan36 = _plan(qs["q36_simhash_near_dups"](spark, sf))
    assert re.search(r"Output \[2\]: \[doc_id#\d+L?, __n#\d+\]", plan36), plan36


def test_q35_involved_ids_via_explode_not_union(spark):
    """r14 shape (VERDICT_r14 #2 evidence debt): the survivor tail
    derives involved ids with explode(array(id_a, id_b)) — one
    generate — not union + distinct."""
    import __spark_entry__ as e
    plan = _plan(e.queries()["q35_minhash_near_dups"](
        spark, "/root/testdata/sf0.001"))
    assert "explode(array(id_a" in plan, plan


def test_q50_grams_via_element_at_not_slice_join(spark):
    """r14 shape: contamination's k-gram generator builds grams with
    let-bound element_at references (transform(sequence(0, greatest(...
    window), not per-position array_join(slice(...)) allocations.  The
    probe-span extraction legitimately uses array_join(slice(...)) on
    ONE 20-word row — the gram path must not."""
    import __spark_entry__ as e
    plan = _plan(e.queries()["q50_contamination"](
        spark, "/root/testdata/sf0.001"))
    assert "transform(sequence(0, greatest(" in plan, plan


def test_curate_pack_carries_columns_no_rejoin(spark):
    """r15 carry-columns pack (VERDICT_r14 #3): curate's packing tail
    rides the range exchange with the document columns instead of
    joining bins back on id — the join form computed the whole
    upstream pipeline twice (25 parquet scans at any SF vs 15 here)."""
    import __spark_entry__ as e
    plan = _plan(e.queries()["q56_curation_pipeline"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") < 20, plan.count("Scan parquet")


def test_sample_replace_no_global_sort(spark):
    """Weighted with-replacement sampling aggregates per draw via
    max_by (map-side partial) — no global Sort, no window over a
    single partition."""
    import vaex_spark as vs
    df = vs.open("/root/testdata/sf0.001/events.parquet", spark=spark)
    out = df.sample(n=5, weights="value", replace=True)
    plan = _plan(out._spark_df())
    assert "Sort [" not in plan or "SinglePartition" not in plan, plan
    assert "max_by" in plan, plan


# --------------------------------------------------------------------------
# executed-plan markers of representative queries at sf0.01: each entry
# is (the property the plan must show, regexes; a leading "!" marks a
# must-NOT-match pattern).  Read from the physical plan's toString,
# where an operator and its arguments share one line.
# --------------------------------------------------------------------------
_SF01 = "/root/testdata/sf0.01"

_PLAN_MARKERS = {
    # projection + filter reach the parquet scan
    "q02_filter_project": [r"PushedFilters: \[.*IsNotNull", r"\*\(\d+\) Filter"],
    # every dimension join of the 3-way chain broadcasts
    "q05_revenue_by_nation": [r"BroadcastHashJoin"],
    "q10_window_diff": [r"Window"],
    # positional window: pid from the contiguous row id — no range
    # exchange, persist-free; the one-partition fast path (constant _w1
    # spec) at this size, the __ptag exchange above it
    "q110_positional_window": [r"Window", r"!rangepartitioning",
                               r"!InMemoryTableScan",
                               r"__ptag|windowspecdefinition\(_w1"],
    # take(): positions broadcast against the row-id frame, a
    # metadata-only offset probe, one range exchange to restore order
    "q111_take_fancy": [r"BroadcastHashJoin", r"ReadSchema: struct<>",
                        r"rangepartitioning\(__take_pos",
                        r"!CartesianProduct"],
    # DATE moments: one aggregate pair summing decimal(38,0) epoch-µs
    # (an int64 sum wraps at ~5,400 rows), no Window, no Python stage
    "q112_date_stats": [r"HashAggregate", r"decimal\(38,0\)", r"!Window",
                        r"!BatchEvalPython"],
    # diff(ts) -> interval -> groupby: the aggregate rides the keyed
    # diff's event_type partitioning; interval conversion stays in JVM
    "q113_interval_gap_stats": [r"Window", r"HashAggregate",
                                r"Exchange hashpartitioning\(event_type",
                                r"!BatchEvalPython", r"!ArrowEvalPython"],
    "q26_dedup_exact": [r"HashAggregate"],
    # the narrow band relation is persisted: one signature pass
    "q35_minhash_near_dups": [r"InMemoryTableScan"],
    # shipped crossover at corpus≈2×batch: plain anti-join, no Arrow
    # membership stage
    "q77_bloom_incremental_dedup": [r"LeftAnti", r"!ArrowEvalPython"],
    # bloom path forced: corpus fingerprints only probe broadcast joins,
    # membership scan is Arrow, corpus never exchanged
    "q77_bloom_forced": [r"BroadcastHashJoin.*LeftSemi",
                         r"BroadcastHashJoin.*LeftAnti",
                         r"ArrowEvalPython", r"!SortMergeJoin"],
    # per-domain caps pre-truncate each map task's groups
    "q78_domain_caps": [r"WindowGroupLimit"],
    # small-frame stratified sample: per-group rank, counts broadcast
    "q80_stratified_sample": [r"BroadcastHashJoin", r"row_number"],
    # interval overlap opted out of skew routing: one bucket join, no
    # broadcast tails, no Union
    "q88_interval_overlap": [
        r"(Exchange hashpartitioning.*__bk|BroadcastHashJoin \[__bk)",
        r"!BroadcastNestedLoopJoin", r"!Union"],
    # vocabulary top-N via map-side top-N + driver merge
    "q89_vocabulary": [r"TakeOrderedAndProject"],
    # GroupBy.apply(engine='arrow'): one grouped Arrow map stage
    "q93_group_delta_min": [r"(FlatMapGroupsInArrow|ArrowGroupMap)"],
    # salted two-phase count
    "q94_salted_priority_count": [r"HashAggregate"],
    # zero-exchange winnow selection: row-level Column, no window/sort,
    # self-join, persist or Python
    "q96_winnow_overlap": [r"Generate explode", r"collect_list",
                           r"!InMemoryTableScan", r"!Window",
                           r"!SortMergeJoin", r"!MapInPandas"],
    # pre-grouped parquet index: no query-time groupBy, window or text
    # scan of the corpus
    "q99_winnow_screen_indexed": [r"vaex_spark_widx", r"Generate",
                                  r"!Window", r"!MapInPandas",
                                  r"!CartesianProduct"],
    # auto resolves DENSE at n_tables >= 2^bits: one BLAS pass, no
    # bucket explode, no candidate join, no pair product
    "q100_embedding_against_corpus": [
        r"MapInPandas", r"!Generate posexplode", r"!CartesianProduct",
        r"!BroadcastNestedLoop", r"!SortMergeJoin"],
    # forced blocked: bucket arrays exploded, persisted batch packing
    # feeds blocking and verify
    "q100_blocked_form": [r"Generate posexplode", r"InMemoryTableScan",
                          r"!CartesianProduct", r"!BroadcastNestedLoop"],
    "q44_embedding_near_dups": [r"MapInPandas", r"!InMemoryTableScan",
                                r"!CartesianProduct",
                                r"!BroadcastNestedLoop", r"!SortMergeJoin"],
    # forced blocked: the narrow hyperplane relation is persisted so
    # both self-join sides share one projection pass
    "q44_blocked_form": [r"InMemoryTableScan", r"!CartesianProduct",
                         r"!BroadcastNestedLoop"],
    # a >1024-value isin as a virtual column: a broadcast flag join,
    # never a per-row array-literal scan
    "isin_large_flag": [r"BroadcastHashJoin .*LeftOuter",
                        r"!CartesianProduct", r"!array_contains"],
}


def _bloom_forced(spark, sf_dir):
    """q77 with the crossover bypassed (the corpus>>batch regime)."""
    import vaex_spark as vs
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           exact_dedup_incremental)
    docs = vs.open(f"{sf_dir}/documents.parquet", spark=spark)
    seen = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    bloom = build_fingerprint_bloom(seen, fpp=0.01)
    return exact_dedup_incremental(batch, seen, bloom=bloom,
                                   bloom_min_corpus_ratio=0)


def _q100_blocked(spark, sf_dir):
    from vaex_spark.datapipe import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = similarity.corpus_vector_index(
        emb.filter(emb.vec_id % 5 != 0), bits=2, n_tables=24)
    return similarity.near_dup_embeddings_against_corpus(
        emb.filter(emb.vec_id % 5 == 0), corpus_index=idx, threshold=0.42,
        bits=2, n_tables=24, round_to=6, strategy="blocked")


def _q44_blocked(spark, sf_dir):
    from vaex_spark.datapipe import similarity
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dups(
        emb, threshold=0.42, bits=2, n_tables=24, round_to=6,
        strategy="blocked")


def _isin_large_flag(spark, sf_dir):
    import vaex_spark as vs
    df = vs.open(f"{sf_dir}/orders.parquet", spark=spark)
    df["is_hot"] = df.o_custkey.isin(list(range(1, 4001, 2)))
    return df[["o_orderkey", "is_hot"]]


_EXTRA_BUILDERS = {"q77_bloom_forced": _bloom_forced,
                   "q100_blocked_form": _q100_blocked,
                   "q44_blocked_form": _q44_blocked,
                   "isin_large_flag": _isin_large_flag}


@pytest.mark.parametrize("name", list(_PLAN_MARKERS))
def test_plan_markers(spark, name):
    import vaex_spark as vs
    import __spark_entry__ as entry
    from vaex_spark.dataframe import _sdf
    build = _EXTRA_BUILDERS.get(name) or entry.queries()[name]
    try:
        plan = _sdf(build(spark, _SF01))._jdf.queryExecution() \
            .executedPlan().toString()
        missing = [p for p in _PLAN_MARKERS[name]
                   if bool(re.search(p.lstrip("!"), plan)) == p.startswith("!")]
        assert not missing, f"{name}: {missing}\n{plan}"
    finally:
        vs.cache.release_operator_caches()
