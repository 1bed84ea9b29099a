"""Benchmark runner (driver contract).

Runs the headline queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed as plan-build + full execution to a driver-side
count, $SPARK_GRAFT_BENCH_RUNS times (default 5), and the MEDIAN is
reported — single-shot numbers at these sizes are dominated by
scheduler jitter.  A same-machine DuckDB yardstick (identical oracle
SQL on identical files, same median-of-N protocol) rides in the same
JSON under "duckdb" with the spark/duckdb ratio, so the comparison
never depends on pairing two separately-run artifacts.  Timing
excludes SparkSession startup (measured once, reported inside the
JSON as "startup_sec" for context).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",   # scan + groupby + 8 aggs
    "q02_filter_project",    # pushdown scan
    "q03_revenue_by_segment",  # broadcast join + agg
    "q05_revenue_by_nation",   # 3-way join chain
    "q06_forecast_revenue",    # tight scan-filter-agg
    "q07_orders_by_month",     # time binning
    "q10_window_diff",         # global window
    "q11_rolling_avg",         # partitioned rolling window
    "q18_histogram",           # binby grid
    "q22_quantile",            # exact percentiles
    "q26_dedup_exact",         # exact dedup pipeline
    "q27_token_stats",         # text token counting
    "q31_cosine_pairs",        # embedding similarity
    "q35_minhash_near_dups",   # MinHash LSH + Jaccard
    "q66_semantic_dedup",      # centroid blocking + in-cluster cosine
    "q67_duplicated_spans",    # token-window substring dedup stats
]

# New-operator queries measured the same way but reported OUTSIDE the
# headline total: their sf0.1 inputs are small enough that the numbers
# mostly measure Spark's fixed per-job floor, which would distort the
# round-over-round headline trend while adding no plan information.
EXTENDED = [
    "q77_bloom_incremental_dedup",  # stats-sized bloom + crossover heuristic
    "q78_domain_caps",         # WindowGroupLimit per-domain caps
    "q79_dedup_keep_best",     # quality-aware dedup survivors
    "q80_stratified_sample",   # exact per-group sampling
    "q81_text_cleanup",        # scan-speed normalization chain
    "q82_cube_orders",         # CUBE grouping sets
    "q83_trailing_time_window",  # per-user RANGE frames
    "q84_sessionization",      # gaps-and-islands sessions
    "q85_cheapest_supplier_per_part",  # correlated-min decorrelation
    "q86_top_trigrams_per_source",  # per-group heavy hitters
    "q87_quality_deciles",     # ntile distribution view
    "q88_interval_overlap",    # bucketized interval-overlap join
    "q89_vocabulary",          # top-N token vocab (TakeOrdered)
    "q90_oov_rate",            # OOV vs broadcast vocab
    "q91_corpus_profile",      # one-agg per-source health profile
    "q94_salted_priority_count",  # explicit two-phase salted agg
    "q95_kmeans_assign",       # literal-codegen nearest-centroid pass
    "q96_winnow_overlap",      # MOSS winnowed-fingerprint doc overlap (gram oracle form)
    "q97_winnow_overlap_hash",  # same operator, production xxhash64 form (rows-only)
    "q98_winnow_against_corpus",  # incremental batch-vs-corpus winnow overlap
    # production q98 shape: grouped index persisted to parquet (built on
    # first run, reused after), per-run cost = batch screen only — the
    # number to track for the incremental-screen cost model (the q98
    # entry deliberately re-derives the index in-plan for oracle replay)
    "q99_winnow_screen_indexed",
    # vector member of the against-corpus family (r9): packed LSH
    # index derived in-plan + DENSE exact-cosine screen (at the
    # recall-1 oracle params bits=2/n_tables=24, strategy='auto'
    # resolves dense — n_tables >= 2^bits; the blocked scale path is
    # plan-audited in tests/test_plan_audit.py and was timed at 1M rows
    # with selective suggest_lsh_params parameters in commit ebb09a2)
    "q100_embedding_against_corpus",
    # repeated-query ANN over a persisted IVF index (r9): per-batch
    # cost excludes centroid training and the corpus assignment scan
    "q101_ivf_indexed_topk",
    # production shape of q100 (persisted packed index; dense screen)
    "q102_vector_screen_indexed",
    # whole-corpus embedding near-dup pairs (r9: benched after the
    # dense crossover fixed a 12.9-31.2s blocked wall at sf0.1 that
    # the sf0.001 job-ceiling test could not see)
    "q44_embedding_near_dups",
    # r14 temporal-contract queries: DATE groupby moments (decimal-
    # exact sums) and the diff(ts)->interval->groupby-moments pipeline
    "q112_date_stats",
    "q113_interval_gap_stats",
    # r15 (VERDICT_r14 #2): the r14/r15 optimization targets, added so
    # the driver's bench sees them round-over-round (additions only)
    "q36_simhash_near_dups",   # simhash blocking + size-pruned verify
    "q50_contamination",       # probe-gram contamination screen
    "q52_pack_sequences",      # scale-adaptive concat-and-chunk packing
    "q56_curation_pipeline",   # quality->gopher->dedup->pack composite
    "q61_fuzzy_incremental_dedup",  # batch-vs-corpus MinHash screen
]

# EXTENDED members whose oracle SQL is intractable on the DuckDB side
# at sf0.1 (measured r15: q36 >15 min, q61 >9 min — both are inverted-
# index all-pairs Jaccard shapes that DuckDB executes without the LSH/
# blocking prune).  The Spark side is still timed and reported; the
# extended DuckDB yardstick and its ratio band already pair only the
# queries BOTH engines ran, so skipping these keeps the band honest.
DUCKDB_SKIP = {"q36_simhash_near_dups", "q61_fuzzy_incremental_dedup"}
# q93_group_delta_min stays OUT of the timed sections deliberately: it
# exists to oracle-check the GroupBy.apply(engine='arrow') machinery,
# and per-group Python against DuckDB's window function is not a
# like-for-like timing (the library's own docs say: use Column windows
# for window-expressible transforms; apply is for custom per-group
# logic).  Its scale evidence is SCALECHECK's groupby_apply_cardinality
# row (1M tiny groups: pandas 90.7s, arrow 13.1s).


_LOAD_AT_START = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") \
    else None


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    t0 = time.time()
    import vaex_spark as vs
    spark = vs.get_session(app_name="vaex_spark_bench")
    spark.range(1).count()  # force JVM+session init
    startup = time.time() - t0

    import __spark_entry__ as entry
    qs = entry.queries()

    # warmup: run each headline query at two smaller SFs so JVM JIT +
    # whole-stage-codegen compilation is excluded from the timed runs
    # (standard steady-state benchmarking; sf0.001 alone leaves C2
    # compilation of the hot hash/codegen loops half-done and shows up
    # as run-to-run variance in the heaviest queries).  The timed loop
    # below still pays planning + execution at the full SF.
    t0 = time.time()
    for warm_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if os.path.isdir(warm_dir) and warm_dir != sf_dir:
            for name in HEADLINE:
                try:
                    qs[name](spark, warm_dir).count()
                except Exception:
                    pass
    warmup = time.time() - t0

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    def run_set(names):
        out: dict[str, float] = {}
        per_run: dict[str, list[float]] = {}
        for name in names:
            fn = qs[name]
            # one untimed pass on the TARGET files first: the DuckDB
            # yardstick warms each query on the same files before its
            # timed loop, so without this the Spark side's run 0 pays
            # the cold file read alone and the per-run ratio band's max
            # was measuring page cache, not engines (r11: run-0 ratios
            # 1.8-2.6 vs 1.3-1.5 after)
            fn(spark, sf_dir).count()
            vs.cache.release_operator_caches()
            samples = []
            rows = None
            for _ in range(n_runs):
                t = time.time()
                df = fn(spark, sf_dir)
                rows = df.count()
                samples.append(time.time() - t)
                # each run builds a fresh plan with its own operator-
                # internal persists; release between runs so runs stay
                # independent and executor memory doesn't accumulate
                # stale cached relations
                vs.cache.release_operator_caches()
            out[name] = round(statistics.median(samples), 4)
            per_run[name] = samples
            print(f"# {name}: median {out[name]:.3f}s over {n_runs} "
                  f"(spread {min(samples):.3f}-{max(samples):.3f}, {rows} rows)",
                  file=sys.stderr)
        return out, per_run

    times, run_samples = run_set(HEADLINE)
    ext_times, ext_samples = run_set(EXTENDED)

    def spread(samples):
        # per-query min/max across the n_runs (r10 verdict: extended
        # per-query numbers carried no spread, so a +20% load bounce on
        # one run read as a phantom regression in artifact comparison)
        return {q: [round(min(v), 4), round(max(v), 4)]
                for q, v in samples.items()}

    total = round(sum(times.values()), 4)
    out = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "startup_sec": round(startup, 2),
        "warmup_sec": round(warmup, 2),
        "n_runs": n_runs,
        "n_queries": len(times),
        # 1-minute load average at bench START: the documented ±40%
        # per-query bounce on this box is run-order contention — a
        # high value here says the walls rode a loaded machine
        "loadavg_1m_at_start": _LOAD_AT_START,
    }
    out["queries_spread"] = spread(run_samples)
    out["extended"] = {"value": round(sum(ext_times.values()), 4),
                       "queries": ext_times,
                       "queries_spread": spread(ext_samples)}
    duck = _duckdb_yardstick(sf_dir, n_runs, HEADLINE)
    if duck is not None:
        out["duckdb"] = duck
        out["spark_over_duckdb"] = round(total / duck["value"], 2)
        # The headline ratio as a BAND, not a point (round 10): across
        # rounds 8-9 the committed point estimate swung 1.09-1.48 on
        # the SAME tree, and the per-query ratios showed the swing was
        # the q35 DuckDB pairing bouncing between artifact runs — not
        # Spark.  Pairing run i's Spark total with run i's DuckDB
        # total inside ONE artifact gives n_runs independent ratio
        # observations; read the min-max spread, never rank rounds by
        # the point value.
        ratios = []
        common = [q for q in times if q in duck["run_samples"]]
        for i in range(n_runs):
            s_tot = sum(run_samples[q][i] for q in common)
            d_tot = sum(duck["run_samples"][q][i] for q in common)
            if d_tot > 0:
                ratios.append(round(s_tot / d_tot, 3))
        if ratios:
            out["spark_over_duckdb_band"] = {
                "per_run": ratios,
                "median": round(statistics.median(ratios), 2),
                "min": min(ratios), "max": max(ratios)}
        del duck["run_samples"]
    duck_ext = _duckdb_yardstick(sf_dir, n_runs, EXTENDED)
    if duck_ext is not None:
        # same in-artifact per-run ratio band as the headline set
        ratios = []
        common = [q for q in ext_times if q in duck_ext["run_samples"]]
        for i in range(n_runs):
            s_tot = sum(ext_samples[q][i] for q in common)
            d_tot = sum(duck_ext["run_samples"][q][i] for q in common)
            if d_tot > 0:
                ratios.append(round(s_tot / d_tot, 3))
        if ratios:
            out["extended"]["spark_over_duckdb_band"] = {
                "per_run": ratios,
                "median": round(statistics.median(ratios), 2),
                "min": min(ratios), "max": max(ratios)}
        del duck_ext["run_samples"]
        out["extended"]["duckdb"] = duck_ext
    # load at END as well (r13 verdict: the driver's committed Spark
    # walls doubled on untouched code while its own DuckDB control
    # matched quiet runs — a start/end loadavg pair plus the in-artifact
    # DuckDB yardstick lets any reader make that call from the JSON
    # alone, without a second artifact)
    out["loadavg_1m_at_end"] = (round(os.getloadavg()[0], 2)
                                if hasattr(os, "getloadavg") else None)
    print(json.dumps(out))


def _duckdb_yardstick(sf_dir: str, n_runs: int, names=None):
    """Median-of-N DuckDB wall for each headline query's oracle SQL on
    the same files — the in-artifact half of the bench letter."""
    try:
        import duckdb
        import __spark_entry__ as entry
    except ImportError:  # pragma: no cover
        return None
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    times = {}
    run_samples = {}
    for name in (names if names is not None else HEADLINE):
        sql = oracles.get(name)
        if sql is None or name in DUCKDB_SKIP:
            continue
        con.execute(sql).fetchall()  # warm: page cache + plan
        samples = []
        for _ in range(n_runs):
            t0 = time.time()
            con.execute(sql).fetchall()
            samples.append(time.time() - t0)
        times[name] = round(statistics.median(samples), 4)
        run_samples[name] = samples
    return {"value": round(sum(times.values()), 4), "queries": times,
            "n_runs": n_runs, "run_samples": run_samples}


if __name__ == "__main__":
    main()
