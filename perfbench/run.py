"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  A run record (stamp, per-op
walls, metrics and, when traced, every span) goes to
``perfbench/.work/artifacts/``.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
CALL_KINDS = ("stat", "binby", "groupby", "percentile", "window", "join", "similarity",
              "query")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["interactive", "curate_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="TPC-H scale factor of the generated inputs (default 0.1)")
    return p.parse_args(argv)


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "vaex_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def configure_env(work: str) -> None:
    # Python workers must import this checkout's vaex_spark however the
    # benchmark was launched
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, len(os.sched_getaffinity(0)))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # keep every JVM's temp files (the launcher's too) inside the checkout
    # and write no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # stream batches run ~100 jobs each: keep every job, stage and
        # task of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000"})
    return conf


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def duckdb_control_s() -> float:
    """Fixed single-threaded DuckDB query: a box-load yardstick recorded
    beside the metrics, not a metric."""
    import duckdb
    con = duckdb.connect(config={"threads": 1})
    t0 = time.perf_counter()
    con.execute("SELECT sum(i * i % 7) FROM range(20000000) t(i)").fetchone()
    con.close()
    return time.perf_counter() - t0


def stamp(args, spark) -> dict:
    import pyspark
    return {
        "git_sha": git_sha(), "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "seconds": args.seconds, "trace": args.trace,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "loadavg_start": os.getloadavg(),
    }


def tail(walls) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it; the max
    (reported as percentile 100) when there are fewer than 20 samples."""
    import numpy as np
    n = len(walls)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            return float(np.percentile(walls, p)), p
    return float(max(walls)), 100.0


def measure(wl, seconds: float, n_ops: int | None = None):
    """Closed loop: the next operation starts when the previous one
    returns.  Runs until ``seconds`` have passed and at least the
    workload's ``MIN_OPS`` operations ran, stopping at an operation
    boundary of the workload (or for exactly ``n_ops`` operations)."""
    walls, labels, attempted, failed = [], [], 0, 0
    t0 = time.perf_counter()
    while True:
        wl.tracer.run = len(walls)
        wall, a, f = wl.op()
        walls.append(wall)
        labels.append(wl.label)
        attempted += a
        failed += f
        if n_ops is not None:
            if len(walls) >= n_ops:
                break
        elif (time.perf_counter() - t0 >= seconds and len(walls) >= wl.MIN_OPS
              and wl.at_boundary()):
            break
    return walls, labels, attempted, failed


def install_wrappers(tracer, spark, work_stream: str | None):
    from perfbench.workloads import CurateStream
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    import vaex_spark
    from vaex_spark import cache, sources, streaming
    from vaex_spark.datapipe import curate, dedup, similarity

    tracer.count_py4j(type(spark.sparkContext._gateway._gateway_client))
    tracer.wrap(vaex_spark, "open", "sources.open")
    tracer.wrap(sources, "open", "sources.open")
    tracer.wrap(DataFrameReader, "parquet", "sources.read")

    def sink_dir(a, kw):
        path = os.path.abspath(str(a[1] if len(a) > 1 else kw.get("path", "")))
        for d in CurateStream.DIRS:
            if work_stream and path == os.path.join(work_stream, d):
                return {"dir": d}
        return {"dir": "other"}

    tracer.wrap(DataFrameWriter, "parquet", "sink.write", sink_dir)
    for fn in ("exact_dedup", "exact_dedup_incremental", "near_dup_against_corpus",
               "corpus_lsh_index", "corpus_fingerprints"):
        tracer.wrap(dedup, fn, f"datapipe.dedup.{fn}")
    tracer.wrap(similarity, "semantic_dedup", "datapipe.similarity.semantic_dedup")
    tracer.wrap(curate, "curate", "datapipe.curate.curate")
    tracer.wrap(streaming, "curate_stream", "streaming.curate_stream")
    tracer.wrap(streaming, "open_stream", "streaming.open_stream")

    hits = {"hit": 0, "miss": 0}
    orig_get = cache.get

    def get(key, default=None, type=None):  # noqa: A002
        value = orig_get(key, default, type)
        hits["miss" if value is default else "hit"] += 1
        return value

    cache.get = get
    tracer._undo.append((cache, "get", orig_get))
    return hits


def layer_metrics(tracer, jobs, stages, ops_t0: float) -> tuple[dict, dict]:
    """Per-operation means of the Spark and driver layers, from the jobs
    whose submission falls inside each operation span."""
    from perfbench.spans import parse_ts, union_length
    stage_by_id = {}
    for s in stages:
        if s.get("status") in ("COMPLETE", "FAILED"):
            stage_by_id.setdefault(s["stageId"], []).append(s)
    roots = [(i, sp) for i, sp in enumerate(tracer.spans) if sp.name == "op"]
    per_op = {i: [] for i, _ in roots}
    unattributed = 0
    for j in jobs:
        if not j.get("completionTime"):
            continue
        sub, end = parse_ts(j["submissionTime"]), parse_ts(j["completionTime"])
        if sub < ops_t0:
            continue
        owner = next((i for i, sp in roots if sp.start - 0.005 <= sub <= sp.end + 0.005), None)
        if owner is None:
            unattributed += 1
        else:
            per_op[owner].append((sub, end, j))
    rows = []
    for i, sp in roots:
        js = per_op[i]
        wall = sp.end - sp.start
        ivals = [(max(s, sp.start), min(e, sp.end)) for s, e, _ in js]
        job_wall = union_length(ivals)
        first = min((s for s, _ in ivals), default=sp.end)
        last = max((e for _, e in ivals), default=sp.end)
        sids = {sid for _, _, j in js for sid in j.get("stageIds", [])}
        sts = [a for sid in sids for a in stage_by_id.get(sid, [])]
        rows.append({
            "kind": sp.attrs.get("kind"), "wall_s": wall, "jobs": len(js),
            "stages": len(sts), "tasks": sum(a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0) for a in sts),
            "job_wall_s": job_wall,
            "executor_run_s": sum(a.get("executorRunTime", 0) for a in sts) / 1e3,
            "executor_cpu_s": sum(a.get("executorCpuTime", 0) for a in sts) / 1e9,
            "gc_s": sum(a.get("jvmGcTime", 0) for a in sts) / 1e3,
            "shuffle_write_bytes": sum(a.get("shuffleWriteBytes", 0) for a in sts),
            "shuffle_read_bytes": sum(a.get("shuffleReadBytes", 0) for a in sts),
            "failed_tasks": sum(a.get("numFailedTasks", 0) for a in sts),
            "input_bytes": sum(a.get("inputBytes", 0) for a in sts),
            "input_rows": sum(a.get("inputRecords", 0) for a in sts),
            "scan_tasks": sum(a.get("numCompleteTasks", 0) for a in sts if a.get("inputBytes", 0) > 0),
            "pre_job_s": first - sp.start,
            "between_jobs_s": max(0.0, (last - first) - job_wall) if js else 0.0,
            "post_job_s": sp.end - last if js else 0.0,
            "py4j_calls": sp.py4j,
        })

    def mean(key, sel=None):
        vals = [r[key] for r in rows if sel is None or r["kind"] == sel]
        return statistics.fmean(vals) if vals else 0.0

    m = {}
    for k in ("input_bytes", "input_rows", "scan_tasks"):
        m[f"sources.{k}"] = mean(k)
    for k in ("pre_job_s", "between_jobs_s", "post_job_s", "py4j_calls"):
        m[f"dataframe.{k}"] = mean(k)
    for k in ("jobs", "stages", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "failed_tasks"):
        m[f"spark.{k}"] = mean(k)
    for kind in CALL_KINDS:
        m[f"call.{kind}.wall_s"] = mean("wall_s", kind)
        m[f"call.{kind}.jobs"] = mean("jobs", kind)
    m["streaming.driver_gap_s"] = statistics.fmean(
        [r["wall_s"] - r["job_wall_s"] for r in rows if r["kind"] == "batch"] or [0.0])
    m["trace.unattributed_jobs"] = unattributed
    return m, {"ops": rows}


def span_means(tracer, n_ops: int, prefix: str) -> dict:
    """Total duration of spans named ``prefix...`` per operation."""
    tot: dict[str, float] = {}
    for sp in tracer.spans:
        if sp.name.startswith(prefix) and sp.run is not None:
            tot[sp.name] = tot.get(sp.name, 0.0) + (sp.end - sp.start)
    return {k: v / max(1, n_ops) for k, v in tot.items()}


def traced_metrics(args, wl, tracer, spark, hits, base_walls, walls, ops_t0, setup_info):
    from perfbench.workloads import CurateStream
    jobs, stages = tracer.spark_jobs(spark.sparkContext)
    m, detail = layer_metrics(tracer, jobs, stages, ops_t0)
    n = len(walls)
    m["session.start_s"] = setup_info["start_s"]
    m["session.warmup_s"] = setup_info["warmup_s"]
    m["sources.open_s"] = setup_info["open_s"]
    m["cache.result_hits"] = hits["hit"]
    m["cache.result_misses"] = hits["miss"]
    m["cache.operator_persists"] = wl.persists / max(1, setup_info["ops_total"])
    m["datapipe.curate.build_s"] = span_means(tracer, n, "datapipe.curate.curate").get(
        "datapipe.curate.curate", 0.0)
    writes = {d: 0.0 for d in CurateStream.DIRS}
    for sp in tracer.spans:
        if sp.name == "sink.write" and sp.run is not None and sp.attrs.get("dir") in writes:
            writes[sp.attrs["dir"]] += (sp.end - sp.start) / max(1, n)
    usage = {d: (0, 0) for d in CurateStream.DIRS}
    src_bytes = 0
    if args.workload == "curate_stream":
        src_bytes, usage = wl.sink_usage()
    for d in CurateStream.DIRS:
        m[f"sink.{d}.write_s"] = writes[d]
        m[f"sink.{d}.files"] = usage[d][0]
        m[f"sink.{d}.bytes"] = usage[d][1]
    m["sink.write_amp"] = (sum(b for _, b in usage.values()) / src_bytes) if src_bytes else 0.0
    m["trace_overhead_ratio"] = statistics.median(walls) / statistics.median(base_walls)
    return m, detail


def end_to_end(walls, setups, peak_rss):
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_s": statistics.median(walls),
        "peak_rss_mb": peak_rss / 2 ** 20,
    }


UNITS = {"setup_s": "s", "latency_p50_s": "s",
         "peak_rss_mb": "MB"}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("_amp") or name.endswith("_per_pair"):
        return "ratio"
    return "count"


def shutdown(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started to end."""
    from pyspark import SparkContext
    from perfbench.spans import descendants
    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    clock = time.perf_counter
    started = clock()
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: vaex_spark/ and __spark_entry__.py not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    artifacts = os.path.join(HERE, ".work", "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    configure_env(work)

    from perfbench import workloads
    from perfbench.spans import RssSampler, Tracer
    tracer = Tracer(False)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, work, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    control_s = duckdb_control_s()
    phases = {"prepare": clock() - started}

    import vaex_spark as vs
    spark = None
    try:
        setups, info = [], {}
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = vs.get_session(app_name="perfbench", extra_conf=session_conf(work, args.trace))
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            spark.range(1).count()
            t2 = time.perf_counter()
            wl.open(spark)
            setups.append(time.perf_counter() - t0)
            if i == 0:
                info["start_s"], info["open_s"] = t1 - t0, time.perf_counter() - t2
        rec = {"stamp": stamp(args, spark), "prepare_s": prepare_s, "setups_s": setups,
               "duckdb_control_s": control_s, "phases_s": phases}
        phases["setup"] = clock() - started
        with RssSampler() as rss:
            t0 = time.perf_counter()
            wl.warmup()
            info["warmup_s"] = time.perf_counter() - t0
            phases["warmup"] = clock() - started
            walls, labels, attempted, failed = measure(wl, args.seconds)
            phases["measure"] = clock() - started
        if args.trace:
            hits = install_wrappers(tracer, spark, getattr(wl, "stream", None))
            tracer.enabled = True
            base_walls = walls
            ops_t0 = time.time()
            wl.persists = 0
            walls, labels, attempted, failed = measure(wl, args.seconds, n_ops=len(base_walls))
            tracer.enabled = False
            tracer.run = None
            info["ops_total"] = len(walls)
            metrics, detail = traced_metrics(args, wl, tracer, spark, hits, base_walls, walls,
                                             ops_t0, info)
            tracer.uninstall()
            from perfbench.spans import self_times
            rec["spans"] = [dict(sp.as_dict(i), self_s=st) for i, (sp, st) in
                            enumerate(zip(tracer.spans, self_times(tracer.spans)))]
            rec["per_op"] = detail["ops"]
            units = {k: per_layer_unit(k) for k in metrics}
        else:
            metrics = end_to_end(walls, setups, rss.peak)
            rec["peak_rss_by_command"] = rss.peak_by_command
            units = UNITS
        rec["walls_s"] = walls
        rec["latency_tail_s"], rec["tail_percentile"] = tail(walls)
        rec["ops"] = labels
        rec["stamp"]["loadavg_end"] = os.getloadavg()
        phases["trace"] = clock() - started
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["shutdown"] = clock() - started
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    rec.update(result)
    with open(os.path.join(artifacts, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
