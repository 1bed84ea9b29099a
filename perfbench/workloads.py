"""The workloads.  Each is a closed loop with one client and zero
think time, driven from this process through the public ``vaex_spark``
API.

A workload provides ``prepare`` (inputs and expected outputs, the
harness's own cost), ``open`` (per session), ``warmup`` and ``op``
(one measured operation, returning how many operations it attempted and
how many failed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

from . import inputs, oracle

RELATIONAL = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"]


def _report(what: str, exc: BaseException) -> None:
    print(f"perfbench: {what} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
    traceback.print_exc(limit=3, file=sys.stderr)


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers are not data files but their bytes count."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


class Workload:
    name = ""
    MIN_OPS = 1  # a run measures at least this many operations
    label = ""  # what the last operation was, for the run record

    def __init__(self, seed: int, scale: float, work: str, tracer):
        self.seed, self.scale, self.work, self.tracer = seed, scale, work, tracer
        self.data = os.path.join(work, "data")
        self.persists = 0

    def release(self):
        import vaex_spark as vs
        self.persists += vs.cache.release_operator_caches()

    def at_boundary(self) -> bool:
        """Whether measurement may stop after the last operation."""
        return True


# ---------------------------------------------------------------------------
class Interactive(Workload):
    name = "interactive"
    BLOCKS = 4
    MIN_OPS = 2 * inputs.BLOCK_SIZE

    def prepare(self):
        import __spark_entry__ as entry
        inputs.write_tables(inputs.relational_tables(self.seed, self.scale), self.data)
        # warm-up runs on smaller tables of their own, so no warm-up call
        # computes a measured call's result
        self.warm_data = os.path.join(self.work, "warm")
        inputs.write_tables(inputs.relational_tables(inputs.WARMUP_SEED, self.scale / 10,
                                                     "relational-warmup"), self.warm_data)
        self.calls = inputs.interactive_calls(self.seed, self.BLOCKS)
        self.block = inputs.BLOCK_SIZE
        builders = entry.queries()
        sqls = entry.oracle_sql()
        self.builders = {q: builders[next(k for k in builders if k.startswith(q + "_"))]
                         for q in inputs.HEADLINE}
        headline_sql = {q: sqls[next(k for k in sqls if k.startswith(q + "_"))]
                        for q in inputs.HEADLINE}
        con = oracle.connect(self.data, RELATIONAL)
        self.expected = {}
        for call in self.calls:
            key = self._key(call)
            if key not in self.expected:
                self.expected[key] = oracle.interactive_expected(con, call, headline_sql)
        con.close()
        # one call of every DataFrame operation and every measured
        # headline builder
        kinds = {}
        for c in inputs.interactive_calls(inputs.WARMUP_SEED, 1, "interactive-warmup"):
            if c["kind"] != "query":
                kinds.setdefault((c["kind"], c["op"]), c)
        builders = {c["op"]: c for c in self.calls[:self.MIN_OPS] if c["kind"] == "query"}
        self.warm_calls = list(kinds.values()) + list(builders.values())
        self.next = 0

    @staticmethod
    def _key(call):
        return json.dumps({k: v for k, v in call.items() if k != "repeat"}, sort_keys=True)

    def open(self, spark):
        import vaex_spark as vs
        self.spark = spark

        def tables(data):
            return {t: vs.open(os.path.join(data, f"{t}.parquet"), spark=spark)
                    for t in ("lineitem", "orders", "events", "customer", "embeddings")}

        self.tables, self.warm_tables = tables(self.data), tables(self.warm_data)

    def _run(self, call, tables, data):
        import vaex_spark as vs
        k, op = call["kind"], call["op"]
        if k == "query":
            return self.builders[op](self.spark, data).toPandas()
        if k == "similarity":
            from vaex_spark.datapipe import similarity
            return similarity.semantic_dedup(tables["embeddings"], n_clusters=8, threshold=0.42,
                                             centroids="first-k", round_to=6).toPandas()
        if k == "join":
            o, c = tables["orders"], tables["customer"]
            flt = o[o.o_totalprice > call["min_price"]]
            j = flt.join(c, left_on="o_custkey", right_on="c_custkey", how="inner",
                         allow_duplication=True)
            return j.groupby(call["key"], agg={"n": vs.agg.count(),
                                               "s": vs.agg.sum("o_totalprice")}).to_pandas_df()
        df = tables[call["table"]]
        if k == "stat":
            fn = {"mean": df.mean, "std": df.std, "minmax": df.minmax}[op]
            return fn(call["col"], selection=call["sel"])
        if k == "binby":
            cols = call["cols"]
            limits = [list(inputs.BIN_LIMITS[c]) for c in cols]
            if len(cols) == 1:
                return df.count(binby=cols[0], limits=limits[0], shape=call["shape"][0],
                                selection=call["sel"])
            return df.count(binby=cols, limits=limits, shape=call["shape"],
                            selection=call["sel"])
        if k == "groupby":
            if op == "nunique":
                return df.nunique(call["col"])
            if op == "value_counts":
                return df.value_counts(call["key"])
            c = call["col"]
            return df.groupby(call["key"], agg={"n": vs.agg.count(), "s": vs.agg.sum(c),
                                                "m": vs.agg.mean(c)}).to_pandas_df()
        if k == "percentile":
            return df.percentile_approx(call["col"], call["pct"], selection=call["sel"])
        c = call["col"]
        if op == "diff":
            out = df.diff(column=c, order_key=call["order"], partition_by=call["part"])
        else:
            out = df.rolling(call["width"], column=c, order_key=call["order"],
                             partition_by=call["part"]).mean()
        return out.mean(c)

    def warmup(self):
        for call in self.warm_calls:
            self._run(call, self.warm_tables, self.warm_data)
            self.release()

    def op(self):
        call = self.calls[self.next % len(self.calls)]
        self.next += 1
        self.label = f"{call['kind']}:{call['op']}"
        with self.tracer.span("op", kind=call["kind"]):
            t0 = time.perf_counter()
            try:
                got, err = self._run(call, self.tables, self.data), None
            except Exception as e:  # a failed call counts, it does not end the run
                got, err = None, e
            wall = time.perf_counter() - t0
        self.release()
        if err is not None:
            _report(f"call {call}", err)
            return wall, 1, 1
        ok = oracle.check_call(call, got, self.expected[self._key(call)])
        if not ok:
            print(f"perfbench: wrong answer for {call}", file=sys.stderr)
        return wall, 1, int(not ok)

    def at_boundary(self):
        """Measurement stops only between whole blocks, so every run
        measures the block composition."""
        return self.next % self.block == 0


# ---------------------------------------------------------------------------
class CurateStream(Workload):
    name = "curate_stream"
    DIRS = ("out", "state", "lsh", "sketch")

    def prepare(self):
        self.batches = inputs.stream_batches(self.seed, self.scale)
        self.stream = os.path.join(self.work, "stream")
        self.next = 0

    def open(self, spark):
        self.spark = spark

    def _batch(self, base: str, tbl, b: int):
        from vaex_spark import streaming as st
        inputs.write_batch(tbl, os.path.join(base, "src"), b)
        st.curate_stream(
            st.open_stream(os.path.join(base, "src"), spark=self.spark),
            out_dir=os.path.join(base, "out"), state_dir=os.path.join(base, "state"),
            checkpoint=os.path.join(base, "ckpt"),
            fuzzy_lsh_dir=os.path.join(base, "lsh"), sketch_dir=os.path.join(base, "sketch"),
            min_quality=None, repetition_filter=False)

    def warmup(self):
        """Batch 0 primes the state (it has nothing earlier to screen
        against); batch 1 warms the incremental path.  Neither is
        measured."""
        shutil.rmtree(self.stream, ignore_errors=True)
        for b in (0, 1):
            self._batch(self.stream, self.batches[b], b)
            self.release()
        self.next = 2

    def op(self):
        b = self.next
        self.next += 1
        self.label = f"batch {b}"
        with self.tracer.span("op", kind="batch"):
            t0 = time.perf_counter()
            try:
                self._batch(self.stream, self.batches[b], b)
                err = None
            except Exception as e:  # a failed batch counts, it does not end the run
                err = e
            wall = time.perf_counter() - t0
        self.release()
        if err is not None:
            _report(f"batch {b}", err)
            return wall, 1, 1
        problems = oracle.check_stream(os.path.join(self.stream, "out"),
                                       self.batches[:b + 1])
        for p in problems:
            print(f"perfbench: batch {b}: {p}", file=sys.stderr)
        return wall, 1, int(bool(problems))

    def sink_usage(self):
        src_bytes = dir_usage(os.path.join(self.stream, "src"))[1]
        return src_bytes, {d: dir_usage(os.path.join(self.stream, d)) for d in self.DIRS}


WORKLOADS = {w.name: w for w in (Interactive, CurateStream)}
