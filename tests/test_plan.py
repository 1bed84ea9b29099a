"""Plan-statistics gates (vaex_spark/plan.py).

One table drives every size-gated physical choice over the four kinds
of input the unknown/empty rule distinguishes: a parquet frame with a
known size, frames whose size Catalyst does not know (local rows, and
a join product of them), a 0-byte frame, and a frame whose statistics
cannot be read at all (no ``_jdf``, as on Spark Connect).  Only the
known-size input may take a size-dependent branch; every other input
takes the gate's conservative one.
"""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import vaex_spark as vs
from vaex_spark.datapipe.dedup import _spread, exact_dedup
from vaex_spark.datapipe.similarity import _column_form_fits
from vaex_spark.operators.join import join
from vaex_spark.operators.percentile import stats_exceed_single_task_budget
from vaex_spark.plan import parse_bytes, range_partition_count, size_bytes

_BUDGET_KEY = "vaex_spark.percentile.maxSingleTaskBytes"
_SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


class _NoJdf:
    """A frame without ``_jdf``, as on Spark Connect; every other
    attribute goes to the wrapped frame."""

    def __init__(self, sdf):
        self._wrapped = sdf

    def __getattr__(self, name):
        if name == "_jdf":
            raise AttributeError(name)
        return getattr(self._wrapped, name)


@pytest.fixture(scope="module")
def known_path(spark, tmp_path_factory):
    """2,000 rows in ONE parquet file: one input split, known size."""
    path = str(tmp_path_factory.mktemp("plan") / "docs.parquet")
    (spark.range(2000)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("doc "), (F.col("id") % 700).cast("string"))
             .alias("text"),
             F.array(*[((F.col("id") * (j + 1)) % 7).cast("float")
                       for j in range(4)]).alias("embedding"))
     .coalesce(1).write.parquet(path))
    return path


@pytest.fixture(scope="module")
def frames(spark, known_path):
    known = spark.read.parquet(known_path)
    local = spark.createDataFrame(
        [(i, f"doc {i % 7}", [float(i % 3)] * 4) for i in range(200)],
        "doc_id long, text string, embedding array<float>")
    product = local.join(local.select("doc_id"), "doc_id")
    return {
        "known": known,
        "local_rows": local,
        "join_product": product,
        "empty": known.filter("false"),
        "no_jdf": _NoJdf(known),
    }


def _analyzed(sdf):
    # the analyzed plan: the optimizer folds an empty input's whole
    # plan into an empty relation, dropping the shape being asserted
    return sdf._jdf.queryExecution().analyzed().toString()


def _size(sdf):
    return "known" if size_bytes(sdf) is not None else "none"


def _partitions(sdf):
    return "explicit" if range_partition_count(sdf) is not None else "none"


def _spread_gate(sdf):
    return "keep" if _spread(sdf) is sdf else "spread"


def _minby_gate(sdf):
    plan = _analyzed(exact_dedup(sdf, strategy="auto")._spark_df())
    return "window" if "LeftSemi" in plan else "minby"


def _bucket_gate(sdf):
    fits = _column_form_fits(sdf, dim=4, bits=2, n_tables=2)
    return "column" if fits else "arrow"


def _percentile_gate(sdf):
    sdf.sparkSession.conf.set(_BUDGET_KEY, "1")
    try:
        big = stats_exceed_single_task_budget(sdf)
    finally:
        sdf.sparkSession.conf.unset(_BUDGET_KEY)
    return "distributed" if big else "single"


_KINDS = ["known", "local_rows", "join_product", "empty", "no_jdf"]

# gate -> (branch on a known small input, conservative branch)
_GATES = {
    "size_bytes": (_size, "known", "none"),
    "range_partition_count": (_partitions, "explicit", "none"),
    "spread": (_spread_gate, "spread", "keep"),
    "exact_dedup_auto": (_minby_gate, "minby", "window"),
    "bucket_form": (_bucket_gate, "column", "arrow"),
    "percentile_budget": (_percentile_gate, "distributed", "single"),
}


@pytest.mark.parametrize("kind", _KINDS)
@pytest.mark.parametrize("gate", list(_GATES))
def test_gate_branch(frames, gate, kind):
    fn, sized, conservative = _GATES[gate]
    got = fn(frames[kind])
    assert got == (sized if kind == "known" else conservative), (gate, kind)


@pytest.mark.parametrize("kind", [k for k in _KINDS if k != "no_jdf"])
def test_join_leaves_broadcast_to_spark(frames, kind):
    """join() reads no plan statistics and adds no broadcast hint:
    Spark's own threshold (re-checked by AQE) picks the strategy."""
    right = frames[kind]
    left = vs.DataFrame(right.sparkSession.range(10)
                        .withColumnRenamed("id", "doc_id"))
    out = join(left, right, on="doc_id", allow_duplication=True)
    assert "strategy=broadcast" not in _analyzed(out._spark_df())


def _rows(sdf):
    return sorted(tuple(r) for r in sdf.collect())


def test_empty_input_rows_unchanged(spark, frames):
    """The two gates whose branch moves on a 0-byte estimate (spread,
    exact_dedup's minby gate) return the same rows as the branch they
    took before the move."""
    empty = frames["empty"]
    target = spark.sparkContext.defaultParallelism
    assert _rows(_spread(empty)) == _rows(empty.repartition(target)) == []
    assert (_rows(exact_dedup(empty, strategy="auto")._spark_df())
            == _rows(exact_dedup(empty, strategy="minby")._spark_df()))


@pytest.mark.parametrize("split", ["134217728", "128m", "128MB"])
def test_spread_reads_max_partition_bytes_with_units(spark, known_path,
                                                     split):
    """A one-split input under the split size is spread to the session
    parallelism however ``maxPartitionBytes`` is spelled; keeping only
    the digits read "128m" as 128 bytes and never spread."""
    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("spreading needs defaultParallelism >= 2")
    old = spark.conf.get(_SPLIT_KEY)
    spark.conf.set(_SPLIT_KEY, split)
    try:
        sdf = spark.read.parquet(known_path)
        assert sdf.rdd.getNumPartitions() == 1
        assert _spread(sdf).rdd.getNumPartitions() == target
    finally:
        spark.conf.set(_SPLIT_KEY, old)


def test_parse_bytes():
    assert parse_bytes("134217728", 0) == 128 << 20
    assert parse_bytes("128m", 0) == 128 << 20
    assert parse_bytes("64MB", 0) == 64 << 20
    assert parse_bytes("8KB", 0) == 8 << 10
    assert parse_bytes("1g", 0) == 1 << 30
    assert parse_bytes("lots", 7) == 7


_PKG = pathlib.Path(__file__).resolve().parent.parent / "vaex_spark"
_COPIES = re.compile(r"sizeInBytes|defaultSizeInBytes"
                     r"|\b_range_partition_count\b|\b_parse_bytes\b")


def test_plan_statistics_read_only_in_plan_module():
    """Only vaex_spark/plan.py reads Catalyst's size estimate: a probe
    or a window-private size helper anywhere else is a copy of the
    unknown-stats rule growing back."""
    offenders = [str(path.relative_to(_PKG))
                 for path in sorted(_PKG.rglob("*.py"))
                 if path != _PKG / "plan.py"
                 and _COPIES.search(path.read_text(encoding="utf-8"))]
    assert offenders == []
