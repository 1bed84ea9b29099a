"""Plan statistics: the one place that reads Catalyst's size estimate.

Every physical choice the operators make from data size — spreading an
under-partitioned input, the exact-dedup survivor plan, the Column vs
Arrow bucket form, single-task vs distributed percentiles, the Bloom
crossover, the range-exchange partition count — gates on
``optimizedPlan().stats().sizeInBytes`` (driver-side metadata: no job,
no plan->RDD conversion).

The unknown/empty rule, stated once: :func:`size_bytes` returns None
when

* the probe raises — a Spark Connect frame has no ``_jdf``;
* the estimate is <= 0 — an empty relation (``filter("false")`` or
  ``limit(0)`` over parquet report 0), where no physical choice matters;
* the estimate is >= ``spark.sql.defaultSizeInBytes`` — Catalyst
  substitutes that value (Long.MaxValue unless tuned) for relations
  without stats, and join stats are the PRODUCT of child sizes, so an
  implausibly large estimate means "unknown", not "huge".

Every gate reads None as "take the conservative branch": the one that
is correct and affordable at any size.
"""

from __future__ import annotations


def size_bytes(sdf) -> int | None:
    """Catalyst's size estimate for ``sdf`` in bytes, or None when it is
    unknown or empty (see the module docstring)."""
    try:
        size = int(str(sdf._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
        default_size = int(sdf.sparkSession.conf.get(
            "spark.sql.defaultSizeInBytes", str(2 ** 63 - 1)))
    except Exception:  # no _jdf (Spark Connect), py4j surface, bad conf
        return None
    if size <= 0 or size >= default_size:
        return None
    return size


def parse_bytes(raw, default: int) -> int:
    s = str(raw).strip().lower().rstrip("b")
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def range_partition_count(sdf) -> int | None:
    """Explicit partition count for the range exchange, from catalog
    size stats: ceil(size / advisoryPartitionSize), capped.  Explicit-N
    keeps every branch and the cached materialization on the SAME
    partitioning (AQE cannot re-coalesce a cached subtree, so leaving N
    implicit strands tiny frames on shuffle.partitions one-row
    partitions where boundary donation cannot serve deep frames).  A
    too-small estimate only costs parallelism — frames stay exact within
    a partition; the too-large direction is caught by the donor
    raise_error guard.

    None (unknown stats) falls back to the session's shuffle.partitions:
    exploding a "don't know" estimate into advisory-sized partitions
    would create hundreds of thousands of near-empty range partitions
    and trip the donor frame-depth guard on perfectly valid queries."""
    size = size_bytes(sdf)
    if size is None:
        return None
    conf = sdf.sparkSession.conf
    advisory = parse_bytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
        64 << 20)
    # row-count-free ceiling: more range partitions than ~16× the
    # cluster's parallelism buys a windowed op nothing and risks
    # partitions thinner than the frame depth (the fail-loud direction);
    # under-partitioning only costs parallelism — frames stay exact.
    try:
        shuffle_n = int(conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:  # pragma: no cover
        shuffle_n = 200
    parallelism = sdf.sparkSession.sparkContext.defaultParallelism
    cap = 16 * max(parallelism, shuffle_n)
    n = -(-size // max(advisory, 1))
    # Parallelism floor: a frame a little over the advisory size would
    # otherwise land on 2-3 tasks and serialize the persist + window on
    # an idle cluster (measured: 6.4M rows / 103MB -> n=2 -> 22s persist
    # on 32 cores).  Extra range partitions only cost O(k x n) donor
    # rows, so fill the cores — but never shrink partitions below ~8MB
    # (and never inflate the single-advisory-partition fast path, whose
    # n stays 1 because its useful-partition bound is 1 too).
    n_useful = -(-size // (8 << 20))
    n = max(n, min(parallelism, n_useful))
    return max(1, min(n, cap))
