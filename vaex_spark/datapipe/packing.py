"""Sequence packing for LM training pipelines: assign variable-length
documents to fixed token-budget bins (context windows).

Two strategies, both deterministic:

* ``strategy='chunk'`` — the standard concat-and-chunk used for LM
  pretraining: documents are laid out in a deterministic order and the
  token stream is cut every ``max_tokens``; a document may straddle a
  boundary.  Exact, embarrassingly parallel: one running cumsum over
  the order key (the partition-boundary-exchange window machinery),
  then integer division.  SQL-expressible, so oracle-checkable.
* ``strategy='nextfit'`` — no-split greedy next-fit: a new bin starts
  whenever the current document would overflow the budget.  The scan is
  inherently sequential, so it runs per range-partition (Arrow-batched
  applyInPandas) with partition-local bin ids made globally unique by
  offsetting with the partition id.  Bins never span partitions — the
  deterministic, restart-safe behavior you want at 100 TB (each
  partition packs independently; waste is at most one bin per
  partition).

Both return (id, n_tokens, bin) plus chunk-mode offsets.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..dataframe import _same_kind
from ..plan import range_partition_count

__all__ = ["pack_sequences"]


_PACK_INTERNAL = {"n_tokens", "_ok", "_pid", "_before_local", "_ptot",
                  "_poff", "_before", "bin", "end_bin", "offset"}


@_same_kind
def pack_sequences(df, length_col: str, max_tokens: int,
                   id_col: str = "doc_id", order_key: str | None = None,
                   strategy: str = "chunk", carry=None):
    """See module docstring.  ``order_key`` defaults to ``id_col`` —
    packing order must be explicit to be reproducible.

    ``carry`` (chunk strategy only, r15): extra input columns to ride
    the range exchange and come back on the output rows, appended
    after ``offset``.  This exists so pipeline tails (curate) can skip
    the ``join(packed, on=id)`` that re-attaches bins — without it the
    whole upstream plan is computed TWICE (once under the pack, once
    as the join's probe side) and the join adds its own exchanges.
    Bin/end_bin/offset are unchanged by carrying: the global cumsum is
    partition-count-invariant for unique order keys (pytest-pinned)
    and range boundaries are sampled from the KEY column only."""
    order_key = order_key or id_col
    n = F.col(length_col).cast("long")
    carry = list(carry or [])
    if carry:
        if strategy != "chunk":
            raise ValueError("carry= is only supported for strategy='chunk'")
        bad = (set(carry) & _PACK_INTERNAL) | {c for c in carry
                                               if c == id_col}
        if bad:
            raise ValueError(f"carry columns collide with pack internals "
                             f"or id_col: {sorted(bad)}")

    if strategy == "chunk":
        from pyspark.sql import Window
        base = df.select(F.col(id_col), n.alias("n_tokens"),
                         F.col(order_key).alias("_ok"),
                         *[F.col(c) for c in carry])
        # global running sum: range-partitioned sort, not a single task —
        # repartitionByRange + per-partition cumsum + broadcast offsets.
        # The partition count is scale-adaptive (r14): Catalyst size
        # stats via the window machinery's ceil(size/advisory) helper
        # (with its parallelism floor and 16x cap), falling back to the
        # session's shuffle.partitions when stats are unknown — a
        # hard-coded 32 under-parallelizes a 100 TB pack and
        # over-partitions a KB-sized frame for nothing.  The global
        # cumsum (_before_local + _poff) is partition-count-INVARIANT
        # for unique order keys, so bin/end_bin/offset are identical at
        # any n; only nextfit's bin ids depend on the layout, which is
        # why that branch keeps its pinned constant.
        n_range = range_partition_count(base)
        part = (base.repartitionByRange(n_range, "_ok") if n_range
                else base.repartitionByRange("_ok")) \
            .withColumn("_pid", F.spark_partition_id())
        w_local = (Window.partitionBy("_pid").orderBy("_ok")
                   .rowsBetween(Window.unboundedPreceding, -1))
        # persist: the offsets branch and the main join below both read
        # this frame; un-persisted they would materialize two independent
        # range shuffles whose sampled boundaries (seeded per RDD id) can
        # differ, putting _ptot and _before_local on different partition
        # layouts.  The frame is narrow (id, tokens, key, pid, cumsum).
        from ..cache import _register_persist
        local = _register_persist(part.withColumn(
            "_before_local",
            F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))))
        totals = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_ptot"))
        from ..operators.rowid import bounded_window
        w_off = bounded_window("_pid").rowsBetween(Window.unboundedPreceding, -1)
        offs = totals.withColumn("_poff", F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)))
        out = (local.join(F.broadcast(offs.select("_pid", "_poff")), on="_pid")
               .withColumn("_before", F.col("_before_local") + F.col("_poff"))
               .select(id_col, "n_tokens",
                       # integer div, not `/`: stays exact at any scale
                       F.expr(f"_before div {int(max_tokens)}").alias("bin"),
                       F.expr(f"(_before + n_tokens - 1) div {int(max_tokens)}").alias("end_bin"),
                       (F.col("_before") % max_tokens).alias("offset"),
                       *carry))
    elif strategy == "nextfit":
        import pandas as pd
        # pinned 32: next-fit bins NEVER span partitions, so the bin
        # assignment itself depends on the partition layout — a
        # size-adaptive count would make the output vary with cluster
        # stats.  Deterministic output wins here; see the chunk branch
        # for the scale-adaptive form.
        base = (df.select(F.col(id_col), n.alias("n_tokens"), F.col(order_key).alias("_ok"))
                .repartitionByRange(32, "_ok")
                .withColumn("_pid", F.spark_partition_id()))

        def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("_ok").reset_index(drop=True)
            bins, used, b = [], 0, 0
            for t in pdf["n_tokens"]:
                if used > 0 and used + t > max_tokens:
                    b, used = b + 1, 0
                bins.append(b)
                used += min(t, max_tokens)
            pdf["local_bin"] = bins
            return pdf[[id_col, "n_tokens", "_pid", "local_bin"]]

        schema = f"{id_col} long, n_tokens long, _pid int, local_bin long"
        packed = base.groupBy("_pid").applyInPandas(_pack, schema=schema)
        # globally unique bin ids: partition id in the high bits
        out = packed.select(id_col, "n_tokens",
                            (F.col("_pid").cast("long") * (1 << 40) +
                             F.col("local_bin")).alias("bin"))
    else:
        raise ValueError(f"strategy={strategy!r} (chunk|nextfit)")
    return out
