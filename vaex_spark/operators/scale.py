"""Scale-out join strategies: bucketing and skew salting.

These are the two levers SURVEY §4 names for the 100 TB regime that
plain Catalyst doesn't apply automatically:

* **Bucketing** — pre-shuffle a table ON DISK by its join/group key.
  Two tables bucketed on the same key with the same bucket count join
  with ZERO exchange (the sort-merge join reads co-located buckets).
  Worth it for fact tables joined repeatedly on the same key: one
  write-time shuffle amortizes over every subsequent join/aggregation.

* **Salting** — explicit skew mitigation when one key dominates.  AQE's
  skew-join (on by default in our sessions) splits oversized partitions
  at runtime and is the right default; explicit salting remains for
  aggregations (AQE skew handling only covers joins) and for engines or
  sinks where AQE is off.

Bucketed tables go through the session catalog (``saveAsTable``) —
Spark's bucket metadata lives in the catalog, not in raw parquet paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F

from ..dataframe import _sdf, _wrap


def _drop_table_and_orphaned_location(spark, table_name: str) -> None:
    """Make ``saveAsTable(mode="overwrite")`` idempotent against a dirty
    warehouse.

    A crashed run can leave the table's directory on disk while a fresh
    derby metastore no longer knows the table; ``saveAsTable`` then
    raises LOCATION_ALREADY_EXISTS.  Drop the catalog entry (if any) AND
    remove the orphaned default-location directory for local
    ``file:``/path warehouses.  Only the *managed default* location is
    touched — never a user-supplied external path, and never the data
    of an EXTERNAL table that merely sits at the default path (DROP
    deliberately preserves external data; deleting it here would turn a
    catalog-entry overwrite into data loss).
    """
    import os
    import shutil
    from urllib.parse import urlparse, unquote

    was_external = False
    try:
        was_external = spark.catalog.getTable(table_name).tableType == "EXTERNAL"
    except Exception:
        pass  # not in the catalog: the orphaned-directory case below
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    if was_external:
        return  # DROP kept its data on purpose — nothing to clean
    parts = table_name.split(".")
    db, tbl = (parts[-2], parts[-1]) if len(parts) > 1 else (None, parts[-1])
    try:
        if db is None:
            db = spark.catalog.currentDatabase()
        loc = spark.catalog.getDatabase(db).locationUri
    except Exception:  # pragma: no cover - exotic catalog; fall back to conf
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    parsed = urlparse(loc)
    if parsed.scheme not in ("", "file"):
        return  # remote warehouse: nothing local to clean
    path = os.path.join(unquote(parsed.path) or loc, tbl.lower())
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


def export_bucketed(df, table_name: str, by, n_buckets: int = 32,
                    sort_by=None, mode: str = "overwrite"):
    """Write ``df`` as a bucketed catalog table.

    Joins/aggregations between tables bucketed on the same key with the
    same ``n_buckets`` run without any Exchange (verified by
    tests/test_scale_join.py asserting the physical plan).  ``sort_by``
    additionally sorts within buckets so sort-merge joins skip the sort.

    ``mode="overwrite"`` is idempotent even against a *dirty* warehouse:
    a stale table directory left by a crashed run (which a fresh
    metastore no longer owns) is removed before the write instead of
    poisoning it with LOCATION_ALREADY_EXISTS.
    """
    by = [by] if isinstance(by, str) else list(by)
    sdf = _sdf(df)
    if mode == "overwrite":
        _drop_table_and_orphaned_location(sdf.sparkSession, table_name)
    writer = sdf.write.mode(mode).bucketBy(n_buckets, *by)
    if sort_by is not None:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)
    return table_name


def open_bucketed(table_name: str, spark=None):
    """Read a bucketed table back (bucket metadata comes from the
    catalog, so joins on the bucket key skip the shuffle)."""
    if spark is None:
        from ..session import get_session
        spark = get_session()
    return _wrap(spark.table(table_name))


def salted_join(left, right, on: str, how: str = "inner",
                salt: int = 16) -> SparkDataFrame:
    """Equi-join with the left side's hot keys spread over ``salt``
    sub-keys and the (smaller) right side replicated ``salt`` times.

    Use when a handful of keys dominate the left table AND AQE skew
    handling isn't available (it only rewrites sort-merge/shuffle-hash
    joins); the replication factor costs ``salt``× the right side's
    shuffle volume, so keep the right side the dimension table.  The
    left salt comes from a per-row uniform draw — correctness does not
    depend on which sub-key a row lands on.
    """
    lsdf, rsdf = _sdf(left), _sdf(right)
    lsalted = lsdf.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    rsalted = rsdf.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = lsalted.join(rsalted, on=[on, "__salt"], how=how).drop("__salt")
    return out


def salted_group_count(df, key: str, salt: int = 16) -> SparkDataFrame:
    """Two-phase count for a skewed grouping key: partial count on
    (key, salt) then final sum on key.  The first shuffle spreads the
    hot key over ``salt`` reducers; the second only moves ``salt`` rows
    per distinct key.  (Spark's hash aggregate already does map-side
    partials; the explicit salt matters when one key exceeds a single
    reducer's memory/CPU — the 100 TB straggler case AQE's join-only
    skew handling does not cover.)"""
    sdf = _sdf(df)
    partial = (sdf.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
               .groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("__n")))
    return partial.groupBy(key).agg(F.sum("__n").alias("count"))


# ---------------------------------------------------------------------------
# data layout: clustered / Z-ordered export (scan-pruning lever)
# ---------------------------------------------------------------------------
def zorder_key(df, columns, bits: int = 16) -> "F.Column":
    """Interleaved-bit (Morton) key over 2+ numeric columns.

    Each column is min/max-scaled to a ``bits``-bit integer (one tiny
    stats job), then the bits are interleaved with pure Column math
    (shift/or over ``bits * n_cols`` terms — no UDF).  Sorting by this
    key clusters rows so that EVERY participating column is locally
    correlated within a file: parquet row-group min/max footers then
    prune multi-dimensional range scans, the same layout trick Delta's
    OPTIMIZE ZORDER applies.
    """
    sdf = _sdf(df)
    cols = list(columns)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    row = sdf.agg(*aggs).collect()[0]
    scaled = []
    for c in cols:
        if row[f"_lo_{c}"] is None:
            # MIN is NULL for an empty frame (no layout to optimize —
            # every row of none maps to one key) AND for an all-null
            # column in a non-empty frame; the latter would silently
            # skew the layout (nulls land on the max key component via
            # the null-skipping least()), so fail loud like binby limits
            if row["_n"] > 0:
                raise ValueError(
                    f"zorder_key: {c!r} has no non-null values — a "
                    "z-order over it is meaningless; drop the column "
                    "from the key or filter the frame first")
            lo, hi = 0.0, 0.0
        else:
            lo, hi = float(row[f"_lo_{c}"]), float(row[f"_hi_{c}"])
        span = (hi - lo) or 1.0
        s = F.least(F.lit((1 << bits) - 1),
                    F.floor((F.col(c).cast("double") - lo) / span * ((1 << bits) - 1))
                    .cast("long"))
        scaled.append(s)
    key = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def export_zordered(df, path: str, by, n_files: int = 32, bits: int = 16,
                    mode: str = "overwrite") -> None:
    """Write parquet laid out in Z-order over ``by`` columns:
    range-partition on the Morton key (balanced files) and sort within
    partitions, so row-group min/max stats stay tight on every ``by``
    column.  One extra shuffle at write time buys pruned scans on every
    later multi-column range query."""
    sdf = _sdf(df)
    k = zorder_key(sdf, by, bits=bits)
    (sdf.withColumn("__zk", k)
        .repartitionByRange(n_files, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.mode(mode).parquet(path))


def export_clustered(df, path: str, by, n_files: int = 32,
                     mode: str = "overwrite") -> None:
    """Single/multi-column linear clustering: range-partition + sort on
    the columns themselves (the right layout when queries filter on a
    prefix of ``by``; Z-order wins when they filter independently)."""
    sdf = _sdf(df)
    cols = [by] if isinstance(by, str) else list(by)
    (sdf.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode).parquet(path))
