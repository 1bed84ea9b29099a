"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001.  ``queries()`` maps
operator names (SURVEY.md §2 inventory + datapipe extras) to callables
``(spark, sf_dir) -> DataFrame``, each built through the vaex_spark API.
``oracle_sql()`` holds DuckDB-equivalent SQL for each oracle-checkable
query.

Float-parity discipline: double sums are order-dependent across
partitionings, so every aggregated double goes through
``CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)`` on BOTH engines —
decimal accumulation is exact and order-independent, and the final
double cast is deterministic.  Means divide that by COUNT.  Per-row
arithmetic (no aggregation) is IEEE-deterministic and needs no rounding.
Every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import vaex_spark as vs
from vaex_spark import agg as vagg

DEC = "decimal(25,6)"


_OPEN_CACHE: dict = {}


def _data_fp(sf_dir: str, table: str) -> str:
    """Fingerprint of a source table's parquet bytes (file sizes +
    mtimes) for the /tmp index-cache tags of q99/q101/q102: a tag
    keyed only on (abspath, params) would silently reuse a STALE index
    after the test data is regenerated at the same path — surfacing as
    a confusing oracle value-hash failure instead of a rebuild
    (round 10, advised)."""
    import os
    path = os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _t(spark: SparkSession, sf_dir: str, name: str):
    """Open a table, memoizing the (lazy) plan per session+path.

    Real applications hold table handles across queries, and the DuckDB
    oracle registers its views once outside timing — re-sniffing the
    same parquet footer per query would be self-inflicted overhead, not
    engine work.  Only the unexecuted plan is cached; no data pins.
    Keyed on applicationId, not id(spark): a garbage-collected session's
    address can be reused by a new session, which must not receive plans
    bound to the stopped session."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _OPEN_CACHE.get(key)
    if df is None:
        df = vs.open(f"{sf_dir}/{name}.parquet", spark=spark)
        _OPEN_CACHE[key] = df
    return df.copy() if hasattr(df, "copy") else df


def dsum(col) -> Column:
    """Order-independent double sum (exact decimal accumulation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def isum(col) -> Column:
    """Exact sum for integral-valued columns (order-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c)


# ===========================================================================
# flagship
# ===========================================================================
def entry(spark: SparkSession) -> DataFrame:
    """TPC-H Q1-shaped pricing summary on sf0.001 through the full
    vaex_spark stack (virtual columns, filter, groupby, agg descriptors)."""
    return _q01_pricing_summary(spark, "/root/testdata/sf0.001")


# ===========================================================================
# relational core (SURVEY §2.3-2.6)
# ===========================================================================
def _q01_pricing_summary(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    df["disc_price"] = df.l_extendedprice * (1 - df.l_discount)
    df["charge"] = df.disc_price * (1 + df.l_tax)
    flt = df[df.l_shipdate <= "1998-09-02"]
    out = flt.groupby(["l_returnflag", "l_linestatus"], agg={
        "sum_qty": isum("l_quantity"),
        "sum_base_price": dsum("l_extendedprice"),
        "sum_disc_price": dsum("disc_price"),
        "sum_charge": dsum("charge"),
        "avg_qty": davg("l_quantity"),
        "avg_price": davg("l_extendedprice"),
        "avg_disc": davg("l_discount"),
        "count_order": F.count(F.lit(1)),
    }, sort=True)
    return out.spark


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST((l_extendedprice*(1-l_discount))*(1+l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)/COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE)/COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q02_filter_project(spark, sf_dir):
    """Predicate + projection pushdown (filters reach the parquet scan)."""
    df = _t(spark, sf_dir, "lineitem")
    flt = df[(df.l_quantity > 45) & (df.l_discount >= 0.05)]
    sub = flt[["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]]
    return sub.spark


_Q02_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
"""


def _q03_revenue_by_segment(spark, sf_dir):
    """Join (broadcast small side) + groupby."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(cust, left_on="o_custkey", right_on="c_custkey",
                    how="inner", allow_duplication=True)
    return j.groupby("c_mktsegment", agg={
        "revenue": dsum("o_totalprice"),
        "n_orders": F.count(F.lit(1)),
    }, sort=True).spark


_Q03_SQL = """
SELECT c_mktsegment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def _q04_priority_count(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    flt = df[(df.o_totalprice > 100000.0) & (df.o_orderstatus == "F")]
    return flt.groupby("o_orderpriority", agg={"n": F.count(F.lit(1))}, sort=True).spark


_Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


def _q05_revenue_by_nation(spark, sf_dir):
    """Three-way join chain through dims (all broadcastable)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (orders.join(cust, left_on="o_custkey", right_on="c_custkey",
                     how="inner", allow_duplication=True)
         .join(nation, left_on="c_nationkey", right_on="n_nationkey",
               how="inner", allow_duplication=True)
         .join(region, left_on="n_regionkey", right_on="r_regionkey",
               how="inner", allow_duplication=True))
    return j.groupby(["r_name", "n_name"], agg={
        "revenue": dsum("o_totalprice"),
        "n_orders": F.count(F.lit(1)),
    }, sort=True).spark


_Q05_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def _q06_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight scan-filter-aggregate (full pushdown)."""
    df = _t(spark, sf_dir, "lineitem")
    df["rev"] = df.l_extendedprice * df.l_discount
    flt = df[(df.l_shipdate >= "1995-01-01") & (df.l_shipdate < "1997-01-01")
             & (df.l_discount >= 0.03) & (df.l_quantity < 24)]
    return flt.groupby(None, agg={"revenue": dsum("rev")}).spark


_Q06_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_quantity < 24
"""


def _q07_orders_by_month(spark, sf_dir):
    """BinnerTime groupby (date_trunc month)."""
    df = _t(spark, sf_dir, "orders")
    g = df.groupby(vs.BinnerTime("o_orderdate", resolution="M"), agg={
        "n": F.count(F.lit(1)),
        "total": dsum("o_totalprice"),
    }, sort=True)
    return g.spark.withColumnRenamed("o_orderdate", "month")


_Q07_SQL = """
SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


def _q08_value_counts(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.groupby("event_type", agg={"cnt": F.count(F.lit(1))}, sort=True).spark


_Q08_SQL = "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"


def _q09_nunique(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return df.groupby("event_type", agg={
        "users": vagg.nunique("user_id", dropna=True),
        "n": F.count(F.lit(1)),
    }, sort=True).spark


_Q09_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
FROM events GROUP BY event_type
"""


def _q10_window_diff(spark, sf_dir):
    """diff over explicit order (SURVEY §2.6 shift/diff)."""
    df = _t(spark, sf_dir, "events")
    d = df.diff(column="value", order_key="event_id")
    out = d.spark.select("event_id", F.col("value").alias("diff"))
    return out


_Q10_SQL = """
SELECT event_id, value - LAG(value) OVER (ORDER BY event_id) AS diff
FROM events
"""


def _q11_rolling_avg(spark, sf_dir):
    """Rolling window, partitioned by user (the scalable form)."""
    df = _t(spark, sf_dir, "events")
    r = df.rolling(5, column="value", order_key="event_id", partition_by="user_id").mean()
    return r.spark.select("event_id", "user_id", F.round(F.col("value"), 6).alias("roll_avg"))


_Q11_SQL = """
SELECT event_id, user_id,
       ROUND(CASE WHEN COUNT(value) OVER w >= 5 THEN AVG(value) OVER w END, 6) AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def _q12_rank_topk(spark, sf_dir):
    """row_number ranking per partition (extended window surface)."""
    sdf = _t(spark, sf_dir, "orders").spark
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (sdf.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk"))


_Q12_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) WHERE rk <= 3
"""


def _q13_sort_topn(spark, sf_dir):
    df = _t(spark, sf_dir, "customer")
    s = df.sort(["c_acctbal", "c_custkey"], ascending=[False, True])
    return s.spark.select("c_custkey", "c_name", "c_acctbal").limit(10)


_Q13_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
"""


def _q14_string_funcs(spark, sf_dir):
    """String kernel family (SURVEY §2.8) — all JVM-side."""
    df = _t(spark, sf_dir, "part")
    df["name_upper"] = df.p_name.str.upper()
    df["name_len"] = df.p_name.str.len()
    df["has_green"] = df.p_name.str.contains("green", regex=False)
    df["brand_num"] = df.p_brand.str.replace("Brand#", "")
    df["type_first"] = df.p_type.str.split(" ")[0]
    sub = df[["p_partkey", "name_upper", "name_len", "has_green", "brand_num", "type_first"]]
    return sub.spark


_Q14_SQL = """
SELECT p_partkey, UPPER(p_name) AS name_upper,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       CONTAINS(p_name, 'green') AS has_green,
       REPLACE(p_brand, 'Brand#', '') AS brand_num,
       regexp_split_to_array(p_type, ' ')[1] AS type_first
FROM part
"""


def _q15_datetime_funcs(spark, sf_dir):
    """dt accessor family; dayofweek uses vaex/pandas Monday=0."""
    df = _t(spark, sf_dir, "orders")
    df["o_year"] = df.o_orderdate.dt.year
    df["o_month"] = df.o_orderdate.dt.month
    df["o_day"] = df.o_orderdate.dt.day
    df["o_quarter"] = df.o_orderdate.dt.quarter
    df["o_dow"] = df.o_orderdate.dt.dayofweek
    df["o_doy"] = df.o_orderdate.dt.dayofyear
    sub = df[["o_orderkey", "o_year", "o_month", "o_day", "o_quarter", "o_dow", "o_doy"]]
    return sub.spark


_Q15_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(month(o_orderdate) AS INTEGER) AS o_month,
       CAST(day(o_orderdate) AS INTEGER) AS o_day,
       CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
       CAST((dayofweek(o_orderdate) + 6) % 7 AS INTEGER) AS o_dow,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS o_doy
FROM orders
"""


def _q16_bucket_case(spark, sf_dir):
    """where()/map() conditional bucketing + groupby."""
    df = _t(spark, sf_dir, "orders")
    df["bucket"] = "where(o_totalprice < 50000, 'small', where(o_totalprice < 150000, 'medium', 'large'))"
    return df.groupby("bucket", agg={"n": F.count(F.lit(1)),
                                     "total": dsum("o_totalprice")}, sort=True).spark


_Q16_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


def _q17_isin(spark, sf_dir):
    df = _t(spark, sf_dir, "nation")
    flt = df[df.n_name.isin(["NATION_3", "NATION_7", "NATION_11", "NATION_19"])]
    return flt.spark.select("n_nationkey", "n_name", "n_regionkey")


_Q17_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
WHERE n_name IN ('NATION_3','NATION_7','NATION_11','NATION_19')
"""


def _q18_histogram(spark, sf_dir):
    """binby 1-d grid as its sparse groupBy form (SURVEY §2.5 binby):
    bin index = clip(floor((x-lo)/(hi-lo)*shape))."""
    sdf = _t(spark, sf_dir, "orders").spark
    lo, hi, shape = 0.0, 600000.0, 24
    scaled = F.floor((F.col("o_totalprice") - lo) / (hi - lo) * shape).cast("long")
    b = F.when(F.col("o_totalprice") == hi, shape - 1).otherwise(scaled)
    b = F.when((b >= 0) & (b < shape), b)
    return (sdf.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("bin").isNotNull()))


_Q18_SQL = """
SELECT CAST(CASE WHEN o_totalprice = 600000.0 THEN 23
            ELSE FLOOR((o_totalprice - 0.0) / 600000.0 * 24) END AS BIGINT) AS bin,
       COUNT(*) AS cnt
FROM orders
WHERE o_totalprice >= 0 AND o_totalprice <= 600000.0
  AND FLOOR((o_totalprice - 0.0) / 600000.0 * 24) BETWEEN 0 AND 23
GROUP BY 1
"""


def _q19_distinct(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return (df.spark.select("l_returnflag", "l_linestatus").distinct())


_Q19_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def _q20_concat(spark, sf_dir):
    """Vertical concat (DatasetConcatenated) then aggregate."""
    df = _t(spark, sf_dir, "lineitem")
    a = df[df.l_quantity <= 10]
    b = df[df.l_quantity >= 45]
    u = a.concat(b)
    return u.groupby("l_returnflag", agg={"n": F.count(F.lit(1)),
                                          "qty": isum("l_quantity")}, sort=True).spark


_Q20_SQL = """
WITH u AS (
  SELECT * FROM lineitem WHERE l_quantity <= 10
  UNION ALL
  SELECT * FROM lineitem WHERE l_quantity >= 45)
SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM u GROUP BY l_returnflag
"""


def _q21_null_handling(spark, sf_dir):
    """NaN/missing triple + fillna family (SURVEY §1.2 policy layer)."""
    df = _t(spark, sf_dir, "customer")
    df["bal_null"] = "where(c_acctbal < 0, None, c_acctbal)"
    df["bal_filled"] = df.bal_null.fillmissing(0.0)
    df["is_na"] = df.bal_null.ismissing()
    return df.groupby("c_mktsegment", agg={
        "n_na": F.count(F.when(F.col("is_na"), 1)),
        "filled_total": dsum("bal_filled"),
        "orig_total": dsum(F.col("bal_null")),
    }, sort=True).spark


_Q21_SQL = """
SELECT c_mktsegment,
       COUNT(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_na,
       CAST(SUM(CAST(CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS DECIMAL(25,6))) AS DOUBLE) AS filled_total,
       CAST(SUM(CAST(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS DECIMAL(25,6))) AS DOUBLE) AS orig_total
FROM customer GROUP BY c_mktsegment
"""


def _q22_quantile(spark, sf_dir):
    """Exact interpolated percentiles per group (vaex percentile_approx
    is itself approximate; we expose the exact form for the oracle)."""
    sdf = _t(spark, sf_dir, "lineitem").spark
    return (sdf.groupBy("l_returnflag")
            .agg(F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90")))


_Q22_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90
FROM lineitem GROUP BY l_returnflag
"""


def _q23_corr_var(spark, sf_dir):
    """Correlation/variance from order-independent moment sums
    (population formulas, agg.py:421-518 parity)."""
    sdf = _t(spark, sf_dir, "lineitem").spark
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    agg = sdf.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast(DEC)).cast("double").alias("sxx"),
        F.sum((y * y).cast(DEC)).cast("double").alias("syy"),
        F.sum((x * y).cast(DEC)).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    vx = F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)
    vy = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    return agg.select(
        "l_returnflag",
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
        F.round(vx, 6).alias("var_qty"),
        F.round(F.sqrt(vy), 6).alias("std_price"),
    )


_Q23_SQL = """
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       ROUND((sxy/n - (sx/n)*(sy/n)) / sqrt((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))), 6) AS corr_qty_price,
       ROUND(sxx/n - (sx/n)*(sx/n), 6) AS var_qty,
       ROUND(sqrt(syy/n - (sy/n)*(sy/n)), 6) AS std_price
FROM m
"""


def _q24_window_tumbling(spark, sf_dir):
    """Tumbling time-window aggregation (same code path as streaming)."""
    from vaex_spark import streaming as st
    df = _t(spark, sf_dir, "events")
    win = st.window_agg(df, "ts", "1 hour", {
        "n": "count", "total": dsum(F.col("value"))})
    return win.select(F.col("window.start").alias("window_start"), "n", "total")


_Q24_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM events GROUP BY 1
"""


def _q25_shift(spark, sf_dir):
    """Partitioned shift with fill (DatasetShifted semantics)."""
    df = _t(spark, sf_dir, "events")
    from vaex_spark.operators.window import shift_expression
    prev = shift_expression(df, "value", 1, fill_value=0.0,
                            order_key="event_id", partition_by="user_id")
    df["prev_value"] = prev
    return df.spark.select("event_id", "user_id", "value", "prev_value")


_Q25_SQL = """
SELECT event_id, user_id, value,
       COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY event_id), 0.0) AS prev_value
FROM events
"""


# ===========================================================================
# datapipe: text analysis
# ===========================================================================
def _q26_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text; survivors per lang."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(docs, text_col="text", id_col="doc_id", keep="min")
    return kept.groupby("lang", agg={"n_docs": F.count(F.lit(1)),
                                     "chars": isum("n_chars")}, sort=True).spark


_Q26_SQL = """
WITH keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
  GROUP BY norm)
SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS chars
FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
GROUP BY d.lang
"""
# ^ DuckDB SUM(BIGINT) yields HUGEINT (int128) while Spark sums to BIGINT;
#   the CAST realigns the hash-compared types (values are identical).


def _q27_token_stats(spark, sf_dir):
    """Token counting per language (whitespace + BPE-ish regex)."""
    from vaex_spark.datapipe import text as vtext
    docs = _t(spark, sf_dir, "documents")
    sdf = docs.spark.select(
        "lang",
        vtext.token_count_whitespace(F.col("text")).alias("tok"),
        vtext.token_count_bpe(F.col("text")).alias("tok_bpe"))
    return (sdf.groupBy("lang")
            .agg(isum("tok").alias("tokens"),
                 isum("tok_bpe").alias("tokens_bpe"),
                 F.count(F.lit(1)).alias("docs")))


_Q27_SQL = """
SELECT lang,
       CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END) AS BIGINT) AS tokens,
       CAST(SUM(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS tokens_bpe,
       COUNT(*) AS docs
FROM documents GROUP BY lang
"""
# ^ CAST(... AS BIGINT): DuckDB integer SUM is HUGEINT, Spark's is BIGINT.


def _q28_quality(spark, sf_dir):
    """Quality-score heuristics; per-source aggregate."""
    from vaex_spark.datapipe import text as vtext
    docs = _t(spark, sf_dir, "documents")
    feats = vtext.quality_features(F.col("text"))
    sdf = docs.spark.select(
        "source",
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stop_ratio"))
    return (sdf.groupBy("source")
            .agg(dsum(F.col("alpha_ratio")).alias("alpha_total"),
                 dsum(F.col("stop_ratio")).alias("stop_total"),
                 F.count(F.lit(1)).alias("docs")))


def _q28_oracle_sql() -> str:
    """Generated from the same stopword list the Spark operator uses, so
    the two sides cannot drift.  A single alternation regex counts the
    same hits as per-word scans (\\b-guarded matches are disjoint)."""
    from vaex_spark.datapipe.text import _STOPWORDS_EN
    stop_re = "\\b(" + "|".join(_STOPWORDS_EN) + ")\\b"
    return f"""
WITH f AS (
  SELECT source,
    ROUND(CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
          GREATEST(LENGTH(text), 1), 6) AS alpha_ratio,
    ROUND(CAST(LEN(regexp_extract_all(lower(text), '{stop_re}')) AS DOUBLE) /
          GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END, 1), 6) AS stop_ratio
  FROM documents)
SELECT source,
       CAST(SUM(CAST(alpha_ratio AS DECIMAL(25,6))) AS DOUBLE) AS alpha_total,
       CAST(SUM(CAST(stop_ratio AS DECIMAL(25,6))) AS DOUBLE) AS stop_total,
       COUNT(*) AS docs
FROM f GROUP BY source
"""


def _q29_langid(spark, sf_dir):
    """Heuristic language-ID distribution vs the labeled lang column."""
    from vaex_spark.datapipe import text as vtext
    docs = _t(spark, sf_dir, "documents")
    sdf = docs.spark.select("lang", vtext.lang_id(F.col("text")).alias("lang_guess"))
    return sdf.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n"))


def _langid_oracle_sql() -> str:
    from vaex_spark.datapipe.text import _LANG_MARKERS
    score_exprs = []
    for lang, words in _LANG_MARKERS.items():
        alt = "|".join(words)
        score_exprs.append(
            f"LEN(regexp_extract_all(lower(text), '\\b({alt})\\b')) AS s_{lang}")
    langs = list(_LANG_MARKERS)
    # replicate the chained strictly-greater argmax (dict order, ties keep earlier)
    guess = "CASE"
    # build iteratively: best = und/0, each lang with s > best wins
    # equivalent closed form: pick first lang (in order) with s == max and max > 0
    max_expr = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    for lang in langs:
        guess += f" WHEN s_{lang} > 0 AND s_{lang} = {max_expr} THEN '{lang}'"
    guess += " ELSE 'und' END"
    return f"""
WITH scored AS (
  SELECT lang, {', '.join(score_exprs)} FROM documents)
SELECT lang, {guess} AS lang_guess, COUNT(*) AS n
FROM scored GROUP BY 1, 2
"""


def _q30_fingerprint(spark, sf_dir):
    """Document fingerprints -> distinct count per source (rolling-hash
    fingerprint parity is engine-specific; oracle checks the dedup
    cardinality, not hash values)."""
    from vaex_spark.datapipe import text as vtext
    docs = _t(spark, sf_dir, "documents")
    sdf = docs.spark.select("source", vtext.fingerprint(F.col("text")).alias("fp"))
    return sdf.groupBy("source").agg(
        F.countDistinct("fp").alias("uniq"), F.count(F.lit(1)).alias("docs"))


_Q30_SQL = """
SELECT source,
       COUNT(DISTINCT trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS uniq,
       COUNT(*) AS docs
FROM documents GROUP BY source
"""


# ===========================================================================
# datapipe: similarity / embeddings
# ===========================================================================
def _q31_cosine_pairs(spark, sf_dir):
    """Brute-force cosine, oracle-friendly form (no top-k boundary)."""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.pairwise_cosine(emb, F.col("vec_id") < 5, round_to=6)
    return pairs.filter(F.col("id_a") != F.col("id_b"))


_Q31_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < 5 AND a.vec_id != b.vec_id
"""


def _q32_embedding_norms(spark, sf_dir):
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return emb.spark.select(
        "vec_id", "label",
        F.round(similarity.l2_norm(F.col("embedding")), 6).alias("norm"))


_Q32_SQL = """
SELECT vec_id, label,
       ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm
FROM embeddings
"""


def _q33_topk_ann(spark, sf_dir):
    """Brute-force top-k (exact baseline).  Deterministic: cos rounded
    to 6 digits on both engines, ties broken by neighbor_id — so the
    top-k boundary is identical and the output hash-checkable."""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb[emb.vec_id < 3]
    return similarity.brute_force_topk(emb, queries, k=10, round_to=6)


_Q33_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings q, embeddings c WHERE q.vec_id < 3),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""


def _q34_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN.  Oracle-checkable: the hyperplanes are
    deterministic literals (seeded numpy), so the oracle SQL embeds the
    SAME plane constants and replicates bucket -> candidate -> rank."""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb[emb.vec_id < 3]
    return similarity.lsh_topk(emb, queries, k=10, bits=6, n_tables=2, round_to=6)


def _q34_oracle_sql(dim: int = 64, bits: int = 6, n_tables: int = 2,
                    seed: int = 42, k: int = 10) -> str:
    """Replicates lsh_topk with the same hyperplane literals.  The dot
    products are written as explicit left-to-right sums so the IEEE
    operation order matches Spark's aggregate() fold bit-for-bit."""
    from vaex_spark.datapipe.similarity import _hyperplanes

    def dot_sql(plane):
        return " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE)*({plane[i]!r})" for i in range(dim))

    table_selects = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, seed + t)
        bucket = " + ".join(
            f"CASE WHEN {dot_sql(planes[b])} > 0 THEN {1 << b} ELSE 0 END"
            for b in range(bits))
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, ({bucket}) AS bucket FROM embeddings")
    cb = " UNION ALL ".join(table_selects)
    return f"""
WITH cb AS ({cb}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM cb q JOIN cb c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 3),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(list_dot_product(CAST(qq.embedding AS DOUBLE[]), CAST(cc.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(qq.embedding AS DOUBLE[]), CAST(qq.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(cc.embedding AS DOUBLE[]), CAST(cc.embedding AS DOUBLE[])))), 6) AS cos
  FROM cand
  JOIN embeddings qq ON qq.vec_id = cand.query_id
  JOIN embeddings cc ON cc.vec_id = cand.neighbor_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


def _q35_minhash_near_dups(spark, sf_dir):
    """MinHash-LSH near-dup pairs, exact-Jaccard verified, one-pass.

    Engine-independent output: with r=2/b=32 banding the per-pair LSH
    recall at jaccard 0.5 is ~0.9999, so the verified result equals the
    exact all-pairs >= 0.5 set, which the oracle computes via a shingle
    inverted-index join (no minhash needed on the DuckDB side)."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dup_pairs(docs, threshold=0.5, num_perm=64, num_bands=32)


def _jaccard_pairs_sql(threshold: float) -> str:
    """All-pairs exact 5-gram Jaccard >= threshold, via an inverted-index
    join on shingles (only pairs sharing a shingle are candidates —
    a superset of any pair with jaccard > 0)."""
    return f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        FOR i IN range(1, CASE WHEN LEN(words) < 5 THEN 2 ELSE LEN(words) - 3 END)]) AS s
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents)),
tok AS (SELECT doc_id, unnest(s) AS sh FROM sets),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM tok a JOIN tok b ON a.sh = b.sh AND a.doc_id < b.doc_id),
j AS (SELECT c.id_a, c.id_b,
             ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
                   LEN(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM cand c
      JOIN sets a ON a.doc_id = c.id_a
      JOIN sets b ON b.doc_id = c.id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {threshold}
"""


def _q36_simhash_near_dups(spark, sf_dir):
    """SimHash near-dups, exact-Jaccard verified.

    Pigeonhole blocking is COMPLETE for hamming <= 12 (13 four-bit
    chunks: <=12 differing covered bits can't touch all 13, and
    differences in the 12 uncovered top bits never break a chunk match);
    verification keeps candidates with exact jaccard >= 0.9.  Measured
    hamming of jaccard>=0.9 pairs: max 5 at sf0.01, 7 at sf0.001, 11 at
    sf0.1 — mean ~2.3, so P(>12) is ~1e-7/pair and the verified output
    equals the exact all-pairs >= 0.9 set, engine-independently.  The
    production operator default stays max_hamming=3 (16-bit chunks,
    strong blocking); the loose bound here buys oracle-exactness."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_verified_pairs(docs, max_hamming=12, threshold=0.9)


def _q37_ngram_jaccard_exact(spark, sf_dir):
    """Exact 3-gram Jaccard for a fixed small pair set — SQL-checkable
    (shingle sets + intersect/union are deterministic)."""
    from vaex_spark.datapipe.text import shingles
    docs = _t(spark, sf_dir, "documents").spark
    sets_df = docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.array_distinct(shingles("text", k=3)).alias("s"))
    a, b = sets_df.alias("a"), sets_df.alias("b")
    return (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                    F.round(F.size(F.array_intersect("a.s", "b.s")).cast("double") /
                            F.size(F.array_union("a.s", "b.s")), 6).alias("jaccard")))


_Q37_SQL = """
WITH sets AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        FOR i IN range(1, CASE WHEN LEN(words) < 3 THEN 2 ELSE LEN(words) - 1 END)]) AS s
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents WHERE doc_id < 20))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(LEN(list_intersect(a.s, b.s)) AS DOUBLE) /
             LEN(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sets a, sets b WHERE a.doc_id < b.doc_id
"""


# ===========================================================================
# geo / ml / misc surface (round-2 coverage widening)
# ===========================================================================
def _q38_geo_polar(spark, sf_dir):
    """Geo accessor: cartesian->polar + bearing, pure Column trig."""
    df = _t(spark, sf_dir, "supplier")
    df["px"] = df.s_acctbal
    df["py"] = df.s_suppkey + 1.0
    g = df.geo.cartesian_to_polar(x="px", y="py")
    g = g.geo.bearing("px", "py", "py", "px", bearing="brg")
    return g.spark.select(
        "s_suppkey",
        F.round(F.col("r_polar"), 6).alias("r_polar"),
        F.round(F.col("phi_polar"), 6).alias("phi_polar"),
        F.round(F.col("brg"), 6).alias("brg"))


_Q38_SQL = """
SELECT s_suppkey,
       ROUND(sqrt(s_acctbal*s_acctbal + (s_suppkey+1.0)*(s_suppkey+1.0)), 6) AS r_polar,
       ROUND(atan2(s_suppkey+1.0, s_acctbal) * 180.0 / pi(), 6) AS phi_polar,
       ROUND(atan2(sin(((s_suppkey+1.0) - s_acctbal)*pi()/180) * cos(s_acctbal*pi()/180),
                   cos((s_suppkey+1.0)*pi()/180)*sin(s_acctbal*pi()/180)
                   - sin((s_suppkey+1.0)*pi()/180)*cos(s_acctbal*pi()/180)*cos(((s_suppkey+1.0) - s_acctbal)*pi()/180)), 6) AS brg
FROM supplier
"""


def _q39_ml_scalers(spark, sf_dir):
    """Fitted StandardScaler + MinMaxScaler as virtual columns; the
    oracle recomputes the fit constants from scratch in SQL (rounded —
    fitted literals vs recomputed aggregates agree well past 6 digits)."""
    from vaex_spark import ml
    df = _t(spark, sf_dir, "customer")
    out = ml.StandardScaler(["c_acctbal"]).fit_transform(df)
    out = ml.MinMaxScaler(["c_acctbal"], feature_range=(0.0, 1.0)).fit_transform(out)
    return out.spark.select(
        "c_custkey",
        F.round(F.col("standard_scaled_c_acctbal"), 6).alias("std_bal"),
        F.round(F.col("minmax_scaled_c_acctbal"), 6).alias("mm_bal"))


_Q39_SQL = """
WITH s AS (SELECT AVG(c_acctbal) AS m, STDDEV_POP(c_acctbal) AS sd,
                  MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
           FROM customer)
SELECT c_custkey,
       ROUND((c_acctbal - s.m) / s.sd, 6) AS std_bal,
       ROUND((c_acctbal - s.lo) / (s.hi - s.lo), 6) AS mm_bal
FROM customer, s
"""


def _q40_any_all(spark, sf_dir):
    """any/all aggregation descriptors per group."""
    df = _t(spark, sf_dir, "lineitem")
    df["big"] = df.l_quantity >= 48
    df["pos"] = df.l_extendedprice > 0
    return df.groupby("l_returnflag", agg={
        "any_big": vagg.any("big"),
        "all_pos": vagg.all("pos"),
        "n": F.count(F.lit(1))}, sort=True).spark


_Q40_SQL = """
SELECT l_returnflag,
       BOOL_OR(l_quantity >= 48) AS any_big,
       BOOL_AND(l_extendedprice > 0) AS all_pos,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def _q41_orders_by_fortnight(spark, sf_dir):
    """BinnerTime(every=2, 'W'): 14-day buckets anchored at the data
    minimum truncated to numpy epoch weeks."""
    df = _t(spark, sf_dir, "orders")
    g = df.groupby(vs.BinnerTime("o_orderdate", resolution="W", every=2), agg={
        "n": F.count(F.lit(1))}, sort=True)
    return g.spark.withColumnRenamed("o_orderdate", "bucket")


def _q41_oracle_sql() -> str:
    # numpy M8[W]: weeks are epoch-anchored (1970-01-01, a Thursday);
    # every=2 anchors at the data-min week, so the origin is
    # min-week rounded down to epoch weeks — computed in SQL directly
    return """
WITH t0 AS (
  SELECT DATE '1970-01-01'
         + CAST(FLOOR(DATE_DIFF('day', DATE '1970-01-01', MIN(o_orderdate)::DATE) / 7) * 7 AS INTEGER) AS w0
  FROM orders)
SELECT CAST(t0.w0 + CAST(FLOOR(DATE_DIFF('day', t0.w0, o_orderdate::DATE) / 14) * 14 AS INTEGER) AS TIMESTAMP) AS bucket,
       COUNT(*) AS n
FROM orders, t0
GROUP BY 1
"""


def _q42_ordinal_codes(spark, sf_dir):
    """categorize + ordinal_values: dense codes by sorted label order ==
    DENSE_RANK - 1."""
    df = _t(spark, sf_dir, "orders")
    df.categorize("o_orderpriority")
    df["prio_code"] = df.ordinal_values("o_orderpriority")
    return df.groupby(["o_orderpriority", "prio_code"], agg={
        "n": F.count(F.lit(1))}, sort=True).spark


_Q42_SQL = """
SELECT o_orderpriority,
       CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER) AS prio_code,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
"""


def _q43_isin_large(spark, sf_dir):
    """isin against a large literal set — compiles to a broadcast
    left-semi join (SURVEY §2.4 scale mapping) instead of an IN list."""
    df = _t(spark, sf_dir, "orders")
    keys = _isin_keys()
    flt = df[df.o_custkey.isin(keys)]
    return flt.groupby("o_orderstatus", agg={
        "n": F.count(F.lit(1)),
        "total": dsum("o_totalprice")}, sort=True).spark


def _isin_keys() -> list[int]:
    return [k for k in range(0, 6000, 3)]


def _q43_oracle_sql() -> str:
    keys = ",".join(str(k) for k in _isin_keys())
    return f"""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
FROM orders WHERE o_custkey IN ({keys})
GROUP BY o_orderstatus
"""


def _q44_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH blocking + exact
    cosine verify.  Engine-independent output: bits=2 / n_tables=24
    gives per-pair recall 1-(1-p^2)^24 with p = 1-θ/π ≈ 0.64 at the
    0.42 threshold -> miss ~4e-6, so the verified result equals the
    exact all-pairs cosine >= threshold set the oracle computes.
    (The synthetic embeddings have no pairs above ~0.51, hence the low
    threshold; production near-dup at 0.95 uses the default bits=6.)"""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(
        emb, threshold=0.42, bits=2, n_tables=24, round_to=6)


_Q44_SQL = """
WITH c AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM c WHERE cos >= 0.42
"""


def _q45_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: minhash-LSH pairs (exact-Jaccard verified,
    same set as q35) -> distributed connected components (iterated
    min-label propagation).  Output (doc_id, component) where component
    is the min doc_id reachable; the oracle computes the same closure
    with a recursive CTE over the exact all-pairs Jaccard graph."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.5, num_perm=64, num_bands=32)
    labels = dedup.connected_components(pairs)
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("comp").cast("long").alias("component"))


def _q45_oracle_sql() -> str:
    jac = _jaccard_pairs_sql(0.5).strip()
    return f"""
WITH RECURSIVE pairs AS ({jac}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id)
SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
FROM reach GROUP BY id
"""


def _q46_word_topk(spark, sf_dir):
    """Explode-based word frequency top-k: the UDTF surface
    (df.explode) driving a groupBy — row expansion happens inside the
    scan stage; ties at the cutoff break on the word for determinism."""
    from vaex_spark.operators.rowid import bounded_window
    df = _t(spark, sf_dir, "documents")
    df["words"] = df.text.str.lower().str.replace(r"\s+", " ", regex=True).str.strip().str.split(" ")
    exploded = df[["words"]].explode("words")
    counts = exploded.groupby("words", agg={"n": F.count(F.lit(1))})
    # top-k via sort+limit (distributed TakeOrdered — per-partition
    # heaps, no single-partition window); rank only the k survivors
    top = counts.spark.orderBy(F.col("n").desc(), F.col("words").asc()).limit(20)
    ranked = top.withColumn(
        "rank", F.row_number().over(
            bounded_window(F.col("n").desc(), F.col("words").asc())).cast("int"))
    return ranked.select(F.col("words").alias("word"), F.col("n"), F.col("rank"))


_Q46_SQL = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents),
counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY word),
ranked AS (SELECT word, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) AS INTEGER) AS rank
           FROM counts)
SELECT word, n, rank FROM ranked WHERE rank <= 20
"""


def _q47_pii_scrub(spark, sf_dir):
    """PII scrubbing: typed-placeholder redaction + per-kind counts as
    pure regexp expressions (scan-speed scrub, no UDF).  The synthetic
    corpus has no PII, so the query embeds deterministic emails/phones/
    IPs built from table columns, then counts and redacts them."""
    from vaex_spark.datapipe import text as T
    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@ex-"),
        F.col("lang"), F.lit(".com said call 555-123-4567 or visit 10.0.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(" -- "),
        F.substring(F.col("text"), 1, 40))
    sdf = docs._spark_df().select(F.col("doc_id"), F.col("lang"), synth.alias("synth"))
    counts = T.pii_counts(F.col("synth"), kinds=["email", "phone", "ipv4"])
    red = T.redact_pii(F.col("synth"), kinds=["email", "phone", "ipv4"])
    per_row = sdf.select(F.col("lang"), red.alias("redacted"),
                         *[c.alias(f"n_{k}") for k, c in counts.items()])
    return (per_row.groupBy("lang")
            .agg(F.sum("n_email").cast("long").alias("emails"),
                 F.sum("n_phone").cast("long").alias("phones"),
                 F.sum("n_ipv4").cast("long").alias("ips"),
                 F.min("redacted").alias("sample_redacted"))
            .orderBy("lang"))


def _q47_oracle_sql() -> str:
    from vaex_spark.datapipe.text import PII_PATTERNS
    email, phone, ipv4 = (PII_PATTERNS[k] for k in ("email", "phone", "ipv4"))
    return f"""
WITH synth AS (
  SELECT lang,
         'user' || CAST(doc_id AS VARCHAR) || '@ex-' || lang ||
         '.com said call 555-123-4567 or visit 10.0.0.' ||
         CAST(doc_id % 256 AS VARCHAR) || ' -- ' || SUBSTRING(text, 1, 40) AS s
  FROM documents),
scrubbed AS (
  SELECT lang,
         LEN(regexp_extract_all(s, '{email}')) AS n_email,
         LEN(regexp_extract_all(s, '{phone}')) AS n_phone,
         LEN(regexp_extract_all(s, '{ipv4}')) AS n_ipv4,
         regexp_replace(
           regexp_replace(
             regexp_replace(s, '{email}', '[email]', 'g'),
             '{phone}', '[phone]', 'g'),
           '{ipv4}', '[ipv4]', 'g') AS redacted
  FROM synth)
SELECT lang,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_ipv4) AS BIGINT) AS ips,
       MIN(redacted) AS sample_redacted
FROM scrubbed GROUP BY lang
"""


def _q48_asof_join(spark, sf_dir):
    """As-of join (operators/join.py:join_asof): every click event picks
    the most recent prior error event of the same user (backward,
    inclusive), via the single-shuffle union-merge carry-forward plan —
    no pair explosion.  Gap totals in integer microseconds keep the
    check order-independent and exact."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev[ev.event_type == "click"]
    errors = ev[ev.event_type == "error"][["ts", "user_id", "value"]]
    joined = clicks.join_asof(errors, on="ts", by="user_id",
                              direction="backward")
    j = joined.spark
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right"))
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clicks"),
                 F.count("ts_right").cast("long").alias("n_matched"),
                 F.coalesce(F.sum(gap_us), F.lit(0)).cast("long").alias("total_gap_us"))
            .orderBy("user_id"))


_Q48_SQL = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
     e AS (SELECT ts, user_id, value FROM events WHERE event_type = 'error'),
     m AS (SELECT c.user_id, c.ts AS cts, e.ts AS ets
           FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(COUNT(ets) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(epoch_us(cts) - epoch_us(ets)), 0) AS BIGINT) AS total_gap_us
FROM m GROUP BY user_id ORDER BY user_id
"""


_Q49_BUCKETS = [(0.0, 2.0, "tiny"), (2.0, 5.0, "small"),
                (5.0, 12.0, "medium"), (12.0, 40.0, "large")]


def _q49_range_join(spark, sf_dir):
    """Range join (operators/join.py:join_range): events.value into
    literal intervals via the bucketized equi-join rewrite (explode
    intervals to covered buckets -> hash join -> exact filter), the
    shape that survives a non-broadcastable interval table at scale."""
    import vaex_spark as vs
    ev = _t(spark, sf_dir, "events")
    buckets = vs.from_arrays(lo=[b[0] for b in _Q49_BUCKETS],
                             hi=[b[1] for b in _Q49_BUCKETS],
                             label=[b[2] for b in _Q49_BUCKETS],
                             spark=spark)
    joined = ev[["value"]].join_range(buckets, "value", "lo", "hi",
                                      how="inner", bucket_width=2.0)
    return (joined.spark.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 dsum(F.col("value")).alias("sum_value"))
            .orderBy("label"))


def _q49_oracle_sql() -> str:
    vals = ", ".join(f"({lo}, {hi}, '{lab}')" for lo, hi, lab in _Q49_BUCKETS)
    return f"""
WITH buckets(lo, hi, label) AS (VALUES {vals})
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events JOIN buckets ON value >= lo AND value < hi
GROUP BY label ORDER BY label
"""


def _q50_contamination(spark, sf_dir):
    """Benchmark-contamination sweep (datapipe/dedup.py:contamination):
    probes are 20-word spans lifted from every 97th document, so the
    check provably fires; the corpus side never shuffles (probe shingles
    broadcast).  Output: per probe, how many docs share >=1 8-shingle
    and the total distinct-shingle overlap."""
    from vaex_spark.datapipe.dedup import contamination
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    probes = (docs._spark_df().filter(F.col("doc_id") % 97 == 0)
              .select(F.col("doc_id").alias("probe_id"),
                      F.array_join(F.slice(words, 11, 20), " ").alias("text")))
    hits = contamination(docs, probes, k=8, probe_id_col="probe_id")
    return (hits.groupBy("probe_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_overlap").cast("long").alias("total_overlap"))
            .orderBy("probe_id"))


_Q50_SQL = """
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
dg AS (
  SELECT DISTINCT doc_id, gram
  FROM w, UNNEST([array_to_string(words[i:i+7], ' ') for i in range(1, len(words) - 6)]) AS t(gram)
  WHERE len(words) >= 8),
pw AS (SELECT doc_id AS probe_id, words[11:30] AS pwords FROM w WHERE doc_id % 97 = 0),
pg AS (
  SELECT DISTINCT probe_id, gram
  FROM pw, UNNEST([array_to_string(pwords[i:i+7], ' ') for i in range(1, len(pwords) - 6)]) AS t(gram)
  WHERE len(pwords) >= 8),
hits AS (
  SELECT dg.doc_id, pg.probe_id, COUNT(*) AS n_overlap
  FROM dg JOIN pg USING (gram)
  GROUP BY dg.doc_id, pg.probe_id)
SELECT probe_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_overlap) AS BIGINT) AS total_overlap
FROM hits GROUP BY probe_id ORDER BY probe_id
"""


def _q51_repetition(spark, sf_dir):
    """Gopher-style repetition signals (datapipe/repetition.py): per-doc
    top-2-gram and duplicate-5-gram character fractions, aggregated per
    language.  Fractions are integer-ratio doubles (bit-identical across
    engines); sums go through the decimal-cast for order independence."""
    from vaex_spark.datapipe.repetition import repetition_stats
    docs = _t(spark, sf_dir, "documents")
    stats = repetition_stats(docs).spark
    j = stats.join(docs._spark_df().select("doc_id", "lang"), on="doc_id")
    return (j.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 dsum(F.round(F.col("top2gram_char_frac"), 6)).alias("sum_top2"),
                 dsum(F.round(F.col("dup5gram_char_frac"), 6)).alias("sum_dup5"))
            .orderBy("lang"))


_Q51_SQL = """
WITH w AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
g2 AS (
  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
  FROM w, UNNEST(range(1, len(words))) AS t(i)),
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
t2 AS (
  SELECT doc_id, cnt * LENGTH(gram) AS topchars,
         SUM(cnt * LENGTH(gram)) OVER (PARTITION BY doc_id) AS allchars,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
  FROM c2),
top2 AS (SELECT doc_id, CAST(topchars AS DOUBLE) / allchars AS top2frac FROM t2 WHERE rn = 1),
g5 AS (
  SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
  FROM w, UNNEST(range(1, len(words) - 3)) AS t(i)),
c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY doc_id, gram),
dup5 AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(gram) ELSE 0 END) AS DOUBLE)
           / SUM(cnt * LENGTH(gram)) AS dup5frac
  FROM c5 GROUP BY doc_id)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(ROUND(top2frac, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sum_top2,
       CAST(SUM(CAST(ROUND(dup5frac, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sum_dup5
FROM w JOIN top2 USING (doc_id) JOIN dup5 USING (doc_id)
GROUP BY lang ORDER BY lang
"""


def _q52_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (datapipe/packing.py): lay the
    corpus out in doc_id order and cut the token stream every 512
    tokens.  The running cumsum uses the range-partition + boundary-
    offset plan, so no single-task sort at scale."""
    from vaex_spark.datapipe.packing import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    sized = docs._spark_df().select("doc_id", F.size(words).cast("long").alias("n_tokens"))
    packed = pack_sequences(sized, "n_tokens", 512, order_key="doc_id")
    return (packed.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("sum_tokens"))
            .orderBy("bin"))


_Q52_SQL = """
WITH w AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, n,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM w)
SELECT CAST(pre // 512 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens
FROM c GROUP BY bin ORDER BY bin
"""


def _q53_tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per doc by smoothed TF-IDF
    (datapipe/text.py:tf_idf_terms), restricted to every 50th doc to
    keep the checked output compact; rank ties break on
    (round(tfidf,6) desc, term) so the rows are engine-independent."""
    from vaex_spark.datapipe.text import tf_idf_terms
    docs = _t(spark, sf_dir, "documents")
    out = tf_idf_terms(docs, k=3).spark
    return (out.filter(F.col("doc_id") % 50 == 0)
            .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                    F.col("df_count").cast("long").alias("df_count"),
                    "tfidf", "rank")
            .orderBy("doc_id", "rank"))


_Q53_SQL = """
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
toks AS (SELECT doc_id, unnest(words) AS term FROM w),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df_count FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_count,
         ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfq.df_count + 1)) + 1), 6) AS tfidf
  FROM tf, dfq, n WHERE tf.term = dfq.term),
ranked AS (
  SELECT doc_id, term, tf, df_count, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       CAST(df_count AS BIGINT) AS df_count, tfidf, rank
FROM ranked WHERE rank <= 3 AND doc_id % 50 = 0
ORDER BY doc_id, rank
"""


def _q54_unigram_quality(spark, sf_dir):
    """Unigram-LM quality scores (datapipe/text.py:unigram_logprob)
    aggregated per language: the CCNet-style filter signal.  Per-term
    logs round to 9 digits before a decimal-exact mean, so libm ULP
    differences between engines cannot reach the check."""
    from vaex_spark.datapipe.text import unigram_logprob
    docs = _t(spark, sf_dir, "documents")
    scores = unigram_logprob(docs).spark
    j = scores.join(docs._spark_df().select("doc_id", "lang"), on="doc_id")
    return (j.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 dsum(F.round(F.col("mean_logprob"), 6)).alias("sum_score"))
            .orderBy("lang"))


_Q54_SQL = """
WITH w AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
toks AS (SELECT doc_id, unnest(words) AS term FROM w),
counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vocab FROM counts),
lp AS (SELECT toks.doc_id, ROUND(ln((counts.cnt + 1) / (tot.total + tot.vocab)), 9) AS lp
       FROM toks, counts, tot WHERE toks.term = counts.term),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS mean_logprob
  FROM lp GROUP BY doc_id)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(ROUND(mean_logprob, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sum_score
FROM per_doc JOIN w USING (doc_id)
GROUP BY lang ORDER BY lang
"""


def _q55_session_windows(spark, sf_dir):
    """Session-window aggregation (streaming/__init__.py:session_window_agg
    on the batch path): gap-based sessions per user on the events
    stream, 30-minute inactivity gap.  The oracle reproduces Spark's
    session semantics (a session spans events with gaps < gap; an event
    at exactly start+gap opens a new session) via the classic
    lag+cumsum sessionization."""
    from vaex_spark.streaming import session_window_agg
    ev = _t(spark, sf_dir, "events")
    sess = session_window_agg(ev, "ts", "30 minutes",
                              {"n_events": "count"}, keys=["user_id"])
    return (sess.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                 F.sum("n_events").cast("long").alias("n_events"),
                 F.max("n_events").cast("long").alias("max_session_events"))
            .orderBy("user_id"))


_Q55_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o),
per_session AS (
  SELECT user_id, sid, COUNT(*) AS n_events FROM s GROUP BY user_id, sid)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def _q56_curation_pipeline(spark, sf_dir):
    """The full curation pipeline (datapipe/curate.py) oracle-checked
    END-TO-END: quality filter -> Gopher repetition filter -> exact
    dedup -> 512-token concat-and-chunk packing, each stage the same
    audited operator behind q28/q51/q26/q52.  Output: docs and token
    mass per packed bin."""
    from vaex_spark.datapipe.curate import curate
    docs = _t(spark, sf_dir, "documents")
    out = curate(docs, langs=None, min_quality=0.3, repetition_filter=True,
                 dedup="exact", pack_tokens=512)
    sdf = out._spark_df() if hasattr(out, "_spark_df") else out
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    return (sdf.select("bin", F.size(words).cast("long").alias("n_tok"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("sum_tokens"))
            .orderBy("bin"))


def _q56_oracle_sql() -> str:
    from vaex_spark.datapipe.text import _STOPWORDS_EN
    stop_re = "\\b(" + "|".join(_STOPWORDS_EN) + ")\\b"
    return f"""
WITH q AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
           GREATEST(LENGTH(text), 1) AS alpha_ratio,
         CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) /
           GREATEST(LENGTH(text), 1) AS digit_ratio,
         CAST(LEN(regexp_extract_all(lower(text), '{stop_re}')) AS DOUBLE) /
           GREATEST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END, 1) AS stop_ratio
  FROM documents),
scored AS (
  SELECT doc_id, text, n_tokens,
         ROUND(LEAST(n_tokens / 20.0, 1.0) * alpha_ratio *
               LEAST(stop_ratio * 4.0, 1.0) *
               GREATEST(0.0, 1.0 - digit_ratio * 3.0), 6) AS quality
  FROM q),
kept_q AS (SELECT doc_id, text FROM scored WHERE quality >= 0.3),
w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM kept_q),
g2 AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS gram
       FROM w, UNNEST(range(1, len(words))) AS t(i)),
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
t2 AS (SELECT doc_id, cnt * LENGTH(gram) AS topchars,
              SUM(cnt * LENGTH(gram)) OVER (PARTITION BY doc_id) AS allchars,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
       FROM c2),
top2 AS (SELECT doc_id, CAST(topchars AS DOUBLE) / allchars AS frac FROM t2 WHERE rn = 1),
g5 AS (SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
       FROM w, UNNEST(range(1, len(words) - 3)) AS t(i)),
c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY doc_id, gram),
dup5 AS (SELECT doc_id,
                CAST(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(gram) ELSE 0 END) AS DOUBLE)
                  / SUM(cnt * LENGTH(gram)) AS frac
         FROM c5 GROUP BY doc_id),
kept_rep AS (
  -- LEFT JOIN + COALESCE: docs too short to have 2-/5-grams carry no
  -- repetition signal and are kept (mirrors gopher_filter's coalesce)
  SELECT w.doc_id, w.text, w.words FROM w
  LEFT JOIN top2 ON w.doc_id = top2.doc_id
  LEFT JOIN dup5 ON w.doc_id = dup5.doc_id
  WHERE COALESCE(top2.frac, 0) <= 0.20 AND COALESCE(dup5.frac, 0) <= 0.15),
kept_dedup AS (
  SELECT doc_id, words FROM (
    SELECT doc_id, words,
           ROW_NUMBER() OVER (PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                              ORDER BY doc_id) AS rn
    FROM kept_rep) WHERE rn = 1),
sized AS (
  SELECT doc_id, len(words) AS n_tok,
         COALESCE(SUM(len(words)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM kept_dedup)
SELECT CAST(pre // 512 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM sized GROUP BY bin ORDER BY bin
"""


def _q57_json_props(spark, sf_dir):
    """JSON metadata extraction (expr.js accessor — get_json_object at
    scan speed, no UDF): pull props.k from the events JSON column and
    aggregate per event_type."""
    ev = _t(spark, sf_dir, "events")
    k = ev.props.js.get("k").astype("long")
    ev["k_val"] = k
    return (ev.spark.groupBy("event_type")
            .agg(F.count("k_val").cast("long").alias("n_with_k"),
                 F.sum("k_val").cast("long").alias("k_total"),
                 F.min("k_val").cast("long").alias("k_min"),
                 F.max("k_val").cast("long").alias("k_max"))
            .orderBy("event_type"))


_Q57_SQL = """
WITH x AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
  FROM events)
SELECT event_type,
       CAST(COUNT(k_val) AS BIGINT) AS n_with_k,
       CAST(SUM(k_val) AS BIGINT) AS k_total,
       CAST(MIN(k_val) AS BIGINT) AS k_min,
       CAST(MAX(k_val) AS BIGINT) AS k_max
FROM x GROUP BY event_type ORDER BY event_type
"""

def _q58_mix_budget(spark, sf_dir):
    """Training-mix budget sampling (datapipe/mixing.py): cap each
    language at a char budget, documents taken in doc_id order, the
    crossing document excluded; report the achieved mix.  The exact
    strategy is the oracle-checkable one; the hash strategy is the
    100 TB path (pytest-verified)."""
    from vaex_spark.datapipe.mixing import mix_budget
    docs = _t(spark, sf_dir, "documents")
    budgets = {"en": 40000.0, "de": 15000.0, "zh": 12000.0}
    out = mix_budget(docs, budgets, group_col="lang", length_col="n_chars",
                     order_key="doc_id", strategy="exact")
    return (out.spark.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.col("n_chars")).cast("long").alias("chars_used"),
                 F.min("doc_id").cast("long").alias("first_doc"),
                 F.max("doc_id").cast("long").alias("last_doc"))
            .orderBy("lang"))


_Q58_SQL = """
WITH b AS (
  SELECT doc_id, lang, n_chars,
         CASE lang WHEN 'en' THEN 40000.0 WHEN 'de' THEN 15000.0
                   WHEN 'zh' THEN 12000.0 END AS budget,
         COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM documents)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_used,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM b WHERE budget IS NOT NULL AND before + n_chars <= budget
GROUP BY lang ORDER BY lang
"""

def _q59_boilerplate_lines(spark, sf_dir):
    """C4-style boilerplate-line removal (datapipe/text.py:
    remove_boilerplate_lines): lines appearing in >= 3 distinct docs are
    dropped everywhere; per-doc cleaned text is md5-fingerprinted so the
    oracle compares exact reconstruction (order-preserving rejoin)."""
    from vaex_spark.datapipe.text import remove_boilerplate_lines
    docs = _t(spark, sf_dir, "documents")
    out = remove_boilerplate_lines(docs, min_docs=3)
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             F.length("text").cast("long").alias("n_chars_clean"),
                             F.md5(F.col("text")).alias("clean_md5")))


_Q59_SQL = """
WITH e AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
  FROM documents),
boiler AS (
  SELECT lower(trim(line)) AS nline
  FROM e GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
kept AS (
  SELECT doc_id, line, pos FROM e
  WHERE lower(trim(line)) NOT IN (SELECT nline FROM boiler)),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM kept GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(length(COALESCE(r.text, '')) AS BIGINT) AS n_chars_clean,
       md5(COALESCE(r.text, '')) AS clean_md5
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""

def _q60_incremental_dedup(spark, sf_dir):
    """Incremental snapshot dedup (datapipe/dedup.py:
    exact_dedup_incremental): treat even doc_ids as the already-ingested
    corpus and odd ids as the new batch; batch rows whose normalized
    text exists in the corpus are dropped, then the batch is deduped
    within itself keeping the lowest id."""
    from vaex_spark.datapipe.dedup import exact_dedup_incremental
    docs = _t(spark, sf_dir, "documents")
    seen = docs[docs.doc_id % 2 == 0]
    batch = docs[docs.doc_id % 2 == 1]
    out = exact_dedup_incremental(batch, seen)
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             F.col("lang"), F.col("source")))


_Q60_SQL = """
WITH fp AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents),
seen AS (SELECT DISTINCT norm FROM fp WHERE doc_id % 2 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 2 = 1),
fresh AS (
  SELECT * FROM batch WHERE norm NOT IN (SELECT norm FROM seen)),
kept AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
  FROM fresh)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
FROM kept WHERE rn = 1
"""

def _q61_fuzzy_incremental_dedup(spark, sf_dir):
    """Fuzzy incremental dedup (datapipe/dedup.py:
    near_dup_against_corpus): even doc_ids are the ingested corpus, odd
    ids the new batch; batch docs with exact 5-gram Jaccard >= 0.5
    against ANY corpus doc are dropped (MinHash band join finds the
    candidates; banding r=2,b=32 puts per-pair recall at ~0.9999 so the
    result equals the exact all-pairs oracle)."""
    from vaex_spark.datapipe.dedup import near_dup_against_corpus
    docs = _t(spark, sf_dir, "documents")
    corpus = docs[docs.doc_id % 2 == 0]
    batch = docs[docs.doc_id % 2 == 1]
    out = near_dup_against_corpus(batch, corpus, threshold=0.5)
    return out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                            F.col("lang"))


_Q61_SQL = """
WITH sets AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+4], ' ')
                        FOR i IN range(1, CASE WHEN LEN(words) < 6 THEN 2
                                               ELSE LEN(words) - 3 END)]) AS s
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
        FROM documents)),
dup AS (
  SELECT DISTINCT b.doc_id
  FROM sets b JOIN sets c
    ON b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
   AND ROUND(CAST(LEN(list_intersect(b.s, c.s)) AS DOUBLE) /
             LEN(list_distinct(list_concat(b.s, c.s))), 6) >= 0.5)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
FROM documents d
WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM dup)
"""

def _q62_multimodal_features(spark, sf_dir):
    """Multimodal plumbing in the graded loop (datapipe/multimodal.py):
    documents' text bytes stand in for image payloads (the container
    ships no codec, so decode is the clearly-marked deterministic fake),
    flow through the real Arrow-batched mapInPandas feature extractor,
    and aggregate per language.  No SQL oracle exists for the fake
    decoder's numpy path — this is the one intentionally rows-only
    query; schema and row count are stable and deterministic."""
    from vaex_spark.datapipe.multimodal import image_features
    docs = _t(spark, sf_dir, "documents")
    assets = docs.spark.select(
        "doc_id", "lang",
        F.struct(F.encode(F.col("text"), "utf-8").alias("content"),
                 F.lit(4).alias("width"), F.lit(4).alias("height")).alias("image"))
    feats = image_features(assets, image_col="image")
    return (feats.select("doc_id", "lang",
                         F.element_at("features", 1).alias("f_mean"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_imgs"),
                 F.round(F.avg("f_mean"), 4).alias("avg_feat"))
            .orderBy("lang"))

def _q63_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9-flavored 5-way join: revenue of PROMO-type parts by
    supplier nation and order year.  Plan shape: pushed p_type filter on
    the part scan, broadcast part/supplier/nation dims, lineitem-orders
    equi join, single hash aggregate (decimal-cast sum for
    order-independent hash parity with the oracle)."""
    li = _t(spark, sf_dir, "lineitem").spark
    orders = _t(spark, sf_dir, "orders").spark
    supp = _t(spark, sf_dir, "supplier").spark
    nat = _t(spark, sf_dir, "nation").spark
    part = _t(spark, sf_dir, "part").spark.filter(F.col("p_type") == "PROMO")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    j = (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
         .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
         .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
         .join(orders, li["l_orderkey"] == orders["o_orderkey"]))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(rev).cast("double").alias("profit"),
                 F.count(F.lit(1)).cast("long").alias("n_lines"))
            .orderBy("nation", "o_year"))


_Q63_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY 1, 2
"""

def _q64_market_share(spark, sf_dir):
    """TPC-H Q8-flavored market share: the share of each order year's
    total revenue delivered by suppliers of one nation — conditional
    aggregation over a join (share = sum(if(nation)) / sum(all)), one
    hash aggregate after broadcast dims."""
    li = _t(spark, sf_dir, "lineitem").spark
    orders = _t(spark, sf_dir, "orders").spark
    supp = _t(spark, sf_dir, "supplier").spark
    nat = _t(spark, sf_dir, "nation").spark
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    j = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
         .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
         .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"]))
    target = F.when(F.col("n_name") == "NATION_7", rev).otherwise(F.lit(0).cast(DEC))
    return (j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(target).cast("double") /
                         F.sum(rev).cast("double"), 9).alias("mkt_share"),
                 F.sum(rev).cast("double").alias("total_rev"))
            .orderBy("o_year"))


_Q64_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_7'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                           ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) /
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE), 9) AS mkt_share,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_rev
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
"""

def _q65_pivot(spark, sf_dir):
    """Wide-format pivot (DataFrame.pivot over Spark's groupBy().pivot):
    chars per (source, lang), one column per language, explicit pivot
    domain so the schema is deterministic and the distinct-scan is
    skipped."""
    docs = _t(spark, sf_dir, "documents")
    out = docs.pivot("source", "lang", "n_chars", agg="sum",
                     column_values=["de", "en", "es", "fr", "zh"])
    sel = [F.col("source")] + [
        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
        for c in ("de", "en", "es", "fr", "zh")]
    return out.spark.select(*sel).orderBy("source")


_Q65_SQL = """
SELECT source,
       CAST(COALESCE(SUM(CASE WHEN lang = 'de' THEN n_chars END), 0) AS BIGINT) AS de,
       CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN n_chars END), 0) AS BIGINT) AS en,
       CAST(COALESCE(SUM(CASE WHEN lang = 'es' THEN n_chars END), 0) AS BIGINT) AS es,
       CAST(COALESCE(SUM(CASE WHEN lang = 'fr' THEN n_chars END), 0) AS BIGINT) AS fr,
       CAST(COALESCE(SUM(CASE WHEN lang = 'zh' THEN n_chars END), 0) AS BIGINT) AS zh
FROM documents GROUP BY source ORDER BY source
"""


# ===========================================================================
# round-4 pipeline ops: semantic dedup, substring dedup, chunking, PMI
# ===========================================================================
def _q66_semantic_dedup(spark, sf_dir):
    """SemDeDup (datapipe/similarity.py:semantic_dedup): nearest-centroid
    clustering (first-8 deterministic centroids) + within-cluster cosine
    pairs; removed = has a lower-id cluster-mate at cos >= 0.42 (the
    synthetic embeddings top out ~0.51, same rationale as q44).  The
    oracle replays assignment (argmax of 6-rounded cosine, ties to the
    lowest centroid) and the in-cluster pair scan in SQL."""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, n_clusters=8, threshold=0.42,
                                     centroids="first-k", round_to=6)


_Q66_SQL = """
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
scored AS (
  SELECT e.vec_id, c.cid,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS cos
  FROM embeddings e CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, cid AS cluster
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cid) AS rn
        FROM scored)
  WHERE rn = 1),
pairs AS (
  SELECT b.vec_id AS id_b, a.cluster, a.vec_id AS id_a,
         ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(ea.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])))), 6) AS cos
  FROM assigned a
  JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id)
SELECT id_b AS vec_id, cluster, CAST(MIN(id_a) AS BIGINT) AS dup_of
FROM pairs WHERE cos >= 0.42
GROUP BY id_b, cluster
"""


def _q67_duplicated_spans(spark, sf_dir):
    """Exact duplicated-substring stats (datapipe/dedup.py:
    duplicated_spans): 10-token sliding windows hashed; windows in >= 2
    distinct docs are duplicated spans.  Per-doc (n_spans, n_dup_spans,
    dup_frac); the oracle regenerates the same windows lateral-style and
    groups on span TEXT (the hash is collision-free at this scale)."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, width=10, min_docs=2).spark


_Q67_SQL = """
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
base AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 10 THEN len(words) - 9 ELSE 0 END AS n_spans
  FROM w),
sp AS (
  SELECT doc_id, gram
  FROM w, UNNEST([array_to_string(words[i:i+9], ' ')
                  for i in range(1, len(words) - 8)]) AS t(gram)
  WHERE len(words) >= 10),
dup AS (SELECT gram FROM sp GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
dpd AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM sp JOIN dup USING (gram)
        GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_spans AS BIGINT) AS n_spans,
       CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN b.n_spans > 0
            THEN ROUND(CAST(COALESCE(d.n_dup_spans, 0) AS DOUBLE) / b.n_spans, 6)
            ELSE 0.0 END AS dup_frac
FROM base b LEFT JOIN dpd d USING (doc_id)
"""


def _q68_doc_chunks(spark, sf_dir):
    """Overlapping token-window chunking (datapipe/text.py:
    chunk_documents): 32-token chunks, stride 24; every start < n_tokens
    emits so no token is dropped.  Chunk text itself is hash-compared."""
    from vaex_spark.datapipe import text as dtext
    docs = _t(spark, sf_dir, "documents")
    return dtext.chunk_documents(docs, chunk_tokens=32, stride=24).spark


_Q68_SQL = """
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents)
SELECT doc_id,
       CAST(g.s / 24 AS INT) AS chunk_id,
       CAST(g.s AS INT) AS chunk_start,
       CAST(LEAST(32, len(words) - g.s) AS INT) AS n_chunk_tokens,
       array_to_string(words[g.s + 1:g.s + 32], ' ') AS chunk_text
FROM w, UNNEST(range(0, len(words), 24)) AS g(s)
"""


def _q69_bigram_pmi(spark, sf_dir):
    """Collocation mining (datapipe/text.py:bigram_pmi): bigram PMI
    against unigram marginals, min_count=5, top 25 by (pmi desc, w1,
    w2).  The pmi double is a ln of an exact-integer ratio, rounded to
    6 — identical across engines at that precision."""
    from vaex_spark.datapipe import text as dtext
    docs = _t(spark, sf_dir, "documents")
    out = dtext.bigram_pmi(docs, min_count=5)
    return (out.orderBy(F.col("pmi").desc(), "w1", "w2").limit(25))


_Q69_SQL = """
WITH w AS (
  SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
tok AS (SELECT t FROM w, UNNEST(words) AS u(t)),
uni AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
nuni AS (SELECT SUM(c) AS n FROM uni),
big AS (SELECT words[i] AS w1, words[i+1] AS w2
        FROM w, UNNEST(range(1, len(words))) AS r(i)
        WHERE len(words) >= 2),
bic AS (SELECT w1, w2, COUNT(*) AS c_ab FROM big GROUP BY w1, w2),
nbi AS (SELECT SUM(c_ab) AS n FROM bic)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       ROUND(LN((CAST(c_ab AS DOUBLE) * nuni.n * nuni.n) /
                (CAST(nbi.n AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
FROM bic
JOIN uni ua ON ua.t = bic.w1
JOIN uni ub ON ub.t = bic.w2
CROSS JOIN nuni CROSS JOIN nbi
WHERE c_ab >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 25
"""


def _q70_strip_dup_spans(spark, sf_dir):
    """Duplicated-substring REMOVAL (datapipe/dedup.py:
    strip_duplicated_spans): tokens covered by any 10-token window seen
    in >= 2 distinct docs are stripped; survivors rejoin in order.
    Compared via md5 of the rebuilt (normalized) text, q59-style."""
    from vaex_spark.datapipe import dedup
    docs = _t(spark, sf_dir, "documents")
    out = dedup.strip_duplicated_spans(docs, width=10, min_docs=2)
    return out.spark.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_clean"),
        F.md5(F.col("text")).alias("clean_md5"))


_Q70_SQL = """
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents),
sp AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(words[i:i+9], ' ') AS gram
  FROM w, UNNEST(range(1, len(words) - 8)) AS r(i)
  WHERE len(words) >= 10),
dup AS (SELECT gram FROM sp GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT sp.doc_id, sp.pos + d.d AS tpos
  FROM sp JOIN dup USING (gram), UNNEST(range(0, 10)) AS d(d)),
tok AS (
  SELECT doc_id, i - 1 AS tpos, words[i] AS tok
  FROM w, UNNEST(range(1, len(words) + 1)) AS r(i)),
kept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.tpos = t.tpos
  WHERE c.doc_id IS NULL),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text
  FROM kept GROUP BY doc_id)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       CAST(length(COALESCE(r.text, '')) AS BIGINT) AS n_chars_clean,
       md5(COALESCE(r.text, '')) AS clean_md5
FROM w LEFT JOIN rebuilt r ON w.doc_id = r.doc_id
"""


def _q71_sole_supplier_orders(spark, sf_dir):
    """TPC-H Q21-flavored two-level aggregation: orders served by exactly
    ONE distinct supplier, counted and valued per that supplier, top 10.
    Plan shape: one shuffle on l_orderkey (count_distinct + decimal sum
    with map-side partial), filter on the agg result, then a second
    shuffle on the supplier key over the order-count-sized relation —
    never a self-join of lineitem (the naive EXISTS spelling)."""
    li = _t(spark, sf_dir, "lineitem").spark
    supp = _t(spark, sf_dir, "supplier").spark
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.count_distinct("l_suppkey").alias("n_supp"),
                      F.max("l_suppkey").alias("suppkey"),
                      F.sum(F.col("l_extendedprice").cast(DEC)).alias("order_value")))
    out = (per_order.filter(F.col("n_supp") == 1)
           .groupBy("suppkey")
           .agg(F.count(F.lit(1)).cast("long").alias("n_sole_orders"),
                F.sum("order_value").cast("double").alias("sole_value"))
           .join(F.broadcast(supp), F.col("suppkey") == supp["s_suppkey"])
           .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                   "s_name", "n_sole_orders", "sole_value")
           .orderBy(F.col("n_sole_orders").desc(), "s_suppkey")
           .limit(10))
    return out


_Q71_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         MAX(l_suppkey) AS suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS order_value
  FROM lineitem GROUP BY l_orderkey)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_sole_orders,
       CAST(SUM(order_value) AS DOUBLE) AS sole_value
FROM per_order p JOIN supplier s ON s.s_suppkey = p.suppkey
WHERE p.n_supp = 1
GROUP BY s.s_suppkey, s.s_name
ORDER BY n_sole_orders DESC, s_suppkey
LIMIT 10
"""


def _q72_dormant_big_accounts(spark, sf_dir):
    """TPC-H Q22-flavored anti-join with a scalar subquery threshold:
    customers whose balance exceeds the average POSITIVE balance and who
    placed no order on/after 2000-01-01, summarized per market segment.
    Plan shape: the 1-row average is crossJoin-broadcast (no driver
    collect); the dormancy test is a left_anti hash join against the
    date-filtered order keys (filter pushed to the orders scan); one
    final small aggregate.  The avg is a deterministic double derived
    from an exact decimal sum, so the > comparisons agree across
    engines."""
    cust = _t(spark, sf_dir, "customer").spark
    orders = _t(spark, sf_dir, "orders").spark
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg((F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                     / F.count("c_acctbal")).alias("avg_bal")))
    recent = (orders
              .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
              .select("o_custkey"))
    return (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal"))
            .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_custs"),
                 F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_bal"))
            .orderBy("c_mktsegment"))


_Q72_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)/COUNT(c_acctbal) AS avg_bal
  FROM customer WHERE c_acctbal > 0),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
FROM customer CROSS JOIN avg_bal
WHERE c_acctbal > avg_bal
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def _q73_supplier_share(spark, sf_dir):
    """TPC-H Q11-flavored fraction-of-total HAVING: suppliers whose
    lineitem revenue exceeds 1.2% of total revenue, with their share.
    Plan shape: ONE shuffle of lineitem onto l_suppkey; the per-supplier
    agg is persisted so the grand total derives from it (supplier-count
    rows) instead of a second lineitem scan; the 1-row total is
    crossJoin-broadcast into the filter.  Decimal sums make both the
    threshold comparison and the rounded share engine-portable."""
    from vaex_spark.cache import _register_persist
    li = _t(spark, sf_dir, "lineitem").spark
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_supp = _register_persist(
        li.groupBy("l_suppkey").agg(F.sum(rev).alias("srev")))
    # threshold relative to the MEAN supplier share (x1.05) so the query
    # selects a non-trivial subset at every scale factor — a fixed
    # fraction of total is supplier-count-dependent
    total = per_supp.agg(F.sum("srev").alias("trev"),
                         F.count(F.lit(1)).alias("n_supp"))
    return (per_supp.crossJoin(F.broadcast(total))
            .filter(F.col("srev").cast("double")
                    > F.col("trev").cast("double") / F.col("n_supp") * F.lit(1.05))
            .select(F.col("l_suppkey").cast("long").alias("s_suppkey"),
                    F.col("srev").cast("double").alias("supplier_revenue"),
                    F.round(F.col("srev").cast("double")
                            / F.col("trev").cast("double"), 6).alias("revenue_share"))
            .orderBy("s_suppkey"))


_Q73_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(25,6))) AS srev
  FROM lineitem GROUP BY l_suppkey),
total AS (SELECT SUM(srev) AS trev, COUNT(*) AS n_supp FROM per_supp)
SELECT CAST(l_suppkey AS BIGINT) AS s_suppkey,
       CAST(srev AS DOUBLE) AS supplier_revenue,
       ROUND(CAST(srev AS DOUBLE)/CAST(trev AS DOUBLE), 6) AS revenue_share
FROM per_supp CROSS JOIN total
WHERE CAST(srev AS DOUBLE) > CAST(trev AS DOUBLE) / n_supp * 1.05
ORDER BY s_suppkey
"""


def _q74_quarter_top_supplier(spark, sf_dir):
    """TPC-H Q15-flavored argmax-over-aggregate: the supplier(s) with
    the maximum revenue in 1996Q1.  Plan shape: one shuffle of the
    quarter's lineitem onto l_suppkey (filter pushed to scan), persist
    the supplier-sized agg, derive the 1-row max from it and
    crossJoin-broadcast back for the equality filter — exact decimal
    sums make revenue == max portable, where double sums would tie-break
    differently per partitioning.  No window over an unpartitioned
    relation (the classic Q15 scale trap)."""
    from vaex_spark.cache import _register_persist
    li = _t(spark, sf_dir, "lineitem").spark
    supp = _t(spark, sf_dir, "supplier").spark
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    q1 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    per_supp = _register_persist(
        q1.groupBy("l_suppkey").agg(F.sum(rev).alias("srev")))
    mx = per_supp.agg(F.max("srev").alias("max_rev"))
    return (per_supp.crossJoin(F.broadcast(mx))
            .filter(F.col("srev") == F.col("max_rev"))
            .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name",
                    F.col("srev").cast("double").alias("quarter_revenue"))
            .orderBy("s_suppkey"))


_Q74_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(25,6))) AS srev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey),
mx AS (SELECT MAX(srev) AS max_rev FROM per_supp)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       CAST(p.srev AS DOUBLE) AS quarter_revenue
FROM per_supp p CROSS JOIN mx
JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.srev = mx.max_rev
ORDER BY s_suppkey
"""


def _q75_source_drift(spark, sf_dir):
    """Distribution-drift monitor (datapipe/text.py:distribution_drift):
    per-source Jensen-Shannon divergence + total-variation distance of
    the token-count distribution (width-10 buckets) against the corpus.
    One corpus-sized shuffle; all divergence terms decimal-accumulated
    for cross-engine and cross-partitioning determinism."""
    from vaex_spark.datapipe import text as dtext
    docs = _t(spark, sf_dir, "documents")
    val = dtext.token_count_whitespace(F.col("text"))
    out = dtext.distribution_drift(docs, val, group_col="source",
                                   bucket_width=10.0)
    return (out.select(F.col("grp").alias("source"), "js_divergence",
                       "tvd", "n_docs")
            .orderBy("source"))


_Q75_SQL = """
WITH binned AS (
  SELECT source AS grp,
         CAST(FLOOR(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                    / 10.0) AS BIGINT) AS bucket
  FROM documents),
cell AS (SELECT grp, bucket, COUNT(*) AS c_gb FROM binned GROUP BY grp, bucket),
gt AS (SELECT grp, SUM(c_gb) AS n_g FROM cell GROUP BY grp),
gl AS (SELECT bucket, SUM(c_gb) AS c_b FROM cell GROUP BY bucket),
tot AS (SELECT SUM(c_b) AS n_all FROM gl),
grid AS (
  SELECT gt.grp, gt.n_g, gl.bucket, gl.c_b,
         COALESCE(cell.c_gb, 0) AS c_gb, tot.n_all
  FROM gt CROSS JOIN gl
  LEFT JOIN cell ON cell.grp = gt.grp AND cell.bucket = gl.bucket
  CROSS JOIN tot)
SELECT grp AS source,
  ROUND(CAST(SUM(CAST(
    CASE WHEN c_gb > 0
         THEN (CAST(c_gb AS DOUBLE)/n_g)
              * ln((CAST(c_gb AS DOUBLE)/n_g)
                   / ((CAST(c_gb AS DOUBLE)/n_g + CAST(c_b AS DOUBLE)/n_all)/2.0)) / 2.0
         ELSE 0.0 END
    + (CAST(c_b AS DOUBLE)/n_all)
      * ln((CAST(c_b AS DOUBLE)/n_all)
           / ((CAST(c_gb AS DOUBLE)/n_g + CAST(c_b AS DOUBLE)/n_all)/2.0)) / 2.0
   AS DECIMAL(38,18))) AS DOUBLE), 6) AS js_divergence,
  ROUND(CAST(SUM(CAST(
    ABS(CAST(c_gb AS DOUBLE)/n_g - CAST(c_b AS DOUBLE)/n_all) / 2.0
   AS DECIMAL(38,18))) AS DOUBLE), 6) AS tvd,
  CAST(MAX(n_g) AS BIGINT) AS n_docs
FROM grid GROUP BY grp ORDER BY grp
"""


def _q76_rollup_revenue(spark, sf_dir):
    """Grouping sets through the vaex_spark groupby machinery:
    df.rollup([segment, year]) — revenue subtotals at (segment, year),
    (segment) and grand-total levels in ONE shuffle (Spark Expand +
    Aggregate), where the reference's recipe (vaex has no grouping
    sets) would union N groupbys and rescan per level.  Null subtotal
    keys are COALESCEd to sentinels on both engines."""
    from vaex_spark.dataframe import DataFrame as VDataFrame
    orders = _t(spark, sf_dir, "orders").spark
    cust = _t(spark, sf_dir, "customer").spark
    j = orders.join(F.broadcast(cust),
                    orders["o_custkey"] == cust["c_custkey"])
    vdf = VDataFrame(j)
    vdf["o_year"] = vdf.o_orderdate.dt.year
    res = vdf.rollup(["c_mktsegment", "o_year"], agg={
        "revenue": dsum("o_totalprice"),
        "n_orders": F.count(F.lit(1)).cast("long"),
    }).spark
    return (res.select(
        F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
        F.coalesce(F.col("o_year").cast("long"), F.lit(-1)).alias("o_year"),
        "revenue", "n_orders")
        .orderBy("segment", "o_year"))


_Q76_SQL = """
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       CAST(COALESCE(EXTRACT(year FROM o_orderdate), -1) AS BIGINT) AS o_year,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY ROLLUP(c_mktsegment, EXTRACT(year FROM o_orderdate))
ORDER BY segment, o_year
"""


def _q77_bloom_incremental_dedup(spark, sf_dir):
    """Incremental dedup with a Bloom-filter corpus summary
    (datapipe/dedup.py: build_fingerprint_bloom +
    exact_dedup_incremental(bloom=)): doc_id %% 3 != 0 is the ingested
    corpus, %% 3 == 0 the new batch.  Runs the SHIPPED crossover
    default (bloom_min_corpus_ratio=4): at this corpus≈2×batch regime
    the stats heuristic correctly rejects the bloom plan and takes the
    plain fingerprint anti-join — the faster choice here, demonstrated
    in-artifact (the bloom plan's win is replacing a corpus EXCHANGE
    with a map-side scan, which only pays when corpus >> batch; that
    regime is probed in SCALECHECK's bloom_dedup row and the forced
    plan is audited in PLANS' q77_bloom_forced entry).  The crossover
    gates the BUILD too: corpus_wants_bloom is a zero-job
    Catalyst-stats check, so the snapshot pipeline never pays the
    corpus bitmap scan for a bloom the planner would discard.  Results
    are identical on both paths (no false negatives)."""
    from vaex_spark.datapipe.dedup import (build_fingerprint_bloom,
                                           corpus_wants_bloom,
                                           exact_dedup_incremental)
    docs = _t(spark, sf_dir, "documents")
    seen = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    bloom = (build_fingerprint_bloom(seen, fpp=0.01)
             if corpus_wants_bloom(batch, seen) else None)
    out = exact_dedup_incremental(batch, seen, bloom=bloom)
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             F.col("lang"), F.col("source")))


_Q77_SQL = """
WITH fp AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents),
seen AS (SELECT DISTINCT norm FROM fp WHERE doc_id % 3 != 0),
batch AS (SELECT * FROM fp WHERE doc_id % 3 = 0),
fresh AS (
  SELECT * FROM batch WHERE norm NOT IN (SELECT norm FROM seen)),
kept AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
  FROM fresh)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
FROM kept WHERE rn = 1
"""


def _q78_domain_caps(spark, sf_dir):
    """RefinedWeb-style per-domain caps (datapipe/mixing.py:
    cap_per_group): keep at most 8 documents per source, preferring the
    LONGEST (n_chars desc, ties by lowest id).  Plans WindowGroupLimit:
    every map task pre-truncates its groups to 8 rows before the
    exchange, so a hot domain never ships its full row count
    (plan-audited in tests)."""
    from vaex_spark.datapipe.mixing import cap_per_group
    docs = _t(spark, sf_dir, "documents")
    out = cap_per_group(docs, cap=8, group_col="source",
                        order_key=[F.col("n_chars").desc()])
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             "source",
                             F.col("n_chars").cast("long").alias("n_chars")))


_Q78_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn <= 8
"""


def _q79_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (datapipe/dedup.py:
    exact_dedup(quality_col=)): each duplicate-text group keeps its
    highest-quality copy (here: longest raw text, i.e. n_chars — copies
    of the same normalized text can differ in whitespace), ties by
    lowest id — the curation pattern of keeping the best copy instead
    of the accidental first one.  Window strategy: the exchange carries
    (hash, id, quality) only; bodies never move."""
    from vaex_spark.datapipe.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents")
    out = exact_dedup(docs, quality_col="n_chars", strategy="window")
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             "lang", "source",
                             F.col("n_chars").cast("long").alias("n_chars")))


_Q79_SQL = """
WITH fp AS (
  SELECT doc_id, lang, source, n_chars,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents),
kept AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY norm
                               ORDER BY n_chars DESC, doc_id) AS rn
  FROM fp)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM kept WHERE rn = 1
"""


def _q80_stratified_sample(spark, sf_dir):
    """Exact stratified sampling (datapipe/mixing.py:
    stratified_sample): keep exactly ceil(20%) of every source, rows
    chosen by md5(doc_id||seed) rank — engine-portable deterministic
    pseudorandomness, so DuckDB reproduces the SAME selection (the
    oracle matches row-for-row, not just counts)."""
    from vaex_spark.datapipe.mixing import stratified_sample
    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, 0.2, group_col="source", seed=42)
    return (out.spark.select(F.col("doc_id").cast("long").alias("doc_id"),
                             "source",
                             F.col("n_chars").cast("long").alias("n_chars")))


_Q80_SQL = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || '-42'),
                                     doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS gn
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn <= CEIL(gn * 0.2)
"""


def _q81_text_cleanup(spark, sf_dir):
    """Encoding/typography cleanup (datapipe/text.py: clean_text):
    each document is decorated with the crawl artifacts the operator
    targets (curly quotes, a BEL control char, a zero-width space, an
    NBSP, an em-dash, an ellipsis) and then cleaned; the md5 of the
    cleaned text must match DuckDB running the same normalization
    chain.  Scan-speed Column regexp/translate -- no UDF."""
    from vaex_spark.datapipe.text import clean_text
    docs = _t(spark, sf_dir, "documents").spark
    # explicit escapes: invisible characters never appear raw in source
    dirty = F.concat(F.lit("\u201c\x07"), F.col("text"),
                     F.lit("\u200b\u201d \u00a0\u2014\u2026"))
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.md5(clean_text(dirty)).alias("clean_md5")))


# The same normalization chain in DuckDB SQL.  Non-ASCII characters are
# written as Python \u escapes (processed at import), so nothing
# invisible hides in the source; DuckDB string literals are escape-free,
# so regex backslashes appear singly and quote/dquote runs are built
# with repeat(chr(...)).
_Q81_SQL = """
WITH dirty AS (
  SELECT doc_id,
         '\u201c' || chr(7) || text || '\u200b\u201d ' || chr(160) ||
         '\u2014\u2026' AS t
  FROM documents),
c1 AS (SELECT doc_id, regexp_replace(t,
        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]', '', 'g') AS t
       FROM dirty),
c2 AS (SELECT doc_id, regexp_replace(t,
        '[\u200b\u200c\u200d\ufeff\u00ad]', '', 'g') AS t FROM c1),
c3 AS (SELECT doc_id, translate(t,
        '\u2018\u2019\u201a\u201c\u201d\u201e\u2013\u2014\u00a0',
        repeat(chr(39), 3) || repeat(chr(34), 3) || '-- ') AS t FROM c2),
c4 AS (SELECT doc_id, regexp_replace(t, '\u2026', '...', 'g') AS t FROM c3),
c5 AS (SELECT doc_id, regexp_replace(t, '[ \\t]+', ' ', 'g') AS t FROM c4),
c6 AS (SELECT doc_id, regexp_replace(t, ' +\\n', chr(10), 'g') AS t FROM c5)
SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(trim(t)) AS clean_md5
FROM c6
"""


def _q82_cube_orders(spark, sf_dir):
    """CUBE grouping sets through the vaex_spark groupby machinery
    (dataframe.py:cube): order counts and revenue at every subset of
    (orderpriority, orderstatus) — all four grouping levels in ONE
    Expand+Aggregate shuffle.  Null subtotal keys COALESCEd to
    sentinels on both engines."""
    from vaex_spark.dataframe import DataFrame as VDataFrame
    orders = _t(spark, sf_dir, "orders")
    res = orders.cube(["o_orderpriority", "o_orderstatus"], agg={
        "revenue": dsum("o_totalprice"),
        "n_orders": F.count(F.lit(1)).cast("long"),
    }).spark
    return (res.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
        "revenue", "n_orders")
        .orderBy("priority", "status"))


_Q82_SQL = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


def _q83_trailing_time_window(spark, sf_dir):
    """Time-range rolling aggregate (operators/window.py:rolling_range):
    per user, the trailing-600s mean of value at every event.  RANGE
    frame over epoch seconds, partitioned by user (the parallel form);
    the mean is computed as decimal-sum / count on BOTH engines so
    float summation order cannot flip the hash."""
    events = _t(spark, sf_dir, "events")
    sdf = events.spark.withColumn("vdec", F.col("value").cast("decimal(25,6)"))
    from vaex_spark.operators.window import rolling_range
    r = rolling_range(sdf, 600, on="ts", column=["vdec"], agg="sum",
                      partition_by="user_id")
    r = rolling_range(r, 600, on="ts", column=["value"], agg="count",
                      partition_by="user_id")
    return r.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round(F.col("vdec_rolling_sum").cast("double")
                / F.col("value_rolling_count"), 6).alias("trailing_mean"))


_Q83_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w, 6) AS trailing_mean
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 599 PRECEDING AND CURRENT ROW)
"""


def _q84_sessionization(spark, sf_dir):
    """Batch gaps-and-islands sessionization
    (operators/window.py:sessionize): per-user sessions split at
    30-minute gaps, then per-user session counts and event totals —
    one shuffle on user, two window passes, no joins."""
    events = _t(spark, sf_dir, "events")
    sess = events.sessionize("ts", 1800, by="user_id")
    return (sess.spark.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg((F.max("session_idx") + 1).cast("long").alias("n_sessions"),
                 F.count(F.lit(1)).cast("long").alias("n_events"))
            .orderBy("user_id"))


_Q84_SQL = """
WITH gaps AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)) IS NULL
                   OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                      - lag(CAST(FLOOR(epoch(ts)) AS BIGINT))
                        OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(new_s) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM gaps
GROUP BY user_id
ORDER BY user_id
"""


def _q85_cheapest_supplier_per_part(spark, sf_dir):
    """Correlated-min decorrelation (TPC-H Q2's core pattern on the
    tables available): for every part, the lineitems hitting that
    part's minimum effective unit price.  The correlated subquery
    (WHERE price = (SELECT MIN ... WHERE same part)) rewrites to ONE
    window min over partitionBy(part) + filter — single shuffle, no
    self-join, no subquery re-scan."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem").spark
    # raw-double comparison: a*(1-b)/c is the same IEEE result on both
    # engines, so equality against the window min is exact; rounding
    # happens only in the displayed column
    unit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
            / F.col("l_quantity"))
    w = Window.partitionBy("l_partkey")
    out = (li.select(F.col("l_partkey").cast("long").alias("l_partkey"),
                     F.col("l_suppkey").cast("long").alias("l_suppkey"),
                     F.col("l_orderkey").cast("long").alias("l_orderkey"),
                     unit.alias("__u"))
           .withColumn("__mn", F.min("__u").over(w))
           .filter(F.col("__u") == F.col("__mn"))
           .select("l_partkey", "l_suppkey", "l_orderkey",
                   F.col("__u").alias("unit_price")))
    return out


_Q85_SQL = """
WITH priced AS (
  SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
         CAST(l_suppkey AS BIGINT) AS l_suppkey,
         CAST(l_orderkey AS BIGINT) AS l_orderkey,
         l_extendedprice * (1 - l_discount) / l_quantity AS u
  FROM lineitem),
m AS (SELECT *, MIN(u) OVER (PARTITION BY l_partkey) AS mn FROM priced)
SELECT l_partkey, l_suppkey, l_orderkey, u AS unit_price
FROM m WHERE u = mn
"""


def _q86_top_trigrams_per_source(spark, sf_dir):
    """Per-source heavy hitters: the 5 most frequent word trigrams of
    every source (count desc, trigram asc).  explode -> two-level
    aggregate (map-side combined) -> rank with row_number<=5, which
    Spark plans with WindowGroupLimit — map tasks pre-truncate their
    groups, so skewed sources never pile onto one reducer."""
    from pyspark.sql import Window
    from vaex_spark.datapipe.dedup import _spread
    docs = _spread(_t(spark, sf_dir, "documents").spark)
    # r14: per-doc trigram ARRAY via transform + three element_at
    # references, then explode the strings — beats both earlier forms
    # (r5's transform/slice/array_join chain: 4.2s for ~1M trigrams;
    # r5's arrays_zip-of-3-shifted-slices + per-row concat_ws: the
    # Generate carried 3-string structs per row and the slices copied
    # the word array 3×; A/B at sf0.1 noop: explode 0.13 vs 0.27 s
    # med, count aggregate on top 0.47/0.54 vs 0.67/0.78 s min/med).
    # Assembled as ONE parsed SQL expression — each py4j round-trip
    # costs 1-2 ms on this driver and HOF lambdas ~10 ms (see
    # similarity._cos_sql).  _spread fans the single-file corpus
    # across cores first.
    words = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
    tri_arr = F.expr(
        f"CASE WHEN size({words}) >= 3 THEN "
        f"element_at(transform(array({words}), wd -> "
        f"transform(sequence(1, size(wd) - 2), "
        f"i -> concat_ws(' ', element_at(wd, i), element_at(wd, i + 1), "
        f"element_at(wd, i + 2)))), 1) "
        f"ELSE cast(array() as array<string>) END")
    tri = (docs.select("source", F.explode(tri_arr).alias("trigram")))
    counted = (tri.groupBy("source", "trigram")
               .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(),
                                             F.col("trigram").asc())
    return (counted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 5)
            .select("source", "trigram", "n",
                    F.col("__rn").cast("long").alias("rank")))


_Q86_SQL = r"""
WITH words AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
grams AS (
  SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS trigram
  FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 3),
counted AS (
  SELECT source, trigram, CAST(COUNT(*) AS BIGINT) AS n
  FROM grams GROUP BY source, trigram),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n DESC, trigram) AS rank
  FROM counted)
SELECT source, trigram, n, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _q87_quality_deciles(spark, sf_dir):
    """Quality-score deciles over the corpus: ntile(10) on
    (quality_score, doc_id) — fully deterministic ordering — with
    per-decile doc counts and mean length.  The distribution-shaping
    view a curation run uses to pick its quality threshold.

    Scale note: exact global NTILE is computed by ntile_exact
    (operators/window.py) — range exchange on the sort key, local row
    numbers, broadcast cumulative-offset map, then the SQL ntile bucket
    arithmetic.  Every stage parallel, no Exchange SinglePartition;
    bit-identical to the one-task window form."""
    from vaex_spark.operators.window import ntile_exact
    from vaex_spark.datapipe.text import quality_score
    from vaex_spark.datapipe.dedup import _spread
    # r14: _spread the raw docs BEFORE scoring — quality_score is ~6
    # regex passes per doc, and a single-file corpus arrives as ONE
    # scan split, so both the range-partitioner sample pass and the
    # scoring stage ran on one core (profiled: a 0.26 s single-task
    # job at sf0.1).  Stats-gated like every _spread site: a corpus
    # with >= defaultParallelism splits is untouched at scale.
    docs = _spread(_t(spark, sf_dir, "documents").spark
                   .select("doc_id", "n_chars", "text"))
    scored = docs.select(F.col("doc_id"), F.col("n_chars"),
                         F.round(quality_score("text"), 6).alias("q"))
    return (ntile_exact(scored, 10, ["q", "doc_id"], out_col="decile")
            .groupBy(F.col("decile").cast("long").alias("decile"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 dsum("n_chars").alias("sum_chars"),
                 F.round(F.min("q"), 6).alias("min_q"),
                 F.round(F.max("q"), 6).alias("max_q"))
            .orderBy("decile"))


def _q87_oracle_sql() -> str:
    """quality_score replicated in DuckDB from the same stopword list
    (see datapipe/text.py:quality_score — len/alpha/stop/digit signals,
    rounded at 6 before ntile so both engines rank identical keys)."""
    from vaex_spark.datapipe.text import _STOPWORDS_EN
    stop_re = "\\b(" + "|".join(_STOPWORDS_EN) + ")\\b"
    return f"""
WITH f AS (
  SELECT doc_id, n_chars,
    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
         ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens,
    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
    LEN(regexp_extract_all(lower(text), '{{stop_re}}')) AS stop_hits,
    GREATEST(LENGTH(text), 1) AS safe_chars
  FROM documents),
q AS (
  SELECT doc_id, n_chars,
    ROUND(LEAST(n_tokens / 20.0, 1.0)
          * (CAST(n_alpha AS DOUBLE) / safe_chars)
          * LEAST(CAST(stop_hits AS DOUBLE) / GREATEST(n_tokens, 1) * 4.0, 1.0)
          * GREATEST(0.0, 1.0 - CAST(n_digits AS DOUBLE) / safe_chars * 3.0),
          6) AS q
  FROM f),
d AS (SELECT *, NTILE(10) OVER (ORDER BY q, doc_id) AS decile FROM q)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) AS sum_chars,
       ROUND(MIN(q), 6) AS min_q, ROUND(MAX(q), 6) AS max_q
FROM d GROUP BY decile ORDER BY decile
""".format(stop_re=stop_re)


def _q88_interval_overlap(spark, sf_dir):
    """Interval-overlap join (operators/join.py:join_intervals): even
    events become intervals [t, t + 60 + floor(value)], odd events
    likewise; count for every even event how many odd intervals
    intersect it.  Bucketized rewrite (1000s buckets): both sides
    explode to covered buckets, equi-join on bucket, overlap filter,
    and the first-shared-bucket predicate keeps exactly one emission
    per pair — no distinct pass.  Spans are 60+value seconds with value
    bounded by the generator, so every interval covers ≤2 of the 1000s
    buckets: max_explode=None opts out of the interval-length skew
    routing (two broadcast jobs + two extra input scans that guard
    against giant spans this data cannot contain; results are exact
    either way)."""
    from vaex_spark.operators.join import join_intervals
    ev = _t(spark, sf_dir, "events").spark
    base = ev.select(F.col("event_id").cast("long").alias("event_id"),
                     F.floor(F.unix_timestamp("ts")).cast("long").alias("lo"),
                     (F.floor(F.unix_timestamp("ts"))
                      + 60 + F.floor("value")).cast("long").alias("hi"))
    left = base.filter(F.col("event_id") % 2 == 0)
    right = (base.filter(F.col("event_id") % 2 == 1)
             .select(F.col("event_id").alias("rid"),
                     F.col("lo").alias("rlo"), F.col("hi").alias("rhi")))
    out = join_intervals(left, right, "lo", "hi", "rlo", "rhi",
                         bucket_width=1000, max_explode=None)
    return (out.spark.groupBy("event_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlaps"))
            .orderBy("event_id"))


_Q88_SQL = """
WITH base AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS lo,
         CAST(FLOOR(epoch(ts)) + 60 + FLOOR(value) AS BIGINT) AS hi
  FROM events),
l AS (SELECT * FROM base WHERE event_id % 2 = 0),
r AS (SELECT event_id AS rid, lo AS rlo, hi AS rhi FROM base
      WHERE event_id % 2 = 1)
SELECT l.event_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps
FROM l JOIN r ON l.lo < r.rhi AND r.rlo < l.hi
GROUP BY l.event_id
ORDER BY l.event_id
"""


def _q92_kmeans_profile(spark, sf_dir):
    """KMeans (ml.py:KMeans, reference vaex-ml cluster.py parity) over
    (n_chars, quality) document features: fit 4 clusters, return
    per-cluster sizes and centroid coordinates.  Iterative Lloyd's —
    not SQL-expressible, so this entry is rows-only at the driver; the
    planted-blob pytest is the correctness oracle.  Per-row work stays
    in whole-stage codegen (literal-centroid argmin), per-iteration
    driver traffic is k x d floats."""
    from vaex_spark.datapipe.text import quality_score
    from vaex_spark.ml import KMeans
    import vaex_spark as vs
    docs = _t(spark, sf_dir, "documents").spark
    feat = vs.DataFrame(docs.select(
        F.col("n_chars").cast("double").alias("len_chars"),
        quality_score("text").alias("q")))
    km = KMeans(features=["len_chars", "q"], n_clusters=4, random_state=5,
                max_iter=25)
    km.fit(feat)
    out = km.transform(feat)
    return (out.spark.groupBy(F.col("prediction_kmeans").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("cluster"))


def _q91_corpus_profile(spark, sf_dir):
    """Per-source corpus health profile (datapipe/text.py:
    corpus_profile): the monitoring table a curation pipeline
    materializes per snapshot — doc count, total/mean whitespace
    tokens, mean quality, exact p50/p95 length.  One grouped aggregate
    of pure Column expressions; with include_sketches=True the same
    rows also carry mergeable HLL/KLL state (pytest-covered; the
    oracle checks the exact columns)."""
    from vaex_spark.datapipe.text import corpus_profile
    docs = _t(spark, sf_dir, "documents").spark
    return corpus_profile(docs).orderBy("source")


def _q91_oracle_sql() -> str:
    from vaex_spark.datapipe.text import _STOPWORDS_EN
    stop_re = "\\b(" + "|".join(_STOPWORDS_EN) + ")\\b"
    return f"""
WITH f AS (
  SELECT source, n_chars,
    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
         ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens,
    LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
    LEN(regexp_extract_all(lower(text), '{{stop_re}}')) AS stop_hits,
    GREATEST(LENGTH(text), 1) AS safe_chars
  FROM documents),
q AS (
  SELECT source, n_chars, n_tokens,
    ROUND(LEAST(n_tokens / 20.0, 1.0)
          * (CAST(n_alpha AS DOUBLE) / safe_chars)
          * LEAST(CAST(stop_hits AS DOUBLE) / GREATEST(n_tokens, 1) * 4.0, 1.0)
          * GREATEST(0.0, 1.0 - CAST(n_digits AS DOUBLE) / safe_chars * 3.0),
          6) AS q
  FROM f)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(n_tokens AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
       ROUND(CAST(SUM(CAST(q AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_len,
       ROUND(quantile_cont(n_chars, 0.95), 6) AS p95_len
FROM q GROUP BY source ORDER BY source
""".format(stop_re=stop_re)


def _q89_vocabulary(spark, sf_dir):
    """Tokenizer-prep vocabulary (datapipe/text.py:build_vocab): the
    top-50 corpus tokens by frequency with rank and exact coverage
    fraction.  One explode + map-side-combined token count (the only
    full-data shuffle), top-N via TakeOrderedAndProject (map-side
    top-N, no global sort), ranks over the 50-row result.  Ties break
    on the token string for cross-engine determinism."""
    from vaex_spark.datapipe.text import build_vocab
    docs = _t(spark, sf_dir, "documents").spark
    return build_vocab(docs, top_n=50).orderBy("rank")


_Q89_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT SUM(cnt) AS t FROM counts)
SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
       token, CAST(cnt AS BIGINT) AS count,
       ROUND(cnt / (SELECT t FROM total), 9) AS coverage
FROM counts
ORDER BY cnt DESC, token
LIMIT 50
"""


def _q90_oov_rate(spark, sf_dir):
    """Per-source out-of-vocabulary rate against the corpus's own
    top-200 vocabulary (datapipe/text.py:oov_rate): explode to
    (source, token), broadcast-join the vocab, one grouped aggregate —
    the held-out-domain health check before training."""
    from vaex_spark.datapipe.text import build_vocab, oov_rate
    docs = _t(spark, sf_dir, "documents").spark
    vocab = build_vocab(docs, top_n=200)
    return oov_rate(docs, vocab).orderBy("source")


_Q90_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    ORDER BY cnt DESC, token LIMIT 200)),
marked AS (
  SELECT t.source, t.token, v.token IS NOT NULL AS inv
  FROM toks t LEFT JOIN vocab v USING (token))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN inv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN inv THEN 0 ELSE 1 END) / CAST(COUNT(*) AS DOUBLE), 9) AS oov_rate
FROM marked
GROUP BY source
ORDER BY source
"""


def _q93_group_delta_min(spark, sf_dir):
    """Distributed per-group custom transform through
    GroupBy.apply(engine='arrow') (groupby.py:apply — applyInArrow):
    each customer's orders minus their cheapest order, computed by a
    user function over a per-group pyarrow.Table.  Exact doubles (min
    is order-independent, unlike mean), so the SQL window oracle
    hash-matches bit-for-bit.  The arrow engine skips per-group pandas
    construction — measured 6× on the 1M-tiny-groups probe
    (SCALECHECK groupby_apply_cardinality)."""
    import pyarrow as pa
    orders = _t(spark, sf_dir, "orders")

    def delta_min(tbl):
        price = tbl.column("o_totalprice").to_numpy()
        return pa.table({
            "o_orderkey": tbl.column("o_orderkey"),
            "o_custkey": tbl.column("o_custkey"),
            "delta": pa.array(price - price.min(), type=pa.float64())})

    out = orders.groupby("o_custkey").apply(
        delta_min, "o_orderkey long, o_custkey long, delta double",
        engine="arrow")
    return out.spark.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                            F.col("o_custkey").cast("long").alias("o_custkey"),
                            F.col("delta"))


_Q93_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS BIGINT) AS o_custkey,
       o_totalprice - MIN(o_totalprice) OVER (PARTITION BY o_custkey) AS delta
FROM orders
"""


def _q94_salted_priority_count(spark, sf_dir):
    """Explicit two-phase salted aggregation (operators/scale.py:
    salted_group_count) over a 5-value grouping key — the 100 TB
    pattern for a key too hot for one reducer when AQE's join-only skew
    handling can't help.  Counts are exactly the plain groupBy's (the
    salt only spreads, never splits semantics)."""
    from vaex_spark.operators import scale
    orders = _t(spark, sf_dir, "orders")
    out = scale.salted_group_count(orders, "o_orderpriority", salt=16)
    return (out.select(F.col("o_orderpriority"),
                       F.col("count").cast("long").alias("n_orders"))
            .orderBy("o_orderpriority"))


_Q94_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# centers inside every SF's (value, user_id) envelope (value 0..~330+,
# user_id 0..14 at sf0.001) so all four clusters populate at all SFs
_Q95_CENTERS = [[40.0, 2.0], [200.0, 2.0], [40.0, 11.0], [200.0, 11.0]]


def _q95_kmeans_assign(spark, sf_dir):
    """KMeans ASSIGNMENT semantics under a full SQL oracle (q92 keeps
    the iterative fit rows-only; this pins the part that actually runs
    at 100 TB — the per-row nearest-centroid transform, ml.py:_assign,
    literal-codegen strategy at k×d=8): fixed centroids, one pass over
    events (value, user_id), per-cluster count + decimal-exact means.
    Ties break to the lowest cluster id on both engines."""
    from vaex_spark.ml import KMeans
    ev = _t(spark, sf_dir, "events")
    km = KMeans(features=["value", "user_id"], n_clusters=len(_Q95_CENTERS))
    km.cluster_centers = [list(c) for c in _Q95_CENTERS]
    out = km.transform(ev)
    sdf = out.spark
    return (sdf.groupBy(F.col(km.prediction_label).cast("long").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(25,6)"))
                         .cast("double") / F.count(F.lit(1)), 6).alias("mean_value"),
                 F.round(F.sum(F.col("user_id").cast("decimal(25,6)"))
                         .cast("double") / F.count(F.lit(1)), 6).alias("mean_user"))
            .orderBy("cluster"))


def _q95_oracle_sql() -> str:
    terms = []
    for i, (cx, cy) in enumerate(_Q95_CENTERS):
        terms.append(f"(value - {cx!r}) * (value - {cx!r}) "
                     f"+ (user_id - {cy!r}) * (user_id - {cy!r}) AS d{i}")
    k = len(_Q95_CENTERS)
    case = "CASE "
    for i in range(k - 1):
        rest = ", ".join(f"d{j}" for j in range(i + 1, k))
        case += f"WHEN d{i} <= LEAST({rest}) THEN {i} "
    case += f"ELSE {k - 1} END"
    return f"""
WITH d AS (SELECT value, user_id, {', '.join(terms)} FROM events),
a AS (SELECT value, user_id, {case} AS cluster FROM d)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_value,
       ROUND(CAST(SUM(CAST(user_id AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_user
FROM a GROUP BY cluster ORDER BY cluster
"""


def _q96_winnow_overlap(spark, sf_dir):
    """Winnowed-fingerprint document overlap (datapipe/text.py:
    winnow_fingerprints — Schleimer/Wilkerson/Aiken SIGMOD'03 local
    fingerprinting, the MOSS algorithm): per-window minimum over the
    word-5-gram sequence (window=4), distinct per doc, then pairs of
    documents sharing >= 2 fingerprints.  Any shared run of
    window+k-1 = 8 words guarantees a shared fingerprint, while only
    ~2/(window+1) of grams are stored — position-robust overlap
    candidates without all-pairs work.  ``fp_type='gram'`` orders
    windows by the gram string so the DuckDB oracle replays the exact
    selection (xxhash64 has no DuckDB equivalent; the hash form is the
    production default and pytest-covered).  winnow_overlap_pairs
    persists the narrow (id, fp) relation so the self-join reads ONE
    fingerprint pass, not two corpus scans (plan-asserted in tests),
    and drops fingerprints with document frequency > max_df (default
    256 — MOSS's over-common-fingerprint rule; the oracle mirrors the
    cap with a COUNT window over the distinct (doc, fp) relation) so
    one boilerplate fingerprint can never make the join quadratic."""
    from vaex_spark.datapipe.text import winnow_overlap_pairs
    docs = _t(spark, sf_dir, "documents")
    out = winnow_overlap_pairs(docs, k=5, window=4, min_shared=2,
                               fp_type="gram").spark
    return (out.select(F.col("id_a").cast("long").alias("id_a"),
                       F.col("id_b").cast("long").alias("id_b"),
                       F.col("n_shared").cast("long").alias("n_shared"))
            .orderBy("id_a", "id_b"))


def _q97_winnow_overlap_hash(spark, sf_dir):
    """The PRODUCTION form of q96: winnowed-fingerprint overlap with
    ``fp_type='hash'`` (8-byte xxhash64 fingerprints — uniform
    selection density, no string fingerprints in the shuffle).  q96's
    gram form exists so DuckDB can replay the window selection; this
    entry benches what a 100 TB run would actually execute.  Rows-only
    by design: xxhash64 has no DuckDB equivalent, so the selection
    itself is oracle-checked by the q96 gram twin plus the brute-force
    pytest (tests/test_datapipe.py winnow bruteforce/guarantee);
    the driver's weaker rows+schema check still applies here."""
    from vaex_spark.datapipe.text import winnow_overlap_pairs
    docs = _t(spark, sf_dir, "documents")
    out = winnow_overlap_pairs(docs, k=5, window=4, min_shared=2,
                               fp_type="hash").spark
    return (out.select(F.col("id_a").cast("long").alias("id_a"),
                       F.col("id_b").cast("long").alias("id_b"),
                       F.col("n_shared").cast("long").alias("n_shared"))
            .orderBy("id_a", "id_b"))


def _q98_winnow_against_corpus(spark, sf_dir):
    """Incremental winnow overlap (text.py:winnow_overlap_against_
    corpus): documents split into a standing CORPUS (doc_id % 3 != 0)
    and an incoming BATCH (doc_id % 3 == 0); every batch doc sharing
    >= 2 winnowed fingerprints with a corpus doc surfaces with the
    shared count — the production plagiarism/novelty screen where the
    corpus is indexed once (corpus_winnow_index) and batches equi-join
    it on fp, never self-joining the union.  Gram fingerprints so the
    DuckDB oracle can replay the selection; max_df caps CORPUS-side
    document frequency (boilerplate rule).  The query exercises the
    corpus_index= path: the index is derived in-plan here (same
    relation a parquet snapshot would hold), proving batch results are
    identical whether the index is fresh or persisted (pytest covers
    the parquet round-trip)."""
    from vaex_spark.datapipe.text import (corpus_winnow_index,
                                          winnow_overlap_against_corpus)
    docs = _t(spark, sf_dir, "documents")
    corpus = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    idx = corpus_winnow_index(corpus, fp_type="gram").spark
    out = winnow_overlap_against_corpus(batch, min_shared=2,
                                        fp_type="gram", max_df=256,
                                        corpus_index=idx).spark
    return (out.select(F.col("batch_id").cast("long").alias("batch_id"),
                       F.col("corpus_id").cast("long").alias("corpus_id"),
                       F.col("n_shared").cast("long").alias("n_shared"))
            .orderBy("batch_id", "corpus_id"))


def _q99_winnow_screen_indexed(spark, sf_dir):
    """PRODUCTION shape of q98 (bench-tracked since r9, per the r8
    verdict: the headline q98 re-derives the corpus index in-plan each
    run BY DESIGN so the DuckDB oracle replays end-to-end; its 4.1×
    ratio therefore measured the deliberate re-derivation, not the
    screen).  Here the GROUPED winnow corpus index (fp, sorted-id
    array — text.py:corpus_winnow_index(grouped=True)) is a persisted
    parquet snapshot, built ONCE per corpus snapshot and reused; the
    per-run cost is only the incremental screen: batch fingerprinting
    + one fp equi-join against the pre-grouped index (no query-time
    groupBy over the index, no corpus text scan).  Same output as q98
    — the oracle SQL is identical — so the driver value-hashes the
    production path at every config too.  The index lands under a
    path keyed by (sf_dir, params) and is rebuilt only when absent;
    inside bench's median-of-5 the first run may pay the build and
    the median reports the steady-state screen, which is exactly the
    production cost model (index amortized across every batch)."""
    import hashlib
    import os
    from vaex_spark.datapipe.text import (corpus_winnow_index,
                                          winnow_overlap_against_corpus)
    docs = _t(spark, sf_dir, "documents")
    corpus = docs[docs.doc_id % 3 != 0]
    batch = docs[docs.doc_id % 3 == 0]
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|gram|k5w4|grouped|v1|"
        f"{_data_fp(sf_dir, 'documents')}".encode()
    ).hexdigest()[:12]
    idx_dir = f"/tmp/vaex_spark_widx_{tag}"
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        (corpus_winnow_index(corpus, fp_type="gram", grouped=True).spark
         .write.mode("overwrite").parquet(idx_dir))
    idx = spark.read.parquet(idx_dir)
    out = winnow_overlap_against_corpus(batch, min_shared=2,
                                        fp_type="gram", max_df=256,
                                        corpus_index=idx).spark
    return (out.select(F.col("batch_id").cast("long").alias("batch_id"),
                       F.col("corpus_id").cast("long").alias("corpus_id"),
                       F.col("n_shared").cast("long").alias("n_shared"))
            .orderBy("batch_id", "corpus_id"))


def _q100_embedding_against_corpus(spark, sf_dir):
    """Incremental embedding near-dup screen (similarity.py:
    near_dup_embeddings_against_corpus — the vector member of the
    against-corpus family: exact fingerprints, MinHash-LSH, winnow,
    now embeddings): vectors split into a standing CORPUS (vec_id % 5
    != 0) and an incoming BATCH (vec_id % 5 == 0); every batch vector
    with exact cosine >= 0.42 against a corpus vector surfaces with
    the cosine.  The packed corpus index (corpus_vector_index —
    n_tables bucket ids + the pre-normalized vector, one row per
    vector) is derived in-plan here, same rationale as q98.  At
    bits=2 / n_tables=24 ``strategy='auto'`` resolves DENSE
    (n_tables >= 2^bits makes LSH blocking non-selective — the
    blocked plan would join ~6 copies of every pair), so the screen
    is one exact BLAS pass over the index units and equals the
    batch×corpus cosine join the DuckDB oracle computes BY
    CONSTRUCTION — no recall argument needed.  The blocked strategy
    is the scale path at selective parameters (suggest_lsh_params,
    q44); its plan shape is audited in PLANS and timed in bench.py's
    q100_blocked variant."""
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb[emb.vec_id % 5 != 0]
    batch = emb[emb.vec_id % 5 == 0]
    idx = similarity.corpus_vector_index(corpus, bits=2, n_tables=24)
    out = similarity.near_dup_embeddings_against_corpus(
        batch, corpus_index=idx, threshold=0.42, bits=2, n_tables=24,
        round_to=6)
    return (out.select(F.col("batch_id").cast("long").alias("batch_id"),
                       F.col("corpus_id").cast("long").alias("corpus_id"),
                       F.col("cos"))
            .orderBy("batch_id", "corpus_id"))


_Q100_SQL = """
WITH u AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL),
c AS (
  SELECT b.vec_id AS batch_id, a.vec_id AS corpus_id,
         ROUND(list_dot_product(b.v, a.v) /
               (sqrt(list_dot_product(b.v, b.v)) *
                sqrt(list_dot_product(a.v, a.v))), 6) AS cos
  FROM u b JOIN u a ON b.vec_id % 5 = 0 AND a.vec_id % 5 <> 0)
SELECT batch_id, corpus_id, cos FROM c WHERE cos >= 0.42
ORDER BY batch_id, corpus_id
"""


def _q102_vector_screen_indexed(spark, sf_dir):
    """PRODUCTION shape of q100 (same oracle): the packed vector index
    is a persisted parquet snapshot built once per corpus snapshot;
    the per-run cost is only the incremental screen — here the DENSE
    strategy (strategy='auto' resolves dense because q100's recall-1
    oracle parameters bits=2/n_tables=24 make LSH blocking
    non-selective: n_tables >= 2^bits means the blocked plan would
    join ~6 copies of EVERY batch×corpus pair, dedup them, then pay an
    interpreted dot each — so one BLAS pass over the index units with
    the bounded-collected batch matrix in the closure is the strictly
    better exact plan; the blocked strategy remains the scale path at
    selective parameters, see suggest_lsh_params and q44)."""
    import hashlib
    import os
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|vec|b2t24s42|v1|"
        f"{_data_fp(sf_dir, 'embeddings')}".encode()).hexdigest()[:12]
    idx_dir = f"/tmp/vaex_spark_vidx_{tag}"
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        corpus = emb[emb.vec_id % 5 != 0]
        (similarity.corpus_vector_index(corpus, bits=2, n_tables=24)
         .write.mode("overwrite").parquet(idx_dir))
    idx = spark.read.parquet(idx_dir)
    batch = emb[emb.vec_id % 5 == 0]
    out = similarity.near_dup_embeddings_against_corpus(
        batch, corpus_index=idx, threshold=0.42, bits=2, n_tables=24,
        round_to=6)
    return (out.select(F.col("batch_id").cast("long").alias("batch_id"),
                       F.col("corpus_id").cast("long").alias("corpus_id"),
                       F.col("cos"))
            .orderBy("batch_id", "corpus_id"))


def _q101_ivf_indexed_topk(spark, sf_dir):
    """Repeated-query ANN over a PERSISTED IVF index
    (similarity.py: corpus_ivf_index + ivf_topk(corpus_index=) — the
    build-once/query-many member of the index family): the index
    parquet holds every corpus vector tagged with its nearest-centroid
    cell plus the n_cells centroid rows, so each query batch skips
    both centroid training and the full-corpus assignment scan.  At
    n_probe = n_cells every cell is probed, i.e. every corpus row is
    scored, so the result equals exact brute-force top-k REGARDLESS of
    which centroids the (layout-dependent) training sample produced —
    which is exactly what makes the production index path
    value-hashable against the DuckDB brute-force oracle at every
    config.  Recall at n_probe < n_cells is probed at volume in
    tools/scale_smoke.py ann_recall.  Index rebuilt only when absent
    (same amortized cost model as q99)."""
    import hashlib
    import os
    from vaex_spark.datapipe import similarity
    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|ivf|c8s42|v1|"
        f"{_data_fp(sf_dir, 'embeddings')}".encode()).hexdigest()[:12]
    idx_dir = f"/tmp/vaex_spark_ivfidx_{tag}"
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        (similarity.corpus_ivf_index(emb, n_cells=8)
         .write.mode("overwrite").parquet(idx_dir))
    idx = spark.read.parquet(idx_dir)
    queries = emb[emb.vec_id < 3]
    out = similarity.ivf_topk(None, queries, k=10, n_probe=8,
                              corpus_index=idx, round_to=6)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("cos"), F.col("rank").cast("int").alias("rank"))


_Q101_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 3
    AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10
"""


_Q98_SQL = r"""
WITH words AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
grams AS (
  SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS g
  FROM words, UNNEST(range(1, greatest(len(w) - 4, 1) + 1)) AS t(i)),
mins AS (
  SELECT doc_id,
         MIN(g) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams),
fps AS (SELECT DISTINCT doc_id, fp FROM mins),
cfps AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS dfreq
    FROM fps WHERE doc_id % 3 <> 0)
  WHERE dfreq <= 256),
bfps AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0)
SELECT CAST(b.doc_id AS BIGINT) AS batch_id,
       CAST(c.doc_id AS BIGINT) AS corpus_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM bfps b JOIN cfps c ON b.fp = c.fp
GROUP BY b.doc_id, c.doc_id
HAVING COUNT(*) >= 2
ORDER BY batch_id, corpus_id
"""


_Q96_SQL = r"""
WITH words AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
grams AS (
  SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS g
  FROM words, UNNEST(range(1, greatest(len(w) - 4, 1) + 1)) AS t(i)),
mins AS (
  SELECT doc_id,
         MIN(g) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams),
fps0 AS (SELECT DISTINCT doc_id, fp FROM mins),
fps AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS dfreq FROM fps0)
  WHERE dfreq <= 256)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
"""


# ===========================================================================
# registry
# ===========================================================================
def _q103_first_last(spark, sf_dir):
    """first/last aggregates with an explicit order expression (SURVEY
    §2.5, previously pytest-only): vaex agg.first/last(order_expression=)
    compile to min_by/max_by — the deterministic form (F.first is
    partition-order-dependent; reference agg.py first/last).  The order
    key o_orderkey is unique, so the result is engine-independent."""
    from vaex_spark import agg as vagg
    df = _t(spark, sf_dir, "orders")
    return df.groupby("o_orderpriority", agg={
        "first_price": vagg.first("o_totalprice", "o_orderkey"),
        "last_price": vagg.last("o_totalprice", "o_orderkey"),
        "n": vagg.count()}, sort=True).spark


_Q103_SQL = """
SELECT o_orderpriority,
       arg_min(o_totalprice, o_orderkey) AS first_price,
       arg_max(o_totalprice, o_orderkey) AS last_price,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
"""


def _q104_error_propagation(spark, sf_dir):
    """propagate_uncertainties (SURVEY §2.3, previously pytest-only):
    the symbolic-Jacobian engine (reference dataframe.py:3650 +
    expression derivatives) on disc_price = l_extendedprice *
    (1 - l_discount) with the reference's e_<col> uncertainty naming;
    the oracle replays the HAND-DERIVED closed form
    sqrt(((1-d)*sx)^2 + (x*sd)^2) — certifying the derivative engine
    against hand math on 60k real rows, not just the unit fixture."""
    df = _t(spark, sf_dir, "lineitem")
    df["e_l_extendedprice"] = df.l_extendedprice * 0.01
    df["e_l_discount"] = df.l_discount * 0.0 + 0.005
    df["disc_price"] = df.l_extendedprice * (1 - df.l_discount)
    df.propagate_uncertainties([df["disc_price"]])
    sub = df[["l_orderkey", "l_linenumber", "disc_price",
              "disc_price_uncertainty"]]
    return sub.spark.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("disc_price"), 6).alias("disc_price"),
        F.round(F.col("disc_price_uncertainty"), 6)
        .alias("disc_price_uncertainty"))


_Q104_SQL = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount), 6) AS disc_price,
       ROUND(SQRT(POW((1 - l_discount) * (l_extendedprice * 0.01), 2)
                  + POW(l_extendedprice * 0.005, 2)), 6)
           AS disc_price_uncertainty
FROM lineitem
"""


def _q105_where_clip_digitize(spark, sf_dir):
    """where / clip / digitize / searchsorted (SURVEY §2.8, previously
    pytest-only): the numpy-semantics scalar family as codegen Column
    chains — digitize is a literal-edge CASE accumulation (no UDF),
    clip a greatest/least pair, where a when/otherwise — grouped so the
    oracle certifies every bucket boundary exactly.  q_bucket counts
    edges <= x (digitize right=False / searchsorted side='right');
    q_bucket_r counts edges < x (searchsorted side='left', strict '>'
    in the oracle) — genuinely distinct at x==edge rows (r11 ADVICE:
    an earlier inverted registry mapping made side='right' strict)."""
    df = _t(spark, sf_dir, "lineitem")
    df["q_bucket"] = df["digitize(l_quantity, [10.0, 25.0, 40.0])"]
    df["q_bucket_r"] = df["searchsorted([10.0, 25.0, 40.0], l_quantity, side='left')"]
    df["d_clip"] = df.l_discount.clip(0.02, 0.08)
    df["tax_flag"] = df["where(l_tax > 0.04, 'high', 'low')"]
    return df.groupby(["q_bucket", "q_bucket_r", "tax_flag"], agg={
        "n": F.count(F.lit(1)),
        "sum_clip": F.round(F.sum(F.col("d_clip").cast("decimal(25,6)"))
                            .cast("double"), 6)}, sort=True).spark


_Q105_SQL = """
SELECT (CASE WHEN l_quantity >= 10.0 THEN 1 ELSE 0 END
      + CASE WHEN l_quantity >= 25.0 THEN 1 ELSE 0 END
      + CASE WHEN l_quantity >= 40.0 THEN 1 ELSE 0 END) AS q_bucket,
       (CASE WHEN l_quantity > 10.0 THEN 1 ELSE 0 END
      + CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END
      + CASE WHEN l_quantity > 40.0 THEN 1 ELSE 0 END) AS q_bucket_r,
       CASE WHEN l_tax > 0.04 THEN 'high' ELSE 'low' END AS tax_flag,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(l_discount, 0.02), 0.08)
                           AS DECIMAL(25,6))) AS DOUBLE), 6) AS sum_clip
FROM lineitem
GROUP BY 1, 2, 3
"""


def _q106_map_astype_algebra(spark, sf_dir):
    """map / astype / aggregate-descriptor algebra (SURVEY §2.8 + §2.5,
    previously pytest-only): the dict mapper compiles to a chained CASE,
    astype(double -> int) keeps numpy TRUNCATION semantics (DuckDB's
    CAST rounds, so the oracle spells TRUNC explicitly), and the
    descriptor quotient sum/count exercises the agg-algebra division —
    the r11 try_divide path — against plain SQL.  Division of exact
    integer sums is bit-identical across engines."""
    from vaex_spark import agg as vagg
    df = _t(spark, sf_dir, "lineitem")
    df["flag_name"] = df["l_returnflag"].map(
        {"A": "acked", "N": "new", "R": "returned"}, default_value="other")
    df["price_k"] = (df.l_extendedprice / 1000.0).astype("int")
    df["q_long"] = df.l_quantity.astype("long")
    out = df.groupby(["flag_name", "price_k"], agg={
        "n": vagg.count(),
        "mean_qty": vagg.sum("q_long") / vagg.count()}, sort=True)
    return out.spark.withColumn("mean_qty", F.round(F.col("mean_qty"), 9))


_Q106_SQL = """
SELECT CASE l_returnflag WHEN 'A' THEN 'acked' WHEN 'N' THEN 'new'
            WHEN 'R' THEN 'returned' ELSE 'other' END AS flag_name,
       CAST(TRUNC(l_extendedprice / 1000.0) AS INTEGER) AS price_k,
       COUNT(*) AS n,
       ROUND(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) / COUNT(*), 9)
           AS mean_qty
FROM lineitem
GROUP BY 1, 2
"""


def _q107_error_propagation_corr(spark, sf_dir):
    """propagate_uncertainties, CORRELATED branch (reference
    dataframe.py:3598 naming conventions): a <x>_<y>_correlation column
    adds the 2·rho·(df/dx·sx)·(df/dy·sy) cross term; the oracle replays
    the hand-derived closed form, certifying the covariance-guess +
    cross-term algebra on real rows (the unit fixture is 1 row)."""
    df = _t(spark, sf_dir, "lineitem")
    df["e_l_extendedprice"] = df.l_extendedprice * 0.01
    df["e_l_discount"] = df.l_discount * 0.0 + 0.005
    df["l_extendedprice_l_discount_correlation"] = df.l_discount * 0.0 + 0.3
    df["disc_price"] = df.l_extendedprice * (1 - df.l_discount)
    df.propagate_uncertainties([df["disc_price"]])
    sub = df[["l_orderkey", "l_linenumber", "disc_price_uncertainty"]]
    return sub.spark.select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("disc_price_uncertainty"), 6).alias("u_corr"))


_Q107_SQL = """
SELECT l_orderkey, l_linenumber,
       ROUND(SQRT(POW((1 - l_discount) * (l_extendedprice * 0.01), 2)
                  + POW(l_extendedprice * 0.005, 2)
                  + 2 * 0.3 * ((1 - l_discount) * (l_extendedprice * 0.01))
                        * ((-l_extendedprice) * 0.005)), 6) AS u_corr
FROM lineitem
"""


def _q108_mutual_information(spark, sf_dir):
    """mutual_information (SURVEY §2.5, previously pytest-only — r11
    verdict task 5): MI of (l_quantity, l_discount) from the dense 8x8
    count grid with FIXED literal limits, so the bin indices are the
    same double arithmetic in both engines (floor(((x-lo)/(hi-lo))*8),
    top edge inclusive, out-of-range dropped — mirroring
    operators/binby.py bin_index_col exactly).  The driver-side numpy
    KLD (grid -> pxy log(pxy/(px py))) is replayed by the oracle as a
    binned CTE; engine-difference is summation order over <=64 cells,
    absorbed by ROUND(9)."""
    df = _t(spark, sf_dir, "lineitem")
    mi = df.mutual_information("l_quantity", "l_discount", mi_shape=8,
                               limits=[[1.0, 50.0], [0.0, 0.1]])
    return (spark.createDataFrame([(float(mi),)], "mi double")
            .select(F.round(F.col("mi"), 9).alias("mi")))


_Q108_SQL = """
WITH g AS (
  SELECT CASE WHEN l_quantity = 50.0 THEN 7
              ELSE CAST(FLOOR(((l_quantity - 1.0) / 49.0) * 8) AS BIGINT)
         END AS bx,
         CASE WHEN l_discount = 0.1 THEN 7
              ELSE CAST(FLOOR(((l_discount - 0.0) / 0.1) * 8) AS BIGINT)
         END AS by,
         COUNT(*) AS c
  FROM lineitem
  GROUP BY 1, 2
), f AS (
  SELECT bx, by, CAST(c AS DOUBLE) AS c FROM g
  WHERE bx BETWEEN 0 AND 7 AND by BETWEEN 0 AND 7
), tot AS (SELECT SUM(c) AS t FROM f),
px AS (SELECT bx, SUM(c) AS cx FROM f GROUP BY bx),
py AS (SELECT by, SUM(c) AS cy FROM f GROUP BY by)
SELECT ROUND(SUM((c / t) * LN((c / t) / ((cx / t) * (cy / t)))), 9) AS mi
FROM f JOIN px USING (bx) JOIN py USING (by), tot
"""


def _q109_percentile_exact_mode(spark, sf_dir):
    """percentile_exact / median / mode (SURVEY §2.5, previously
    pytest-only — r11 verdict task 5): Spark's exact percentile and
    DuckDB's quantile_cont share the lower+(upper-lower)*frac linear
    interpolation on the sorted multiset; mode(l_linenumber) is
    tie-free in TPC-H (count strictly decreases with line number).
    ROUND(6) absorbs interpolation ulp."""
    df = _t(spark, sf_dir, "lineitem")
    # list form: ONE aggregation job for all four percentiles (r12);
    # r14: the mode rides the SAME job via the executor's delayed
    # batch (percentile_exact previously always paid its own job —
    # 2 × ~1.4 s sort-heavy aggregations, now one)
    dp = df.percentile_exact("l_extendedprice", [25.0, 50.0, 75.0, 90.0],
                             delay=True)
    dm = df.mode("l_linenumber", delay=True)
    df.execute()
    vals = [float(v) for v in dp.get()]
    md = int(dm.get())
    row = [(vals[0], vals[1], vals[2], vals[3], md)]
    return (spark.createDataFrame(
                row, "p25 double, p50 double, p75 double, p90 double, "
                     "mode_ln int")
            .select(*[F.round(F.col(c), 6).alias(c)
                      for c in ("p25", "p50", "p75", "p90")],
                    F.col("mode_ln")))


_Q109_SQL = """
SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
       CAST(mode(l_linenumber) AS INTEGER) AS mode_ln
FROM lineitem
"""


def _q110_positional_window(spark, sf_dir):
    """POSITIONAL (order_key=None) shift/diff — the reference's native
    row-order semantics (shift.py:204 operates on physical row order),
    previously pytest-only: the r13 uniform-block rewrite
    (operators/window.py:_block_window — pid = ROW_ID div B, no
    persist, ONE exchange, monotonic-tag order-preserving read-back)
    made the path oracle-checkable.  events.parquet is physically
    sorted by event_id, so scan order == event_id order and the DuckDB
    twin can spell the same window over ORDER BY event_id.  The query
    exercises the full donor machinery in BOTH directions (lag via
    diff, lead via shift(-2)) and the row-order read-back contract:
    event_id rides along UNWINDOWED, so any order scramble between the
    windowed value and its row would hash-mismatch."""
    df = _t(spark, sf_dir, "events")
    d = df.diff(column="value")                      # positional lag(1)
    d2 = df.shift(-2, column="value")                # positional lead(2)
    a = d.spark.select("event_id", F.round(F.col("value"), 6).alias("pos_diff"))
    b = d2.spark.select(F.col("event_id").alias("event_id_b"),
                        F.round(F.col("value"), 6).alias("pos_lead2"))
    return (a.join(b, a.event_id == b.event_id_b, "inner")
            .select("event_id", "pos_diff", "pos_lead2"))


_Q110_SQL = """
SELECT event_id,
       ROUND(value - LAG(value) OVER (ORDER BY event_id), 6) AS pos_diff,
       ROUND(LEAD(value, 2) OVER (ORDER BY event_id), 6) AS pos_lead2
FROM events
"""


def _q112_date_stats(spark, sf_dir):
    """DATE-typed moment statistics (r14): the reference stores dates
    as datetime64 arrays so mean/sum just work (its is_temporal branch,
    dataframe.py:4042); Spark's avg/sum over DATE are type errors, so
    the engine routes DATE through the unix_micros chokepoint via a
    timestamp cast (midnight UTC) — this certifies the groupby
    descriptors (agg.py temporal branch) against DuckDB.  sum is the
    EXACT epoch-µs sum computed in decimal(38,0) (an int64 sum wraps
    silently at ~5,400 rows — found live building THIS query at sf0.1),
    reported in whole days (exact integer division: midnight epochs are
    day multiples); mean is reported at day granularity (the µs value is
    a double average — both engines land the same day; sub-µs rounding
    ties are pytest-pinned instead)."""
    df = _t(spark, sf_dir, "orders")
    df["od"] = df.o_orderdate.astype("date")
    g = df.groupby("o_orderpriority",
                   agg={"sum_us": vagg.sum("od"), "mean_ts": vagg.mean("od"),
                        "n": vagg.count()}, sort=True)
    return g.spark.select(
        "o_orderpriority",
        F.expr("CAST(sum_us DIV 86400000000 AS BIGINT)").alias("sum_days"),
        F.col("mean_ts").cast("date").cast("string").alias("mean_day"),
        F.col("n").cast("long").alias("n"))


_Q112_SQL = """
SELECT o_orderpriority,
       CAST(SUM(epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)))
            // 86400000000 AS BIGINT) AS sum_days,
       CAST(CAST(make_timestamp(CAST(AVG(epoch_us(CAST(CAST(o_orderdate AS DATE)
            AS TIMESTAMP))) AS BIGINT)) AS DATE) AS VARCHAR) AS mean_day,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""


def _q113_interval_gap_stats(spark, sf_dir):
    """INTERVAL (timedelta64) moment statistics (r14): the reference's
    stat kernels are plain numpy over m8 values so timedelta moments
    just work (datatype.py:255 is_temporal = datetime OR timedelta);
    Spark's avg/stddev over DayTimeIntervalType are type errors, so the
    engine anchors intervals at the epoch (timestamp_micros(0) + iv →
    unix_micros — no interval→µs cast exists) into the same decimal/µs
    chokepoint as timestamps.  The interval column is produced by the
    engine's OWN surface — diff() over the event timestamps per type —
    so this certifies the full pipeline: keyed diff → interval column →
    groupby mean/sum/std descriptors.  sum is the exact decimal µs sum
    converted back to an interval; mean/std round to whole ms on both
    sides (double averages; sub-µs summation-order ties are pytest-
    pinned instead)."""
    df = _t(spark, sf_dir, "events")
    d = df.diff(column="ts", order_key="event_id", partition_by="event_type")
    g = d.groupby("event_type",
                  agg={"mean_gap": vagg.mean("ts"), "sum_gap": vagg.sum("ts"),
                       "sd_gap": vagg.std("ts"), "n_gaps": vagg.count("ts")},
                  sort=True)
    anchor = F.timestamp_micros(F.lit(0))
    return g.spark.select(
        "event_type",
        F.round(F.unix_micros(anchor + F.col("mean_gap")) / 1e3)
        .cast("long").alias("mean_gap_ms"),
        F.unix_micros(anchor + F.col("sum_gap")).alias("sum_gap_us"),
        F.round(F.unix_micros(anchor + F.col("sd_gap")) / 1e3)
        .cast("long").alias("sd_gap_ms"),
        F.col("n_gaps").cast("long").alias("n_gaps"))


_Q113_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts - LAG(ts) OVER (PARTITION BY event_type
                                     ORDER BY event_id)) AS gap_us
  FROM events)
SELECT event_type,
       CAST(ROUND(AVG(gap_us) / 1e3) AS BIGINT) AS mean_gap_ms,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(ROUND(stddev_pop(gap_us) / 1e3) AS BIGINT) AS sd_gap_ms,
       COUNT(gap_us) AS n_gaps
FROM gaps GROUP BY event_type
"""


def _q111_take_fancy(spark, sf_dir):
    """take() with numpy fancy-indexing semantics (reference
    dataframe.py:4444 → ColumnIndexed column.py:295 = plain
    ``column[indices]``): duplicates repeat, negative indices wrap to
    n+i (r14 — they were silently dropped before; the r13 fuzz defect,
    now oracle-certified, not just pytested).  events.parquet is
    physically sorted by contiguous 0-based event_id, so position i ==
    event_id i and the DuckDB twin can spell the same selection as a
    positions-list join with COUNT(*)-relative values for the negative
    indices.  The driver compare is order-insensitive but multiplicty-
    preserving, so the duplicate position 7 certifies repeat semantics;
    given-order and the out-of-bounds IndexError are pytest-pinned
    (tests/test_relational.py::test_take)."""
    df = _t(spark, sf_dir, "events")
    taken = df.take([7, 0, -1, 7, 3, -2])
    return taken.spark.select(
        "event_id", "event_type", F.round(F.col("value"), 6).alias("val"))


_Q111_SQL = """
WITH pos(p) AS (
  SELECT 7 UNION ALL SELECT 0
  UNION ALL SELECT (SELECT COUNT(*) - 1 FROM events)
  UNION ALL SELECT 7 UNION ALL SELECT 3
  UNION ALL SELECT (SELECT COUNT(*) - 2 FROM events))
SELECT e.event_id, e.event_type, ROUND(e.value, 6) AS val
FROM pos JOIN events e ON e.event_id = pos.p
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_filter_project": _q02_filter_project,
        "q03_revenue_by_segment": _q03_revenue_by_segment,
        "q04_priority_count": _q04_priority_count,
        "q05_revenue_by_nation": _q05_revenue_by_nation,
        "q06_forecast_revenue": _q06_forecast_revenue,
        "q07_orders_by_month": _q07_orders_by_month,
        "q08_value_counts": _q08_value_counts,
        "q09_nunique": _q09_nunique,
        "q10_window_diff": _q10_window_diff,
        "q11_rolling_avg": _q11_rolling_avg,
        "q12_rank_topk": _q12_rank_topk,
        "q13_sort_topn": _q13_sort_topn,
        "q14_string_funcs": _q14_string_funcs,
        "q15_datetime_funcs": _q15_datetime_funcs,
        "q16_bucket_case": _q16_bucket_case,
        "q17_isin": _q17_isin,
        "q18_histogram": _q18_histogram,
        "q19_distinct": _q19_distinct,
        "q20_concat": _q20_concat,
        "q21_null_handling": _q21_null_handling,
        "q22_quantile": _q22_quantile,
        "q23_corr_var": _q23_corr_var,
        "q24_window_tumbling": _q24_window_tumbling,
        "q25_shift": _q25_shift,
        "q26_dedup_exact": _q26_dedup_exact,
        "q27_token_stats": _q27_token_stats,
        "q28_quality": _q28_quality,
        "q29_langid": _q29_langid,
        "q30_fingerprint": _q30_fingerprint,
        "q31_cosine_pairs": _q31_cosine_pairs,
        "q32_embedding_norms": _q32_embedding_norms,
        "q33_topk_ann": _q33_topk_ann,
        "q34_lsh_topk": _q34_lsh_topk,
        "q35_minhash_near_dups": _q35_minhash_near_dups,
        "q36_simhash_near_dups": _q36_simhash_near_dups,
        "q37_ngram_jaccard_exact": _q37_ngram_jaccard_exact,
        "q38_geo_polar": _q38_geo_polar,
        "q39_ml_scalers": _q39_ml_scalers,
        "q40_any_all": _q40_any_all,
        "q41_orders_by_fortnight": _q41_orders_by_fortnight,
        "q42_ordinal_codes": _q42_ordinal_codes,
        "q43_isin_large": _q43_isin_large,
        "q44_embedding_near_dups": _q44_embedding_near_dups,
        "q45_dedup_clusters": _q45_dedup_clusters,
        "q46_word_topk": _q46_word_topk,
        "q47_pii_scrub": _q47_pii_scrub,
        "q48_asof_join": _q48_asof_join,
        "q49_range_join": _q49_range_join,
        "q50_contamination": _q50_contamination,
        "q51_repetition": _q51_repetition,
        "q52_pack_sequences": _q52_pack_sequences,
        "q53_tfidf_terms": _q53_tfidf_terms,
        "q54_unigram_quality": _q54_unigram_quality,
        "q55_session_windows": _q55_session_windows,
        "q56_curation_pipeline": _q56_curation_pipeline,
        "q57_json_props": _q57_json_props,
        "q58_mix_budget": _q58_mix_budget,
        "q59_boilerplate_lines": _q59_boilerplate_lines,
        "q60_incremental_dedup": _q60_incremental_dedup,
        "q61_fuzzy_incremental_dedup": _q61_fuzzy_incremental_dedup,
        "q62_multimodal_features": _q62_multimodal_features,
        "q63_profit_by_nation_year": _q63_profit_by_nation_year,
        "q64_market_share": _q64_market_share,
        "q65_pivot": _q65_pivot,
        "q66_semantic_dedup": _q66_semantic_dedup,
        "q67_duplicated_spans": _q67_duplicated_spans,
        "q68_doc_chunks": _q68_doc_chunks,
        "q69_bigram_pmi": _q69_bigram_pmi,
        "q70_strip_dup_spans": _q70_strip_dup_spans,
        "q71_sole_supplier_orders": _q71_sole_supplier_orders,
        "q72_dormant_big_accounts": _q72_dormant_big_accounts,
        "q73_supplier_share": _q73_supplier_share,
        "q74_quarter_top_supplier": _q74_quarter_top_supplier,
        "q75_source_drift": _q75_source_drift,
        "q76_rollup_revenue": _q76_rollup_revenue,
        "q77_bloom_incremental_dedup": _q77_bloom_incremental_dedup,
        "q78_domain_caps": _q78_domain_caps,
        "q79_dedup_keep_best": _q79_dedup_keep_best,
        "q80_stratified_sample": _q80_stratified_sample,
        "q81_text_cleanup": _q81_text_cleanup,
        "q82_cube_orders": _q82_cube_orders,
        "q83_trailing_time_window": _q83_trailing_time_window,
        "q84_sessionization": _q84_sessionization,
        "q85_cheapest_supplier_per_part": _q85_cheapest_supplier_per_part,
        "q86_top_trigrams_per_source": _q86_top_trigrams_per_source,
        "q87_quality_deciles": _q87_quality_deciles,
        "q88_interval_overlap": _q88_interval_overlap,
        "q89_vocabulary": _q89_vocabulary,
        "q90_oov_rate": _q90_oov_rate,
        "q91_corpus_profile": _q91_corpus_profile,
        "q92_kmeans_profile": _q92_kmeans_profile,  # rows-only: iterative
        "q93_group_delta_min": _q93_group_delta_min,
        "q94_salted_priority_count": _q94_salted_priority_count,
        "q95_kmeans_assign": _q95_kmeans_assign,
        "q96_winnow_overlap": _q96_winnow_overlap,
        "q97_winnow_overlap_hash": _q97_winnow_overlap_hash,
        "q98_winnow_against_corpus": _q98_winnow_against_corpus,
        "q99_winnow_screen_indexed": _q99_winnow_screen_indexed,
        "q100_embedding_against_corpus": _q100_embedding_against_corpus,
        "q101_ivf_indexed_topk": _q101_ivf_indexed_topk,
        "q102_vector_screen_indexed": _q102_vector_screen_indexed,
        "q103_first_last": _q103_first_last,
        "q104_error_propagation": _q104_error_propagation,
        "q105_where_clip_digitize": _q105_where_clip_digitize,
        "q106_map_astype_algebra": _q106_map_astype_algebra,
        "q107_error_propagation_corr": _q107_error_propagation_corr,
        "q108_mutual_information": _q108_mutual_information,
        "q109_percentile_exact_mode": _q109_percentile_exact_mode,
        "q110_positional_window": _q110_positional_window,
        "q111_take_fancy": _q111_take_fancy,
        "q112_date_stats": _q112_date_stats,
        "q113_interval_gap_stats": _q113_interval_gap_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_filter_project": _Q02_SQL,
        "q03_revenue_by_segment": _Q03_SQL,
        "q04_priority_count": _Q04_SQL,
        "q05_revenue_by_nation": _Q05_SQL,
        "q06_forecast_revenue": _Q06_SQL,
        "q07_orders_by_month": _Q07_SQL,
        "q08_value_counts": _Q08_SQL,
        "q09_nunique": _Q09_SQL,
        "q10_window_diff": _Q10_SQL,
        "q11_rolling_avg": _Q11_SQL,
        "q12_rank_topk": _Q12_SQL,
        "q13_sort_topn": _Q13_SQL,
        "q14_string_funcs": _Q14_SQL,
        "q15_datetime_funcs": _Q15_SQL,
        "q16_bucket_case": _Q16_SQL,
        "q17_isin": _Q17_SQL,
        "q18_histogram": _Q18_SQL,
        "q19_distinct": _Q19_SQL,
        "q20_concat": _Q20_SQL,
        "q21_null_handling": _Q21_SQL,
        "q22_quantile": _Q22_SQL,
        "q23_corr_var": _Q23_SQL,
        "q24_window_tumbling": _Q24_SQL,
        "q25_shift": _Q25_SQL,
        "q26_dedup_exact": _Q26_SQL,
        "q27_token_stats": _Q27_SQL,
        "q28_quality": _q28_oracle_sql(),
        "q29_langid": _langid_oracle_sql(),
        "q30_fingerprint": _Q30_SQL,
        "q31_cosine_pairs": _Q31_SQL,
        "q32_embedding_norms": _Q32_SQL,
        "q33_topk_ann": _Q33_SQL,
        "q34_lsh_topk": _q34_oracle_sql(),
        "q35_minhash_near_dups": _jaccard_pairs_sql(0.5),
        "q36_simhash_near_dups": _jaccard_pairs_sql(0.9),
        "q37_ngram_jaccard_exact": _Q37_SQL,
        "q38_geo_polar": _Q38_SQL,
        "q39_ml_scalers": _Q39_SQL,
        "q40_any_all": _Q40_SQL,
        "q41_orders_by_fortnight": _q41_oracle_sql(),
        "q42_ordinal_codes": _Q42_SQL,
        "q43_isin_large": _q43_oracle_sql(),
        "q44_embedding_near_dups": _Q44_SQL,
        "q45_dedup_clusters": _q45_oracle_sql(),
        "q46_word_topk": _Q46_SQL,
        "q47_pii_scrub": _q47_oracle_sql(),
        "q48_asof_join": _Q48_SQL,
        "q49_range_join": _q49_oracle_sql(),
        "q50_contamination": _Q50_SQL,
        "q51_repetition": _Q51_SQL,
        "q52_pack_sequences": _Q52_SQL,
        "q53_tfidf_terms": _Q53_SQL,
        "q54_unigram_quality": _Q54_SQL,
        "q55_session_windows": _Q55_SQL,
        "q56_curation_pipeline": _q56_oracle_sql(),
        "q57_json_props": _Q57_SQL,
        "q58_mix_budget": _Q58_SQL,
        "q59_boilerplate_lines": _Q59_SQL,
        "q60_incremental_dedup": _Q60_SQL,
        "q61_fuzzy_incremental_dedup": _Q61_SQL,
        "q63_profit_by_nation_year": _Q63_SQL,
        "q64_market_share": _Q64_SQL,
        "q65_pivot": _Q65_SQL,
        "q66_semantic_dedup": _Q66_SQL,
        "q67_duplicated_spans": _Q67_SQL,
        "q68_doc_chunks": _Q68_SQL,
        "q69_bigram_pmi": _Q69_SQL,
        "q70_strip_dup_spans": _Q70_SQL,
        "q71_sole_supplier_orders": _Q71_SQL,
        "q72_dormant_big_accounts": _Q72_SQL,
        "q73_supplier_share": _Q73_SQL,
        "q74_quarter_top_supplier": _Q74_SQL,
        "q75_source_drift": _Q75_SQL,
        "q76_rollup_revenue": _Q76_SQL,
        "q77_bloom_incremental_dedup": _Q77_SQL,
        "q78_domain_caps": _Q78_SQL,
        "q79_dedup_keep_best": _Q79_SQL,
        "q80_stratified_sample": _Q80_SQL,
        "q81_text_cleanup": _Q81_SQL,
        "q82_cube_orders": _Q82_SQL,
        "q83_trailing_time_window": _Q83_SQL,
        "q84_sessionization": _Q84_SQL,
        "q85_cheapest_supplier_per_part": _Q85_SQL,
        "q86_top_trigrams_per_source": _Q86_SQL,
        "q87_quality_deciles": _q87_oracle_sql(),
        "q88_interval_overlap": _Q88_SQL,
        "q89_vocabulary": _Q89_SQL,
        "q90_oov_rate": _Q90_SQL,
        "q91_corpus_profile": _q91_oracle_sql(),
        "q93_group_delta_min": _Q93_SQL,
        "q94_salted_priority_count": _Q94_SQL,
        "q95_kmeans_assign": _q95_oracle_sql(),
        "q96_winnow_overlap": _Q96_SQL,
        "q98_winnow_against_corpus": _Q98_SQL,
        # same result relation as q98: the production path persists the
        # grouped index but the screen's OUTPUT is contract-identical
        "q99_winnow_screen_indexed": _Q98_SQL,
        "q100_embedding_against_corpus": _Q100_SQL,
        "q101_ivf_indexed_topk": _Q101_SQL,
        # same result relation as q100: the production path persists
        # the packed vector index but the screen's OUTPUT is
        # contract-identical
        "q102_vector_screen_indexed": _Q100_SQL,
        "q103_first_last": _Q103_SQL,
        "q104_error_propagation": _Q104_SQL,
        "q105_where_clip_digitize": _Q105_SQL,
        "q106_map_astype_algebra": _Q106_SQL,
        "q107_error_propagation_corr": _Q107_SQL,
        "q108_mutual_information": _Q108_SQL,
        "q109_percentile_exact_mode": _Q109_SQL,
        "q110_positional_window": _Q110_SQL,
        "q111_take_fancy": _Q111_SQL,
        "q112_date_stats": _Q112_SQL,
        "q113_interval_gap_stats": _Q113_SQL,
    }
