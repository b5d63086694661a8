"""Registered engine queries + DuckDB oracle SQL (the driver contract).

Each entry exercises one or more operators from SURVEY.md §2 over the
driver's synthetic tables (TESTDATA.md). The Spark side is idiomatic
DataFrame code routed through the engine's operator/function layer; the
oracle side is equivalent ANSI SQL for DuckDB. Column names are aliased
identically on both sides (the driver's compare sorts columns by name and
hashes values).

Float policy: aggregate-derived doubles are rounded to 4 decimals on BOTH
sides so summation-order differences between engines (~1e-12 relative)
can't flip a hash. Pass-through column values are bit-identical from the
shared parquet and are not rounded.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_lower
from ra2_datalake_linaresjoan_spark.sources.readers import read_testdata as _t


#: Lockstep WHERE fragment for the embeddings table, mirrored by
#: ``_emb_clean``: DuckDB's list_cosine_similarity/list_distance REJECT
#: NULL elements outright (the Spark side silently NULLs or drops), so
#: every cosine-path oracle pair must agree on which vectors exist
#: before any distance math. Zero-norm vectors have no defined cosine
#: on either engine and are excluded with the same fragment. Ragged
#: lengths are excluded too (len = EMB_DIM, the corpus convention the
#: IVF-PQ queries already pin): DuckDB's list_cosine_similarity RAISES
#: on mismatched lengths while Spark's zip_with dot silently yields
#: NULL — the same engine-asymmetry class as interior NULLs.
EMB_DIM = 64
EMB_CLEAN_SQL = (
    "vec_id IS NOT NULL AND embedding IS NOT NULL"
    f" AND len(embedding) = {EMB_DIM}"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
    " AND list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))"
    " > 0"
)


def _emb_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with dirty vectors dropped in lockstep with
    ``EMB_CLEAN_SQL`` — NULL ids, NULL vectors, NULL ELEMENTS,
    ragged lengths (≠ EMB_DIM), and zero-norm vectors are all excluded
    before any similarity math."""
    return _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == EMB_DIM)
        & ~F.exists("embedding", lambda x: x.isNull())
        & (
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
            > 0
        )
    )


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster's task slots IF the scan
    has fewer partitions than slots — the guard that turns "one small
    parquet file = one task runs all the per-row CPU" into a full-width
    stage without ever adding an unconditional shuffle of a 100-TB
    table (at scale the scan already has >= slots partitions and this
    is a no-op).  Shared by every per-row-CPU-heavy query (entropy
    folds, per-char shingles, md5 fan-outs); first proven in
    ``q_poisson_bootstrap_ci`` (queries_ext27.py) where the measured
    sf0.1 cost was one core doing 6M md5s.  Only safe where results
    are row-local or aggregates are exact-integer / partition-order
    invariant — each caller asserts WHY in its docstring;
    ``test_spread_guard_semantics`` pins the guard's no-op/widen
    behavior, and SCALE.md's "Partition-count invariance, measured"
    bullet records the 3-vs-32-partition bit-identity sweep of the 12
    float-sensitive queries."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# Core relational queries (SURVEY §2.2-§2.8 over the TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (A3 sums/avgs, A1 counts,
    grouped hash-agg). Catalyst plans partial+final hash agg with map-side
    combine; the only shuffle is on the 2-key group — scale-safe."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                                           AS sum_qty,
       round(sum(l_extendedprice), 4)                                      AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)                   AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)     AS sum_charge,
       round(avg(l_quantity), 4)                                           AS avg_qty,
       round(avg(l_extendedprice), 4)                                      AS avg_price,
       round(avg(l_discount), 4)                                           AS avg_disc,
       count(*)                                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by metric (T1) — TakeOrderedAndProject, no global sort."""
    from ra2_datalake_linaresjoan_spark.operators.topk import top_k

    # complete-case on (price, key) in lockstep: a top-by-price rank
    # has no place for unpriced orders, and rows tied on a NULL price
    # with NULL orderkeys select nondeterministically at the LIMIT
    # boundary whatever the engines' NULL order (round-10 dirty audit)
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    return top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        "o_totalprice",
        50,
        tiebreak=["o_orderkey"],
    )


SQL_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50
"""


def q_event_type_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped frequency + top-10 (A2/T2, reference value_counts +
    report top-10s)."""
    from ra2_datalake_linaresjoan_spark.operators.topk import top_k_groups

    events = _t(spark, sf_dir, "events")
    return top_k_groups(events, ["event_type"], k=10, count_col="n")


SQL_EVENT_TYPE_TOP10 = """
SELECT event_type, count(*) AS n
FROM events
GROUP BY event_type
ORDER BY n DESC, event_type ASC
LIMIT 10
"""


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (A4, reference validator_warehouse.py:175-189:
    SUM(CASE WHEN ...)) + COALESCE'd totals (A6) per order priority."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
            .cast("long")
            .alias("n_open"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("n_finished"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderstatus") == "O", F.col("o_totalprice")
                        )
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("open_value"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("o_orderpriority")
    )


SQL_CONDITIONAL_AGG = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 4) AS open_value,
       count(*) AS n_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked dedup keep-newest (W1, reference spark_cleaner.py:108-114):
    newest event per (user_id, event_type), deterministic tiebreak."""
    from ra2_datalake_linaresjoan_spark.operators.dedup import dedup_keep_newest

    events = _t(spark, sf_dir, "events")
    deduped = dedup_keep_newest(
        events, ["user_id", "event_type"], "ts", tiebreak=["event_id"]
    )
    return deduped.select("event_id", "user_id", "event_type", "ts", "value")


SQL_WINDOW_DEDUP = """
SELECT event_id, user_id, event_type, ts, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + uniqueness check shape (A5/A11, reference
    validator_warehouse.py:91-105)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.countDistinct("c_custkey").alias("n_unique_keys"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("c_nationkey")
    )


SQL_COUNT_DISTINCT = """
SELECT c_nationkey,
       count(DISTINCT c_mktsegment) AS n_segments,
       count(DISTINCT c_custkey)    AS n_unique_keys,
       count(*)                     AS n_rows
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: region ⋈ nation ⋈ customer ⋈ orders ⋈
    lineitem, revenue per nation. Dims are broadcast (region/nation/customer
    are tiny relative to facts) so the only real shuffle is the final
    group-by; Catalyst + AQE order the joins."""
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


SQL_REVENUE_BY_NATION = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join + agg + top-k: unshipped BUILDING orders by
    revenue. TakeOrderedAndProject keeps the top-10 without a global sort."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    cutoff = "1999-06-30"
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit(cutoff))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit(cutoff))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-06-30'
  AND l_shipdate  > TIMESTAMP '1999-06-30'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J6): customers having ≥1 URGENT open order —
    the reference's valid-id set filters without collecting a set."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "O")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        customer.join(urgent, "c_custkey", "left_semi")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'
)
ORDER BY c_custkey
"""


def q_anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti orphan detection (J1-J3, reference
    validator_warehouse.py:108-162): lineitems whose part is NOT in the
    premium-part dim, counted per returnflag."""
    from ra2_datalake_linaresjoan_spark.operators.joins import anti_orphans

    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    premium = part.filter(F.col("p_retailprice") >= 950.0).select(
        F.col("p_partkey").alias("l_partkey")
    )
    orphans = anti_orphans(lineitem, premium, "l_partkey")
    return (
        orphans.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .orderBy("l_returnflag")
    )


#: NULL contract, spelled out so the oracle means the SAME anti-join the
#: operator runs (round-11 value-fuzz find): a NULL fact key can match
#: nothing ⇒ it IS an orphan (left_anti keeps it), and NULL dim keys
#: match nothing ⇒ they are ignored.  A bare ``NOT IN`` has neither —
#: one NULL in the subquery poisons the whole predicate to never-TRUE
#: (0 rows), which the Inf-fuzzed p_retailprice exposed the moment a
#: NULL-p_partkey row first passed the premium filter.
SQL_ANTI_JOIN_ORPHANS = """
SELECT l_returnflag, count(*) AS n_orphans
FROM lineitem
WHERE l_partkey IS NULL
   OR l_partkey NOT IN (SELECT p_partkey FROM part
                        WHERE p_retailprice >= 950.0
                          AND p_partkey IS NOT NULL)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_broadcast_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash lookup (J4, reference dict-probe loader_NeonDB.py:261-264):
    lineitem ⋈ broadcast(part) → revenue per brand. The dim broadcast means
    the 100-TB fact side never shuffles for the join."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias("brand_revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


SQL_BROADCAST_BRAND_REVENUE = """
SELECT p_brand,
       round(sum(l_extendedprice), 4) AS brand_revenue,
       round(avg(l_quantity), 4)      AS avg_qty,
       count(*)                       AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# More aggregates (SURVEY §2.4)
# ---------------------------------------------------------------------------


def q_avg_max_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average & max of grouped counts (A9, reference
    extractor_polymarket.py:303-353: markets-per-event stats): lineitems
    per order → avg/max/min per order priority. Two-level agg."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    per_order = (
        lineitem.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.round(F.avg("n_items"), 4).alias("avg_items"),
            F.max("n_items").alias("max_items"),
            F.min("n_items").alias("min_items"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


SQL_AVG_MAX_GROUP = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       round(avg(n_items), 4) AS avg_items,
       max(n_items)           AS max_items,
       min(n_items)           AS min_items,
       count(*)               AS n_orders
FROM per_order JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed counts (A7, reference outcome-count histogram
    transformer_data.py:612-616): part-size buckets via a CASE expression."""
    part = _t(spark, sf_dir, "part")
    bucket = (
        F.when(F.col("p_size") <= 10, F.lit("small"))
        .when(F.col("p_size") <= 25, F.lit("medium"))
        .when(F.col("p_size") <= 40, F.lit("large"))
        .otherwise(F.lit("jumbo"))
    )
    return (
        part.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("size_bucket")
    )


SQL_BUCKET_HISTOGRAM = """
SELECT CASE WHEN p_size <= 10 THEN 'small'
            WHEN p_size <= 25 THEN 'medium'
            WHEN p_size <= 40 THEN 'large'
            ELSE 'jumbo' END AS size_bucket,
       count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price
FROM part
GROUP BY 1
ORDER BY size_bucket
"""


def q_ratio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio/derived stats (A8, reference porcentaje_activos
    extractor_polymarket.py:287-299): per-status share of orders, % rounded
    to 2 — post-aggregation arithmetic over a single global agg."""
    orders = _t(spark, sf_dir, "orders")
    totals = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    # window-free: cross-join the single global count (broadcast, 1 row)
    grand = orders.agg(F.count(F.lit(1)).alias("total"))
    return (
        totals.crossJoin(F.broadcast(grand))
        .select(
            "o_orderstatus",
            "n",
            F.round(F.col("n") / F.col("total") * 100, 2).alias("pct"),
        )
        .orderBy("o_orderstatus")
    )


SQL_RATIO_STATS = """
SELECT o_orderstatus, count(*) AS n,
       round(count(*) * 100.0 / (SELECT count(*) FROM orders), 2) AS pct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension build (J7/F17, reference loader_NeonDB.py:266-285):
    distinct order dates → surrogate key + calendar parts with pandas
    conventions (Mon=0 weekday, weekend = dow>=5)."""
    from ra2_datalake_linaresjoan_spark.functions.calendar import build_date_dim

    orders = _t(spark, sf_dir, "orders")
    dim = build_date_dim(orders, "o_orderdate")
    return dim.select(
        F.col("fecha_id").cast("long").alias("fecha_id"),
        "fecha",
        "anio",
        "mes",
        "dia",
        "trimestre",
        "dia_semana",
        "es_finde",
    ).orderBy("fecha_id")


SQL_DATE_DIM = """
SELECT row_number() OVER (ORDER BY fecha)        AS fecha_id,
       fecha,
       CAST(year(fecha) AS INTEGER)              AS anio,
       CAST(month(fecha) AS INTEGER)             AS mes,
       CAST(day(fecha) AS INTEGER)               AS dia,
       CAST(quarter(fecha) AS INTEGER)           AS trimestre,
       CAST(isodow(fecha) - 1 AS INTEGER)        AS dia_semana,
       isodow(fecha) - 1 >= 5                    AS es_finde
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS fecha FROM orders WHERE o_orderdate IS NOT NULL)
ORDER BY fecha_id
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated aggregate: revenue of lineitems whose
    quantity is under 20% of their part's average. Expressed as a window
    average per part — the decorrelated plan Catalyst would want anyway
    (one shuffle on partkey, no per-row subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("l_partkey")
    brand = li.join(
        F.broadcast(part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    flagged = brand.withColumn("_avg_qty", F.avg("l_quantity").over(w))
    return flagged.filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)) / 7.0, 4).alias(
            "avg_yearly"
        ),
    )


SQL_SMALL_QTY_REVENUE = """
SELECT count(*) AS n_items,
       round(coalesce(sum(l_extendedprice), 0) / 7.0, 4) AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < 0.2 * (
    SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
"""


def q_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated comparison against a per-group average: customers richer
    than their nation's mean balance, counted per nation — window-average
    decorrelation again. Complete-case on c_nationkey in LOCKSTEP
    (round-9 decorrelated dirty audit): Spark's window keeps a
    NULL-nation partition while the oracle's correlated subquery never
    matches NULL = NULL and drops those rows."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isNotNull()
    )
    w = Window.partitionBy("c_nationkey")
    flagged = cust.withColumn("_nation_avg", F.avg("c_acctbal").over(w))
    return (
        flagged.filter(F.col("c_acctbal") > F.col("_nation_avg"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            F.round(F.max("c_acctbal"), 4).alias("richest"),
        )
        .orderBy("c_nationkey")
    )


SQL_ABOVE_AVG_BALANCE = """
SELECT c_nationkey, count(*) AS n_above_avg, round(max(c_acctbal), 4) AS richest
FROM customer c
WHERE c_nationkey IS NOT NULL AND c_acctbal > (
  SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: ASIA's share of global revenue per
    order year — conditional aggregation over a multi-join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey"))
    region = F.broadcast(_t(spark, sf_dir, "region").select("r_regionkey", "r_name"))
    # Collapse the customer→nation→region chain to a 2-column boolean dim
    # (9 bytes/row) BEFORE touching the facts: two broadcast joins, no
    # shuffle. Broadcasting the reduced flag keeps the lineitem⋈orders
    # shuffle the only big exchange in the whole plan.
    cust_flag = (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", (F.col("r_name") == "ASIA").alias("is_asia"))
    )
    orders_flag = orders.join(
        F.broadcast(cust_flag), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", F.year("o_orderdate").alias("o_year"), "is_asia")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders_flag, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("is_asia"), rev).otherwise(0.0)) / F.sum(rev),
                6,
            ).alias("asia_share"),
            # billion-scale sums round at 2, not 4: at sf0.1 the total is
            # ~4.6e9 and 4 decimals (14 significant digits) sits at
            # double-precision's summation-order noise floor — verified to
            # diverge between engines at sf0.1, match at 2 decimals
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


SQL_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN r_name = 'ASIA' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS asia_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1 ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# LLM-data ops: text analysis, dedup, similarity, multimodal (north star)
# ---------------------------------------------------------------------------


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per language."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        bpe_ish_token_count,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            whitespace_token_count(F.col("text")).alias("ws_tokens"),
            bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
            F.round(F.avg("bpe_tokens"), 4).alias("avg_bpe_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


SQL_DOC_TOKEN_STATS = r"""
WITH tok AS (
  SELECT lang,
         CASE WHEN trim(text, ' ') = '' OR text IS NULL THEN 0
              ELSE len(regexp_split_to_array(trim(text, ' '), '[\s\x0b]+')) END AS ws_tokens,
         coalesce(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s\x0b]')), 0) AS bpe_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       round(avg(bpe_tokens), 4)      AS avg_bpe_tokens,
       round(avg(n_chars), 4)         AS avg_chars
FROM tok GROUP BY lang ORDER BY lang
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length/punct/stopword composite) per source."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import quality_score

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", quality_score(F.col("text")).alias("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.round(F.min("q"), 4).alias("min_quality"),
            F.round(F.max("q"), 4).alias("max_quality"),
        )
        .orderBy("source")
    )


SQL_DOC_QUALITY = r"""
WITH feat AS (
  SELECT source,
         CASE WHEN trim(text, ' ') = '' OR text IS NULL THEN 0
              ELSE len(regexp_split_to_array(trim(text, ' '), '[\s\x0b]+')) END AS n_tok,
         regexp_replace(text, '[\s\x0b]', '', 'g') AS nospace,
         regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words
  FROM documents
), comp AS (
  SELECT source,
         least(n_tok / 200.0, 1.0) AS len_score,
         CASE WHEN length(nospace) = 0 THEN 0.0
              ELSE length(regexp_replace(nospace, '[\p{L}\p{N}_]', '', 'g')) * 1.0 / length(nospace)
         END AS p,
         CASE WHEN len(words) = 0 THEN 0.0
              ELSE len(list_filter(words, x -> list_contains(['the','a','of','and','is'], x))) * 1.0 / len(words)
         END AS sw
  FROM feat
), scored AS (
  SELECT source,
         round(0.4 * len_score + 0.3 * (1.0 - p)
               + 0.3 * (CASE WHEN sw >= 0.02 AND sw <= 0.6 THEN 1.0 ELSE 0.5 END), 6) AS q
  FROM comp
)
SELECT source, count(*) AS n_docs,
       round(avg(q), 4) AS avg_quality,
       round(min(q), 4) AS min_quality,
       round(max(q), 4) AS max_quality
FROM scored GROUP BY source ORDER BY source
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column → confusion counts."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


SQL_LANG_ID_CONFUSION = r"""
WITH w AS (
  SELECT lang, regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words FROM documents
), s AS (
  SELECT lang,
         len(list_filter(words, x -> list_contains(['the','and','of','is','a'], x)))   AS s_en,
         len(list_filter(words, x -> list_contains(['el','la','de','que','los'], x)))  AS s_es,
         len(list_filter(words, x -> list_contains(['le','la','les','et','des'], x)))  AS s_fr,
         len(list_filter(words, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de
  FROM w
), pred AS (
  SELECT lang,
         CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
              WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
              WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
              WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
              ELSE 'und' END AS predicted
  FROM s
)
SELECT lang, predicted, count(*) AS n
FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
"""


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 fingerprint, deterministic min-id
    survivor; returns surviving (doc_id, fingerprint).

    Round-13 (guide §8 "decide with small rows"): this query's output
    is (doc_id, fingerprint) only, so it projects the fingerprint FIRST
    and runs the survivor window over the narrow (id, 32-hex) pair —
    the generic ``exact_dedup`` operator (kept for consumers that need
    the surviving full rows) shuffled the entire text payload through
    the fingerprint exchange and then recomputed the fingerprint on the
    survivors.  Survivor semantics are the operator's verbatim: a row
    survives iff it equals its group's min NON-NULL id, or has no group
    to lose to (NULL id / NULL fingerprint pass through)."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint")
    return (
        keyed.withColumn(
            "_keep",
            F.min(
                F.when(F.col("doc_id").isNotNull(), F.col("doc_id"))
            ).over(w),
        )
        .where(
            F.col("doc_id").isNull()
            | F.col("fingerprint").isNull()
            | (F.col("doc_id") == F.col("_keep"))
        )
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


SQL_EXACT_DEDUP_DOCS = r"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g'), ' ')) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint
FROM fp
-- NULL-fingerprint / NULL-id docs pass through as survivors (the
-- exact_dedup operator contract: no evidence of duplication)
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
        OR fingerprint IS NULL OR doc_id IS NULL
ORDER BY doc_id
"""


SQL_NGRAM_JACCARD = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM w, unnest(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
), cnt AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b, round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
  FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
)
SELECT * FROM jac WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (3-gram shingles, τ=0.8) via a
    shingle inverted-index self-join."""
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, exact-Jaccard-verified (the 100-TB
    dedup path). Banding: 24 bands × 2 rows → P(miss | j=0.8) ≈ 2e-11, so
    the verified output equals the exact-Jaccard oracle."""
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import minhash_lsh_candidates

    # NO _spread here (measured): the first groupBy(doc_id) already
    # redistributes, so a pre-shuffle of the full text payload costs
    # more than the single-task map stage it relieves (1.30 s -> 1.43 s
    # at sf0.1).  _spread only pays off when the heavy per-row CPU has
    # no downstream shuffle to hide behind (char_entropy_filter) or
    # feeds a broadcast-only pipeline (semantic_kmeans).
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, num_hashes=48, bands=24, threshold=0.8
    ).select("doc_a", "doc_b", "jaccard").orderBy("doc_a", "doc_b")


def _simhash_oracle_sql() -> str:
    """Exact DuckDB oracle of the md5-variant SimHash: same per-bit ±1
    aggregation, same 4×16-bit banding, same bit_count(xor) hamming —
    generated programmatically (64 bit expressions)."""
    bit_sums = ",\n    ".join(
        "CASE WHEN sum(CASE WHEN (('0x'||substr(md5(shingle), %d, 1))::INT >> %d) & 1 = 1 "
        "THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit%d" % (16 - b // 4, b % 4, b)
        for b in range(64)
    )
    blocks = ",\n    ".join(
        "(%s) AS blk%d"
        % (" + ".join("bit%d * %d" % (16 * blk + j, 1 << j) for j in range(16)), blk)
        for blk in range(4)
    )
    ham = " + ".join(
        "bit_count(xor(sa.blk%d::BIGINT, sb.blk%d::BIGINT))" % (i, i) for i in range(4)
    )
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM w, unnest(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
), bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM sh GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    {blocks}
  FROM bits
), banded AS (
  SELECT doc_id, blk0, blk1, blk2, blk3,
         unnest([0, 1, 2, 3]) AS blk, unnest([blk0, blk1, blk2, blk3]) AS val
  FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
), ham AS (
  SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3 ORDER BY doc_a, doc_b
"""


SQL_SIMHASH_NEARDUP = _simhash_oracle_sql()


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures of
    3-gram shingles; 4-block banding makes that radius exact-recall by
    pigeonhole). Uses the engine-portable md5 bit source so the full
    signature + banding + hamming pipeline is oracle-checked bit-for-bit
    (xxhash64 stays the scale-path default in the operator)."""
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import simhash_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=3, hash_fn="md5")
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for every 50th vector —
    the exact-ANN baseline. Ranked on rounded similarity with id tiebreak
    for engine-portable determinism."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import cosine_topk

    emb = _emb_clean(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(qs, emb, k=5).orderBy(
        "query_id", F.col("cos_sim").desc(), "neighbor_id"
    )


SQL_COSINE_TOPK = f"""
WITH embc AS (SELECT * FROM embeddings WHERE {EMB_CLEAN_SQL})
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embc q JOIN embc c ON q.vec_id <> c.vec_id
WHERE q.vec_id % 50 = 0
QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY cos_sim DESC, c.vec_id ASC) <= 5
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


def _ann_lsh_oracle_sql(
    dim: int = 64, planes: int = 6, tables: int = 6, seed: int = 42, k: int = 5
) -> str:
    """Exact DuckDB oracle of ``lsh_bucket_ann``: the hyperplanes are
    host-side deterministic constants (``_hyperplane``), so the identical
    literals are embedded here and the whole bucketing + candidate join +
    re-scoring pipeline is replicated in SQL."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import _hyperplane

    bucket_exprs = []
    for t in range(tables):
        terms = []
        for p in range(planes):
            plane = _hyperplane(dim, t * planes + p, seed)
            lit = "[" + ", ".join(str(x) for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {1 << p} ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(terms) + f") AS bkt{t}")
    buckets = ",\n    ".join(bucket_exprs)
    tbl_list = "[" + ", ".join(str(t) for t in range(tables)) + "]"
    val_list = "[" + ", ".join(f"bkt{t}" for t in range(tables)) + "]"
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {EMB_CLEAN_SQL}
), sig AS (
  SELECT vec_id,
    {buckets}
  FROM emb
), banded AS (
  SELECT vec_id, unnest({tbl_list}) AS tbl, unnest({val_list}) AS bucket FROM sig
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded q JOIN banded c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qe.v, ce.v), 6) AS cos_sim
  FROM cand JOIN emb qe ON qe.vec_id = cand.query_id
            JOIN emb ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= {k}
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


SQL_ANN_LSH = _ann_lsh_oracle_sql()


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the scale path): approximate top-5.
    The hyperplanes are deterministic host-side constants, so the exact
    bucketing is replicated in the DuckDB oracle — full hash-match, not a
    rows-only check."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import lsh_bucket_ann

    emb = _emb_clean(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_bucket_ann(qs, emb, dim=64, k=5, planes=6, tables=6).orderBy(
        "query_id", F.col("cos_sim").desc(), "neighbor_id"
    )


SQL_ANN_IVF = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE {EMB_CLEAN_SQL}
), cents AS (
  SELECT vec_id AS cell, v AS cv FROM emb ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT e.vec_id AS neighbor_id, e.v AS nv, c.cell
  FROM emb e CROSS JOIN cents c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv) ASC, c.cell ASC) = 1
), probes AS (
  SELECT e.vec_id AS query_id, e.v AS qv, c.cell
  FROM emb e CROSS JOIN cents c
  WHERE e.vec_id % 50 = 0
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY list_distance(e.v, c.cv) ASC, c.cell ASC) <= 4
), scored AS (
  SELECT p.query_id, a.neighbor_id, round(list_cosine_similarity(p.qv, a.nv), 6) AS cos_sim
  FROM probes p JOIN assign a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 5
ORDER BY query_id, cos_sim DESC, neighbor_id
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantizer cells + n_probe probing). Registered with
    the deterministic seed-vector quantizer so cell assignment, probing,
    and re-scoring are all oracle-checked in SQL; the KMeans quantizer
    stays the operator default (recall vs the exact baseline is asserted
    in tests)."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import ivf_ann

    emb = _emb_clean(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_ann(qs, emb, k=5, n_cells=16, n_probe=4, quantizer="seed").orderBy(
        "query_id", F.col("cos_sim").desc(), "neighbor_id"
    )


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: wrap text as binary payloads with
    typed metadata, aggregate byte stats per modality (pure JVM)."""
    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        attach_binary_payload,
        byte_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "text", "doc_id")
    return byte_stats(media).orderBy("modality")


SQL_MULTIMODAL_BYTES = """
SELECT 'text' AS modality,
       count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       round(avg(octet_length(encode(text))), 4) AS avg_bytes
FROM documents
"""


SQL_MULTIMODAL_FEATURES = """
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), pos AS (
  SELECT media_id, h, n, unnest(range(0, n, 8)) AS i FROM b WHERE n > 0
), acc AS (
  SELECT media_id, sum(('0x' || substr(h, i * 2 + 1, 2))::BIGINT) % 1000 AS a0
  FROM pos GROUP BY media_id
)
SELECT b.media_id, 'text' AS modality, CAST(b.n AS BIGINT) AS n_bytes,
       round(CASE WHEN b.n = 0 THEN 0.0 ELSE acc.a0 * 1.0 / b.n END, 4) AS f0
FROM b LEFT JOIN acc ON acc.media_id = b.media_id
ORDER BY b.media_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads.
    The stub decoder's feature math is deterministic byte arithmetic
    (per-slot byte sums mod 1000 / payload length), so slot 0 is
    oracle-checked exactly in DuckDB over hex(encode(text)).

    Complete-case on (doc_id, text): a NULL payload has nothing to
    decode — the stub minted a fake zero-feature row where the oracle
    carried NULLs (round-8 parity audit, binary class)."""
    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        attach_binary_payload,
        extract_features,
    )
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case

    docs = complete_case(_t(spark, sf_dir, "documents"), "doc_id", "text")
    media = attach_binary_payload(docs, "text", "doc_id")
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id", "modality", "n_bytes", F.round(F.col("feature")[0], 4).alias("f0")
    ).orderBy("media_id")


def q_jsonish_arrays_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5 parity: synthesize Python-literal JSON-ish arrays from part
    columns, parse with normalize_outcomes / normalize_prices, and check
    the parsed shape against the oracle's direct computation — including
    the skip-unparseable-element and null-on-malformed paths."""
    from ra2_datalake_linaresjoan_spark.functions.normalize import (
        normalize_outcomes,
        normalize_prices,
    )

    part = _t(spark, sf_dir, "part")
    # printable-ASCII fence on the outcomes arm (round-13 carriers): a
    # raw control char (U+000B) in a synthesized element is INVALID
    # JSON — from_json nulls the whole array while the oracle's
    # shortcut would still count the elements — and Java's full
    # upper() diverges from utf8proc on ligature carriers ('ﬁ'→'FI'
    # vs codepoint-wise identity).  Non-printable-ASCII brand/type ⇒
    # NULL outcomes string on BOTH sides; the normalize_outcomes
    # FUNCTION keeps the reference's full-upper contract.
    _printable = r"[^\x20-\x7e]"
    _bad = F.col("p_brand").rlike(_printable) | F.col("p_type").rlike(
        _printable
    )
    outcomes_str = F.when(
        ~F.coalesce(_bad, F.lit(True)),
        F.concat(
            F.lit("[' "),
            F.col("p_brand"),
            F.lit("', '"),
            F.col("p_type"),
            F.lit(" ']"),
        ),
    )
    prices_str = F.concat(
        F.lit("['"),
        F.round(F.col("p_retailprice"), 2).cast("string"),
        F.lit("', 'bad', '"),
        F.col("p_size").cast("string"),
        F.lit("']"),
    )
    parsed = part.select(
        "p_partkey", outcomes_str.alias("outs_str"), prices_str.alias("prices_str")
    ).selectExpr(
        "p_partkey",
        f"{normalize_outcomes('outs_str')} AS outs",
        f"{normalize_prices('prices_str')} AS prices",
    )
    return parsed.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("outs")).cast("long").alias("total_outcomes"),
        F.countDistinct(F.col("outs")[0]).alias("n_brands_upper"),
        F.sum(F.size("prices")).cast("long").alias("total_prices"),
        F.round(F.sum(F.col("prices")[0]), 2).alias("sum_first_price"),
        F.round(F.sum(F.col("prices")[1]), 2).alias("sum_sizes"),
    )


SQL_JSONISH_ARRAYS_PARITY = """
-- every aggregate is guarded by the exact NULL condition of its
-- synthesized input string (concat propagates NULL in Spark): a NULL
-- component makes the whole array NULL, so it contributes neither
-- elements nor values — and normalize_outcomes additionally DROPS
-- empty elements, so a ''-valued component counts 0 and shifts outs[0]
-- to the next non-empty element (round-9 empty-string corpus)
SELECT count(*) AS n,
       CAST(sum(CASE WHEN p_brand IS NOT NULL AND p_type IS NOT NULL
                          AND NOT regexp_matches(p_brand, '[^\x20-\x7e]')
                          AND NOT regexp_matches(p_type, '[^\x20-\x7e]')
                     THEN (CASE WHEN trim(p_brand, ' ') <> '' THEN 1 ELSE 0 END)
                        + (CASE WHEN trim(p_type, ' ') <> '' THEN 1 ELSE 0 END)
                     ELSE 0 END) AS BIGINT) AS total_outcomes,
       count(DISTINCT CASE WHEN p_brand IS NOT NULL AND p_type IS NOT NULL
                          AND NOT regexp_matches(p_brand, '[^\x20-\x7e]')
                          AND NOT regexp_matches(p_type, '[^\x20-\x7e]')
                           THEN CASE WHEN trim(p_brand, ' ') <> ''
                                     THEN upper(trim(p_brand, ' '))
                                     WHEN trim(p_type, ' ') <> ''
                                     THEN upper(trim(p_type, ' ')) END
                      END)                             AS n_brands_upper,
       CAST(2 * sum(CASE WHEN p_retailprice IS NOT NULL AND p_size IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS total_prices,
       round(sum(CASE WHEN p_size IS NOT NULL
                      THEN round(p_retailprice, 2) END), 2) AS sum_first_price,
       round(sum(CASE WHEN p_retailprice IS NOT NULL
                      THEN CAST(p_size AS DOUBLE) END), 2)  AS sum_sizes
FROM part
"""


#: Pipeline-parity corpus: messy bronze market rows through the full
#: silver recipe; expected summary hand-derived from the documented
#: semantics (dedup newest, EU numerics, exclusion, null-volume fill).
PIPELINE_ROWS = [
    # duplicate id — newest (March, volume '2.000,5' EU) must win
    ("m1", "Who will win DOTA TI?", "true", "0", "1.234,56", "2026-02-01T00:00:00"),
    ("m1", "Who will win DOTA TI?", "1", "false", "2.000,5", "2026-03-01T00:00:00"),
    ("m2", "Valorant spread by more than 2?", "si", "f", "50", "2026-03-02T00:00:00"),
    ("m3", "dota but also bitcoin", "1", "0", "99", "2026-03-03T00:00:00"),  # excluded
    ("m4", "csgo blast premier winner?", "no", "yes", None, "2026-03-04T00:00:00"),
    (None, "valorant ghost row", "1", "0", "1", "2026-03-05T00:00:00"),  # dropped
]


def q_pipeline_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end silver-pipeline parity: messy literal bronze rows →
    clean → esports filter → classify → per-game summary; the oracle
    states the expected summary literally (documented semantics:
    newest-wins dedup, EU numeric parsing, include/exclude keywords,
    null-volume → 0.0 fill, boolean zoo)."""
    from ra2_datalake_linaresjoan_spark.plans.pipelines import (
        clean_markets,
        enrich_gaming_markets,
        gaming_market_filter,
        gaming_summary,
    )

    raw = spark.createDataFrame(
        PIPELINE_ROWS,
        "id string, question string, active string, closed string, volume string, updatedAt string",
    )
    m = enrich_gaming_markets(gaming_market_filter(clean_markets(raw)))
    return gaming_summary(m).select(
        "gaming_type", "n_markets", "total_volume", "n_active", "n_closed"
    )


SQL_PIPELINE_PARITY = """
SELECT * FROM (VALUES
  ('DOTA',     CAST(1 AS BIGINT), CAST(2000.5 AS DOUBLE), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  ('Valorant', CAST(1 AS BIGINT), CAST(50.0 AS DOUBLE),   CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
  ('CS:GO',    CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE),    CAST(0 AS BIGINT), CAST(1 AS BIGINT))
) AS t(gaming_type, n_markets, total_volume, n_active, n_closed)
"""


def q_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring as pure expressions (SURVEY §7.1 M7
    text-analysis surface): polarity = (pos−neg)/(pos+neg) over fixed word
    lists, aggregated per language."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(ascii_lower("text")), r"\s+")
    pos = F.size(F.filter(words, lambda w: w.isin("fast", "big", "value")))
    neg = F.size(F.filter(words, lambda w: w.isin("slow", "small", "error")))
    polarity = F.when(pos + neg == 0, F.lit(0.0)).otherwise(
        (pos - neg).cast("double") / (pos + neg)
    )
    return (
        docs.select("lang", F.round(polarity, 6).alias("polarity"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("polarity"), 4).alias("avg_polarity"),
            F.sum(F.when(F.col("polarity") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
        )
        .orderBy("lang")
    )


SQL_SENTIMENT_LEXICON = r"""
WITH scored AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+'),
             x -> list_contains(['fast','big','value'], x))) AS pos,
         len(list_filter(regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+'),
             x -> list_contains(['slow','small','error'], x))) AS neg
  FROM documents
), pol AS (
  SELECT lang,
         round(CASE WHEN pos + neg = 0 THEN 0.0
                    ELSE (pos - neg) * 1.0 / (pos + neg) END, 6) AS polarity
  FROM scored
)
SELECT lang, count(*) AS n_docs,
       round(avg(polarity), 4) AS avg_polarity,
       CAST(sum(CASE WHEN polarity > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM pol GROUP BY lang ORDER BY lang
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-data composite: exact dedup → near-dup removal
    (Jaccard ≥ 0.8, smaller id survives) → quality floor → language
    allowlist → curated rows with metadata."""
    from ra2_datalake_linaresjoan_spark.llmdata.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, min_quality=0.5, langs=("en", "es", "fr", "de", "zh")
    ).orderBy("doc_id")


SQL_CURATE_CORPUS = r"""
WITH fp AS (
  -- outer trim matches doc_fingerprint's final trim (punct stripping
  -- can CREATE edge spaces); the QUALIFY carries exact_dedup's
  -- NULL-id/NULL-fingerprint passthrough arms in lockstep (round-9
  -- review — downstream quality/lang filters drop those rows anyway
  -- on clean data, but the stage contracts must agree on dirty data)
  SELECT doc_id, lang, text,
         md5(trim(regexp_replace(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g'), ' ')) AS f
  FROM documents
), exact_survivors AS (
  SELECT doc_id, lang, text FROM fp
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)
          OR doc_id IS NULL OR f IS NULL
), feat AS (
  SELECT doc_id, lang, text,
         CASE WHEN trim(text, ' ') = '' OR text IS NULL THEN 0
              ELSE len(regexp_split_to_array(trim(text, ' '), '[\s\x0b]+')) END AS n_tok,
         regexp_replace(text, '[\s\x0b]', '', 'g') AS nospace,
         regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words
  FROM exact_survivors
), scored AS (
  SELECT doc_id, lang, text, n_tok AS ws_tokens,
         round(0.4 * least(n_tok / 200.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN length(nospace) = 0 THEN 0.0
                     ELSE length(regexp_replace(nospace, '[\p{L}\p{N}_]', '', 'g')) * 1.0 / length(nospace) END)
             + 0.3 * (CASE WHEN (CASE WHEN len(words) = 0 THEN 0.0
                        ELSE len(list_filter(words, x -> list_contains(['the','a','of','and','is'], x))) * 1.0 / len(words) END)
                        BETWEEN 0.02 AND 0.6 THEN 1.0 ELSE 0.5 END), 6) AS quality
  FROM feat
), passing AS (
  SELECT * FROM scored
  WHERE quality >= 0.5 AND lang IN ('en','es','fr','de','zh')
), w AS (
  SELECT doc_id, regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words
  FROM passing
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM w, unnest(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
), cnt AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), neardup_b AS (
  SELECT DISTINCT doc_b FROM pairs
  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
  WHERE round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) >= 0.8
)
SELECT doc_id, lang, quality, ws_tokens
FROM passing
WHERE doc_id NOT IN (SELECT doc_b FROM neardup_b)
ORDER BY doc_id
"""


def q_regex_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword include/exclude regex filter (P7/P8, the reference's esports
    filter shape) + null/blank guard (P6) over documents."""
    from ra2_datalake_linaresjoan_spark.operators.filters import (
        keyword_exclude,
        keyword_include,
        non_null_non_blank,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.filter(non_null_non_blank("doc_id", "text"))
        .filter(keyword_include(t, ["spark", "stream"]) & keyword_exclude(t, ["slow", "error"]))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


SQL_REGEX_FILTER_DOCS = """
SELECT lang, count(*) AS n_docs
FROM documents
WHERE doc_id IS NOT NULL AND trim(CAST(doc_id AS VARCHAR), ' ') <> ''
  AND text IS NOT NULL AND trim(text, ' ') <> ''
  AND regexp_matches(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'spark|stream')
  AND NOT regexp_matches(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'slow|error')
GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Event-stream queries (SURVEY §2.9 streaming extension, batch-checkable)
# ---------------------------------------------------------------------------


def q_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + sum(value).

    Same ``F.window`` expression the streaming path uses (streaming/windows
    module); here executed on the bounded events table so the DuckDB
    time_bucket oracle can check it.

    NULL-ts rows are filtered in LOCKSTEP with the oracle: Spark's
    window() generator silently drops them while time_bucket keeps a
    NULL group — without the shared filter the engines disagree by
    exactly that group on dirty data (round-8 parity audit)."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


SQL_TUMBLING_WINDOWS = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, 30-minute slide) per event_type —
    every event lands in 2 windows; starts are on the 30-minute grid.
    NULL-ts rows filtered in lockstep with the oracle (window() drops
    them; the UNION ALL bucket arithmetic keeps a NULL group)."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


SQL_SLIDING_WINDOWS = """
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type
  FROM events WHERE ts IS NOT NULL
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type
  FROM events WHERE ts IS NOT NULL
)
SELECT window_start, event_type, count(*) AS n_events
FROM starts
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def q_event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) per user via
    ``F.session_window`` — the streaming-native sessionization operator run
    on the bounded table; oracle is the classic gaps-and-islands SQL.
    NULL-ts rows filtered in lockstep (session_window drops them; the
    islands SQL would keep a NULL-ts session per user)."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


SQL_EVENT_SESSIONIZATION = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the props payload (F9/F20 family):
    get_json_object → typed column → grouped aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_mod"), "value")
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_mod")
    )


SQL_JSON_PROPS = """
-- json_valid guard: DuckDB's json_extract_string ERRORS on '' or
-- malformed payloads where Spark's get_json_object is lenient (NULL)
SELECT CAST(CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.k') END AS INTEGER) % 10
         AS k_mod,
       count(*) AS n,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY 1
ORDER BY k_mod
"""


# ---------------------------------------------------------------------------
# Analytic windows, rollup, set ops (SURVEY §2.5-§2.7 full surface)
# ---------------------------------------------------------------------------


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped argmin join-back: per part (sampled), the supplier
    row achieving the minimum supply cost — here modeled as the
    minimum-acctbal supplier among the part's lineitem suppliers.
    Window-min + filter (no self-join), deterministic id tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    sup = F.broadcast(_t(spark, sf_dir, "supplier"))
    pairs = (
        li.filter(F.col("l_partkey") % 100 == 0)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_partkey", "s_suppkey", F.round("s_acctbal", 4).alias("s_acctbal"))
        .orderBy("l_partkey")
    )


SQL_CHEAPEST_SUPPLIER = """
SELECT l_partkey, s_suppkey, round(s_acctbal, 4) AS s_acctbal
FROM (
  SELECT DISTINCT l.l_partkey, s.s_suppkey, s.s_acctbal,
         row_number() OVER (PARTITION BY l.l_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_partkey % 100 = 0) l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
) WHERE rn = 1
ORDER BY l_partkey
"""


def q_argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by-style argmax: per event_type, the highest-value event
    (deterministic via struct max ordering: value then event_id).
    Complete-case on (value, event_id) in LOCKSTEP (round-9 audit): an
    argmax over a missing value or id is undefined, and Spark's
    min(struct) ranks a NULL-value struct FIRST where DuckDB's ORDER BY
    value ASC puts it LAST."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    best = F.max(F.struct(F.col("value"), F.col("event_id")))
    worst = F.min(F.struct(F.col("value"), F.col("event_id")))
    return (
        ev.groupBy("event_type")
        .agg(
            best["event_id"].alias("top_event_id"),
            F.round(best["value"], 4).alias("top_value"),
            worst["event_id"].alias("bottom_event_id"),
            F.round(worst["value"], 4).alias("bottom_value"),
        )
        .orderBy("event_type")
    )


SQL_ARGMAX_EVENTS = """
SELECT event_type,
       first(event_id ORDER BY value DESC, event_id DESC) AS top_event_id,
       round(max(value), 4)                               AS top_value,
       first(event_id ORDER BY value ASC, event_id ASC)   AS bottom_event_id,
       round(min(value), 4)                               AS bottom_value
FROM events
WHERE value IS NOT NULL AND event_id IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) per order priority.

    Scale note: exact percentiles sort within each group; for 100 TB use
    ``percentile_approx`` (t-digest sketch, mergeable, one pass) — exposed
    by the engine but not oracle-comparable (sketch implementations
    differ across engines).  finite_case: order statistics over NaN/±Inf
    diverge between engines (NaN sorts last in Spark's percentile, Inf
    poisons interpolation) — the shared finite-population contract
    (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import finite_case

    orders = finite_case(_t(spark, sf_dir, "orders"), "o_totalprice")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99_price"),
        )
        .orderBy("o_orderpriority")
    )


SQL_PERCENTILES = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4)  AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99_price
FROM orders
WHERE isfinite(o_totalprice)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of embedding vectors (storage/bandwidth
    op for vector pipelines): per-vector scale = 127/max|v|, elements
    rounded into [-127, 127]. Pure higher-order expressions — JVM-side,
    no Python; oracle via DuckDB list lambdas.

    Routes through _emb_clean: a NULL element NULLs Spark's max-abs
    fold (dropping the row's quantization) where DuckDB's list_reduce
    skips it (round-8 parity audit)."""
    emb = _emb_clean(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    max_abs = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(max_abs == 0, F.lit(1.0)).otherwise(127.0 / max_abs)
    q = F.transform(v, lambda x: F.round(x * scale).cast("int"))
    out = emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        q.alias("q"),
    )
    return out.select(
        "vec_id",
        "scale",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias(
            "l1_quantized"
        ),
        F.array_max("q").alias("q_max"),
        F.array_min("q").alias("q_min"),
    ).orderBy("vec_id")


SQL_QUANTIZE_EMBEDDINGS = f"""
WITH q AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN 1.0 ELSE 127.0 / m END AS scale_raw,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * (CASE WHEN m = 0 THEN 1.0 ELSE 127.0 / m END)) AS INTEGER)) AS qv
  FROM (SELECT vec_id, embedding,
               list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)),
                           (a, b) -> greatest(a, b)) AS m
        FROM embeddings
        WHERE {EMB_CLEAN_SQL})
)
SELECT vec_id,
       round(scale_raw, 6) AS scale,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_quantized,
       list_max(qv) AS q_max,
       list_min(qv) AS q_min
FROM q
ORDER BY vec_id
"""


def q_volumetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volumetry report shape (A1/A8/A9, reference
    extractor_polymarket.py:231-353): entity totals + status percentages +
    relation avg/max — one aggregate job per section, unioned."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    entity = orders.agg(
        F.lit("orders").alias("section"),
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_active"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
            / F.count(F.lit(1))
            * 100,
            2,
        ).alias("pct_active"),
    )
    rel = (
        lineitem.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.lit("items_per_order").alias("section"),
            F.count(F.lit(1)).alias("total"),
            F.max("n").cast("long").alias("n_active"),
            F.round(F.avg("n"), 2).alias("pct_active"),
        )
    )
    return entity.unionAll(rel).orderBy("section")


SQL_VOLUMETRY = """
SELECT 'orders' AS section, count(*) AS total,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS pct_active
FROM orders
UNION ALL
SELECT 'items_per_order', count(*),
       CAST(max(n) AS BIGINT),
       round(avg(n), 2)
FROM (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)
ORDER BY section
"""


def q_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytics: per-user inter-event gaps (microsecond-exact),
    aggregated per user. The window partitions by user — shuffle on
    user_id, no global ordering anywhere."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("gap_us") / 1e6, 4).alias("avg_gap_s"),
            F.round(F.max("gap_us") / 1e6, 4).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


SQL_LAG_GAPS = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_events,
       round(avg(gap_us) / 1e6, 4) AS avg_gap_s,
       round(max(gap_us) / 1e6, 4) AS max_gap_s
FROM g GROUP BY user_id ORDER BY user_id
"""


def q_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() + row_number(): top-3 parts per brand by retail price.
    row_number uses a deterministic tiebreak; rank is exposed so tie
    semantics are oracle-checked.

    Complete-case on (p_retailprice, p_partkey) in lockstep (round-10
    dirty audit): an unpriced part has no rank, and among NULL-price
    ties the engines break on p_partkey from OPPOSITE ends (Spark asc
    NULLS FIRST, DuckDB NULLS LAST) — the ntile_quartiles convention.
    The window orderings additionally route through the shared
    ``order_nulls_last`` contract (round-11, ask #4): identical under
    the guard, and future-proof should a NULL ever reach the window."""
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case
    from ra2_datalake_linaresjoan_spark.operators.ordering import (
        order_nulls_last,
    )

    part = complete_case(
        _t(spark, sf_dir, "part"), "p_retailprice", "p_partkey"
    )
    w_det = Window.partitionBy("p_brand").orderBy(
        order_nulls_last("p_retailprice", ascending=False),
        order_nulls_last("p_partkey"),
    )
    w_rank = Window.partitionBy("p_brand").orderBy(
        order_nulls_last("p_retailprice", ascending=False)
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.rank().over(w_rank).alias("price_rank"),
            F.row_number().over(w_det).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "price_rank")
        .orderBy("p_brand", "p_partkey")
    )


SQL_RANK_PARTS = """
SELECT p_brand, p_partkey, p_retailprice, price_rank
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_partkey IS NOT NULL
) WHERE rn <= 3
ORDER BY p_brand, p_partkey
"""


def q_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) over a deterministic total order: order-value quartile
    stats.

    Scale note: exact equal-count quantiles inherently require a total
    order (one-partition window) — correct here and at dim scale; for
    100 TB fact quantiles use ``approxQuantile``/``percentile_approx``
    boundaries + a broadcast range join instead (sketch-based, no global
    sort).

    Complete-case on (o_totalprice, o_orderkey) in lockstep with the
    oracle: a NULL price has no quartile, and the engines disagree on
    where NULLs land in the ntile order (Spark NULLS FIRST, DuckDB
    NULLS LAST), shifting every bucket boundary on dirty data."""
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case

    orders = complete_case(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey"
    )
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        orders.select("o_totalprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .orderBy("quartile")
    )


SQL_NTILE_QUARTILES = """
SELECT quartile, count(*) AS n,
       round(min(o_totalprice), 4) AS min_price,
       round(max(o_totalprice), 4) AS max_price
FROM (
  SELECT o_totalprice,
         ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
)
GROUP BY quartile ORDER BY quartile
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (priority, status): subtotal + grand-total rows — the
    grouping-sets surface Catalyst expands into a single shuffle."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total_value"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total_value",
        )
        .orderBy("priority", "status")
    )


SQL_ROLLUP_ORDERS = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL')   AS status,
       count(*) AS n,
       round(sum(o_totalprice), 4) AS total_value
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY priority, status
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer key sets (buyers in 1996
    vs 1997) — the set-operation surface absent from the reference but
    exposed by the engine (SURVEY §2.7)."""
    orders = _t(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == year).select("o_custkey").distinct()

    y96, y97 = buyers(1996), buyers(1997)
    rows = [
        ("both_years", y96.intersect(y97)),
        ("only_1996", y96.exceptAll(y97)),
        ("either_year", y96.union(y97).distinct()),
    ]
    out = None
    for label, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("cohort")


SQL_SET_OPS = """
WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT 'both_years' AS cohort, count(*) AS n_customers FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
UNION ALL
SELECT 'only_1996', count(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
UNION ALL
SELECT 'either_year', count(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97)
ORDER BY cohort
"""


# ---------------------------------------------------------------------------
# Normalizer / classifier parity oracles (F1/F2/F3/F7/F8 semantics checked
# end-to-end against hand-written expected SQL)
# ---------------------------------------------------------------------------


def q_normalize_numeric_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 parity: synthesize US/EU/comma-decimal strings from o_totalprice
    and parse them back with normalize_numeric. The oracle applies the
    reference's documented decision table in SQL — including the quirk
    that comma-decimal strings ('1234,56') are treated as comma-THOUSANDS
    and parse to 123456.  finite_case: only finite prices can be
    FORMATTED as US/EU numeric strings — floor(±Inf/NaN)→BIGINT raises
    in both engines (round-11 value-fuzz).  Round-13: the bound
    tightens to the FORMATTING-agreeing domain |x| < 1e7 — this query
    renders doubles to strings on BOTH sides by design, and past 1e7
    Spark switches to scientific notation ('1.0E7') while DuckDB stays
    plain ('10000000.0') (semantics-probe class 3); a huge-but-finite
    fuzz value also overflowed the BIGINT intpart.  Clean-corpus no-op
    (max o_totalprice ≈ 6e5)."""
    from ra2_datalake_linaresjoan_spark.functions.normalize import normalize_numeric
    from ra2_datalake_linaresjoan_spark.operators.filters import finite_case

    orders = finite_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.abs(F.col("o_totalprice")) < F.lit(1e7)
    )
    x = F.round(F.col("o_totalprice"), 2)
    plain = x.cast("string")
    comma_dec = F.regexp_replace(plain, r"\.", ",")
    intpart = F.floor(x).cast("long")
    dec2 = F.lpad(F.round((x - F.floor(x)) * 100).cast("long").cast("string"), 2, "0")
    eu = F.when(
        intpart >= 1000,
        F.concat(
            (intpart / 1000).cast("long").cast("string"),
            F.lit("."),
            F.lpad((intpart % 1000).cast("string"), 3, "0"),
            F.lit(","),
            dec2,
        ),
    ).otherwise(F.concat(intpart.cast("string"), F.lit(","), dec2))
    variants = orders.select(
        F.explode(
            F.array(
                F.struct(F.lit("plain").alias("variant"), plain.alias("s")),
                F.struct(F.lit("comma_dec").alias("variant"), comma_dec.alias("s")),
                F.struct(F.lit("eu").alias("variant"), eu.alias("s")),
            )
        ).alias("v")
    ).select("v.variant", "v.s")
    parsed = variants.selectExpr("variant", f"{normalize_numeric('s')} AS x")
    return (
        parsed.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("x").alias("n_parsed"),
            F.round(F.sum("x"), 2).alias("total"),
        )
        .orderBy("variant")
    )


SQL_NORMALIZE_NUMERIC_PARITY = r"""
WITH base AS (
  SELECT round(o_totalprice, 2) AS x,
         CAST(round(o_totalprice, 2) AS VARCHAR) AS plain
  FROM orders
  WHERE isfinite(o_totalprice) AND abs(o_totalprice) < 1e7
), variants AS (
  SELECT 'plain' AS variant, plain AS s FROM base
  UNION ALL
  SELECT 'comma_dec', replace(plain, '.', ',') FROM base
  UNION ALL
  SELECT 'eu',
         CASE WHEN CAST(floor(x) AS BIGINT) >= 1000 THEN
           concat(CAST(CAST(floor(x) AS BIGINT) // 1000 AS VARCHAR), '.',
                  lpad(CAST(CAST(floor(x) AS BIGINT) % 1000 AS VARCHAR), 3, '0'), ',',
                  lpad(CAST(CAST(round((x - floor(x)) * 100) AS BIGINT) AS VARCHAR), 2, '0'))
         ELSE
           concat(CAST(CAST(floor(x) AS BIGINT) AS VARCHAR), ',',
                  lpad(CAST(CAST(round((x - floor(x)) * 100) AS BIGINT) AS VARCHAR), 2, '0'))
         END
  FROM base
), parsed AS (
  SELECT variant,
         CASE
           -- EU: has dots AND exactly one comma, comma after last dot
           WHEN length(s) - length(replace(s, '.', '')) > 0
                AND length(s) - length(replace(s, ',', '')) = 1
                AND strpos(reverse(s), ',') < strpos(reverse(s), '.')
             THEN try_cast(replace(replace(s, '.', ''), ',', '.') AS DOUBLE)
           -- comma(s), no dots: strip commas (reference thousands rule)
           WHEN length(s) - length(replace(s, ',', '')) > 0
                AND length(s) - length(replace(s, '.', '')) = 0
             THEN try_cast(replace(s, ',', '') AS DOUBLE)
           ELSE try_cast(s AS DOUBLE)
         END AS x
  FROM variants
)
SELECT variant, count(*) AS n, count(x) AS n_parsed, round(sum(x), 2) AS total
FROM parsed GROUP BY variant ORDER BY variant
"""


def q_normalize_boolean_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 parity: boolean literal zoo synthesized from order status and
    parsed back; oracle maps the same literals by the documented truth
    table."""
    from ra2_datalake_linaresjoan_spark.functions.normalize import normalize_boolean

    orders = _t(spark, sf_dir, "orders")
    lit = (
        F.when(F.col("o_orderstatus") == "O", F.lit("Yes"))
        .when(F.col("o_orderstatus") == "F", F.lit(" 0 "))
        .otherwise(F.lit("maybe"))
    )
    parsed = orders.select(lit.alias("s")).selectExpr(f"{normalize_boolean('s')} AS b")
    return (
        parsed.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("b").asc_nulls_first())
    )


SQL_NORMALIZE_BOOLEAN_PARITY = """
SELECT b, count(*) AS n FROM (
  SELECT CASE WHEN o_orderstatus = 'O' THEN TRUE
              WHEN o_orderstatus = 'F' THEN FALSE
              ELSE NULL END AS b
  FROM orders
) GROUP BY b ORDER BY b NULLS FIRST
"""


def q_clean_string_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 parity: inject leading/trailing/internal whitespace into part
    names, clean, and compare length/count stats."""
    from ra2_datalake_linaresjoan_spark.functions.normalize import clean_string

    part = _t(spark, sf_dir, "part")
    messy = F.concat(F.lit("  "), F.regexp_replace("p_name", " ", "   "), F.lit(" \t"))
    cleaned = part.select(messy.alias("messy"), "p_name").selectExpr(
        f"{clean_string('messy', 30)} AS c", "p_name"
    )
    return cleaned.select(
        F.count(F.lit(1)).alias("n"),
        F.count("c").alias("n_nonnull"),
        F.sum(F.length("c")).cast("long").alias("total_len"),
        F.countDistinct("c").alias("n_distinct"),
    )


SQL_CLEAN_STRING_PARITY = r"""
WITH cleaned AS (
  -- '||' (not concat) so a NULL p_name stays NULL end-to-end: DuckDB's
  -- concat swallows NULL args and would mint a ' ' string for NULL
  -- names where Spark's concat (and F3's contract) yields NULL
  SELECT CASE WHEN c = '' THEN NULL ELSE c END AS c FROM (
    SELECT substring(regexp_replace(regexp_replace(trim('  ' || regexp_replace(p_name, ' ', '   ') || ' ' || chr(9), ' '), '[\s\x0b]+', ' ', 'g'), '[\x00-\x1f]', '', 'g'), 1, 30) AS c
    FROM part
  )
)
SELECT count(*) AS n, count(c) AS n_nonnull,
       CAST(sum(length(c)) AS BIGINT) AS total_len,
       count(DISTINCT c) AS n_distinct
FROM cleaned
"""


#: Classifier parity corpus: one question per gaming keyword group
#: (priority order) and per bet-type rule, with expected labels.
CLASSIFIER_CASES: list[tuple[str, str, str]] = [
    ("Who will win the DOTA 2 grand final?", "DOTA", "Match Winner"),
    ("dota the international ti13 special", "DOTA", "Prop Bet"),
    ("Valorant champions spread by more than 2.5?", "Valorant", "Spread"),
    ("csgo blast premier total kills over under?", "CS:GO", "Over/Under"),
    ("counter-strike major: first team to win a map?", "CS:GO", "First Blood"),
    ("league of legends worlds 2026 mvp award", "League of Legends", "MVP/Best Player"),
    ("lck spring round winner", "League of Legends", "Round/Map Winner"),
    ("fortnite total points scored", "Fortnite", "Over/Under"),
    ("overwatch owcs map 3 winner", "Overwatch", "Round/Map Winner"),
    ("apex legends global series finals", "Apex Legends", "Prop Bet"),
    ("cdl call of duty league champs", "Call of Duty", "Prop Bet"),
    ("hearthstone hct best player vote", "Hearthstone", "MVP/Best Player"),
    ("starcraft 2 gsl will win?", "StarCraft", "Match Winner"),
    ("rocket league grand final spread", "Rocket League", "Spread"),
    # reference quirk: 'rlcs ' contains the LoL keyword 'lcs ', and League
    # of Legends outranks Rocket League in the priority table — so rlcs
    # questions classify as LoL (transformer_data.py:408,416)
    ("rlcs spring playoffs", "League of Legends", "Prop Bet"),
    ("rainbow six six invitational", "Rainbow Six", "Prop Bet"),
    ("esports awards ceremony", "Esports General", "Prop Bet"),
    ("who takes the tournament?", "Esports General", "Prop Bet"),
    # priority: dota beats valorant when both appear
    ("dota vs valorant crossover?", "DOTA", "Prop Bet"),
    # round-13 fold-contract pin: U+212A KELVIN SIGN. Java's full
    # lower() folds it INTO ASCII 'k', completing the 'lck ' League
    # keyword; the ascii translate fold leaves it alone, so the
    # classifier must fall through to the default label (the oracle
    # states the folded expectation literally — a regression to a
    # F.lower() pre-fold flips this row to 'League of Legends' and
    # fails the driver hash)
    ("big lcK showdown tonight", "Esports General", "Prop Bet"),
]


def q_classifier_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F8 parity: run the keyword classifiers over a fixed corpus
    covering every game group, every bet rule, and priority collisions;
    the oracle states the expected labels literally."""
    from ra2_datalake_linaresjoan_spark.functions.classify import (
        extract_bet_type,
        extract_gaming_type,
    )

    corpus = spark.createDataFrame(
        [(q,) for q, _, _ in CLASSIFIER_CASES], "question string"
    )
    return corpus.selectExpr(
        "question",
        f"{extract_gaming_type('question')} AS gaming_type",
        f"{extract_bet_type('question')} AS bet_type",
    ).orderBy("question")


SQL_CLASSIFIER_PARITY = "SELECT * FROM (VALUES\n" + ",\n".join(
    "  ('{}', '{}', '{}')".format(q.replace("'", "''"), g, b)
    for q, g, b in CLASSIFIER_CASES
) + "\n) AS t(question, gaming_type, bet_type) ORDER BY question"


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (engine extension operator): each click event
    gets the most recent at-or-before purchase of the same user. Oracle is
    DuckDB's native ASOF JOIN; the Spark plan is the union+carry-forward
    single-shuffle pattern (operators/asof.py)."""
    from ra2_datalake_linaresjoan_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), F.col("value").alias("purchase_value")
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_id_asof").alias("purchase_id"),
        F.col("purchase_value_asof").alias("purchase_value"),
    ).orderBy("event_id")


SQL_ASOF_JOIN = """
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS purchase_id,
       r.value    AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (extension operator): for each error event,
    the number and value of same-user purchases in the preceding 10
    minutes (zero-preserving). Oracle is the plain inequality join."""
    from ra2_datalake_linaresjoan_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    pairs = interval_join(
        errors, purchases, by="user_id", left_on="ts", right_on="p_ts",
        window_seconds=600,
    )
    per_event = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("p_value"), 4).alias("purchase_value"),
    )
    return (
        errors.join(per_event, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_purchases", F.lit(0).cast("long")).alias("n_purchases"),
            F.round(F.coalesce("purchase_value", F.lit(0.0)), 4).alias("purchase_value"),
        )
        .orderBy("event_id")
    )


SQL_INTERVAL_JOIN = """
WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     purchases AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase'),
     pairs AS (
       SELECT e.event_id, count(*) AS n_purchases, round(sum(p.p_value), 4) AS purchase_value
       FROM errors e JOIN purchases p
         ON e.user_id = p.user_id
        AND p.p_ts >= e.ts - INTERVAL '600 seconds'
        AND p.p_ts <= e.ts
       GROUP BY e.event_id
     )
SELECT e.event_id, e.user_id,
       coalesce(p.n_purchases, 0) AS n_purchases,
       round(coalesce(p.purchase_value, 0.0), 4) AS purchase_value
FROM errors e LEFT JOIN pairs p ON e.event_id = p.event_id
ORDER BY e.event_id
"""


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (τ=0.4): broadcast-matrix matmul,
    threshold filter, id_a < id_b dedup — no shuffle."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import cosine_neardup_pairs

    emb = _emb_clean(spark, sf_dir)
    return cosine_neardup_pairs(emb, threshold=0.4).orderBy("id_a", "id_b")


SQL_COSINE_NEARDUP = f"""
WITH embc AS (SELECT * FROM embeddings WHERE {EMB_CLEAN_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embc a JOIN embc b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_orders": (q_top_orders, SQL_TOP_ORDERS),
    "event_type_top10": (q_event_type_top10, SQL_EVENT_TYPE_TOP10),
    "conditional_agg": (q_conditional_agg, SQL_CONDITIONAL_AGG),
    "window_dedup": (q_window_dedup, SQL_WINDOW_DEDUP),
    "count_distinct": (q_count_distinct, SQL_COUNT_DISTINCT),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "anti_join_orphans": (q_anti_join_orphans, SQL_ANTI_JOIN_ORPHANS),
    "broadcast_brand_revenue": (q_broadcast_brand_revenue, SQL_BROADCAST_BRAND_REVENUE),
    "avg_max_group": (q_avg_max_group, SQL_AVG_MAX_GROUP),
    "bucket_histogram": (q_bucket_histogram, SQL_BUCKET_HISTOGRAM),
    "ratio_stats": (q_ratio_stats, SQL_RATIO_STATS),
    "date_dim": (q_date_dim, SQL_DATE_DIM),
    "small_qty_revenue": (q_small_qty_revenue, SQL_SMALL_QTY_REVENUE),
    "above_avg_balance": (q_above_avg_balance, SQL_ABOVE_AVG_BALANCE),
    "market_share": (q_market_share, SQL_MARKET_SHARE),
    "doc_token_stats": (q_doc_token_stats, SQL_DOC_TOKEN_STATS),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "lang_id_confusion": (q_lang_id_confusion, SQL_LANG_ID_CONFUSION),
    "exact_dedup_docs": (q_exact_dedup_docs, SQL_EXACT_DEDUP_DOCS),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "minhash_lsh": (q_minhash_lsh, SQL_NGRAM_JACCARD),
    "simhash_neardup": (q_simhash_neardup, SQL_SIMHASH_NEARDUP),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "multimodal_bytes": (q_multimodal_bytes, SQL_MULTIMODAL_BYTES),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "regex_filter_docs": (q_regex_filter_docs, SQL_REGEX_FILTER_DOCS),
    "curate_corpus": (q_curate_corpus, SQL_CURATE_CORPUS),
    "tumbling_windows": (q_tumbling_windows, SQL_TUMBLING_WINDOWS),
    "sliding_windows": (q_sliding_windows, SQL_SLIDING_WINDOWS),
    "event_sessionization": (q_event_sessionization, SQL_EVENT_SESSIONIZATION),
    "json_props": (q_json_props, SQL_JSON_PROPS),
    "volumetry": (q_volumetry, SQL_VOLUMETRY),
    "cheapest_supplier": (q_cheapest_supplier, SQL_CHEAPEST_SUPPLIER),
    "percentiles": (q_percentiles, SQL_PERCENTILES),
    "quantize_embeddings": (q_quantize_embeddings, SQL_QUANTIZE_EMBEDDINGS),
    "argmax_events": (q_argmax_events, SQL_ARGMAX_EVENTS),
    "lag_gaps": (q_lag_gaps, SQL_LAG_GAPS),
    "rank_parts": (q_rank_parts, SQL_RANK_PARTS),
    "ntile_quartiles": (q_ntile_quartiles, SQL_NTILE_QUARTILES),
    "rollup_orders": (q_rollup_orders, SQL_ROLLUP_ORDERS),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "normalize_numeric_parity": (q_normalize_numeric_parity, SQL_NORMALIZE_NUMERIC_PARITY),
    "normalize_boolean_parity": (q_normalize_boolean_parity, SQL_NORMALIZE_BOOLEAN_PARITY),
    "clean_string_parity": (q_clean_string_parity, SQL_CLEAN_STRING_PARITY),
    "classifier_parity": (q_classifier_parity, SQL_CLASSIFIER_PARITY),
    "cosine_neardup": (q_cosine_neardup, SQL_COSINE_NEARDUP),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "interval_join": (q_interval_join, SQL_INTERVAL_JOIN),
    "sentiment_lexicon": (q_sentiment_lexicon, SQL_SENTIMENT_LEXICON),
    "jsonish_arrays_parity": (q_jsonish_arrays_parity, SQL_JSONISH_ARRAYS_PARITY),
    "pipeline_parity": (q_pipeline_parity, SQL_PIPELINE_PARITY),
}


#: Queries whose code or DuckDB oracle changed since their last green
#: driver row, mapped to the round R that must re-verify them: 1 + the
#: newest ``CORRECTNESS_r*.json`` in the tree when the change is
#: committed.  An entry is pending until the query has a green row at a
#: round >= R; after that it has no effect, so entries never need
#: clearing.
_CHANGED: dict[str, int] = {
    # round-14 plan rewrites (row-identical, tri-scale MATCH locally)
    # that had no seat in the round-14 window
    "containment_pairs": 14,
    "quantile_sketch_audit": 14,
    "incremental_dedup": 14,
    "tfidf_cosine_pairs": 14,
    # declared-catalog change: oracle rewritten (row-identical at
    # sf0.001/0.01)
    "semantic_prune": 15,
    # unhinted joins, no size-probed broadcast (row-identical)
    "semi_join": 15,
    "nation_jaccard": 15,
    "hhi_concentration": 15,
    "ngram_contamination": 15,
    "bloom_join_prefilter": 15,
    # anti_orphans no longer de-duplicates the dim keys (row-identical)
    "anti_join_orphans": 15,
    # backward carry over a reversed running frame (row-identical)
    "linear_interp_gaps": 15,
    # Morton bits taken with & 1 (a pre-epoch order date diverged)
    "zorder_layout": 15,
    # finite_case on value, code and oracle (NaN bucketed apart)
    "quantile_drift_detect": 15,
    # oracle floors its epoch buckets like the Spark side (pre-epoch ts)
    "time_bucket_rollup": 15,
    # size route read through the shared at_most probe (row-identical)
    "revenue_decile_lift": 15,
    "semantic_kmeans": 15,
    # silver recipes built as one projection per stage, then parsed from
    # SQL text with no lower()/upper() on ASCII (row-identical)
    "pipeline_parity": 15,
    # expression builders emit SQL text (row-identical)
    "normalize_boolean_parity": 15,
    "normalize_numeric_parity": 15,
    "clean_string_parity": 15,
    "classifier_parity": 15,
    "jsonish_arrays_parity": 15,
    # dedup window, id guard and date dimension parsed from SQL text
    # (row-identical)
    "window_dedup": 15,
    "regex_filter_docs": 15,
    "date_dim": 15,
    # truth counts aggregated inside the plan, not eager counts
    "join_reorder_advisor": 15,
}

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_records() -> dict[int, dict]:
    """round -> {query: row} from the driver's committed CORRECTNESS files."""
    records: dict[int, dict] = {}
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        match = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if match:
            with open(path) as f:
                rows = json.load(f)
            if isinstance(rows, dict):
                records[int(match.group(1))] = rows
    return records


def _driver_order(names: list[str], records: dict[int, dict], changed: dict[str, int]) -> list[str]:
    """Order the registry for the driver, which verifies the first 50 names
    each round: never-checked names first, then pending changes, then the
    oldest last-green round, with registry order breaking ties."""
    seen: set[str] = set()
    last_green: dict[str, int] = {}
    for rnd, rows in records.items():
        seen.update(rows)
        for name, row in rows.items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match") and not row.get("err"):
                last_green[name] = max(last_green.get(name, 0), rnd)

    def key(item: tuple[int, str]) -> tuple[bool, bool, int, int]:
        idx, name = item
        green = last_green.get(name, 0)
        return name in seen, green >= changed.get(name, 0), green, idx

    return [name for _, name in sorted(enumerate(names), key=key)]


#: The query modules after this one, in registry order: ``_REGISTRY``
#: first, then each ``queries_<m>.REGISTRY_<M>``.  ``_driver_order``
#: breaks ties by registry order, so a reorder here reseats the driver
#: window.
_QUERY_MODULES = (
    "ext", "ext3", "ext4", "ext5", "ext6", "ext7", "ext8", "ext9",
    "llm2", "llm3", "llm4", "llm5", "llm6",
    "ext10", "ext11", "ext12", "ext13", "ext14",
    "llm7", "llm8", "llm9", "llm10", "ext15", "llm11", "ext16", "llm12", "llm13",
    "ext17", "ext18", "ext19", "ext20", "llm14",
    "ext21", "ext22", "ext23", "ext24", "ext25", "ext26", "ext27", "ext28", "ext29",
    "llm15",
    "ext30", "ext31", "ext32", "ext33", "ext34", "ext35", "ext36", "ext37", "ext38",
    "ext39", "ext40",
)


def _full_registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    merged = dict(_REGISTRY)
    for m in _QUERY_MODULES:
        module = importlib.import_module(f"{__package__}.queries_{m}")
        merged.update(getattr(module, f"REGISTRY_{m.upper()}"))
    return {name: merged[name] for name in _driver_order(list(merged), _driver_records(), _CHANGED)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _full_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _full_registry().items() if sql is not None}
