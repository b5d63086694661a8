"""Third batch of registered queries + DuckDB oracles.

Completes the TPC-H shape family on the columns the synthetic tables
actually carry (no ``partsupp``, no commit/receipt dates — shapes are
adapted, noted per query): single-scan forecast revenue (Q6), two-nation
volume shipping (Q7), product-type profit (Q9), late-line priority split
(Q12), argmax-by-scalar-subquery top supplier (Q15), supplier variety
count (Q16), OR-of-ANDs discounted revenue (Q19), only-late-supplier
detection (Q21), and dormant high-balance customers (Q22). Adds a
hypertable-style two-level time-bucket rollup over ``events`` (the
continuous-aggregate pattern: coarse aggregates merged from fine partial
aggregates, never re-scanning the raw fact).

Same contract as `queries.py`: identical column aliases on both sides,
aggregate doubles rounded to 4 so summation-order noise can't flip the
driver's value hash. Timestamp buckets are emitted as BIGINT epoch
seconds (engine-neutral; avoids tz/precision hash drift).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single fact scan, every predicate pushed to the
    parquet reader (shipdate range, discount band, quantity cap), then one
    global sum — the canonical partial-agg / zero-shuffle query. At 100 TB
    this is a map-side-only job whose cost is pure IO after pruning."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue_effect"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_effect,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing between two specific nations by
    ship year. Both nation lookups broadcast; the nation filter is applied
    on the dimension BEFORE the join so the fact rows for other nations
    are dropped at the (broadcast) join, not after."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
            )),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_VOLUME_SHIPPING = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, so supply cost is modeled as
    60% of retail price): per-nation per-year profit on parts whose name
    contains 'widget'. The part filter runs before its broadcast join, so
    the fact is cut down by the most selective dimension first."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


SQL_PRODUCT_TYPE_PROFIT = """
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 4) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no ship modes / receipt dates — 'late'
    means shipped >90 days after order date): per line-status counts of
    high- vs low-priority orders among late lines. One join shuffle on the
    order key, conditional aggregation after."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


SQL_LATE_LINE_PRIORITY = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue over a quarter, then the
    supplier(s) whose revenue equals the global max. The max is an
    unpartitioned window over the ALREADY-REDUCED revenue table (one row
    per supplier), so the raw fact is scanned exactly once — a
    scalar-subquery formulation would recompute the whole revenue subtree
    for the max. The single-partition window is safe at any scale: its
    input is at most |suppliers| rows."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.withColumn(
            "max_rev",
            F.max("total_rev").over(Window.partitionBy(F.lit(1))),
        )
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_TOP_SUPPLIER = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_rev, 4) AS total_revenue
FROM revenue
JOIN supplier ON supplier_no = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier-per-part relationships come from
    lineitem instead of partsupp): distinct supplier count per
    (brand, type, size) for small sizes, excluding one brand. The distinct
    runs on (brand,type,size,suppkey) AFTER the broadcast part join — one
    shuffle for distinct, one for the final group-count."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 10)
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            li["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


SQL_SUPPLIER_VARIETY = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size <= 10
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three ANDed brand/size/
    quantity envelopes. The disjunction mixes fact columns (quantity) and
    dimension columns (brand, size), so it evaluates after the broadcast
    join — but Catalyst still pushes the extractable common bounds
    (quantity <= 30, size <= 15) down to both scans."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    env = (
        ((b == "Brand#12") & q.between(1, 11) & s.between(1, 5))
        | ((b == "Brand#23") & q.between(10, 20) & s.between(1, 10))
        | ((b == "Brand#34") & q.between(20, 30) & s.between(1, 15))
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(env)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_DISCOUNTED_REVENUE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: 'late' = shipped >60 days after order
    date, finalized orders only): suppliers who were the SOLE late
    supplier on a multi-supplier order. The EXISTS / NOT-EXISTS pair is
    re-expressed as two tiny per-order aggregates (distinct supplier
    count, distinct late-supplier count) joined back — three shuffles on
    the order key over already-distinct (orderkey, suppkey) pairs, instead
    of the oracle's two correlated self-joins of the raw fact.

    NULL l_suppkey lines drop in LOCKSTEP (round-9 review): Spark's
    per-order groupBy counted a NULL-key group as a distinct supplier
    while the oracle's l2.l_suppkey <> l1.l_suppkey predicates never
    match NULL — flipping both the multi-supplier and sole-late
    qualifications."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_suppkey").isNotNull())
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    pairs = li.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "is_late"
        ),
    )
    per_supp = pairs.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late"),
        F.sum(F.col("is_late").cast("int")).alias("n_late_lines"),
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("supp_late").cast("int")).alias("n_late"),
    )
    # Q21 counts late LINES of the sole-late supplier, so carry the
    # per-(order, supplier) late-line count through the qualification join.
    culprit = (
        per_supp.filter(F.col("supp_late"))
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprit.groupBy("l_suppkey")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
    )


SQL_WAITING_SUPPLIERS = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_suppkey IS NOT NULL
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey IS NOT NULL
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey IS NOT NULL
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance and
    no orders since 2000 ('dormant' — the synthetic data has no fully
    order-less customers), grouped by nation. The global average is a
    one-row aggregate broadcast into the filter (no collect); the
    dormancy test is a left-anti join against the date-filtered,
    key-pruned orders column."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("nation")
    )


SQL_DORMANT_CUSTOMERS = """
SELECT n_name AS nation, count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY nation
"""


def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: events land in 5-minute
    buckets (fine partial aggregates), and the hourly rollup is computed
    by MERGING those partials (sum of counts, sum of sums) — the raw fact
    is scanned once and never re-read for the coarse level. Buckets are
    epoch-second BIGINTs (`unix_micros` floor — the source carries
    microsecond fractions, so second-truncating helpers would mis-bucket
    edge rows). At scale the fine table would persist partitioned by
    bucket date and the hourly view reads only partials."""
    ev = _t(spark, sf_dir, "events")
    fine = (
        ev.select(
            (F.floor(F.unix_micros("ts") / F.lit(300_000_000)) * 300).alias("bucket5m"),
            "event_type",
            "value",
        )
        .groupBy("bucket5m", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("val"))
    )
    return (
        fine.groupBy(
            (F.floor(F.col("bucket5m") / 3600) * 3600).alias("bucket_hour"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("val"), 4).alias("total_value"),
            F.count(F.lit(1)).alias("n_fine_buckets"),
        )
        .orderBy("bucket_hour", "event_type")
    )


#: floor of the double quotient, as the Spark side computes it: DuckDB's
#: integer ``//`` truncates, which lifts a pre-epoch ts into bucket 0
SQL_TIME_BUCKET_ROLLUP = """
WITH fine AS (
  SELECT CAST(floor(epoch_us(ts) / 300000000) AS BIGINT) * 300 AS bucket5m,
         event_type,
         count(*) AS cnt,
         sum(value) AS val
  FROM events
  GROUP BY bucket5m, event_type
)
SELECT CAST(floor(bucket5m / 3600) AS BIGINT) * 3600 AS bucket_hour,
       event_type,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       round(sum(val), 4) AS total_value,
       count(*) AS n_fine_buckets
FROM fine
GROUP BY bucket_hour, event_type
ORDER BY bucket_hour, event_type
"""


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling (the training-data-mix shape:
    different keep rates per language): keep a doc iff the first hex char
    of md5(doc_id) is below a per-stratum threshold — 50% for 'en', 25%
    for 'de', 12.5% elsewhere. Unlike `sampleBy` (rand()-seeded, engine-
    and partitioning-dependent) this is reproducible across engines and
    reruns, and it's a pure pushed-down filter — no shuffle before the
    final per-lang count."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    threshold = (
        F.when(F.col("lang") == "en", F.lit("8"))
        .when(F.col("lang") == "de", F.lit("4"))
        .otherwise(F.lit("2"))
    )
    return (
        docs.filter(bucket < threshold)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


SQL_STRATIFIED_SAMPLE_DOCS = """
SELECT lang, count(*) AS n_sampled
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
      < (CASE WHEN lang = 'en' THEN '8' WHEN lang = 'de' THEN '4' ELSE '2' END)
GROUP BY lang
ORDER BY lang
"""


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history over the events feed: each user's event_type is
    treated as a dimension attribute; consecutive no-change rows collapse
    into one validity episode (`operators/scd2.scd2_history`). Validity
    bounds are emitted as epoch-micros BIGINTs (the feed carries
    microsecond fractions — see `session_islands`). Complete-case on
    (ts, event_type, event_id) in LOCKSTEP (round-9 review): an episode
    needs a position and a state — Spark's change window orders NULL ts
    FIRST, DuckDB's LAST, splitting different episode sets, and the
    oracle's lead(ts) IS NULL would conflate a NULL-ts successor with
    end-of-history."""
    from ra2_datalake_linaresjoan_spark.operators.scd2 import scd2_history

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
    )
    hist = scd2_history(ev, key="user_id", state="event_type", ts="ts", tiebreak="event_id")
    return hist.select(
        "user_id",
        "state",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    ).orderBy("user_id", "valid_from_us")


SQL_SCD2_USER_STATE = """
WITH changed AS (
  SELECT user_id, event_type, ts, event_id
  FROM (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL AND event_id IS NOT NULL
  )
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       event_type AS state,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       lead(ts) OVER w IS NULL AS is_current
FROM changed
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from_us
"""


def q_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (3 fixed iterations, damping 0.85) over the
    nation trade graph: an edge customer-nation → supplier-nation per
    lineitem, weight = line count (`operators/pagerank.py`). The class of
    computation SQL can't express with a bounded plan — here the oracle
    CAN check it exactly because the iteration count is fixed and the SQL
    side unrolls the same three steps. Ranks rounded to 6."""
    from ra2_datalake_linaresjoan_spark.operators.pagerank import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    nodes = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("id"))
    ranks = pagerank(nodes, edges, iterations=3, damping=0.85)
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(nat), ranks["id"] == nat["n_nationkey"])
        .select(F.col("n_name").alias("nation"), F.round("rank", 6).alias("pagerank"))
        .orderBy("nation")
    )


SQL_NATION_PAGERANK = """
WITH edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst,
         CAST(count(*) AS DOUBLE) AS weight
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY src, dst
), trans AS (
  SELECT src, dst, weight / sum(weight) OVER (PARTITION BY src) AS p
  FROM edges
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nation
), r0 AS (
  SELECT n_nationkey AS id, 1.0 / (SELECT cnt FROM n) AS rank FROM nation
), r1 AS (
  SELECT nation.n_nationkey AS id,
         0.15 / (SELECT cnt FROM n)
         + 0.85 * coalesce(sum(r0.rank * trans.p), 0.0) AS rank
  FROM nation
  LEFT JOIN trans ON trans.dst = nation.n_nationkey
  LEFT JOIN r0 ON r0.id = trans.src
  GROUP BY nation.n_nationkey
), r2 AS (
  SELECT nation.n_nationkey AS id,
         0.15 / (SELECT cnt FROM n)
         + 0.85 * coalesce(sum(r1.rank * trans.p), 0.0) AS rank
  FROM nation
  LEFT JOIN trans ON trans.dst = nation.n_nationkey
  LEFT JOIN r1 ON r1.id = trans.src
  GROUP BY nation.n_nationkey
), r3 AS (
  SELECT nation.n_nationkey AS id,
         0.15 / (SELECT cnt FROM n)
         + 0.85 * coalesce(sum(r2.rank * trans.p), 0.0) AS rank
  FROM nation
  LEFT JOIN trans ON trans.dst = nation.n_nationkey
  LEFT JOIN r2 ON r2.id = trans.src
  GROUP BY nation.n_nationkey
)
SELECT n_name AS nation, round(r3.rank, 6) AS pagerank
FROM r3 JOIN nation ON r3.id = n_nationkey
ORDER BY nation
"""


# name -> (spark_fn, oracle_sql | None)
REGISTRY_EXT3: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "forecast_revenue": (q_forecast_revenue, SQL_FORECAST_REVENUE),
    "volume_shipping": (q_volume_shipping, SQL_VOLUME_SHIPPING),
    "product_type_profit": (q_product_type_profit, SQL_PRODUCT_TYPE_PROFIT),
    "late_line_priority": (q_late_line_priority, SQL_LATE_LINE_PRIORITY),
    "top_supplier": (q_top_supplier, SQL_TOP_SUPPLIER),
    "supplier_variety": (q_supplier_variety, SQL_SUPPLIER_VARIETY),
    "discounted_revenue": (q_discounted_revenue, SQL_DISCOUNTED_REVENUE),
    "waiting_suppliers": (q_waiting_suppliers, SQL_WAITING_SUPPLIERS),
    "dormant_customers": (q_dormant_customers, SQL_DORMANT_CUSTOMERS),
    "time_bucket_rollup": (q_time_bucket_rollup, SQL_TIME_BUCKET_ROLLUP),
    "scd2_user_state": (q_scd2_user_state, SQL_SCD2_USER_STATE),
    "stratified_sample_docs": (q_stratified_sample_docs, SQL_STRATIFIED_SAMPLE_DOCS),
    "nation_pagerank": (q_nation_pagerank, SQL_NATION_PAGERANK),
}
