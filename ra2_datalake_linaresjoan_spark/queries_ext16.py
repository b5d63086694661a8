"""Relational batch 16 (round 4): independence testing, graph-set
similarity, power-law fitting, and inequality measurement.

- ``chi2_independence`` — Pearson chi-square test of event_type ×
  weekday independence: observed cells and both marginals are exact
  integer aggregates (7×|types| + |types| + 7 rows); expected counts
  and the statistic are in-row IEEE arithmetic over that tiny table.
- ``nation_jaccard`` — set similarity between nations over the parts
  their suppliers ship: the classic co-occurrence/Jaccard engine. The
  only data-sized operations are distinct (nation, part) extraction and
  a part-keyed equi self-join; the output space is nation-pair-bounded
  (≤ 25·24/2 rows at any data size).
- ``zipf_fit`` — per-language Zipf exponent by closed-form least
  squares of ln(freq) on ln(rank) over the full vocabulary. The rank
  window partitions by language over the VOCABULARY aggregate, and the
  regression is five aggregate sums — no iteration, no driver math.
- ``gini_spend`` — exact Gini coefficient of customer spend from the
  rank formula ``(2·Σ rank·x)/(n·Σx) − (n+1)/n`` in exact integer
  cents. Like ``revenue_decile_lift`` the global rank window runs over
  the per-customer aggregate (documented inherent cost; the 100-TB
  variant buckets by approxQuantile boundaries and loses exactness).
  Σ rank·cents accumulates in DECIMAL(38,0)/HUGEINT on the two engines
  (the int64 product would overflow at only ~2.7e5 customers at
  observed spend levels); the final ratio is double over exact sums.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t


# ---------------------------------------------------------------------------
# chi2_independence — Pearson chi-square of event_type × ISO weekday
# ---------------------------------------------------------------------------


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row chi-square independence report: statistic (4 dp), degrees
    of freedom, cell count, N. The statistic sums over the COMPLETE
    r×c grid (marginal cross join), so unobserved cells contribute
    their full (0−exp)²/exp = exp term — Pearson's chi-square, not the
    observed-cells-only understatement. All counts exact integers;
    the grid is marginal-bounded (|types|·7 rows). NULL event_type/ts
    rows are excluded in lockstep — a NULL category would be counted
    by the grid but skipped by COUNT(DISTINCT) in both engines, making
    dof inconsistent with n_cells."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type", ((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1).alias("iso_dow")
    )
    cells = base.groupBy("event_type", "iso_dow").agg(
        F.count(F.lit(1)).alias("obs")
    )
    row_m = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("row_n"))
    col_m = base.groupBy("iso_dow").agg(F.count(F.lit(1)).alias("col_n"))
    n = base.agg(F.count(F.lit(1)).alias("n"))
    grid = row_m.crossJoin(F.broadcast(col_m))
    joined = (
        grid.join(F.broadcast(cells), ["event_type", "iso_dow"], "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0)))
        .crossJoin(F.broadcast(n))
    )
    # widen BEFORE the marginal product: row_n·col_n in int64 overflows
    # at ~3e9 events (row_n ~ col_n ~ n); double conversion of exact
    # longs is deterministic IEEE on both engines
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    contrib = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return joined.agg(
        F.first("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("iso_dow") - 1)
        ).alias("dof"),
        F.round(F.sum(contrib), 4).alias("chi2"),
    )


SQL_CHI2_INDEPENDENCE = """
WITH base AS (
  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
), cells AS (
  SELECT event_type, iso_dow, CAST(count(*) AS BIGINT) AS obs
  FROM base GROUP BY 1, 2
), row_m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS row_n FROM base GROUP BY 1
), col_m AS (
  SELECT iso_dow, CAST(count(*) AS BIGINT) AS col_n FROM base GROUP BY 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
grid AS (
  SELECT r.event_type, r.row_n, c.iso_dow, c.col_n,
         coalesce(cells.obs, 0) AS obs
  FROM row_m r CROSS JOIN col_m c
  LEFT JOIN cells USING (event_type, iso_dow)
)
SELECT CAST(any_value(n.n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST((count(DISTINCT grid.event_type) - 1)
            * (count(DISTINCT grid.iso_dow) - 1) AS BIGINT) AS dof,
       round(sum((obs - CAST(row_n AS DOUBLE) * col_n / n.n)
                 * (obs - CAST(row_n AS DOUBLE) * col_n / n.n)
                 / (CAST(row_n AS DOUBLE) * col_n / n.n)), 4) AS chi2
FROM grid CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# nation_jaccard — co-occurrence set similarity over supplied parts
# ---------------------------------------------------------------------------


def q_nation_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nation pairs by Jaccard similarity of the part sets their
    suppliers ship. Distinct (nation, part) extraction → part-keyed
    self-join for intersections → nation-pair-bounded output. The
    supplier side grows linearly with scale, so it joins unhinted and
    Catalyst/AQE choose the strategy; nation (25 rows) broadcasts
    unconditionally."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    np_ = (
        li.select("l_suppkey", "l_partkey")
        .join(sup.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "l_partkey")
        .distinct()
        # materialize once: the (nation, part) set feeds three consumers
        # (sizes + both self-join sides) — without this the lineitem⋈dims
        # subtree re-scans the fact table per consumer.  localCheckpoint
        # (eager, MEMORY_AND_DISK so still spillable), NOT persist: the
        # CacheManager matches canonicalized plans, so an un-released
        # persist turns any identical later invocation in the same
        # session (repeat bench runs) into a silent cache read; the
        # checkpoint trades that — and lineage recoverability — for an
        # honest per-call materialization.
        .localCheckpoint()
    )
    sizes = np_.groupBy("nation").agg(F.count(F.lit(1)).alias("n_parts"))
    inter = (
        np_.alias("a")
        .join(np_.alias("b"), "l_partkey")
        .filter(F.col("a.nation") < F.col("b.nation"))
        .groupBy(F.col("a.nation").alias("n1"), F.col("b.nation").alias("n2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("nation", "n1")
                               .withColumnRenamed("n_parts", "a_parts")), "n1")
        .join(F.broadcast(sizes.withColumnRenamed("nation", "n2")
                          .withColumnRenamed("n_parts", "b_parts")), "n2")
        .select(
            "n1",
            "n2",
            "n_inter",
            F.round(
                F.col("n_inter")
                / (F.col("a_parts") + F.col("b_parts") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "n1", "n2")
        .limit(20)
    )


SQL_NATION_JACCARD = """
WITH np AS (
  SELECT DISTINCT n.n_name AS nation, l.l_partkey
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
), sizes AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n_parts FROM np GROUP BY nation
), inter AS (
  SELECT a.nation AS n1, b.nation AS n2, CAST(count(*) AS BIGINT) AS n_inter
  FROM np a JOIN np b ON a.l_partkey = b.l_partkey AND a.nation < b.nation
  GROUP BY 1, 2
)
SELECT n1, n2, n_inter,
       round(n_inter * 1.0 / (sa.n_parts + sb.n_parts - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.nation = n1
JOIN sizes sb ON sb.nation = n2
ORDER BY jaccard DESC, n1, n2
LIMIT 20
"""


# ---------------------------------------------------------------------------
# zipf_fit — per-language Zipf exponent (closed-form least squares)
# ---------------------------------------------------------------------------


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per language: least-squares slope of ln(freq) on
    ln(rank) across the whole vocabulary (slope ≈ −1 for natural
    Zipfian text). Rank window partitions by language over the
    vocabulary aggregate; the fit is five sums — no iteration.
    Tokenization = the shared ``ascii_words`` contract (round-11
    unicode-fuzz)."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        ascii_words,
    )

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "lang", F.explode(ascii_words(F.col("text"))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "word")
    xy = wc.select(
        "lang",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    agg = xy.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # a single-word vocabulary gives x = ln(1) = 0 for every row, so the
    # denominator is exactly 0 — NULL slope in lockstep, never ANSI DIV/0
    den = F.col("n_vocab") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n_vocab") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return agg.select(
        "lang", "n_vocab", F.round(slope, 4).alias("zipf_slope")
    ).orderBy("lang")


SQL_ZIPF_FIT = """
WITH wc AS (
  SELECT lang, t.word, CAST(count(*) AS BIGINT) AS freq
  FROM documents,
       LATERAL (SELECT unnest(regexp_split_to_array(
                  translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+')) AS word) t
  WHERE t.word <> ''
  GROUP BY lang, t.word
), xy AS (
  SELECT lang,
         ln(CAST(row_number() OVER (PARTITION BY lang ORDER BY freq DESC, word)
                 AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM wc
), agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY lang
)
SELECT lang, n_vocab,
       round(CASE WHEN n_vocab * sxx - sx * sx = 0 THEN NULL
             ELSE (n_vocab * sxy - sx * sy) / (n_vocab * sxx - sx * sx)
             END, 4) AS zipf_slope
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# gini_spend — exact Gini coefficient of customer spend
# ---------------------------------------------------------------------------


def q_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact Gini of per-customer spend (integer cents, rank
    formula). Ascending rank with customer-key tiebreak makes the
    statistic deterministic under equal totals.

    Complete-case on o_custkey plus finite_case on o_totalprice in
    lockstep with the oracle: NULL spend groups rank first in Spark
    but last in DuckDB, shifting every rank in the Σ rank·cents sum on
    dirty data, and a NaN/±Inf price raises on the cents cast in both
    engines (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.col("o_custkey").isNotNull()
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = per_cust.select(
        "cents", F.row_number().over(w).cast("long").alias("rk")
    )
    # Σ rank·cents accumulates in DECIMAL(38,0): the int64 product
    # rk·cents overflows at only ~2.7e5 customers (rk ~ n, cents ~
    # 2.5e8), so the exact path must widen BEFORE the multiply; the
    # final ratio converts the exact integers to double (deterministic
    # IEEE on both engines), never multiplying two longs
    s_rk = F.sum(
        F.col("rk").cast("decimal(38,0)") * F.col("cents")
    ).cast("double")
    n_ = F.count(F.lit(1))
    return ranked.agg(
        n_.alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.round(
            (2.0 * s_rk)
            / (n_.cast("double") * F.sum("cents").cast("double"))
            - (n_ + 1.0) / n_,
            6,
        ).alias("gini"),
    )


SQL_GINI_SPEND = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND isfinite(o_totalprice)
    AND abs(o_totalprice) < 9.2e16
  GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rk
  FROM per_cust
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round((2.0 * CAST(sum(CAST(rk AS HUGEINT) * cents) AS DOUBLE))
             / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


REGISTRY_EXT16: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "chi2_independence": (q_chi2_independence, SQL_CHI2_INDEPENDENCE),
    "nation_jaccard": (q_nation_jaccard, SQL_NATION_JACCARD),
    "zipf_fit": (q_zipf_fit, SQL_ZIPF_FIT),
    "gini_spend": (q_gini_spend, SQL_GINI_SPEND),
}
