"""Relational batch 15 (round 4): behavioral path mining, revenue
concentration analysis, and day-of-week seasonality.

- ``event_trigram_paths`` mines the most common length-3 event paths
  (clickstream n-grams). The lead/lead² window is partitioned by user —
  user-cardinality parallelism, never a global sort — and the path
  vocabulary the final aggregate produces is |event_types|³-bounded.
- ``revenue_decile_lift`` is the marketing lift/concentration table:
  customers ranked into spend deciles, each decile's revenue share and
  cumulative share (the Lorenz curve read). Money is exact integer
  cents (the ``decimal_exact_money`` convention) so decile boundaries
  are deterministic. The ntile runs over the per-customer AGGREGATE
  (customer-cardinality, not order rows); like ``ntile_quartiles`` the
  global ranking window is the documented inherent cost — the 100-TB
  variant swaps in approxQuantile decile boundaries at a precision
  cost, same downstream arithmetic.
- ``dow_seasonality`` indexes each (event_type, ISO weekday) cell
  against its type's uniform-week expectation — ratio-to-average
  seasonality over a 7×|types| aggregate. Weekday parity: Spark
  ``dayofweek`` (Sun=1) is remapped to ISO (Mon=1..Sun=7) to match
  DuckDB's ``isodow``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t


# ---------------------------------------------------------------------------
# event_trigram_paths — top length-3 behavioral paths
# ---------------------------------------------------------------------------


def q_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent 3-step event paths across users: per-user
    lead/lead² over (ts, event_id) order, then one path-vocabulary
    aggregate. Deterministic tiebreak (count desc, path asc).

    NULL rows are dropped in lockstep BEFORE the window: a NULL
    event_type makes Spark's concat_ws silently skip the token (a
    2-token 'path') while DuckDB's || nulls the whole path, and NULL
    ts/event_id order NULLS FIRST in Spark vs LAST in DuckDB —
    different sequences per engine."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("e1"),
            F.lead("event_type", 2).over(w).alias("e2"),
        )
        .filter(F.col("e1").isNotNull() & F.col("e2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e1", "e2").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


SQL_EVENT_TRIGRAM_PATHS = """
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e1 || '>' || e2 AS path,
       CAST(count(*) AS BIGINT) AS n_paths
FROM seq
WHERE e1 IS NOT NULL AND e2 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, path
LIMIT 20
"""


# ---------------------------------------------------------------------------
# revenue_decile_lift — customer-spend concentration (Lorenz deciles)
# ---------------------------------------------------------------------------


#: Customer counts up to this take the exact ntile window in
#: revenue_decile_lift; larger ones bucket on approxQuantile boundaries.
_DECILE_EXACT_CAP = 1_000_000


def q_revenue_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles with revenue share and cumulative share.
    Exact integer cents end to end.

    Size-guarded decile assignment (the ``operators/zorder.py`` pattern):
    up to ``_DECILE_EXACT_CAP`` customers, an exact ``ntile(10)`` window
    with a customer-key tie-break lands equal totals deterministically —
    this is the oracle-parity path the driver checks at sf0.01. Above
    the threshold a partition-less window over the per-customer
    aggregate would push billions of rows through one task, so decile
    boundaries come from ``approxQuantile`` (distributed sketch, one
    pass) and rows bucket against the broadcast splits with a when-chain
    — no WindowExec over data-sized input. The quantile path is
    rank-approximate under heavy ties (decile populations follow value
    boundaries, not exact tenths): duplicate quantile boundaries are
    deduped before the when-chain, so populated deciles are always the
    CONTIGUOUS range 1..(#distinct boundaries + 1) — under heavy ties
    fewer than 10 decile numbers appear (the trailing numbers are
    absent, never interior gaps). Shares remain exact for the reported
    buckets. The guard itself is an ``at_most`` probe — one extra
    aggregation job at call time.  money_case: a spend
    RANKING needs a finite population — NaN/±Inf prices raise on the
    cents cast in both engines (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case
    from ra2_datalake_linaresjoan_spark.operators.joins import at_most

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    if at_most(per_cust, _DECILE_EXACT_CAP):
        w = Window.orderBy(F.desc("cents"), "o_custkey")
        assigned = per_cust.withColumn("decile", F.ntile(10).over(w))
    else:
        # decile 1 = top spenders: bucket by descending value boundaries
        probs = [i / 10 for i in range(1, 10)]
        qs = per_cust.stat.approxQuantile("cents", probs, 0.0001)
        # qs ascending: qs[8] = 90th pct. decile = 1 + #boundaries > cents.
        # Dedupe: under heavy ties approxQuantile repeats a boundary, and
        # an un-deduped chain would double-increment past it — skipping
        # interior decile numbers entirely.
        qs = sorted(set(qs))
        dec = F.lit(1)
        for q in qs:
            dec = dec + (F.col("cents") < F.lit(q)).cast("int")
        assigned = per_cust.withColumn("decile", dec)
    deciles = (
        assigned
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("decile_cents"),
        )
    )
    total = deciles.agg(F.sum("decile_cents").alias("total_cents"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_cents",
            F.round(F.col("decile_cents") / F.col("total_cents"), 6).alias(
                "revenue_share"
            ),
            F.round(
                F.sum("decile_cents").over(w_cum) / F.col("total_cents"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


SQL_REVENUE_DECILE_LIFT = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16) GROUP BY o_custkey
), d AS (
  SELECT o_custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM per_cust
), deciles AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS decile_cents
  FROM d GROUP BY decile
), total AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS total_cents FROM deciles)
SELECT CAST(decile AS INT) AS decile, n_customers, decile_cents,
       round(CAST(decile_cents AS DOUBLE) / total_cents, 6) AS revenue_share,
       round(CAST(sum(decile_cents) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / total_cents, 6) AS cum_share
FROM deciles CROSS JOIN total
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# dow_seasonality — ratio-to-average weekday indexes
# ---------------------------------------------------------------------------


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: each (type, ISO
    weekday) count divided by the type's uniform-week expectation
    (total/7). Index > 1 ⇒ overactive weekday. One 7×|types| aggregate;
    ratios at 4 dp."""
    ev = _t(spark, sf_dir, "events")
    cell = (
        ev.select(
            "event_type",
            ((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1).alias("iso_dow"),
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w_type = Window.partitionBy("event_type")
    return (
        cell.select(
            "event_type",
            "iso_dow",
            "n_events",
            F.round(
                F.col("n_events") / (F.sum("n_events").over(w_type) / F.lit(7.0)), 4
            ).alias("seasonality_index"),
        )
        .orderBy("event_type", "iso_dow")
    )


SQL_DOW_SEASONALITY = """
WITH cell AS (
  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, iso_dow, n_events,
       round(n_events / (CAST(sum(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
                         / 7.0), 4) AS seasonality_index
FROM cell
ORDER BY event_type, iso_dow
"""


REGISTRY_EXT15: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "event_trigram_paths": (q_event_trigram_paths, SQL_EVENT_TRIGRAM_PATHS),
    "revenue_decile_lift": (q_revenue_decile_lift, SQL_REVENUE_DECILE_LIFT),
    "dow_seasonality": (q_dow_seasonality, SQL_DOW_SEASONALITY),
}
