"""Batch 37 (round 7): the quantile-sketch accuracy audit — the
oracle-gated batch kernel of the streaming equi-width quantile
histogram (``streaming/sketches.py:quantile_hist``), completing the
pattern that every sketch state store has one (CMS →
``cms_heavy_hitters``, HLL → ``hll_register_estimate``, Bloom →
``bloom_membership_audit``, XOR digest → ``content_fingerprint_audit``).

``quantile_sketch_audit`` builds the 256-bucket histogram over the
events value column on a FIXED [0, 500) domain (production gets the
domain from table statistics), reads nearest-rank quantile estimates
off it, and audits each against the EXACT nearest-rank percentile —
computed scale-safely via per-distinct-value cumulative counts (the
``zone_map_pruning`` count-bucket discipline: the window runs over the
value-domain-bounded distinct table, never a corpus-sized row_number).
The audit proves the sketch's whole error contract: every estimate
within one bucket width of exact.

Scale posture: two corpus scans, one per bounded table (256-row
histogram; distinct-value-bounded rank table — the exact side is what
makes this an AUDIT); n_total derives from the histogram, never a
third scan; the 5 quantile probes join against those bounded tables
only; NULL values are explicitly filtered on both engines (Spark's
null-skipping greatest() would otherwise bucket NULLs at 0 while the
engines disagree on NULL ordering); no broadcast of anything corpus-
proportional, no global window over data-sized input.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

_QS_LO = 0.0
_QS_HI = 500.0
_QS_BUCKETS = 256
_QS_WIDTH = (_QS_HI - _QS_LO) / _QS_BUCKETS  # 1.953125, exact in binary
_QS_PROBES = (0.05, 0.25, 0.5, 0.75, 0.95)


def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five rows (one per probe quantile): the histogram estimate (the
    first bucket whose cumulative count reaches ceil(q·N), reported as
    the bucket's upper edge), the exact nearest-rank percentile, the
    error, and the within-one-bucket-width contract flag. Bucket
    arithmetic is the identical floor/clamp expression in both engines;
    ranks are exact integers; the exact percentile is a pass-through
    parquet double — nothing here needs rounding."""
    from ra2_datalake_linaresjoan_spark.streaming.sketches import (
        quantile_bucket,
    )

    # finite_case, not just isNotNull: NaN sorts differently in the two
    # engines' rank windows and ±Inf defeats the bucket clamp's floor —
    # the shared finite-population contract (round-11 value-fuzz)
    from ra2_datalake_linaresjoan_spark.operators.filters import finite_case

    vals = finite_case(_t(spark, sf_dir, "events"), "value").select(
        F.col("value").alias("v")
    )
    # distinct-value rank table (value-domain-bounded, cents-grained);
    # localCheckpoint: the bounded table materializes from ONE corpus
    # scan and every downstream consumer reads the checkpoint — without
    # it each DataFrame reference re-scans events (6 scans in the
    # audited plan; 1 after)
    byv = (
        vals.groupBy("v").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cumv = byv.select("v", F.sum("n").over(wv).alias("cum"))
    # 256-bucket histogram + cumulative, DERIVED from the distinct-value
    # table (round-11 A/B): bucket(v) is a pure function of v, so
    # regrouping byv's (v, n) rows sums to the identical histogram —
    # |distinct v| input rows instead of a second full corpus scan, and
    # the 256-row result needs no checkpoint of its own
    hist = (
        byv.select(
            quantile_bucket("v", _QS_LO, _QS_HI, _QS_BUCKETS).alias("bucket"),
            "n",
        )
        .groupBy("bucket")
        .agg(F.sum("n").alias("n"))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cumb = hist.select("bucket", F.sum("n").over(wb).alias("cum"))
    # n_total comes from the 256-row histogram, NOT a third corpus scan:
    # the bucket expression clamps and the NULL filter is shared, so
    # sum(hist.n) == count(vals) exactly
    total = hist.agg(F.sum("n").alias("n_total"))
    qs = spark.createDataFrame(
        [(q,) for q in _QS_PROBES], "q double"
    ).crossJoin(F.broadcast(total))
    ranked = qs.select(
        "q", "n_total", F.ceil(F.col("q") * F.col("n_total")).alias("rank")
    )
    est = (
        ranked.join(F.broadcast(cumb), F.col("cum") >= F.col("rank"))
        .groupBy("q", "n_total", "rank")
        .agg(F.min("bucket").alias("bkt"))
        .select(
            "q",
            "n_total",
            "rank",
            (F.lit(_QS_LO) + (F.col("bkt") + 1) * F.lit(_QS_WIDTH)).alias(
                "est"
            ),
        )
    )
    exact = (
        ranked.select("q", "rank")
        .join(F.broadcast(cumv), F.col("cum") >= F.col("rank"))
        .groupBy("q")
        .agg(F.min("v").alias("exact"))
    )
    return (
        # round-14: broadcast-pin the 5-row stitch — Catalyst's size
        # estimate for the aggregated `exact` side exceeded the auto
        # threshold and planned a SortMergeJoin (2 exchanges + 2 sorts
        # for 5 rows on each side; plans/r14/quantile_sketch_audit_*)
        est.join(F.broadcast(exact), "q")
        .select(
            "q",
            "n_total",
            "rank",
            "est",
            "exact",
            F.round(F.col("est") - F.col("exact"), 6).alias("err"),
            (
                F.abs(F.col("est") - F.col("exact")) <= F.lit(_QS_WIDTH)
            ).alias("within_bound"),
        )
        .orderBy("q")
    )


SQL_QUANTILE_SKETCH_AUDIT = f"""
WITH vals AS (
  SELECT value AS v FROM events WHERE isfinite(value)
), byv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY v
), cumv AS (
  SELECT v, CAST(sum(n) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM byv
), hist AS (
  SELECT CAST(least({_QS_BUCKETS - 1}, greatest(0,
           floor((v - {_QS_LO}) * {_QS_BUCKETS} / {_QS_HI - _QS_LO})))
         AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM vals GROUP BY 1
), cumb AS (
  SELECT bucket, CAST(sum(n) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM hist
), total AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total FROM hist
), ranked AS (
  SELECT q, n_total, CAST(ceil(q * n_total) AS BIGINT) AS rank
  FROM (SELECT CAST(unnest([{", ".join(repr(q) for q in _QS_PROBES)}]) AS DOUBLE)
          AS q), total
), est AS (
  SELECT r.q, r.n_total, r.rank,
         CAST({_QS_LO} AS DOUBLE)
           + (min(c.bucket) + 1) * CAST({_QS_WIDTH!r} AS DOUBLE) AS est
  FROM ranked r JOIN cumb c ON c.cum >= r.rank
  GROUP BY r.q, r.n_total, r.rank
), ex AS (
  SELECT r.q, min(c.v) AS exact
  FROM ranked r JOIN cumv c ON c.cum >= r.rank
  GROUP BY r.q
)
SELECT est.q, est.n_total, est.rank, est.est, ex.exact,
       round(est.est - ex.exact, 6) AS err,
       abs(est.est - ex.exact) <= {_QS_WIDTH!r} AS within_bound
FROM est JOIN ex ON est.q = ex.q
ORDER BY est.q
"""


REGISTRY_EXT37: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "quantile_sketch_audit": (
        q_quantile_sketch_audit,
        SQL_QUANTILE_SKETCH_AUDIT,
    ),
}
