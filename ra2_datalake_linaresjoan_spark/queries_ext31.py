"""Batch 31 (round 6): skew-safe join execution and split/statistics
tooling.

Four operators a 100-TB pipeline leans on once the simple plans stop
scaling or the data starts feeding model training:

- ``salted_skew_join`` — the manual skew-mitigation join: a hot-key fact
  side is salted (event_id % 16) and the dimension side is replicated
  across the 16 salts, so one hot key spreads over 16 tasks instead of
  stalling one straggler.  The RESULT is byte-identical to the plain
  join (the oracle runs the plain join); revenue is summed in exact
  integer cents so no float order-dependence leaks through the changed
  execution shape.
- ``conformal_calibration`` — split-conformal prediction: per-language
  mean document length fit on the train split, nonconformity scored on
  the calibration split, the exact k = ceil(0.9 * (n_cal + 1)) order
  statistic chosen as threshold, empirical coverage measured per
  language on the held-out test split.  Scores quantize to centi-chars
  so the rank table is VALUE-DOMAIN-bounded, not data-sized.
- ``group_kfold_assign`` — leakage-free 5-fold assignment: exact-dup
  content GROUPS (md5 of text) are hashed to folds, docs inherit their
  group's fold, so no near-identical pair can straddle train/validation.
  The audit both reports fold balance and MEASURES the leakage it
  guarantees away (distinct (group, fold) pairs == distinct groups).
- ``equi_depth_histogram`` — optimizer-statistics collection: exact
  equi-depth boundaries of o_totalprice at depth 8 from a dollar-grain
  pre-histogram (the fixed-width-then-merge strategy real engines use);
  the running sum windows over the value DOMAIN (<= 500k bands), never
  over rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

_SJ_SALTS = 16


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment through a SALTED fact-dim join: events
    carry salt = event_id % 16, the customer dim is exploded across all
    16 salts, and the join key is (user_id, salt) — the standard manual
    treatment when one hot user floods a single shuffle partition.  A
    hot key's rows land on 16 tasks instead of 1; the dim pays a 16x
    replication it can afford (dims are small; the fact side is the
    100-TB one).  Event values are quantized to exact integer cents
    BEFORE the join so the output is bit-identical to the plain-join
    oracle no matter how execution reorders the sum."""
    # coalesce: a NULL event_id still needs A salt — a NULL salt never
    # equi-joins and the event's cents silently vanished from the salted
    # route while the plain-join oracle (user_id only) kept them.
    # exact_cents: non-finite values ride as NULL cents lockstep
    # instead of raising on the BIGINT cast (round-11 value-fuzz)
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.pmod(F.col("event_id"), F.lit(_SJ_SALTS)), F.lit(0)
        ).alias("salt"),
        exact_cents("value").alias("cents"),
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_SJ_SALTS - 1)))
        )
    )
    # hint("merge") pins the SHUFFLE join shape the salt exists for — a
    # broadcast of the small test dim would make the salt decorative
    # (broadcast joins never shuffle, so skew cannot stall them).
    joined = ev.join(dim.hint("merge"), ["user_id", "salt"])
    return (
        joined.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "segment",
            "n_events",
            "n_users",
            "revenue_cents",
            F.round(
                F.col("revenue_cents") / (100.0 * F.col("n_events")), 4
            ).alias("avg_value"),
        )
        .orderBy("segment")
    )


SQL_SALTED_SKEW_JOIN = """
WITH j AS (
  SELECT c.c_mktsegment AS segment, e.user_id,
         CASE WHEN isfinite(e.value) AND abs(e.value) < 9.2e16
              THEN CAST(round(e.value * 100) AS BIGINT) END AS cents
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
), s AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM j GROUP BY 1
)
SELECT segment, n_events, n_users, revenue_cents,
       round(revenue_cents / (100.0 * n_events), 4) AS avg_value
FROM s
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# conformal_calibration — split-conformal coverage of a length predictor
# ---------------------------------------------------------------------------

_CC_ALPHA_KEEP = 0.9  # target coverage


def q_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of a per-language document-length
    predictor: langwise mean n_chars fit on the train split (doc_id % 5
    in 0-2), absolute-residual nonconformity on the calibration split
    (doc_id % 5 = 3), threshold = the exact k-th smallest score with
    k = ceil(0.9 * (n_cal + 1)) — the finite-sample 90 % guarantee —
    and measured per-language coverage on the test split (doc_id % 5 =
    4).  Scores quantize to centi-chars, so the order-statistic scan
    runs over a VALUE-DOMAIN-bounded score table (<= 100x max doc
    length rows), not over documents; the selection itself is a
    cumulative-count crossing, the same count-bucket discipline as
    ``vocab_coverage_curve``."""
    # NULL n_chars cannot be scored (and Spark/DuckDB disagree on NULL
    # placement in the ordering window) — filter on both engines
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select("lang", "n_chars", (F.col("doc_id") % 5).alias("part"))
    )
    # localCheckpoint (round-13, guide §2.4): fit is lang-sized (a few
    # rows) but has TWO consumers (cal and test) — without it each
    # broadcast build re-scanned the documents projection.
    fit = (
        docs.where(F.col("part") <= 2)
        .groupBy("lang")
        .agg(
            F.sum("n_chars").alias("s"), F.count(F.lit(1)).alias("c")
        )
        .select("lang", (F.col("s") / F.col("c")).alias("mu"))
        .localCheckpoint()
    )
    score = F.round(F.abs(F.col("n_chars") - F.col("mu")) * 100).cast(
        "long"
    )
    cal = (
        docs.where(F.col("part") == 3)
        .join(F.broadcast(fit), "lang")
        .select(score.alias("q"))
    )
    buckets = cal.groupBy("q").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    # n_cal and k derive from the SAME bounded bucket table via a
    # full-frame sum riding the cumulative window's single-partition
    # pass (the vocab_coverage_curve discipline) — the old shape
    # aggregated `cal` a second time, re-running the calibration-split
    # scan and the fit join just to count rows (round-13, guide §2.4):
    # sum(buckets.n) == count(cal) exactly.
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = buckets.select(
        "q",
        F.sum("n").over(w).alias("cum"),
        F.ceil((F.sum("n").over(wfull) + 1) * F.lit(_CC_ALPHA_KEEP)).alias(
            "k"
        ),
        F.sum("n").over(wfull).alias("n_cal"),
    )
    thr = (
        ranked.where(F.col("cum") >= F.col("k"))
        .agg(
            F.min("q").alias("threshold_q"),
            F.first("k").alias("k"),
            F.first("n_cal").alias("n_cal"),
        )
    )
    test = (
        docs.where(F.col("part") == 4)
        .join(F.broadcast(fit), "lang")
        .select("lang", score.alias("q"))
    )
    cov = test.crossJoin(F.broadcast(thr)).groupBy(
        "lang", "threshold_q", "k", "n_cal"
    ).agg(
        F.count(F.lit(1)).alias("n_test"),
        # cover-everything fallback: with k > n_cal (tiny calibration
        # split) no bucket crosses the rank, threshold_q is NULL, and
        # conformal semantics say the threshold is +infinity — without
        # the coalesce Spark summed NULLs while DuckDB's CASE gave 0
        F.sum(
            (
                F.col("q")
                <= F.coalesce(F.col("threshold_q"), F.lit(1 << 62))
            ).cast("long")
        ).alias("covered"),
    )
    return cov.select(
        "lang",
        "n_cal",
        "k",
        "threshold_q",
        "n_test",
        "covered",
        F.round(F.col("covered") / F.col("n_test"), 6).alias("coverage"),
    ).orderBy("lang")


SQL_CONFORMAL_CALIBRATION = f"""
WITH docs AS (
  SELECT lang, n_chars, doc_id % 5 AS part FROM documents
  WHERE n_chars IS NOT NULL
), fit AS (
  SELECT lang, sum(n_chars) * 1.0 / count(*) AS mu
  FROM docs WHERE part <= 2 GROUP BY 1
), cal AS (
  SELECT CAST(round(abs(d.n_chars - f.mu) * 100) AS BIGINT) AS q
  FROM docs d JOIN fit f USING (lang) WHERE d.part = 3
), tot AS (
  SELECT CAST(ceil((count(*) + 1) * {_CC_ALPHA_KEEP}) AS BIGINT) AS k,
         CAST(count(*) AS BIGINT) AS n_cal
  FROM cal
), ranked AS (
  SELECT q, CAST(sum(n) OVER (ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM (SELECT q, count(*) AS n FROM cal GROUP BY 1)
), thr AS (
  SELECT min(q) AS threshold_q, any_value(k) AS k, any_value(n_cal) AS n_cal
  FROM ranked, tot WHERE cum >= k
), test AS (
  SELECT d.lang, CAST(round(abs(d.n_chars - f.mu) * 100) AS BIGINT) AS q
  FROM docs d JOIN fit f USING (lang) WHERE d.part = 4
)
SELECT lang, n_cal, k, threshold_q,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN q <= coalesce(threshold_q, {1 << 62})
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS covered,
       round(sum(CASE WHEN q <= coalesce(threshold_q, {1 << 62})
                      THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS coverage
FROM test, thr
GROUP BY 1, 2, 3, 4
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# group_kfold_assign — leakage-free fold assignment by content group
# ---------------------------------------------------------------------------

_GK_FOLDS = 5


def q_group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per fold (5 rows): group/doc/char counts and doc share of a
    GROUP-aware k-fold split — exact-duplicate content groups (md5 of
    text) hash to one fold, docs inherit it, so a duplicated document
    can never sit in both a train and a validation fold.  The
    ``leak_groups`` column MEASURES the invariant the construction
    guarantees (groups spanning >1 fold; always 0) — the audit a
    pipeline runs after any re-shard.  One shuffle on the group key,
    fold grain is 5 rows. NULL text has no content group (md5 of NULL
    is NULL) and is excluded on BOTH engines — unfiltered, Spark's
    countDistinct(grp, fold) skips the NULL rows while DuckDB's
    count(DISTINCT (grp, fold)) counts the (NULL, NULL) struct, raising
    a false leakage alarm on the invariant this audit guards."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.md5(F.col("text")).alias("grp"), "n_chars")
    )
    grouped = docs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    fold = (
        F.conv(F.substring(F.md5(F.concat(F.lit("f:"), F.col("grp"))), 1, 4), 16, 10)
        .cast("long")
        % _GK_FOLDS
    )
    folded = grouped.select(fold.alias("fold"), "n_docs", "n_chars")
    per_fold = folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = per_fold.agg(F.sum("n_docs").alias("docs_all"))
    # leakage audit: a group's docs all carry one fold by construction;
    # measure distinct (grp, fold) minus distinct grp == 0.
    leak = (
        docs.select(
            "grp",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("f:"), F.col("grp"))), 1, 4
                    ),
                    16,
                    10,
                ).cast("long")
                % _GK_FOLDS
            ).alias("fold"),
        )
        .agg(
            (
                F.countDistinct("grp", "fold") - F.countDistinct("grp")
            ).alias("leak_groups")
        )
    )
    return (
        per_fold.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            "fold",
            "n_groups",
            "n_docs",
            "n_chars",
            F.round(F.col("n_docs") / F.col("docs_all"), 6).alias(
                "doc_share"
            ),
            "leak_groups",
        )
        .orderBy("fold")
    )


SQL_GROUP_KFOLD_ASSIGN = f"""
WITH docs AS (
  SELECT md5(text) AS grp, n_chars FROM documents WHERE text IS NOT NULL
), grouped AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM docs GROUP BY 1
), folded AS (
  SELECT CAST(concat('0x', substr(md5(concat('f:', grp)), 1, 4)) AS BIGINT)
           % {_GK_FOLDS} AS fold,
         n_docs, n_chars
  FROM grouped
), per_fold AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM folded GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS docs_all FROM per_fold
), leak AS (
  SELECT CAST(count(DISTINCT (grp, fold)) - count(DISTINCT grp) AS BIGINT)
           AS leak_groups
  FROM (
    SELECT grp,
           CAST(concat('0x', substr(md5(concat('f:', grp)), 1, 4)) AS BIGINT)
             % {_GK_FOLDS} AS fold
    FROM docs
  )
)
SELECT fold, n_groups, n_docs, n_chars,
       round(n_docs * 1.0 / docs_all, 6) AS doc_share, leak_groups
FROM per_fold, tot, leak
ORDER BY fold
"""


# ---------------------------------------------------------------------------
# equi_depth_histogram — exact optimizer-statistics boundaries
# ---------------------------------------------------------------------------

_ED_DEPTH = 8


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram boundaries of o_totalprice at depth 8 — the
    statistics a cost-based optimizer collects.  Orders first collapse
    to a DOLLAR-grain pre-histogram (floor(price) bands — the value
    domain is < 500k bands regardless of row count, the fixed-width-
    then-merge strategy real engines use), then one running sum over
    the band table finds each exact target rank ceil(b*N/8).  Output:
    7 interior boundaries with their target and achieved cumulative
    rank — `boundary_band` is the exact b/8-quantile at dollar grain."""
    # quantiles are over FINITE-priced orders: a NULL price has no band
    # (and the engines disagree on NULL placement in the ordering
    # window), while floor(±Inf/NaN)→BIGINT raises in DuckDB and is
    # plan-luck in ANSI Spark — the shared finite-population contract
    # (round-11 value-fuzz extends the round-9 NULL guard)
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").select(
        F.floor(F.col("o_totalprice")).alias("band")
    )
    bands = orders.groupBy("band").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    cum = bands.select(
        "band", "n", F.sum("n").over(w).alias("cum")
    )
    tot = bands.agg(F.sum("n").alias("rows_total"))
    targets = tot.select(
        "rows_total",
        F.explode(
            F.sequence(F.lit(1), F.lit(_ED_DEPTH - 1))
        ).alias("bucket"),
    ).select(
        "bucket",
        "rows_total",
        F.ceil(
            F.col("bucket") * F.col("rows_total") / F.lit(_ED_DEPTH)
        ).alias("target_rank"),
    )
    crossed = cum.crossJoin(F.broadcast(targets)).where(
        (F.col("cum") >= F.col("target_rank"))
        & (F.col("cum") - F.col("n") < F.col("target_rank"))
    )
    return crossed.select(
        "bucket",
        "target_rank",
        F.col("band").alias("boundary_band"),
        F.col("cum").alias("cum_rows"),
        "rows_total",
    ).orderBy("bucket")


SQL_EQUI_DEPTH_HISTOGRAM = f"""
WITH bands AS (
  SELECT CAST(floor(o_totalprice) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16) GROUP BY 1
), cum AS (
  SELECT band, n,
         CAST(sum(n) OVER (ORDER BY band
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM bands
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS rows_total FROM bands
), targets AS (
  SELECT bucket, rows_total,
         CAST(ceil(bucket * rows_total * 1.0 / {_ED_DEPTH}) AS BIGINT)
           AS target_rank
  FROM (SELECT unnest(range(1, {_ED_DEPTH})) AS bucket), tot
)
SELECT bucket, target_rank, band AS boundary_band, cum AS cum_rows,
       rows_total
FROM cum, targets
WHERE cum >= target_rank AND cum - n < target_rank
ORDER BY bucket
"""


REGISTRY_EXT31: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "salted_skew_join": (q_salted_skew_join, SQL_SALTED_SKEW_JOIN),
    "conformal_calibration": (
        q_conformal_calibration,
        SQL_CONFORMAL_CALIBRATION,
    ),
    "group_kfold_assign": (q_group_kfold_assign, SQL_GROUP_KFOLD_ASSIGN),
    "equi_depth_histogram": (
        q_equi_depth_histogram,
        SQL_EQUI_DEPTH_HISTOGRAM,
    ),
}
