"""Batch 32 (round 6): incremental-maintenance and optimizer-craft
operators.

Four operators from the engine-room of a 100-TB lakehouse:

- ``ivm_merge_audit`` — incremental view maintenance, audited: the daily
  revenue aggregate is maintained as OLD-partition partials merged with
  a 7-day delta batch (the algebraic (count, sum, min, max) merge), and
  the audit proves merged == full-recompute day-for-day.  This is the
  contract that lets a 100-TB nightly pipeline touch only the delta.
- ``bloom_join_prefilter`` — semi-join reduction, measured: a Bloom
  filter built from the dimension's join keys prefilters the fact side
  through THREE BROADCAST bit-probes (no fact shuffle), and the audit
  reports candidate rows, true matches, false positives let through and
  the final (bit-exact) revenue — the portable version of Spark's
  runtime row-level Bloom pushdown.
- ``ess_importance_weights`` — effective sample size of the tempered
  source-mixture weights: ESS = (Σw)²/Σw² over per-source epoch
  factors, the health check that a re-weighted corpus still has
  statistical mass.  Folds run over a source-sorted array (bounded,
  engine-identical order).
- ``join_reorder_advisor`` — cost-based-optimizer cardinality math,
  checked against truth: textbook |R ⋈ S| = |R|·|S| / max(ndv) estimates
  for the three FK joins, next to their actual cardinalities.  All
  estimates are exact integer arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

_IVM_DELTA_DAYS = 7


def q_ivm_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row proving the incremental-maintenance contract: events are
    split at max(day) - 7 into an OLD partition and a DELTA batch, each
    aggregated separately to daily (n, sum_cents, min_cents, max_cents)
    partials, the partials merged algebraically (sum-of-counts,
    sum-of-sums, min-of-mins, max-of-maxes), and the merge compared
    day-for-day against the full recompute.  ``mismatch_days`` is the
    measured invariant (always 0 — every reported aggregate is
    mergeable); the other columns size the work the incremental path
    saved.  Cents quantization keeps every partial an exact integer, so
    the merge cannot drift by summation order.  exact_cents: a
    non-finite value carries NULL cents through BOTH routes (sum/min/
    max skip it identically) instead of raising on the BIGINT cast
    (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        exact_cents("value").alias("cents"),
    )
    cutoff = ev.agg(
        F.date_sub(F.max("day"), _IVM_DELTA_DAYS).alias("cut")
    )
    tagged = ev.crossJoin(F.broadcast(cutoff))

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )

    # a NULL day (null/unparseable ts) must land in exactly ONE slice —
    # `day < cut` and `day >= cut` are both NULL for it, so the row fell
    # out of old AND delta while staying in the full recompute, and the
    # "always 0" invariant reported a false mismatch on clean data
    old = daily(tagged.where(F.col("day") < F.col("cut")))
    delta = daily(
        tagged.where(
            (F.col("day") >= F.col("cut")) | F.col("day").isNull()
        )
    )
    merged = (
        old.unionByName(delta)
        .groupBy("day")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    full = daily(tagged)
    # null-safe day join: the NULL-day group must match itself across
    # the two routes
    cmp = merged.alias("m").join(
        full.alias("f"),
        F.col("m.day").eqNullSafe(F.col("f.day")),
        "full_outer",
    )
    # when(cond, 0).otherwise(1): an unmatched full-outer row yields a
    # NULL comparison and must COUNT as a mismatch, not be sum-skipped
    mismatch = F.when(
        F.col("m.n").eqNullSafe(F.col("f.n"))
        & F.col("m.s").eqNullSafe(F.col("f.s"))
        & F.col("m.mn").eqNullSafe(F.col("f.mn"))
        & F.col("m.mx").eqNullSafe(F.col("f.mx")),
        F.lit(0),
    ).otherwise(1)
    audit = cmp.agg(
        F.count(F.lit(1)).alias("days_total"),
        F.sum(mismatch).alias("mismatch_days"),
        F.sum(F.col("f.n")).alias("rows_total"),
        F.sum(F.col("f.s")).alias("cents_total"),
    )
    sizes = tagged.agg(
        F.sum((F.col("day") >= F.col("cut")).cast("long")).alias(
            "rows_delta"
        ),
        F.countDistinct(
            F.when(F.col("day") >= F.col("cut"), F.col("day"))
        ).alias("days_delta"),
    )
    return audit.crossJoin(F.broadcast(sizes)).select(
        "days_total",
        "days_delta",
        "rows_total",
        "rows_delta",
        "mismatch_days",
        "cents_total",
        F.round(F.col("rows_delta") / F.col("rows_total"), 6).alias(
            "delta_frac"
        ),
    )


SQL_IVM_MERGE_AUDIT = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN isfinite(value) AND abs(value) < 9.2e16
              THEN CAST(round(value * 100) AS BIGINT) END AS cents
  FROM events
), cut AS (
  SELECT max(day) - INTERVAL {_IVM_DELTA_DAYS} DAY AS cut FROM ev
), daily_old AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
         CAST(min(cents) AS BIGINT) AS mn, CAST(max(cents) AS BIGINT) AS mx
  FROM ev, cut WHERE day < cut GROUP BY 1
), daily_delta AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
         CAST(min(cents) AS BIGINT) AS mn, CAST(max(cents) AS BIGINT) AS mx
  FROM ev, cut WHERE day >= cut OR day IS NULL GROUP BY 1
), merged AS (
  SELECT day, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
         CAST(min(mn) AS BIGINT) AS mn, CAST(max(mx) AS BIGINT) AS mx
  FROM (SELECT * FROM daily_old UNION ALL SELECT * FROM daily_delta)
  GROUP BY 1
), complete AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
         CAST(min(cents) AS BIGINT) AS mn, CAST(max(cents) AS BIGINT) AS mx
  FROM ev GROUP BY 1
), audit AS (
  SELECT CAST(count(*) AS BIGINT) AS days_total,
         CAST(sum(CASE WHEN m.n IS NOT DISTINCT FROM f.n
                        AND m.s IS NOT DISTINCT FROM f.s
                        AND m.mn IS NOT DISTINCT FROM f.mn
                        AND m.mx IS NOT DISTINCT FROM f.mx
                       THEN 0 ELSE 1 END) AS BIGINT)
           AS mismatch_days,
         CAST(sum(f.n) AS BIGINT) AS rows_total,
         CAST(sum(f.s) AS BIGINT) AS cents_total
  FROM merged m FULL OUTER JOIN complete f
    ON m.day IS NOT DISTINCT FROM f.day
), sizes AS (
  SELECT CAST(sum(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT)
           AS rows_delta,
         CAST(count(DISTINCT CASE WHEN day >= cut THEN day END) AS BIGINT)
           AS days_delta
  FROM ev, cut
)
SELECT days_total, days_delta, rows_total, rows_delta, mismatch_days,
       cents_total,
       round(rows_delta * 1.0 / rows_total, 6) AS delta_frac
FROM audit, sizes
"""


# ---------------------------------------------------------------------------
# bloom_join_prefilter — semi-join reduction through broadcast bit-probes
# ---------------------------------------------------------------------------

_BJ_M = 4096
_BJ_K = 3


def _bj_bit(col, j: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("b:"), col)), 1 + 8 * j, 8),
            16,
            10,
        ).cast("long")
        % _BJ_M
    )


def q_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row auditing a Bloom semi-join reduction: the build side is
    BUILDING-segment customers, whose custkeys set k=3 md5 bits in an
    m=4096 filter; the orders fact side probes via THREE BROADCAST
    joins on its own bit positions (the fact table is never shuffled —
    the portable equivalent of Spark's runtime row-level Bloom
    pushdown).  Reported: probe rows, Bloom candidates, true matches
    (exact join of candidates only), false positives the exact join
    flushed, and the revenue total in exact cents — which equals the
    plain-join revenue because Bloom filters have NO false negatives
    (that identity is the oracle's cross-check)."""
    build = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    bits = (
        build.select(
            F.explode(
                F.array(*[_bj_bit(F.col("k"), j) for j in range(_BJ_K)])
            ).alias("bit")
        )
        .distinct()
        .localCheckpoint()
    )
    # cents via the shared exact_cents contract: conditional cast,
    # lockstep with the oracle's isfinite + |x| < 9.2e16 domain bound.
    # The round-12 oracle gained the cents-domain bound while this
    # Spark side kept only the finite guard (round-12 advisor high
    # find): a finite |price| >= 9.2e16 would yield NULL cents in the
    # oracle but an overflowing BIGINT cast (ANSI raise) here — the
    # exact asymmetry the shared helper exists to prevent.
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        exact_cents("o_totalprice").alias("cents"),
        *[_bj_bit(F.col("o_custkey"), j).alias(f"b{j}") for j in range(_BJ_K)],
    )
    probed = orders
    for j in range(_BJ_K):
        hit = bits.select(
            F.col("bit").alias(f"b{j}"), F.lit(1).alias(f"p{j}")
        )
        probed = probed.join(F.broadcast(hit), f"b{j}", "left")
    cand_flag = F.lit(True)
    for j in range(_BJ_K):
        cand_flag = cand_flag & F.col(f"p{j}").isNotNull()
    cands = probed.where(cand_flag).select("k", "cents")
    # Exactness join on the Bloom-reduced candidate set.  The build side
    # grows linearly with the corpus (~1/5 of customer), so it joins
    # unhinted: Catalyst/AQE broadcast it while small and shuffle it when
    # large — which is the whole point of the Bloom prefilter: the
    # shuffle moves candidates, not the full fact table.
    matched = cands.join(build.select("k", F.lit(1).alias("hit")), "k", "left")
    stats = matched.agg(
        F.count(F.lit(1)).alias("bloom_candidates"),
        F.sum((F.col("hit").isNotNull()).cast("long")).alias("true_matches"),
        F.sum(
            F.when(F.col("hit").isNotNull(), F.col("cents")).otherwise(0)
        ).alias("revenue_cents"),
    )
    total = orders.agg(F.count(F.lit(1)).alias("probe_rows"))
    return stats.crossJoin(F.broadcast(total)).select(
        "probe_rows",
        "bloom_candidates",
        "true_matches",
        (F.col("bloom_candidates") - F.col("true_matches")).alias(
            "false_positives"
        ),
        F.round(
            (F.col("bloom_candidates") - F.col("true_matches"))
            / F.greatest(
                F.col("probe_rows") - F.col("true_matches"), F.lit(1)
            ),
            6,
        ).alias("fp_rate"),
        "revenue_cents",
    )


def _bj_bit_sql(col: str, j: int) -> str:
    # '||' (not concat) so a NULL probe key yields a NULL bit exactly
    # like Spark's F.concat: DuckDB's concat SKIPS NULL args and would
    # hash the literal 'b:', making every NULL-key row a Bloom
    # candidate once the filter saturates (round-9 review)
    # the outer '||' must be NULL-propagating too: concat('0x', NULL)
    # is '0x' in DuckDB, which ERRORS under CAST AS BIGINT
    return (
        f"CAST('0x' || substr(md5('b:' || CAST({col} AS VARCHAR)), "
        f"{1 + 8 * j}, 8) AS BIGINT) % {_BJ_M}"
    )


SQL_BLOOM_JOIN_PREFILTER = f"""
WITH build AS (
  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
), bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(f"SELECT {_bj_bit_sql('k', j)} AS bit FROM build" for j in range(_BJ_K))}
  )
), orders_p AS (
  SELECT o_custkey AS k,
         CASE WHEN isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS cents,
         {", ".join(f"{_bj_bit_sql('o_custkey', j)} AS b{j}" for j in range(_BJ_K))}
  FROM orders
), cands AS (
  SELECT k, cents FROM orders_p o
  WHERE {" AND ".join(f"EXISTS (SELECT 1 FROM bits WHERE bit = o.b{j})" for j in range(_BJ_K))}
), matched AS (
  SELECT c.k, c.cents, b.k IS NOT NULL AS hit
  FROM cands c LEFT JOIN (SELECT DISTINCT k FROM build) b USING (k)
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS bloom_candidates,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
           AS true_matches,
         CAST(sum(CASE WHEN hit THEN cents ELSE 0 END) AS BIGINT)
           AS revenue_cents
  FROM matched
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS probe_rows FROM orders_p
)
SELECT probe_rows, bloom_candidates, true_matches,
       bloom_candidates - true_matches AS false_positives,
       round((bloom_candidates - true_matches) * 1.0
             / greatest(probe_rows - true_matches, 1), 6) AS fp_rate,
       revenue_cents
FROM stats, total
"""


# ---------------------------------------------------------------------------
# ess_importance_weights — statistical mass of the tempered mixture
# ---------------------------------------------------------------------------

_EW_TAU = 0.7
_EW_Q = 1_000_000


def q_ess_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: effective sample size of the temperature-0.7 source
    mixture — each document carries its source's epoch factor
    w_s = tempered-weight / natural-share (the same quantized integers
    ``mixture_temperature_weights`` emits), and
    ESS = (Σw)² / (N·Σw²) is the fraction of statistical mass the
    re-weighting preserves.  Per-source sums reduce to counts times a
    per-source constant, so the whole statistic folds over the
    source-sorted ~20-element array in-row — engine-identical float
    order, corpus-size-independent cost beyond one aggregate.

    Complete-case on (source, n_chars): a NULL-token source has no
    tempered weight, and its NULL poisons Spark's in-row fold while
    DuckDB's list_sum silently skips it (round-8 parity audit)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case

    docs = complete_case(_t(spark, sf_dir, "documents"), "source", "n_chars")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("tok"),
    )
    src = src.withColumn(
        "qw",
        F.round(F.pow(F.col("tok").cast("double"), F.lit(_EW_TAU)) * _EW_Q)
        .cast("long"),
    )
    arr = src.agg(
        F.sort_array(
            F.collect_list(F.struct("source", "n_docs", "tok", "qw"))
        ).alias("a"),
        F.sum("tok").alias("tok_all"),
        F.sum("qw").alias("qw_all"),
        F.sum("n_docs").alias("n_all"),
    )
    # per-source epoch factor w_s = (qw_s * tok_all) / (qw_all * tok_s)
    w = lambda s: (
        s["qw"].cast("double")
        * F.col("tok_all")
        / (F.col("qw_all").cast("double") * s["tok"])
    )
    sw = F.aggregate(
        F.col("a"),
        F.lit(0.0),
        lambda acc, s: acc + s["n_docs"] * w(s),
    )
    sw2 = F.aggregate(
        F.col("a"),
        F.lit(0.0),
        lambda acc, s: acc + s["n_docs"] * w(s) * w(s),
    )
    wmax = F.array_max(
        F.transform(F.col("a"), lambda s: F.round(w(s), 6))
    )
    return arr.select(
        F.col("n_all").alias("n_docs"),
        F.round(sw, 4).alias("sum_w"),
        F.round((sw * sw) / (F.col("n_all") * sw2), 6).alias("ess_frac"),
        wmax.alias("max_epoch_factor"),
        F.size("a").alias("n_sources"),
    )


SQL_ESS_IMPORTANCE_WEIGHTS = f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS tok
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1
), q AS (
  SELECT source, n_docs, tok,
         CAST(round(pow(CAST(tok AS DOUBLE), CAST({_EW_TAU!r} AS DOUBLE))
                    * {_EW_Q}) AS BIGINT) AS qw
  FROM src
), arr AS (
  -- coalesce: DuckDB's list() over ZERO rows is NULL while Spark's
  -- collect_list gives [] — an all-dirty corpus must yield the same
  -- empty-mixture row on both engines (round-9 review)
  SELECT coalesce(list_sort(list(struct_pack(source := source, n_docs := n_docs,
                                    tok := tok, qw := qw))), []) AS a,
         CAST(sum(tok) AS BIGINT) AS tok_all,
         CAST(sum(qw) AS BIGINT) AS qw_all,
         CAST(sum(n_docs) AS BIGINT) AS n_all
  FROM q
), folds AS (
  -- coalesce(…, 0.0): list_sum over the EMPTY list is NULL in DuckDB
  -- but Spark's 0.0-seeded fold gives 0.0 (round-9 review)
  SELECT n_all,
         coalesce(list_sum(list_transform(a, s ->
           s.n_docs * (CAST(s.qw AS DOUBLE) * tok_all
                       / (CAST(qw_all AS DOUBLE) * s.tok)))), 0.0) AS sw,
         coalesce(list_sum(list_transform(a, s ->
           s.n_docs * (CAST(s.qw AS DOUBLE) * tok_all
                       / (CAST(qw_all AS DOUBLE) * s.tok))
                  * (CAST(s.qw AS DOUBLE) * tok_all
                       / (CAST(qw_all AS DOUBLE) * s.tok)))), 0.0) AS sw2,
         list_max(list_transform(a, s ->
           round(CAST(s.qw AS DOUBLE) * tok_all
                 / (CAST(qw_all AS DOUBLE) * s.tok), 6))) AS wmax,
         len(a) AS n_sources
  FROM arr
)
SELECT n_all AS n_docs, round(sw, 4) AS sum_w,
       round((sw * sw) / (n_all * sw2), 6) AS ess_frac,
       wmax AS max_epoch_factor,
       CAST(n_sources AS INT) AS n_sources
FROM folds
"""


# ---------------------------------------------------------------------------
# join_reorder_advisor — CBO cardinality estimates vs truth
# ---------------------------------------------------------------------------


def q_join_reorder_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rows (one per FK join): the textbook cost-based-optimizer
    estimate |R ⋈ S| = |R|·|S| / max(ndv_R(key), ndv_S(key)) computed
    from exact table statistics, next to the TRUE join cardinality and
    their ratio — the sanity table a CBO regression suite keeps.  The
    |R|·|S| product runs in DECIMAL(38,0) (a BIGINT·BIGINT product
    silently wraps past 2^63 — lineitem×orders crosses that at low-TB
    scale) and the estimate is an explicit integer floor division
    (``div``) mirrored by DuckDB's ``//``, so both engines truncate
    identically for non-integral quotients.  The truth for each FK join
    is statistics-derivable (every child row joins iff its FK exists in
    the parent), so no join output is ever materialized; the
    corpus-proportional parent key sets join unhinted, so Catalyst/AQE
    choose broadcast or shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")

    def stats(df: DataFrame, key: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(key).alias("ndv"),
        )

    def est(pair_name, left, right, semi):
        # the truth is the semi-joined child's row count, aggregated
        # inside the returned plan (no eager count at build time)
        truth = semi.agg(F.count(F.lit(1)).alias("actual_rows"))
        return (
            left.crossJoin(right)
            .crossJoin(truth)
            .select(
                F.lit(pair_name).alias("join_pair"),
                # DECIMAL(38,0) product (overflow-safe past 2^63) and an
                # integral `div` so Spark floors exactly like DuckDB's
                # `//` — a double-division + cast truncates in Spark but
                # ROUNDS in DuckDB for non-integral quotients.
                F.expr(
                    "CAST(CAST(l_rows AS DECIMAL(38,0)) * r_rows"
                    " div greatest(l_ndv, r_ndv, 1) AS BIGINT)"
                ).alias("est_rows"),
                F.col("actual_rows"),
            )
        )

    cs = stats(cust, "c_custkey").select(
        F.col("rows").alias("l_rows"), F.col("ndv").alias("l_ndv")
    )
    os_ = stats(orders, "o_custkey").select(
        F.col("rows").alias("r_rows"), F.col("ndv").alias("r_ndv")
    )
    # truth for FK joins without materializing: child rows whose FK is
    # present in the parent key set (parent keys unique).
    # The customer key set grows linearly with the corpus, so it joins
    # unhinted; nation is a fixed 25-row dimension and stays an
    # unconditional broadcast.
    cust_keys = cust.select(F.col("c_custkey").alias("o_custkey"))
    o_in_c = orders.join(cust_keys, "o_custkey", "left_semi")
    l_in_o = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_semi",
    )
    c_in_n = cust.join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("c_nationkey"))
        ),
        "c_nationkey",
        "left_semi",
    )
    r1 = est("customer*orders", cs, os_, o_in_c)
    ls = stats(li, "l_orderkey").select(
        F.col("rows").alias("l_rows"), F.col("ndv").alias("l_ndv")
    )
    os2 = stats(orders, "o_orderkey").select(
        F.col("rows").alias("r_rows"), F.col("ndv").alias("r_ndv")
    )
    r2 = est("lineitem*orders", ls, os2, l_in_o)
    ns = stats(nation, "n_nationkey").select(
        F.col("rows").alias("l_rows"), F.col("ndv").alias("l_ndv")
    )
    cs2 = stats(cust, "c_nationkey").select(
        F.col("rows").alias("r_rows"), F.col("ndv").alias("r_ndv")
    )
    r3 = est("nation*customer", ns, cs2, c_in_n)
    out = r1.unionByName(r2).unionByName(r3)
    return out.select(
        "join_pair",
        "est_rows",
        "actual_rows",
        F.round(
            F.col("est_rows") / F.greatest(F.col("actual_rows"), F.lit(1)),
            4,
        ).alias("est_over_actual"),
    ).orderBy("join_pair")


SQL_JOIN_REORDER_ADVISOR = """
WITH pairs AS (
  SELECT 'customer*orders' AS join_pair,
         CAST(CAST((SELECT count(*) FROM customer) AS HUGEINT)
              * (SELECT count(*) FROM orders)
              // greatest((SELECT count(DISTINCT c_custkey) FROM customer),
                          (SELECT count(DISTINCT o_custkey) FROM orders), 1)
            AS BIGINT) AS est_rows,
         CAST((SELECT count(*) FROM orders o
               WHERE EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
           AS actual_rows
  UNION ALL
  SELECT 'lineitem*orders',
         CAST(CAST((SELECT count(*) FROM lineitem) AS HUGEINT)
              * (SELECT count(*) FROM orders)
              // greatest((SELECT count(DISTINCT l_orderkey) FROM lineitem),
                          (SELECT count(DISTINCT o_orderkey) FROM orders), 1)
            AS BIGINT),
         CAST((SELECT count(*) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
  UNION ALL
  SELECT 'nation*customer',
         CAST(CAST((SELECT count(*) FROM nation) AS HUGEINT)
              * (SELECT count(*) FROM customer)
              // greatest((SELECT count(DISTINCT n_nationkey) FROM nation),
                          (SELECT count(DISTINCT c_nationkey) FROM customer), 1)
            AS BIGINT),
         CAST((SELECT count(*) FROM customer c
               WHERE EXISTS (SELECT 1 FROM nation n
                             WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
)
SELECT join_pair, est_rows, actual_rows,
       round(est_rows * 1.0 / greatest(actual_rows, 1), 4)
         AS est_over_actual
FROM pairs
ORDER BY join_pair
"""


REGISTRY_EXT32: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "ivm_merge_audit": (q_ivm_merge_audit, SQL_IVM_MERGE_AUDIT),
    "bloom_join_prefilter": (
        q_bloom_join_prefilter,
        SQL_BLOOM_JOIN_PREFILTER,
    ),
    "ess_importance_weights": (
        q_ess_importance_weights,
        SQL_ESS_IMPORTANCE_WEIGHTS,
    ),
    "join_reorder_advisor": (
        q_join_reorder_advisor,
        SQL_JOIN_REORDER_ADVISOR,
    ),
}
