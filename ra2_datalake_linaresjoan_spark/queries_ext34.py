"""Batch 34 (round 7): schema-evolution, MERGE parity, multi-column
layout pruning, and jackknife variance.

Four operators closing round-6 verdict ask #6 (registry growth with
reference grounding):

- ``schema_evolution_union`` — the bronze dynamic-schema contract at
  scale (reference ``extractor_polymarket.py:153-157`` drops all-null
  columns per extraction, so successive batches carry DIFFERENT column
  sets; ``main.py:128-162`` must reconcile them at read time).  Three
  deterministic projections of the events table are re-unioned with
  ``unionByName(allowMissingColumns=True)`` — Spark's native
  schema-evolution merge — and the audit proves missing columns
  surface as NULLs exactly where the batch lacked them.
- ``merge_upsert_audit`` — MERGE/upsert parity (pairs with
  ``sources/upsert.py:33``, the ON-CONFLICT idempotent load of
  reference ``loader_NeonDB.py:371``): a base snapshot, a correction
  feed (5 % price bump on every 7th order, exact integer ``DIV 20``)
  plus an insert feed are merged by full-outer key join, and the audit
  balances the post-merge checksum against base + bumps + inserts to
  exactly zero.
- ``zorder_vs_linear_pruning`` — multi-column layout effectiveness
  (extends ``zone_map_pruning``, ``queries_ext33.py:42``, to the
  liquid-clustering question): the same orders rows are laid out three
  ways — sorted by column a, by column b, and by the INTERLEAVED-BIT
  z-value over (a, b) — into 64 zone-mapped files each, and a fixed
  2-D rectangle predicate is costed per layout (files scanned, rows
  scanned, read amplification).  The z-layout prunes on both columns;
  each linear layout only on its own — the measured argument for
  multi-dimensional clustering at 100 TB.
- ``jackknife_ratio_variance`` — delete-one-group jackknife variance
  of revenue-per-order (complements ``poisson_bootstrap_ci``): exact
  per-month (n, sum) partials give every leave-one-month-out ratio in
  closed form, and the fold over the month-sorted ratio array is
  engine-identical.

Scale posture: every aggregate is month/file/batch-bounded; the only
joins are key-shuffled (MERGE) or explode-by-3 stacks; no broadcast of
anything corpus-proportional; no global windows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

# ---------------------------------------------------------------------------
# schema_evolution_union — dynamic-schema batches re-unioned by name
# ---------------------------------------------------------------------------


def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rows (one per simulated extraction batch): batch 0 arrived
    without (user_id, props), batch 1 without the value column, batch 2
    complete.  After ``unionByName(allowMissingColumns=True)`` the
    audit counts NULLs per logical column per batch — exactly the rows
    each batch was missing — plus the surviving cents total, proving
    the schema-evolved read loses no data and invents none.
    exact_cents: non-finite values carry NULL cents lockstep instead of
    raising on the BIGINT cast (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        exact_cents("value").alias("cents"),
        "props",
    )
    # coalesce: a NULL event_id must belong to exactly ONE batch (0) —
    # a bare % left it out of all three, silently shrinking `evolved`
    # in an audit that claims the schema-evolved read loses no data
    b = F.coalesce(F.col("event_id") % 3, F.lit(0))
    b0 = ev.where(b == 0).select("event_id", "event_type", "cents")
    b1 = ev.where(b == 1).select(
        "event_id", "event_type", "user_id", "props"
    )
    b2 = ev.where(b == 2)
    evolved = b0.unionByName(b1, allowMissingColumns=True).unionByName(
        b2, allowMissingColumns=True
    )
    return (
        evolved.groupBy(
            F.coalesce(F.col("event_id") % 3, F.lit(0)).alias("batch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("user_id").isNull().cast("long")).alias(
                "null_user_id"
            ),
            F.sum(F.col("cents").isNull().cast("long")).alias("null_cents"),
            F.sum(F.col("props").isNull().cast("long")).alias("null_props"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("cents_total"),
        )
        .orderBy("batch")
    )


SQL_SCHEMA_EVOLUTION_UNION = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN isfinite(value) AND abs(value) < 9.2e16
              THEN CAST(round(value * 100) AS BIGINT) END AS cents, props
  FROM events
), evolved AS (
  SELECT event_id, event_type, cents,
         CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS VARCHAR) AS props
  FROM ev WHERE coalesce(event_id % 3, 0) = 0
  UNION ALL
  SELECT event_id, event_type, CAST(NULL AS BIGINT) AS cents,
         user_id, props
  FROM ev WHERE coalesce(event_id % 3, 0) = 1
  UNION ALL
  SELECT event_id, event_type, cents, user_id, props
  FROM ev WHERE coalesce(event_id % 3, 0) = 2
)
SELECT coalesce(event_id % 3, 0) AS batch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_user_id,
       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_cents,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_props,
       CAST(sum(coalesce(cents, 0)) AS BIGINT) AS cents_total
FROM evolved
GROUP BY 1
ORDER BY batch
"""


# ---------------------------------------------------------------------------
# merge_upsert_audit — MERGE semantics balanced to the cent
# ---------------------------------------------------------------------------

_MU_CUTOFF = "1996-01-01"


def q_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row auditing an upsert MERGE: base = orders before the
    cutoff; the delta feed carries a price correction (+5 %, exact
    integer ``cents DIV 20``) for every 7th base order plus all
    post-cutoff orders as inserts.  The MERGE is a full-outer key join
    with delta-wins coalesce; the audit proves
    ``cents_after - cents_base - bump_cents - insert_cents == 0``
    (``merge_imbalance``) and counts matched updates, inserts and
    untouched rows.  Everything is an exact BIGINT; the join shuffles
    on the key — nothing corpus-proportional is broadcast.
    exact_cents: a non-finite price rides the MERGE as NULL cents in
    both engines instead of raising on the BIGINT cast (round-11
    value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        exact_cents("o_totalprice").alias("cents"),
    )
    cut = F.to_date(F.lit(_MU_CUTOFF))
    base = orders.where(F.col("d") < cut).select(
        "k", F.col("cents").alias("base_cents")
    )
    upd = base.where(F.col("k") % 7 == 0).select(
        "k",
        (F.col("base_cents") + F.expr("base_cents DIV 20")).alias("cents"),
        F.lit("update").alias("op"),
    )
    ins = orders.where(F.col("d") >= cut).select(
        "k", "cents", F.lit("insert").alias("op")
    )
    delta = upd.unionByName(ins)
    merged = base.join(delta, "k", "full_outer")
    is_upd = F.col("op") == "update"
    is_ins = F.col("op") == "insert"
    return merged.agg(
        F.count(F.lit(1)).alias("rows_after"),
        F.sum(F.col("base_cents").isNotNull().cast("long")).alias("n_base"),
        F.sum(is_upd.cast("long")).alias("n_updated"),
        F.sum(is_ins.cast("long")).alias("n_inserted"),
        F.sum(
            (F.col("base_cents").isNotNull() & F.col("op").isNull()).cast(
                "long"
            )
        ).alias("n_unchanged"),
        F.sum(F.coalesce(F.col("cents"), F.col("base_cents"))).alias(
            "cents_after"
        ),
        F.sum(F.coalesce(F.col("base_cents"), F.lit(0))).alias("cents_base"),
        F.sum(
            F.when(is_upd, F.col("cents") - F.col("base_cents")).otherwise(0)
        ).alias("bump_cents"),
        F.sum(F.when(is_ins, F.col("cents")).otherwise(0)).alias(
            "insert_cents"
        ),
    ).select(
        "rows_after",
        "n_base",
        "n_updated",
        "n_inserted",
        "n_unchanged",
        "cents_after",
        "bump_cents",
        "insert_cents",
        (
            F.col("cents_after")
            - F.col("cents_base")
            - F.col("bump_cents")
            - F.col("insert_cents")
        ).alias("merge_imbalance"),
    )


SQL_MERGE_UPSERT_AUDIT = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderdate AS d,
         CASE WHEN isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
), base AS (
  SELECT k, cents AS base_cents FROM o WHERE d < DATE '{_MU_CUTOFF}'
), delta AS (
  SELECT k, base_cents + base_cents // 20 AS cents, 'update' AS op
  FROM base WHERE k % 7 = 0
  UNION ALL
  SELECT k, cents, 'insert' AS op FROM o WHERE d >= DATE '{_MU_CUTOFF}'
), merged AS (
  SELECT base.base_cents, delta.cents, delta.op
  FROM base FULL OUTER JOIN delta USING (k)
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_after,
         CAST(sum(CASE WHEN base_cents IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_updated,
         CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inserted,
         CAST(sum(CASE WHEN base_cents IS NOT NULL AND op IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
         CAST(sum(coalesce(cents, base_cents)) AS BIGINT) AS cents_after,
         CAST(sum(coalesce(base_cents, 0)) AS BIGINT) AS cents_base,
         CAST(sum(CASE WHEN op = 'update' THEN cents - base_cents
                       ELSE 0 END) AS BIGINT) AS bump_cents,
         CAST(sum(CASE WHEN op = 'insert' THEN cents ELSE 0 END) AS BIGINT)
           AS insert_cents
  FROM merged
)
SELECT rows_after, n_base, n_updated, n_inserted, n_unchanged, cents_after,
       bump_cents, insert_cents,
       CAST(cents_after - cents_base - bump_cents - insert_cents AS BIGINT)
         AS merge_imbalance
FROM s
"""


# ---------------------------------------------------------------------------
# zorder_vs_linear_pruning — 2-D layout effectiveness, 64 files per layout
# ---------------------------------------------------------------------------

_ZV_FILES = 64
_ZV_BITS = 8
# rectangle predicate: a in [32, 95] (1/4 of the domain), b in [64, 191]
# (1/2) — expected joint selectivity 1/8 under independence
_ZV_A_LO, _ZV_A_HI = 32, 95
_ZV_B_LO, _ZV_B_HI = 64, 191


def _zv_interleave(a: str, b: str, div: str) -> str:
    """Bit-interleave z = ...b1a1b0a0 as pure integer arithmetic —
    identical text in both engines modulo the integer-division
    operator (Spark ``DIV``, DuckDB ``//``)."""
    terms = []
    for i in range(_ZV_BITS):
        terms.append(f"(({a} {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def q_zorder_vs_linear_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rows (layout ∈ {linear_a, linear_b, zorder}): the same
    orders rows binned into 64 equal-width files under each layout
    (linear = sorted by one column; zorder = sorted by the 16-bit
    interleaved z-value, files = ``z DIV 1024`` — closed-form, no
    global sort or row_number anywhere), per-file (min, max) zone maps
    on BOTH columns, then the fixed rectangle predicate costed against
    the zone maps.  ``rows_matched`` is layout-invariant (the oracle's
    cross-check); files_scanned / read amplification is where the
    layouts differ.  Group counts are bounded by 3 × 64 files at any
    corpus size."""
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    orders = _t(spark, sf_dir, "orders")
    # exact_cents: a non-finite price yields NULL b — the row lands in
    # the NULL zone-map file exactly like a NULL price always has,
    # instead of raising on the BIGINT cast (round-11 value-fuzz)
    ab = orders.select(
        (F.col("o_custkey") % 256).alias("a"),
        (exact_cents("o_totalprice") % 256).alias("b"),
    )
    width = 256 // _ZV_FILES  # 4
    stacked = ab.select(
        "a",
        "b",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear_a").alias("layout"),
                    F.expr(f"a DIV {width}").alias("f"),
                ),
                F.struct(
                    F.lit("linear_b").alias("layout"),
                    F.expr(f"b DIV {width}").alias("f"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    # integer DIV, matching the two linear layouts and the
                    # oracle's `//` — the float divide was exact only while
                    # z stayed within double's 2^53 integer range
                    F.expr(
                        f"({_zv_interleave('a', 'b', 'DIV')})"
                        f" DIV {65536 // _ZV_FILES}"
                    ).alias("f"),
                ),
            )
        ).alias("lf"),
    ).select("a", "b", F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"))
    hit = (
        F.col("a").between(_ZV_A_LO, _ZV_A_HI)
        & F.col("b").between(_ZV_B_LO, _ZV_B_HI)
    ).cast("long")
    zones = stacked.groupBy("layout", "f").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
        F.sum(hit).alias("n_match"),
    )
    overlap = ~(
        (F.col("max_a") < _ZV_A_LO)
        | (F.col("min_a") > _ZV_A_HI)
        | (F.col("max_b") < _ZV_B_LO)
        | (F.col("min_b") > _ZV_B_HI)
    )
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(overlap.cast("long")).alias("files_scanned"),
            F.sum("n").alias("rows_total"),
            F.sum(F.when(overlap, F.col("n")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_match").alias("rows_matched"),
        )
        .select(
            "layout",
            "files_total",
            "files_scanned",
            "rows_total",
            "rows_scanned",
            "rows_matched",
            F.round(
                F.lit(1.0) - F.col("files_scanned") / F.col("files_total"), 6
            ).alias("file_prune_ratio"),
            F.round(
                F.col("rows_scanned")
                / F.greatest(F.col("rows_matched"), F.lit(1)),
                4,
            ).alias("read_amplification"),
        )
        .orderBy("layout")
    )


SQL_ZORDER_VS_LINEAR_PRUNING = f"""
WITH ab AS (
  SELECT o_custkey % 256 AS a,
         CASE WHEN isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END % 256 AS b
  FROM orders
), stacked AS (
  SELECT a, b, 'linear_a' AS layout, a // {256 // _ZV_FILES} AS f FROM ab
  UNION ALL
  SELECT a, b, 'linear_b', b // {256 // _ZV_FILES} FROM ab
  UNION ALL
  SELECT a, b, 'zorder', {_zv_interleave("a", "b", "//")} // {65536 // _ZV_FILES}
  FROM ab
), zones AS (
  SELECT layout, f,
         CAST(count(*) AS BIGINT) AS n,
         min(a) AS min_a, max(a) AS max_a,
         min(b) AS min_b, max(b) AS max_b,
         CAST(sum(CASE WHEN a BETWEEN {_ZV_A_LO} AND {_ZV_A_HI}
                        AND b BETWEEN {_ZV_B_LO} AND {_ZV_B_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM stacked GROUP BY 1, 2
), costed AS (
  SELECT layout, n, n_match,
         NOT (max_a < {_ZV_A_LO} OR min_a > {_ZV_A_HI}
              OR max_b < {_ZV_B_LO} OR min_b > {_ZV_B_HI}) AS ov
  FROM zones
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS files_total,
       CAST(sum(CASE WHEN ov THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(n) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN ov THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       round(1.0 - sum(CASE WHEN ov THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS file_prune_ratio,
       round(sum(CASE WHEN ov THEN n ELSE 0 END) * 1.0
             / greatest(sum(n_match), 1), 4) AS read_amplification
FROM costed
GROUP BY 1
ORDER BY layout
"""


# ---------------------------------------------------------------------------
# jackknife_ratio_variance — delete-one-month jackknife of a ratio metric
# ---------------------------------------------------------------------------


def q_jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: revenue-per-order (cents) plus its delete-one-month
    jackknife mean and standard error.  Per-month (n, sum) partials
    are exact integers, so every leave-one-out ratio is the same IEEE
    double in both engines; the mean/SSQ folds run over the
    month-SORTED ratio array (engine-identical order).  Month count is
    calendar-bounded (~84), so the collected array is O(1) at any
    corpus size.  Returns zero rows when fewer than 2 months exist
    (no jackknife is defined).

    Complete-case on (o_orderdate, o_totalprice): a NULL month or an
    all-NULL-price month yields a NULL leave-one-out ratio that poisons
    Spark's in-row folds while DuckDB's list_sum skips it (round-8
    parity audit); a NaN/±Inf price raises on the cents cast in both
    engines (round-11 value-fuzz → money_case)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.col("o_orderdate").isNotNull()
    )
    g = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.count(F.lit(1)).alias("dd"),
    )
    arr = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "nn",
            "ss",
            "dd",
            F.struct(
                "month",
                (
                    (F.col("ss") - F.col("s"))
                    / (F.col("nn") - F.col("n"))
                ).alias("r"),
            ).alias("mr"),
        )
        .agg(
            F.max("nn").alias("nn"),
            F.max("ss").alias("ss"),
            F.max("dd").alias("dd"),
            F.sort_array(F.collect_list("mr")).alias("a"),
        )
        .select(
            "nn",
            "ss",
            F.col("dd").alias("n_months"),
            F.transform("a", lambda x: x["r"]).alias("xs"),
        )
    )
    withbar = arr.select(
        "nn",
        "ss",
        "n_months",
        "xs",
        (
            F.aggregate("xs", F.lit(0.0), lambda acc, x: acc + x)
            / F.col("n_months")
        ).alias("rbar"),
    )
    ssq = F.aggregate(
        "xs", F.lit(0.0), lambda acc, x: acc + (x - F.col("rbar")) ** 2
    )
    return (
        withbar.where(F.col("n_months") >= 2)
        .select(
            "n_months",
            F.round(F.col("ss") / F.col("nn"), 6).alias("ratio_full"),
            F.round("rbar", 6).alias("jk_mean"),
            F.round(
                F.sqrt(
                    (F.col("n_months") - 1) / F.col("n_months") * ssq
                ),
                6,
            ).alias("jk_se"),
        )
    )


SQL_JACKKNIFE_RATIO_VARIANCE = """
WITH g AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM orders
  WHERE o_orderdate IS NOT NULL AND (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16)
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
         CAST(count(*) AS BIGINT) AS dd
  FROM g
), arr AS (
  SELECT max(nn) AS nn, max(ss) AS ss, max(dd) AS n_months,
         list((ss - s) * 1.0 / (nn - n) ORDER BY month) AS xs
  FROM g, tot
  GROUP BY ()
), withbar AS (
  SELECT nn, ss, n_months, xs,
         list_sum(xs) / n_months AS rbar
  FROM arr
)
SELECT CAST(n_months AS BIGINT) AS n_months,
       round(ss * 1.0 / nn, 6) AS ratio_full,
       round(rbar, 6) AS jk_mean,
       round(sqrt((n_months - 1.0) / n_months
             * list_sum(list_transform(xs, x -> (x - rbar) * (x - rbar)))),
             6) AS jk_se
FROM withbar
WHERE n_months >= 2
"""


REGISTRY_EXT34: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "schema_evolution_union": (
        q_schema_evolution_union,
        SQL_SCHEMA_EVOLUTION_UNION,
    ),
    "merge_upsert_audit": (q_merge_upsert_audit, SQL_MERGE_UPSERT_AUDIT),
    "zorder_vs_linear_pruning": (
        q_zorder_vs_linear_pruning,
        SQL_ZORDER_VS_LINEAR_PRUNING,
    ),
    "jackknife_ratio_variance": (
        q_jackknife_ratio_variance,
        SQL_JACKKNIFE_RATIO_VARIANCE,
    ),
}
