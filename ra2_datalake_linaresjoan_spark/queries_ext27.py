"""Batch 27 (round 6): distribution-shift and process-statistics audits —
the monitoring layer a production corpus pipeline runs between ingests.

- ``js_divergence_splits`` — Jensen-Shannon divergence between the
  train and validation splits' language distributions (deterministic
  doc_id % 10 split): the symmetric, bounded [0, ln 2] drift number a
  split-health dashboard quotes. Lang-bounded aggregate; the float fold
  runs over a lang-sorted array so both engines sum in the same order.
- ``poisson_bootstrap_ci`` — distribution-free 90 % CI on the mean
  order value via the POISSON bootstrap: B = 40 deterministic
  replicates that reweight rows by a Poisson(1) draw from a two-step
  32-bit LCG seeded by (key, b) — the one-pass, mergeable bootstrap
  for data too large to resample by permutation (the published
  technique for bootstrapping massive datasets). Replicate 0 pins
  weight 1, so the exact mean and all replicates come from ONE scan +
  one (b)-keyed combine-enabled aggregate; replicate means are
  exact-integer ratios.
- ``acf_daily_events`` — autocorrelation of the daily event-count
  series at lags 1..7 (mean-centered, lag-0-normalized): the
  seasonality detector behind batch-size planning. Day-bounded: one
  (day → count) aggregate collapses to a single sorted array; all
  folds are in-row over ≤ n_days elements.
- ``neyman_allocation`` — Neyman-optimal allocation of a fixed
  1000-doc labeling budget across sources (n_h ∝ N_h·σ_h of doc
  length), resolved to exactly the budget by largest-remainder
  rounding: the survey-sampling design that minimizes estimator
  variance. Source-bounded moments; the denominator folds over a
  source-sorted array.
- ``gopher_quality_rules`` — a Gopher-style multi-rule quality gate
  (word-count range, mean word length, type-token ratio, stopword
  presence) reported per rule plus the any-rule union: the
  rule-attribution view a filter-tuning pass needs. Single scan, all
  rules in-row, all counts exact integers.
- ``holt_linear_forecast`` — Holt double-exponential (level + trend)
  one-step-ahead forecast of daily order revenue in exact cents input:
  the capacity-planning number. The recursion folds in-row over the
  day-sorted array (≤ n_days elements) with a (level, trend) struct
  accumulator seeded from the first observation — both engines execute
  the identical left-to-right float sequence.
- ``burstiness_fano`` — Fano factor (variance/mean of daily counts)
  and Goh–Barabási burstiness per event type: Poisson-ness check for
  arrival processes. Integer moment sums (Σn, Σn²) per type; floats
  only in the final closed forms.
- ``runs_test_revenue`` — Wald–Wolfowitz runs test on the signs of
  day-over-day revenue deltas: is the daily series random or trending?
  Integer runs/up/down counts from day-bounded lag windows; the z
  statistic is a closed form of three integers.
- ``simpson_source_diversity`` — Simpson diversity (1 - Σp²) and
  effective source count per language: concentration risk of the
  corpus mix (complements ``hhi_concentration`` which scores spend).
  (lang, source)-bounded aggregate; exact integer Σn².
- ``embedding_norm_topk`` — top-10 embedding L2 norms with labels:
  the norm-outlier screen run before cosine ANN (norm outliers break
  inner-product shortcuts). Scan + TakeOrderedAndProject on the
  6-dp-rounded norm with vec_id tie-break — no global sort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_words

from ra2_datalake_linaresjoan_spark.queries import _spread, _t


# ---------------------------------------------------------------------------
# js_divergence_splits — train/val language-distribution drift
# ---------------------------------------------------------------------------


def q_js_divergence_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: split sizes, language count, and the Jensen-Shannon
    divergence (nats) between the train (doc_id % 10 != 0) and val
    (doc_id % 10 == 0) language distributions. The fold covers the
    lang-sorted ≤ |langs| array only."""
    docs = _t(spark, sf_dir, "documents")
    is_val = F.col("doc_id") % 10 == 0
    by_lang = docs.groupBy("lang").agg(
        F.sum(F.when(~is_val, 1).otherwise(0)).cast("long").alias("n_tr"),
        F.sum(F.when(is_val, 1).otherwise(0)).cast("long").alias("n_va"),
    )
    tot = by_lang.agg(
        F.sum("n_tr").alias("t_tr"),
        F.sum("n_va").alias("t_va"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sort_array(F.collect_list(F.struct("lang", "n_tr", "n_va"))).alias(
            "a"
        ),
    )

    def term(x):
        p = x["n_tr"] / F.col("t_tr")
        q = x["n_va"] / F.col("t_va")
        m = (p + q) / F.lit(2.0)
        return F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
            q > 0, q * F.log(q / m)
        ).otherwise(F.lit(0.0))

    # an empty split (t_tr or t_va = 0) has no distribution to compare:
    # jsd is NULL on both engines (an unguarded divide throws under
    # ANSI Spark and returned NULL in DuckDB)
    jsd = F.when(
        (F.col("t_tr") > 0) & (F.col("t_va") > 0),
        F.aggregate("a", F.lit(0.0), lambda acc, x: acc + term(x))
        / F.lit(2.0),
    )
    return tot.select(
        F.col("t_tr").alias("n_train"),
        F.col("t_va").alias("n_val"),
        "n_langs",
        F.round(jsd, 6).alias("jsd_nats"),
    )


SQL_JS_DIVERGENCE_SPLITS = """
WITH by_lang AS (
  SELECT lang,
         CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
         CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_va
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_tr) AS BIGINT) AS t_tr,
         CAST(sum(n_va) AS BIGINT) AS t_va,
         CAST(count(*) AS BIGINT) AS n_langs,
         list(struct_pack(lang := lang, n_tr := n_tr, n_va := n_va)
              ORDER BY lang, n_tr, n_va) AS a
  FROM by_lang
)
SELECT t_tr AS n_train, t_va AS n_val, n_langs,
       CASE WHEN t_tr > 0 AND t_va > 0 THEN
       round(list_sum(list_transform(a, x ->
           (CASE WHEN x.n_tr > 0
                 THEN (x.n_tr * 1.0 / t_tr)
                      * ln((x.n_tr * 1.0 / t_tr)
                           / ((x.n_tr * 1.0 / t_tr + x.n_va * 1.0 / t_va) / 2.0))
                 ELSE 0.0 END)
         + (CASE WHEN x.n_va > 0
                 THEN (x.n_va * 1.0 / t_va)
                      * ln((x.n_va * 1.0 / t_va)
                           / ((x.n_tr * 1.0 / t_tr + x.n_va * 1.0 / t_va) / 2.0))
                 ELSE 0.0 END))) / 2.0, 6) END AS jsd_nats
FROM tot
"""


# ---------------------------------------------------------------------------
# poisson_bootstrap_ci — one-pass distribution-free CI on the mean
# ---------------------------------------------------------------------------

_PB_B = 40
#: Two-step 32-bit LCG (Numerical Recipes): the deterministic uniform
#: stream behind the bootstrap weights — exact int64 arithmetic in both
#: engines (every intermediate < 2^53), fully inside codegen.
_PB_M32 = 4_294_967_296
_PB_A = 1_664_525
_PB_C = 1_013_904_223
#: Poisson(1) CDF cut points — the inverse-CDF table that turns a
#: deterministic 16-bit uniform into a bootstrap resample weight.
#: Weights > 7 are truncated (mass 1e-5).
_PB_CUMS = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
#: The comparison actually executed (both engines): the uniform is a
#: 16-bit integer u16 (the LCG's top 16 bits), and u16/65536 >= c  ⇔
#: u16 >= ceil(c·65536) (no cut point is an exact multiple of 2^-16), so
#: the whole inverse CDF is 7 INTEGER comparisons — no division, no float
#: anywhere, bit-identical by construction. 16-bit resolution shifts each
#: weight probability by < 2^-16 — noise for a 40-replicate percentile CI.
_PB_CUTS16 = tuple(int(-(-c * 65536 // 1)) for c in _PB_CUMS)
assert all(0 < t < 65536 for t in _PB_CUTS16)


def _pb_u16(key, b):
    """The deterministic 16-bit uniform for (row key, replicate b): two
    32-bit LCG steps (Numerical Recipes a = 1664525, c = 1013904223)
    seeded by (key mod 2^32, b), top 16 bits of the second state.  Exact
    int64 arithmetic (every intermediate < 2^53), so DuckDB reproduces
    it exactly; shared by ``q_poisson_bootstrap_ci`` and
    ``tools/scale_probe.py`` so the probe measures the shipped kernel.

    Statistical trade-off (recorded deliberately): the stage-1 seeds are
    affinely spaced across replicates b and adjacent keys, so replicate
    weights are lattice-correlated — each weight is still marginally
    Poisson(1) (pinned against a pure-Python reference in
    test_round11_fixes.py), but the JOINT stream is weaker than the md5
    stream it replaced, which can slightly bias bootstrap CI coverage.
    Accepted for the measured 2x win (3.04 -> 1.57 s at sf0.1): a
    40-replicate percentile CI's own Monte Carlo error dominates any
    lattice effect.  If CI fidelity ever matters more, add a xorshift/
    murmur finalizer on state 2 IN BOTH ENGINES and re-pin."""
    km = F.pmod(key.cast("long"), F.lit(_PB_M32))
    bl = b.cast("long")
    s1 = F.pmod(km * _PB_A + bl * _PB_C + 12345, F.lit(_PB_M32))
    s2 = F.pmod(s1 * _PB_A + _PB_C, F.lit(_PB_M32))
    # s2 / 65536 is division by a power of two of a value < 2^32 —
    # exact in IEEE double, so floor is the true top-16-bit shift
    return F.floor(s2 / F.lit(65536)).cast("long")


def _pb_w_of(u16):
    """Branchless inverse CDF: the weight IS the number of cumulative
    16-bit cuts at or below the integer uniform, so a sum of 7 integer
    comparisons replaces a 7-deep nested CASE — and the identical
    expression shape runs in the oracle."""
    w = F.lit(0).cast("long")
    for c in _PB_CUTS16:
        w = w + (u16 >= F.lit(c)).cast("long")
    return w


def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: exact mean order value (cents) and a 90 % Poisson-
    bootstrap percentile CI from B = 40 deterministic replicates — the
    one-pass, merge-friendly bootstrap for data too large to resample
    by permutation (each replicate reweights rows by an independent
    Poisson(1) draw instead of drawing n rows with replacement).

    Determinism: replicate b draws its weight from ``_pb_u16`` (a
    two-step 32-bit LCG seeded by (orderkey, b), exact int64 in both
    engines), and the inverse CDF runs as 7 integer comparisons against
    precomputed 16-bit cuts (``_PB_CUTS16``) — no float, no division.
    Replicate b = 0 pins weight 1 (the actual sample), so the exact mean
    and all 40 replicate means come from ONE scan and ONE (b)-keyed
    aggregate with map-side combine; replicate means are exact-integer
    ratios (Σw·cents / Σw), so the sorted pick of ranks 2 and 38
    (nearest-rank p05/p95 of 40) is engine-identical.

    Complete-case on (o_orderkey, o_totalprice) in lockstep with the
    oracle: a NULL key has no md5 weight stream, a NULL price adds
    weight to a replicate's denominator but nothing to its numerator,
    skewing replicate means differently per engine (round-8 audit),
    and a NaN/±Inf price raises on the cents cast in both engines
    (round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.col("o_orderkey").isNotNull()
    )
    # The replicate fan-out multiplies per-row CPU ~40x, so a small
    # single-file input would run the whole job on one task (measured:
    # the entire 8-9 s sf0.1 cost was one core doing the md5s). This was
    # the first instance of the scan-width guard, now shared as _spread
    # (see its docstring and SCALE.md's A/B study); on a real cluster
    # the input already has >= cores partitions and it no-ops.
    orders = _spread(spark, orders)
    # Round-14 rewrite of the fan-out (guide §4.1 "prefer built-ins with
    # codegen" applied to the EXPRESSION layer): the previous shape built
    # the 41 (b, w) structs with F.transform and exploded the array.
    # Two measured problems: (a) higher-order lambdas are evaluated
    # INTERPRETED (one boxed closure call per element — 6.2 M structs at
    # sf0.1, each evaluating ~7×15 expression nodes), outside
    # whole-stage codegen entirely; (b) Catalyst does no CSE inside
    # lambda bodies, so the 7 branchless-CDF comparisons each re-ran the
    # full two-step LCG — the uniform was computed SEVEN times per
    # replicate.  Exploding a plain sequence(0..B) and computing w in
    # flat projections fixes both: Generate(explode(sequence)) and the
    # projections are codegen'd, and the u16 uniform lands in its own
    # projection so the 7 comparisons read one attribute (CollapseProject
    # keeps a multiply-referenced non-cheap expression materialized; WSCG
    # additionally CSEs).  Value-identical by construction: the same
    # integer formula runs per (key, b), b = 0 pins weight 1 via the
    # same when(), and the groupBy(b) ignores row order.
    u16 = _pb_u16(F.col("o_orderkey"), F.col("b"))
    rep = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
            F.explode(F.sequence(F.lit(0), F.lit(_PB_B))).alias("b"),
        )
        .select("cents", "b", u16.alias("u16"))
        .select(
            "b",
            F.when(F.col("b") == 0, F.lit(1).cast("long"))
            .otherwise(_pb_w_of(F.col("u16")))
            .alias("w"),
            "cents",
        )
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        # sw = 0 (a replicate whose Poisson weights all drew 0 — near
        # certain on tiny inputs): the replicate has NO resample and is
        # EXCLUDED on both engines; an unguarded divide throws under
        # ANSI Spark and silently yielded NULL in DuckDB, and the two
        # engines then disagreed on whether ms kept the NULL
        .where(F.col("sw") > 0)
        .select("b", (F.col("swx") / F.col("sw")).alias("mean_b"))
    )
    agg = rep.agg(
        F.max(F.when(F.col("b") == 0, F.col("mean_b"))).alias("mean_exact"),
        F.array_sort(
            F.collect_list(F.when(F.col("b") > 0, F.col("mean_b")))
        ).alias("ms"),
    )
    # try_element_at: on an EMPTY orders table ms is [], and under ANSI
    # mode a plain element_at throws instead of yielding NULL — the
    # degenerate-partition behavior the oracle (NULL from ms[2]) pins.
    return agg.select(
        F.round("mean_exact", 4).alias("mean_cents"),
        F.round(F.try_element_at("ms", F.lit(2)), 4).alias("ci_lo_cents"),
        F.round(F.try_element_at("ms", F.lit(38)), 4).alias("ci_hi_cents"),
        F.size("ms").alias("n_boot"),
    )


def _pb_weight_sql(u_expr: str) -> str:
    terms = " + ".join(
        f"CAST({u_expr} >= {c} AS BIGINT)" for c in _PB_CUTS16
    )
    return f"({terms})"


_PB_U_SQL = (
    f"((((((o_orderkey % {_PB_M32}) + {_PB_M32}) % {_PB_M32})"
    f" * {_PB_A} + b * {_PB_C} + 12345) % {_PB_M32})"
    f" * {_PB_A} + {_PB_C}) % {_PB_M32} // 65536"
)

SQL_POISSON_BOOTSTRAP_CI = f"""
WITH hexed AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         list_prepend(
           struct_pack(b := CAST(0 AS BIGINT), w := CAST(1 AS BIGINT)),
           list_transform(range(1, {_PB_B + 1}), b -> struct_pack(
                    b := CAST(b AS BIGINT),
                    w := {_pb_weight_sql(_PB_U_SQL)}))) AS ws
  FROM orders
  WHERE o_orderkey IS NOT NULL AND (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16)
), weighted AS (
  SELECT cents, u.b AS b, u.w AS w
  FROM (SELECT cents, unnest(ws) AS u FROM hexed)
), rep AS (
  SELECT b,
         CAST(sum(w * cents) AS BIGINT) * 1.0 / CAST(sum(w) AS BIGINT) AS mean_b
  FROM weighted GROUP BY b
  HAVING sum(w) > 0
), agg AS (
  SELECT max(CASE WHEN b = 0 THEN mean_b END) AS mean_exact,
         coalesce(list(mean_b ORDER BY mean_b) FILTER (b > 0), []) AS ms
  FROM rep
)
SELECT round(mean_exact, 4) AS mean_cents,
       round(ms[2], 4) AS ci_lo_cents,
       round(ms[38], 4) AS ci_hi_cents,
       CAST(len(ms) AS INT) AS n_boot
FROM agg
"""


# ---------------------------------------------------------------------------
# acf_daily_events — autocorrelation of the daily event-count series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def q_acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows (lag 1..7): autocorrelation of daily total event counts,
    mean-centered and normalized by the lag-0 sum of squares. The whole
    series collapses to one day-sorted array; every fold is in-row over
    ≤ n_days elements, executed left-to-right identically on both
    engines. NULL-ts rows are filtered in LOCKSTEP (round-9 review):
    the NULL day group otherwise enters the series FIRST in Spark's
    sort_array but LAST in DuckDB's ORDER BY day, autocorrelating two
    differently-ordered series."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    arr = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("total"),
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("a"),
    ).select(
        "n_days",
        F.transform("a", lambda x: x["n"].cast("double")).alias("xs"),
        (F.col("total") / F.col("n_days")).alias("mean"),
    )
    centered = arr.select(
        "n_days",
        F.transform("xs", lambda x: x - F.col("mean")).alias("c"),
    )
    denom = F.aggregate("c", F.lit(0.0), lambda acc, x: acc + x * x)
    # n_days < 2 → no computable lags; filter BEFORE the explode, because
    # Spark's sequence(1, n_days - 1) would otherwise generate a
    # DESCENDING sequence (step -1) and emit bogus lag rows
    lags = centered.filter(F.col("n_days") >= 2).select(
        "n_days",
        "c",
        denom.alias("denom"),
        F.explode(
            F.sequence(F.lit(1), F.least(F.lit(_ACF_MAX_LAG), F.col("n_days") - 1))
        ).alias("lag"),
    )
    num = F.aggregate(
        F.zip_with(
            F.slice("c", 1, F.size("c") - F.col("lag")),
            F.slice("c", F.col("lag") + 1, F.size("c") - F.col("lag")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # a CONSTANT daily series has denom = 0 (no variance): acf is NULL
    # on both engines — the unguarded divide threw under ANSI Spark
    return lags.select(
        "lag",
        "n_days",
        F.round(
            F.when(F.col("denom") != 0.0, num / F.col("denom")), 6
        ).alias("acf"),
    ).orderBy("lag")


SQL_ACF_DAILY_EVENTS = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), arr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS total,
         list(CAST(n AS DOUBLE) ORDER BY day) AS xs
  FROM daily
), centered AS (
  SELECT n_days,
         list_transform(xs, x -> x - total * 1.0 / n_days) AS c
  FROM arr
), denom AS (
  SELECT n_days, c,
         list_sum(list_transform(c, x -> x * x)) AS denom
  FROM centered
), lags AS (
  SELECT n_days, c, denom, unnest(range(1, least({_ACF_MAX_LAG}, n_days - 1) + 1)) AS lag
  FROM denom
)
SELECT CAST(lag AS INT) AS lag, n_days,
       round(CASE WHEN denom <> 0
             THEN list_sum(list_transform(range(1, CAST(len(c) - lag AS INT) + 1),
                 i -> c[i] * c[i + lag])) / denom END, 6) AS acf
FROM lags
ORDER BY lag
"""


# ---------------------------------------------------------------------------
# dup_cluster_size_dist — duplicate-cluster size histogram
# ---------------------------------------------------------------------------


_NEY_BUDGET = 1000


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows (source): Neyman-optimal allocation of a 1000-doc QA-review
    sample across sources — n_h ∝ N_h·σ_h (stratum size × doc-length
    std dev), the design that minimizes the estimator variance for a
    fixed labeling budget. The fractional allocations are resolved to
    EXACTLY the budget by largest-remainder rounding (remainder desc,
    source asc).

    Parity: per-source moments are exact integers; σ and the shares are
    correctly-rounded IEEE ops; the Σ N_h·σ_h denominator folds over a
    source-sorted array so both engines sum in the same order; floor /
    remainder / rank are then engine-identical. The per-source table is
    localCheckpointed — one corpus scan feeds the denominator, the
    ranking, and the output."""
    docs = _t(spark, sf_dir, "documents")
    m = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
        )
        .localCheckpoint()
    )
    mean = F.col("s1") / F.col("n_docs")
    sigma = F.sqrt(F.col("s2") / F.col("n_docs") - mean * mean)
    m2 = m.select("source", "n_docs", sigma.alias("sigma"),
                  (F.col("n_docs") * sigma).alias("a"))
    tot = m2.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "a"))),
            F.lit(0.0),
            lambda acc, x: acc + x["a"],
        ).alias("denom")
    )
    # denom = 0 when EVERY source has constant doc length (all sigma 0
    # — e.g. the identical-docs adversarial corpus): no variance-based
    # allocation exists, raw is NULL on both engines (the unguarded
    # divide threw under ANSI Spark)
    j = m2.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sigma",
        F.when(
            F.col("denom") != 0.0,
            F.lit(_NEY_BUDGET) * F.col("a") / F.col("denom"),
        ).alias("raw"),
    )
    j = j.select(
        "source",
        "n_docs",
        "sigma",
        F.floor("raw").cast("long").alias("base"),
        (F.col("raw") - F.floor("raw")).alias("frac"),
        (F.col("raw") / F.lit(float(_NEY_BUDGET))).alias("share"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy(F.desc("frac"), "source")
    return (
        j.select(
            "source",
            "n_docs",
            "sigma",
            "base",
            "share",
            (F.lit(_NEY_BUDGET) - F.sum("base").over(w_all)).alias("left"),
            F.row_number().over(w_rank).alias("rk"),
        )
        .select(
            "source",
            "n_docs",
            F.round("sigma", 4).alias("sigma_chars"),
            (F.col("base") + (F.col("rk") <= F.col("left")).cast("long")).alias(
                "alloc"
            ),
            F.round("share", 6).alias("share"),
        )
        .orderBy("source")
    )


SQL_NEYMAN_ALLOCATION = f"""
WITH m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY 1
), m2 AS (
  SELECT source, n_docs,
         sqrt(s2 * 1.0 / n_docs - (s1 * 1.0 / n_docs) * (s1 * 1.0 / n_docs))
           AS sigma,
         n_docs * sqrt(s2 * 1.0 / n_docs
                       - (s1 * 1.0 / n_docs) * (s1 * 1.0 / n_docs)) AS a
  FROM m
), tot AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(a ORDER BY source, a)),
                     (acc, x) -> acc + x) AS denom
  FROM m2
), j AS (
  SELECT source, n_docs, sigma,
         CASE WHEN denom <> 0 THEN {_NEY_BUDGET} * a / denom END AS raw
  FROM m2 CROSS JOIN tot
), k AS (
  SELECT source, n_docs, sigma,
         CAST(floor(raw) AS BIGINT) AS base,
         raw - floor(raw) AS frac,
         raw / {float(_NEY_BUDGET)!r} AS share
  FROM j
)
SELECT source, n_docs, round(sigma, 4) AS sigma_chars,
       CAST(base + (CASE WHEN row_number() OVER (ORDER BY frac DESC, source)
                              <= {_NEY_BUDGET} - CAST(sum(base)
                                  OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS alloc,
       round(share, 6) AS share
FROM k
ORDER BY source
"""


# ---------------------------------------------------------------------------
# gopher_quality_rules — multi-rule quality gate attribution
# ---------------------------------------------------------------------------

_GQ_MIN_WORDS = 30
_GQ_MAX_WORDS = 100_000
_GQ_MIN_WL = 2.5
_GQ_MAX_WL = 8.0
_GQ_MIN_TTR = 0.3
_GQ_STOPWORDS = ("the", "a", "of", "and")


def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows (rule + the any-rule union): docs failing each quality rule
    and the fail rate — the attribution a filter-tuning pass reads.
    Word stats are in-row (the words array is projected ONCE, flags
    derive from it in a second select); counts are exact integers; the
    float thresholds compare exact-integer ratios, identical on both
    engines."""
    docs = _t(spark, sf_dir, "documents")
    # coalesce: a NULL-text doc has ZERO words and must FAIL the
    # word-count rule — unfixed, every flag evaluated NULL and the doc
    # silently passed the whole gate on both engines, deflating rates
    words = docs.select(
        F.filter(
            ascii_words(F.coalesce(F.col("text"), F.lit(""))),
            lambda x: x != "",
        ).alias("w")
    )
    stats = words.select(
        F.size("w").alias("wc"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("chars"),
        F.size(F.array_distinct("w")).alias("uniq"),
        F.size(
            F.array_intersect("w", F.array(*[F.lit(s) for s in _GQ_STOPWORDS]))
        ).alias("n_stop"),
    )
    flags = stats.select(
        (
            (F.col("wc") < _GQ_MIN_WORDS) | (F.col("wc") > _GQ_MAX_WORDS)
        ).alias("f_wc"),
        (
            (F.col("chars") < F.lit(_GQ_MIN_WL) * F.col("wc"))
            | (F.col("chars") > F.lit(_GQ_MAX_WL) * F.col("wc"))
        ).alias("f_wl"),
        (F.col("uniq") < F.lit(_GQ_MIN_TTR) * F.col("wc")).alias("f_ttr"),
        (F.col("n_stop") == 0).alias("f_stop"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("f_wc").cast("long")).alias("word_count_range"),
        F.sum(F.col("f_wl").cast("long")).alias("mean_word_length"),
        F.sum(F.col("f_ttr").cast("long")).alias("type_token_ratio"),
        F.sum(F.col("f_stop").cast("long")).alias("stopword_presence"),
        F.sum(
            (F.col("f_wc") | F.col("f_wl") | F.col("f_ttr") | F.col("f_stop"))
            .cast("long")
        ).alias("any_rule"),
    )
    pairs = [
        ("word_count_range", "word_count_range"),
        ("mean_word_length", "mean_word_length"),
        ("type_token_ratio", "type_token_ratio"),
        ("stopword_presence", "stopword_presence"),
        ("any_rule", "any_rule"),
    ]
    stacked = agg.select(
        "n_docs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"), F.col(col).alias("n_fail")
                    )
                    for name, col in pairs
                ]
            )
        ).alias("r"),
    )
    return stacked.select(
        F.col("r.rule").alias("rule"),
        "n_docs",
        F.col("r.n_fail").alias("n_fail"),
        F.round(F.col("r.n_fail") / F.col("n_docs"), 6).alias("fail_rate"),
    ).orderBy("rule")


SQL_GOPHER_QUALITY_RULES = f"""
WITH words AS (
  SELECT list_filter(regexp_split_to_array(translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                                           '[^a-z]+'),
                     x -> x <> '') AS w
  FROM documents
), stats AS (
  SELECT len(w) AS wc,
         CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT)
           AS chars,
         len(list_distinct(w)) AS uniq,
         len(list_intersect(w, {list(_GQ_STOPWORDS)!r})) AS n_stop
  FROM words
), flags AS (
  SELECT (wc < {_GQ_MIN_WORDS} OR wc > {_GQ_MAX_WORDS}) AS f_wc,
         (chars < {_GQ_MIN_WL} * wc OR chars > {_GQ_MAX_WL} * wc) AS f_wl,
         (uniq < {_GQ_MIN_TTR} * wc) AS f_ttr,
         (n_stop = 0) AS f_stop
  FROM stats
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS word_count_range,
         CAST(sum(CASE WHEN f_wl THEN 1 ELSE 0 END) AS BIGINT) AS mean_word_length,
         CAST(sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS type_token_ratio,
         CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS stopword_presence,
         CAST(sum(CASE WHEN f_wc OR f_wl OR f_ttr OR f_stop THEN 1 ELSE 0 END)
              AS BIGINT) AS any_rule
  FROM flags
), stacked AS (
  SELECT 'word_count_range' AS rule, n_docs, word_count_range AS n_fail FROM agg
  UNION ALL
  SELECT 'mean_word_length', n_docs, mean_word_length FROM agg
  UNION ALL
  SELECT 'type_token_ratio', n_docs, type_token_ratio FROM agg
  UNION ALL
  SELECT 'stopword_presence', n_docs, stopword_presence FROM agg
  UNION ALL
  SELECT 'any_rule', n_docs, any_rule FROM agg
)
SELECT rule, n_docs, n_fail, round(n_fail * 1.0 / n_docs, 6) AS fail_rate
FROM stacked
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# holt_linear_forecast — level+trend one-step revenue forecast
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3


def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: days observed, final Holt level and trend, and the
    one-step-ahead daily-revenue forecast (cents input, 2-dp output).
    The recursion folds over the day-sorted aggregate (≤ n_days
    structs) seeded from the first observation (level = x₀, trend = 0)
    — the same left-to-right float sequence both engines execute, and
    the init convention DuckDB's ``list_reduce`` imposes.

    Complete-case in LOCKSTEP with the oracle: a NULL day sorts first in
    Spark's sort_array but last under DuckDB's row_number ordering
    (flipping the fold seed), an all-NULL-price day would poison the
    recursion with NULL, and a NaN/±Inf price raises on the cents cast
    in both engines (round-11 value-fuzz). Identical on clean data."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    arr = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sort_array(F.collect_list(F.struct("day", "cents"))).alias("a"),
    ).select(
        "n_days",
        F.transform(
            "a",
            lambda x: F.struct(
                x["cents"].cast("double").alias("l"), F.lit(0.0).alias("b")
            ),
        ).alias("obs"),
    )

    def step(acc, x):
        new_l = (
            F.lit(_HOLT_ALPHA) * x["l"]
            + F.lit(1.0 - _HOLT_ALPHA) * (acc["l"] + acc["b"])
        )
        new_b = (
            F.lit(_HOLT_BETA)
            * (
                F.lit(_HOLT_ALPHA) * x["l"]
                + F.lit(1.0 - _HOLT_ALPHA) * (acc["l"] + acc["b"])
                - acc["l"]
            )
            + F.lit(1.0 - _HOLT_BETA) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    # n_days >= 1 guard: on an EMPTY orders table element_at(obs, 1)
    # throws under ANSI, and the oracle's recursive CTE cross join
    # yields 0 rows — both engines now return 0 rows
    fitted = arr.where(F.col("n_days") >= 1).select(
        "n_days",
        F.aggregate(
            F.slice("obs", 2, F.greatest(F.size("obs") - 1, F.lit(0))),
            F.element_at("obs", 1),
            step,
        ).alias("st"),
    )
    return fitted.select(
        "n_days",
        F.round(F.col("st.l"), 2).alias("level_cents"),
        F.round(F.col("st.b"), 2).alias("trend_cents"),
        F.round(F.col("st.l") + F.col("st.b"), 2).alias("forecast_cents"),
    )


# NOTE: the obvious list_reduce-with-struct-accumulator oracle is NOT used
# because DuckDB 1.0's list_reduce mis-evaluates the second struct field of
# the accumulator (verified: fold over [{10,0},{20,0},{40,0}] returns
# b=3.0375 where the hand trace — and Spark's F.aggregate — gives b=5.025).
# A recursive CTE executes the identical left-to-right float sequence one
# row per day instead.
SQL_HOLT_LINEAR_FORECAST = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL AND (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16)
  GROUP BY 1
), idx AS (
  SELECT row_number() OVER (ORDER BY day) AS i, CAST(cents AS DOUBLE) AS x
  FROM daily
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx
), rec AS (
  SELECT i, x AS l, CAST(0.0 AS DOUBLE) AS b FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.i,
         {_HOLT_ALPHA} * idx.x + {1.0 - _HOLT_ALPHA} * (rec.l + rec.b),
         {_HOLT_BETA} * ({_HOLT_ALPHA} * idx.x
                         + {1.0 - _HOLT_ALPHA} * (rec.l + rec.b) - rec.l)
           + {1.0 - _HOLT_BETA} * rec.b
  FROM rec JOIN idx ON idx.i = rec.i + 1
), last AS (
  SELECT l, b FROM rec ORDER BY i DESC LIMIT 1
)
SELECT n_days,
       round(l, 2) AS level_cents,
       round(b, 2) AS trend_cents,
       round(l + b, 2) AS forecast_cents
FROM nd CROSS JOIN last
"""


# ---------------------------------------------------------------------------
# burstiness_fano — arrival-process dispersion per event type
# ---------------------------------------------------------------------------


def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows (event type): Fano factor (population var / mean of daily
    counts) and Goh–Barabási burstiness (σ-μ)/(σ+μ). Integer moment
    sums per type; floats only in the final closed forms."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days")
    var = F.col("s2") / F.col("n_days") - mean * mean
    sigma = F.sqrt(var)
    return m.select(
        "event_type",
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var / mean, 6).alias("fano"),
        F.round((sigma - mean) / (sigma + mean), 6).alias("burstiness"),
    ).orderBy("event_type")


SQL_BURSTINESS_FANO = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
  FROM daily GROUP BY 1
)
SELECT event_type, n_days,
       round(s1 * 1.0 / n_days, 6) AS mean_daily,
       round((s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days))
             / (s1 * 1.0 / n_days), 6) AS fano,
       round((sqrt(s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days))
              - s1 * 1.0 / n_days)
             / (sqrt(s2 * 1.0 / n_days - (s1 * 1.0 / n_days) * (s1 * 1.0 / n_days))
                + s1 * 1.0 / n_days), 6) AS burstiness
FROM m
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# runs_test_revenue — Wald–Wolfowitz randomness test on daily deltas
# ---------------------------------------------------------------------------


def q_runs_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: up-days, down-days, observed runs of same-sign
    day-over-day revenue deltas, expected runs, and the z statistic.
    Exact integer counts from day-bounded lag windows; z is a closed
    form of (n_up, n_down, n_runs). Complete-case on
    (o_orderdate, o_totalprice) in LOCKSTEP (round-9 review): the NULL
    day group otherwise contributes a delta sign at opposite ends of
    the series per engine (Spark windows order NULLS FIRST, DuckDB
    NULLS LAST) — the same class holt_linear_forecast filters, extended
    to finite prices (the cents cast raises on NaN/±Inf in both
    engines — round-11 value-fuzz)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    orders = money_case(_t(spark, sf_dir, "orders"), "o_totalprice").where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    w = Window.orderBy("day")
    signs = (
        daily.withColumn("prev", F.lag("cents").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("cents") != F.col("prev")))
        .select(
            "day",
            F.when(F.col("cents") > F.col("prev"), 1).otherwise(-1).alias(
                "sgn"
            ),
        )
    )
    runs = signs.withColumn("prev_sgn", F.lag("sgn").over(w)).select(
        "sgn",
        (
            F.col("prev_sgn").isNull() | (F.col("sgn") != F.col("prev_sgn"))
        ).cast("long").alias("new_run"),
    )
    agg = runs.agg(
        F.sum((F.col("sgn") == 1).cast("long")).alias("n_up"),
        F.sum((F.col("sgn") == -1).cast("long")).alias("n_down"),
        F.sum("new_run").alias("n_runs"),
    )
    n1, n2, r = F.col("n_up"), F.col("n_down"), F.col("n_runs")
    n = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / n + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (n * n * (n - F.lit(1)))
    )
    # a MONOTONE series (n_up or n_down = 0, a perfectly plausible
    # input) has var = 0 and the z statistic is undefined — NULL on
    # both engines instead of an ANSI divide-by-zero crash; same for
    # n <= 1 where the var denominator itself is 0
    defined = (n1 > 0) & (n2 > 0) & (n > 1)
    return agg.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round(F.when(n > 0, mu), 4).alias("expected_runs"),
        F.round(F.when(defined, (r - mu) / F.sqrt(var)), 4).alias("z_stat"),
    )


SQL_RUNS_TEST_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate IS NOT NULL AND (isfinite(o_totalprice) AND abs(o_totalprice) < 9.2e16)
  GROUP BY 1
), signs AS (
  SELECT day,
         CASE WHEN cents > prev THEN 1 ELSE -1 END AS sgn
  FROM (SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev FROM daily)
  WHERE prev IS NOT NULL AND cents <> prev
), runs AS (
  SELECT sgn,
         CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                OR sgn <> lag(sgn) OVER (ORDER BY day)
              THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n_up, n_down, n_runs,
       round(CASE WHEN n_up + n_down > 0
             THEN 2.0 * n_up * n_down / (n_up + n_down) + 1.0 END, 4)
         AS expected_runs,
       round(CASE WHEN n_up > 0 AND n_down > 0 AND n_up + n_down > 1
             THEN (n_runs - (2.0 * n_up * n_down / (n_up + n_down) + 1.0))
             / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
                    / ((n_up + n_down) * (n_up + n_down) * 1.0
                       * (n_up + n_down - 1))) END, 4) AS z_stat
FROM agg
"""


# ---------------------------------------------------------------------------
# simpson_source_diversity — corpus-mix concentration per language
# ---------------------------------------------------------------------------


def q_simpson_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows (lang): Simpson diversity 1 - Σp² over sources and the
    effective number of sources N²/Σn² — concentration risk of the
    corpus mix. (lang, source)-bounded aggregate; exact integer Σn²."""
    docs = _t(spark, sf_dir, "documents")
    by = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    m = by.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n").alias("n_docs"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    return m.select(
        "lang",
        "n_sources",
        "n_docs",
        F.round(
            F.lit(1.0) - F.col("s2") / (F.col("n_docs") * F.col("n_docs")),
            6,
        ).alias("simpson"),
        F.round(
            F.col("n_docs") * F.col("n_docs") / F.col("s2"), 6
        ).alias("effective_sources"),
    ).orderBy("lang")


SQL_SIMPSON_SOURCE_DIVERSITY = """
WITH by_ls AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
), m AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM by_ls GROUP BY 1
)
SELECT lang, n_sources, n_docs,
       round(1.0 - s2 * 1.0 / (n_docs * n_docs), 6) AS simpson,
       round(n_docs * n_docs * 1.0 / s2, 6) AS effective_sources
FROM m
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# embedding_norm_topk — norm-outlier screen
# ---------------------------------------------------------------------------


def q_embedding_norm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 vectors by L2 norm (6-dp rounded, vec_id tie-break) with
    labels — the outlier screen run before inner-product ANN. Scan +
    TakeOrderedAndProject; the square fold runs in array order on both
    engines. Dirty-vector guard in LOCKSTEP (round-9 review): a NULL or
    interior-NULL vector has no defined norm — Spark's fold yields NULL
    (sorted out of the top-10) while DuckDB's list_sum SKIPS the NULL
    element and ranks a partial norm. Zero-norm vectors stay: norm 0.0
    is a real, identical value on both engines."""
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        emb.select("vec_id", "label", F.round(norm, 6).alias("l2_norm"))
        .orderBy(F.desc("l2_norm"), "vec_id")
        .limit(10)
    )


# coalesce below: DuckDB's list_sum over an EMPTY array is NULL while
# Spark's 0.0-seeded fold gives 0.0 -- a zero-length embedding must norm
# to 0.0 identically on both engines
SQL_EMBEDDING_NORM_TOPK = """
SELECT vec_id, label,
       round(sqrt(coalesce(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)), 6)
         AS l2_norm
FROM embeddings
WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
  AND len(list_filter(embedding, x -> x IS NULL)) = 0
ORDER BY l2_norm DESC, vec_id
LIMIT 10
"""


REGISTRY_EXT27: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "js_divergence_splits": (q_js_divergence_splits, SQL_JS_DIVERGENCE_SPLITS),
    "poisson_bootstrap_ci": (q_poisson_bootstrap_ci, SQL_POISSON_BOOTSTRAP_CI),
    "acf_daily_events": (q_acf_daily_events, SQL_ACF_DAILY_EVENTS),
    "neyman_allocation": (q_neyman_allocation, SQL_NEYMAN_ALLOCATION),
    "gopher_quality_rules": (q_gopher_quality_rules, SQL_GOPHER_QUALITY_RULES),
    "holt_linear_forecast": (q_holt_linear_forecast, SQL_HOLT_LINEAR_FORECAST),
    "burstiness_fano": (q_burstiness_fano, SQL_BURSTINESS_FANO),
    "runs_test_revenue": (q_runs_test_revenue, SQL_RUNS_TEST_REVENUE),
    "simpson_source_diversity": (
        q_simpson_source_diversity,
        SQL_SIMPSON_SOURCE_DIVERSITY,
    ),
    "embedding_norm_topk": (q_embedding_norm_topk, SQL_EMBEDDING_NORM_TOPK),
}
