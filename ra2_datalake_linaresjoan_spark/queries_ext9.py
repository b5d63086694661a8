"""Relational / time-series queries, batch 9 (round 3 continuation):
OHLC downsampling, linear gap interpolation, Markov transition matrices,
a k-anonymity privacy audit, Z-order layout statistics, trailing-window
anomaly flags, and a sparse matrix multiply.

Scale notes (the theme of this batch is "exact parity without float
traps"):

- ``ohlc_bars`` / ``linear_interp_gaps`` select STORED doubles (min_by /
  max / first-ignorenulls) rather than summing them, so values are
  bit-identical across engines without rounding; only the interpolation
  arithmetic — a single in-row IEEE expression evaluated identically by
  both engines — is rounded (6 dp) for belt-and-braces.
- ``event_rate_anomaly`` computes mean/std from INTEGER window sums
  (sum, sum-of-squares, count are exact BIGINTs; the float division and
  ``sqrt`` are in-row and IEEE-correctly-rounded, unlike ``ln``/``exp``
  which are NOT oracle-safe — cf. unigram_logprob_filter's threshold
  trick).
- ``zorder_layout`` and ``spmm_topics`` are pure integer pipelines.

Reference parity: the reference has no time-series/privacy layer — these
are the §2-beyond extensions a 100 TB lake needs (TimescaleDB-style
downsampling/interpolation, Databricks-style Z-ordering, Deequ-style
anonymity audits), expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t


# ---------------------------------------------------------------------------
# ohlc_bars — daily OHLC candlesticks (time-series downsampling)
# ---------------------------------------------------------------------------


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close bars per event_type — the canonical
    time-series downsample (Timescale ``time_bucket`` + ``first``/``last``).
    ONE aggregate: ``min_by``/``max_by`` on the unique (ts, event_id)
    composite pick open/close with a map-side partial (no sort, no
    window); high/low/count ride the same shuffle. All outputs are stored
    doubles or counts — zero float arithmetic, zero rounding. At 100 TB
    this is a single combine-enabled shuffle keyed (day, type); the
    window-based alternative would sort every partition.

    Complete-case on (ts, event_id) in lockstep (round-10 dirty audit):
    a bar's open/close picks ride the (ts, event_id) composite, and a
    NULL event_id tie ranks on OPPOSITE ends per engine (Spark struct
    min NULLS FIRST, DuckDB row_number NULLS LAST), flipping which
    row's value becomes open/close."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(F.to_date("ts").alias("day"), "event_type", "value", "ts", "event_id")
        .groupBy("day", "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


SQL_OHLC_BARS = """
WITH ranked AS (
  SELECT CAST(ts AS DATE) AS day, event_type, value,
         row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
)
SELECT day, event_type,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY day, event_type
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# linear_interp_gaps — gap-fill with LINEAR interpolation (not LOCF)
# ---------------------------------------------------------------------------


def q_linear_interp_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily max(value) per event_type on a dense date spine, with missing
    days LINEARLY interpolated between the previous and next observed
    days (TimescaleDB ``interpolate()``; complements the LOCF variant in
    ``gapfill_daily_events``). Days where day-of-month ≡ 0 (mod 3) are
    masked out first — a deterministic simulated sensor outage, so the
    interpolation path is exercised identically at EVERY scale factor
    (the raw grid is dense at all SFs). Plan: one fact aggregate
    (day×type grid is tiny), dense spine via ``sequence``/``explode`` of
    the global min/max-day 1-row aggregate (broadcast, never collected),
    then two ignore-nulls windows per type carry (prev_day, prev_val)
    forward and (next_day, next_val) backward. The interpolation weight
    (day-prev)/(next-prev) is exact integer date arithmetic; one in-row
    float multiply rounded at 6 dp. Windows partition by event_type over
    the POST-aggregate daily table — never over raw events."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type", "value")
        .filter(F.dayofmonth("day") % 3 != 0)
        .groupBy("day", "event_type")
        .agg(F.max("value").alias("v"))
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = (
        bounds.select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .crossJoin(daily.select("event_type").distinct())
    )
    grid = spine.join(daily, ["day", "event_type"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the backward carry runs over the day order REVERSED: a frame from
    # the current row to the partition end would re-scan that tail per
    # row (quadratic in the spine length, which one far-off ts makes long)
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    g = grid.select(
        "day",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.last("v", ignorenulls=True).over(w_next).alias("nv"),
        F.last(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    frac = F.datediff("day", "pd") / F.datediff("nd", "pd")
    filled = (
        F.when(F.col("v").isNotNull(), F.round("v", 6))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6),
        )
        .otherwise(F.lit(None))
    )
    kind = (
        F.when(F.col("v").isNotNull(), F.lit("observed"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), F.lit("interp"))
        .otherwise(F.lit("edge"))
    )
    return g.select(
        "day", "event_type", filled.alias("value_filled"), kind.alias("fill_kind")
    ).orderBy("day", "event_type")


SQL_LINEAR_INTERP_GAPS = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, max(value) AS v
  FROM events
  WHERE dayofmonth(CAST(ts AS DATE)) % 3 <> 0
  GROUP BY 1, 2
), bounds AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM daily
), spine AS (
  SELECT CAST(u.day AS DATE) AS day, t.event_type
  FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM bounds) u
  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
), grid AS (
  SELECT s.day, s.event_type, d.v
  FROM spine s LEFT JOIN daily d
    ON s.day = d.day AND s.event_type = d.event_type
), g AS (
  SELECT day, event_type, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM grid
)
SELECT day, event_type,
  CASE WHEN v IS NOT NULL THEN round(v, 6)
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         round(pv + (nv - pv) * (date_diff('day', pd, day)
                                 / CAST(date_diff('day', pd, nd) AS DOUBLE)), 6)
       ELSE NULL END AS value_filled,
  CASE WHEN v IS NOT NULL THEN 'observed'
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
       ELSE 'edge' END AS fill_kind
FROM g
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# markov_transitions — event-type transition matrix
# ---------------------------------------------------------------------------


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    ``lag(event_type)`` on the unique (ts, event_id) order within each
    user, count each (prev → next) pair, and normalize rows to
    probabilities. ONE window sort co-partitioned by user_id (the same
    shuffle a sessionization needs), then an aggregate whose cardinality
    is |types|² — the probability normalization joins against a
    types-sized subtotal, never re-windowing the fact. Probability is a
    single in-row division rounded at 6 dp of two exact counts.

    Complete-case on (ts, event_id) in lockstep (round-10 dirty audit):
    the chain order is (ts, event_id) and NULLs order on opposite ends
    per engine, rewiring the (prev -> next) pairs. A NULL event_type
    stays a legal STATE (both engines group it identically)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("row_total"), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


SQL_MARKOV_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
), pairs AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM pairs
ORDER BY prev_type, next_type
"""


# ---------------------------------------------------------------------------
# k_anonymity — privacy audit of quasi-identifier groups
# ---------------------------------------------------------------------------


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table at two generalization
    levels: QI = (nationkey, mktsegment) and the suppressed QI =
    (nationkey) — reporting min-k, how many equivalence classes fall
    below k=5, and how many ROWS are in those re-identifiable classes.
    Each level is one groupBy whose output is QI-cardinality-sized; the
    levels share a scan via an exploded level tag (one shuffle keyed by
    (level, QI) — not one job per level, which is the per-check storm the
    reference validator runs). Pure integer outputs.

    NULL QI values take a '<null>' sentinel in LOCKSTEP (round-9
    decorrelated dirty audit): Spark's concat_ws SKIPS NULL parts while
    DuckDB's '||' NULLs the whole key, partitioning the equivalence
    classes differently — and a NULL is itself a quasi-identifier value
    a privacy audit must keep, not drop."""
    cust = _t(spark, sf_dir, "customer")
    nat = F.coalesce(F.col("c_nationkey").cast("string"), F.lit("<null>"))
    seg = F.coalesce(F.col("c_mktsegment"), F.lit("<null>"))
    tagged = cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nation+segment").alias("level"),
                    F.concat_ws("|", nat, seg).alias("qi"),
                ),
                F.struct(
                    F.lit("nation-only").alias("level"),
                    nat.alias("qi"),
                ),
            )
        ).alias("t")
    ).select("t.level", "t.qi")
    classes = tagged.groupBy("level", "qi").agg(F.count(F.lit(1)).alias("k"))
    return (
        classes.groupBy("level")
        .agg(
            F.min("k").alias("min_k"),
            F.count(F.lit(1)).alias("n_classes"),
            F.sum((F.col("k") < 5).cast("long")).alias("classes_below_5"),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0))).alias(
                "rows_below_5"
            ),
        )
        .orderBy("level")
    )


SQL_K_ANONYMITY = """
WITH tagged AS (
  SELECT 'nation+segment' AS level,
         coalesce(CAST(c_nationkey AS VARCHAR), '<null>') || '|'
           || coalesce(c_mktsegment, '<null>') AS qi
  FROM customer
  UNION ALL
  SELECT 'nation-only', coalesce(CAST(c_nationkey AS VARCHAR), '<null>')
  FROM customer
), classes AS (
  SELECT level, qi, CAST(count(*) AS BIGINT) AS k
  FROM tagged GROUP BY 1, 2
)
SELECT level,
       min(k) AS min_k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_5,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5
FROM classes GROUP BY level ORDER BY level
"""


# ---------------------------------------------------------------------------
# zorder_layout — Morton-key clustering statistics
# ---------------------------------------------------------------------------


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit: interleave the low 10 bits of
    (custkey, order-day) into a 20-bit Z-value per order (a bit is
    ``& 1``, not ``% 2``: a pre-1992 day leaves y negative, and Java's
    remainder would make its bits -1), bucket by the top 6 Z-bits (64
    "files"), and report each bucket's row count plus
    min/max of BOTH dimensions — the min/max column statistics a
    data-skipping reader would prune on. The interleave is an in-row
    integer ``aggregate(sequence(0,9), ...)`` (bit OR as disjoint-bit
    sum); no shuffle until the 64-way bucket aggregate. This is the
    layout step behind Delta/Iceberg Z-ordering: at 100 TB you'd
    ``repartitionByRange(zval)`` before the write so each parquet file's
    (custkey, day) envelope stays tight on both dimensions at once."""
    ords = _t(spark, sf_dir, "orders")
    z = ords.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")) % 1024).alias(
            "y"
        ),
    ).withColumn(
        "zval",
        F.expr(
            "aggregate(sequence(0, 9), 0L, (acc, i) ->"
            " acc + (shiftleft(shiftright(x, i) & 1, 2*i))"
            " + (shiftleft(shiftright(y, i) & 1, 2*i + 1)))"
        ),
    )
    return (
        z.groupBy(F.shiftright("zval", 14).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("z_bucket")
    )


SQL_ZORDER_LAYOUT = """
WITH z AS (
  SELECT o_custkey % 1024 AS x,
         date_diff('day', DATE '1992-01-01', o_orderdate) % 1024 AS y,
         list_sum(list_transform(generate_series(0, 9), i ->
           ((((o_custkey % 1024) >> i) & 1) << (2*i))
           + (((((date_diff('day', DATE '1992-01-01', o_orderdate)) % 1024)
                >> i) & 1) << (2*i + 1)))) AS zval
  FROM orders
)
SELECT CAST(zval AS BIGINT) >> 14 AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM z GROUP BY 1 ORDER BY z_bucket
"""


# ---------------------------------------------------------------------------
# event_rate_anomaly — trailing-window z-score flags from integer sums
# ---------------------------------------------------------------------------


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-rate anomaly detection: per event_type, compare each
    day's count against the trailing 7 OBSERVED (day, type) rows'
    mean/std and flag |z| > 2. "Observed": a day with zero events for a
    type is absent from the daily aggregate, so the ``ROWS -7..-1``
    frame can span more than 7 calendar days across activity gaps —
    a count-of-active-days baseline, not a calendar-dense one (densify
    on a date spine first, as ``linear_interp_gaps`` does, if zero-days
    must drag the mean down). The variance inputs (Σc, Σc², n) are EXACT integer window
    sums over the tiny post-aggregate daily table; mean/std/z are in-row
    IEEE arithmetic (division + ``sqrt`` — both correctly-rounded ops,
    so bit-identical across engines) rounded at 4 dp. Never a
    stddev window over raw events — the fact table is aggregated once
    and the quadratic work touches only days×types rows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    g = daily.select(
        "day",
        "event_type",
        "cnt",
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("ss"),
        F.count("cnt").over(w).alias("n"),
    ).filter(F.col("n") == 7)
    mean = F.col("s") / F.lit(7.0)
    var = F.col("ss") / F.lit(7.0) - mean * mean
    z = (F.col("cnt") - mean) / F.sqrt(var + F.lit(1e-9))
    return g.select(
        "day",
        "event_type",
        "cnt",
        F.round(mean, 4).alias("trailing_mean"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 2).alias("anomaly"),
    ).orderBy("day", "event_type")


SQL_EVENT_RATE_ANOMALY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), g AS (
  SELECT day, event_type, cnt,
    CAST(sum(cnt) OVER w AS BIGINT) AS s,
    CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss,
    count(cnt) OVER w AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, event_type, cnt,
       round(s / 7.0, 4) AS trailing_mean,
       round((cnt - s / 7.0)
             / sqrt(ss / 7.0 - (s / 7.0) * (s / 7.0) + 1e-9), 4) AS z,
       abs((cnt - s / 7.0)
           / sqrt(ss / 7.0 - (s / 7.0) * (s / 7.0) + 1e-9)) > 2 AS anomaly
FROM g WHERE n = 7
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# spmm_topics — sparse matrix multiply as join-aggregate
# ---------------------------------------------------------------------------


def q_spmm_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse matrix multiplication C = A·B expressed relationally:
    A = the corpus term-count matrix (doc × term, from one explode +
    aggregate), B = a deterministic term → topic projection (topic =
    term-length mod 4, weight = first-char code point) derived IN the
    query so both engines build the identical matrix. The multiply is
    join-on-term + groupBy — the textbook SpMM plan: B is
    vocabulary-sized (broadcast), the product shuffle is keyed by the
    output row. Folded here to (source, topic) so the result is
    inspection-sized; all integer math."""
    docs = _t(spark, sf_dir, "documents")
    a = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    b = (
        a.select("term")
        .distinct()
        .select(
            "term",
            (F.length("term") % 4).alias("topic"),
            F.ascii(F.substring("term", 1, 1)).cast("long").alias("weight"),
        )
    )
    return (
        a.join(F.broadcast(b), "term")
        .groupBy("source", "topic")
        .agg(F.sum(F.col("cnt") * F.col("weight")).alias("score"))
        .orderBy("source", "topic")
    )


SQL_SPMM_TOPICS = """
WITH a AS (
  SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE len(term) > 0
  GROUP BY 1, 2, 3
), b AS (
  SELECT term, len(term) % 4 AS topic,
         CAST(unicode(substr(term, 1, 1)) AS BIGINT) AS weight
  FROM (SELECT DISTINCT term FROM a)
)
SELECT a.source, b.topic, CAST(sum(a.cnt * b.weight) AS BIGINT) AS score
FROM a JOIN b USING (term)
GROUP BY 1, 2
ORDER BY source, topic
"""


REGISTRY_EXT9 = {
    "ohlc_bars": (q_ohlc_bars, SQL_OHLC_BARS),
    "linear_interp_gaps": (q_linear_interp_gaps, SQL_LINEAR_INTERP_GAPS),
    "markov_transitions": (q_markov_transitions, SQL_MARKOV_TRANSITIONS),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "zorder_layout": (q_zorder_layout, SQL_ZORDER_LAYOUT),
    "event_rate_anomaly": (q_event_rate_anomaly, SQL_EVENT_RATE_ANOMALY),
    "spmm_topics": (q_spmm_topics, SQL_SPMM_TOPICS),
}
