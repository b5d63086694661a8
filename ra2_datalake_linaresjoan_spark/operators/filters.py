"""Filter/predicate builders (SURVEY.md §2.2 P6-P12).

All are plain Column predicates, so Catalyst pushes them into the Parquet
scan (verify with .explain → PushedFilters) — at 100 TB these prune row
groups before any compute happens.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.functions.sql import ASCII_LOWER, ASCII_UPPER, col_ref


def non_null_non_blank(*cols: str) -> Column:
    """id-style guard (P6, reference spark_cleaner.py:103-106): every listed
    column non-null and non-blank after trim."""
    if not cols:
        raise ValueError("non_null_non_blank needs at least one column")
    # one parsed predicate, not a Column tree per column
    return F.expr(
        " AND ".join(
            f"{col_ref(c)} IS NOT NULL AND trim(CAST({col_ref(c)} AS STRING)) != ''"
            for c in cols
        )
    )


def complete_case(df: DataFrame, *cols: str) -> DataFrame:
    """Complete-case filter for closed-form statistics: keep only rows
    where EVERY listed measurement column is non-NULL.

    One audited convention instead of bespoke per-query guards (the
    round-8 ``exact_corr_moments`` recipe, generalized): a statistic's
    moment sums must all be computed over the SAME row population, or
    engines that disagree on NULL propagation (sum skips NULLs, products
    poison, CASE zero-fills) diverge on dirty data. Pair with
    ``complete_case_sql`` so the DuckDB oracle filters identically.
    Plain Column predicates — Catalyst pushes them into the scan."""
    pred: Column | None = None
    for c in cols:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    assert pred is not None
    return df.where(pred)


def complete_case_sql(*cols: str) -> str:
    """The oracle-side WHERE fragment matching ``complete_case``."""
    assert cols
    return " AND ".join(f"{c} IS NOT NULL" for c in cols)


def finite_case(df: DataFrame, *cols: str) -> DataFrame:
    """Finite-case filter for closed-form statistics: keep only rows
    where EVERY listed double column is non-NULL, non-NaN and non-±Inf.

    ``complete_case`` extended to the VALUE domain (round-11 value-fuzz
    find): order statistics (percentile/median/MAD), moment sums
    (stddev overflows DuckDB at 1e308², NaN-poisons Spark) and
    bucket-index casts (CAST(Inf AS BIGINT) raises in BOTH engines
    under ANSI) all need the same row population across engines, and
    the engines disagree on — or refuse — non-finite inputs.  Pair
    with ``finite_case_sql``.  Plain Column predicates: ``isnan`` and
    ``abs() != inf`` stay JVM-side; NULLs fail the predicate the same
    way they fail ``complete_case``.  On finite data (every clean
    corpus) this is a no-op."""
    pred: Column | None = None
    for c in cols:
        p = (
            F.col(c).isNotNull()
            & ~F.isnan(c)
            & (F.abs(F.col(c)) != F.lit(float("inf")))
        )
        pred = p if pred is None else (pred & p)
    assert pred is not None
    return df.where(pred)


def finite_case_sql(*cols: str) -> str:
    """The oracle-side WHERE fragment matching ``finite_case``
    (DuckDB's ``isfinite`` is NULL on NULL, false on NaN/±Inf — the
    identical three-way contract)."""
    assert cols
    return " AND ".join(f"isfinite({c})" for c in cols)


def finite_pred(col: Column | str) -> Column:
    """The row-level predicate behind ``finite_case`` (non-NULL,
    non-NaN, non-±Inf), exposed for conditional expressions."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))


def money_pred(col: Column | str) -> Column:
    """The row-level predicate behind ``money_case`` (finite AND inside
    the representable-cents domain), exposed for conditional banding
    expressions: Spark's ``floor()`` yields LONG and silently saturates
    on a huge double while DuckDB's ``CAST(floor(x) AS BIGINT)`` raises
    — a conditional band must therefore exclude the whole
    out-of-domain magnitude range, not just NaN/±Inf (round-13
    finite-out-of-domain carriers).  Oracle side:
    ``isfinite(x) AND abs(x) < 9.2e16``."""
    c = F.col(col) if isinstance(col, str) else col
    return finite_pred(c) & (F.abs(c) < F.lit(_CENTS_MAX))


def money_case(df: DataFrame, *cols: str) -> DataFrame:
    """Money-domain filter for value statistics: ``finite_case``
    narrowed to the representable-cents domain (|x| < 9.2e16 ≈
    2^63/100, the ``exact_cents`` bound).

    Round-13 (the advisor's finite-out-of-domain carriers gave the
    round-12 "known residual" class corpus coverage): statistics whose
    population was only FINITE still raise or diverge on a finite-but-
    huge double — ``CAST(round(x*100) AS BIGINT)`` and bucket-index
    ``CAST(x/w AS BIGINT)`` overflow (an ANSI raise in both engines —
    lockstep, but one poisoned row still kills a 100-TB job), and
    moment sums split the engines outright (DuckDB's STDDEV raises
    'out of range' at 1e308² while Spark silently yields Infinity).  A
    money/value magnitude past the cents domain is sensor garbage, not
    data; excluding it makes every downstream cast and moment finite
    and keeps both engines on the identical row population.  Pair with
    ``money_case_sql``.  On in-domain data (every clean corpus) this
    is a no-op."""
    pred: Column | None = None
    for c in cols:
        p = finite_pred(c) & (F.abs(F.col(c)) < F.lit(_CENTS_MAX))
        pred = p if pred is None else (pred & p)
    assert pred is not None
    return df.where(pred)


def money_case_sql(*cols: str) -> str:
    """The oracle-side WHERE fragment matching ``money_case``."""
    assert cols
    return " AND ".join(
        f"(isfinite({c}) AND abs({c}) < 9.2e16)" for c in cols
    )


#: Largest money magnitude whose cents fit BIGINT: 2^63/100 with headroom
#: for round()'s +0.5.  A finite-but-huge double (1e17, 1e308) past this
#: bound would overflow the BIGINT cast and raise in BOTH engines under
#: ANSI — the same one-poisoned-row failure the finite guard exists for
#: (round-12 advisor find: the round-11 guard covered only NaN/±Inf).
_CENTS_MAX = 9.2e16


def exact_cents(col: Column | str) -> Column:
    """Money double → exact integer cents, guarded to the representable
    cents domain (finite AND |x| < 9.2e16 ≈ 2^63/100).

    The exact-cents convention (``CAST(round(x*100) AS BIGINT)``) makes
    revenue hashes summation-order independent — but under ANSI both
    Spark and DuckDB RAISE when a NaN/±Inf or out-of-range value
    reaches the integer cast, and whether a poisoned row reaches it at
    all is plan-dependent (Catalyst may evaluate the projection before
    or after a filter that would have dropped the row).  One poisoned
    row must not kill a 100-TB job: non-representable money yields NULL
    cents, which every sum skips, identically in both engines
    (round-11 value-fuzz; range bound round-12).  On in-domain data the
    guard folds away to the bare cast."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        finite_pred(c) & (F.abs(c) < F.lit(_CENTS_MAX)),
        F.round(c * 100).cast("long"),
    )


def exact_cents_sql(expr: str) -> str:
    """The oracle-side expression matching ``exact_cents``."""
    return (
        f"CASE WHEN isfinite({expr}) AND abs({expr}) < 9.2e16 "
        f"THEN CAST(round({expr} * 100) AS BIGINT) END"
    )


def keyword_pattern(keywords: Sequence[str], word_boundary: bool = False) -> str:
    """Escaped alternation regex from a keyword list (P7/P9,
    reference transformer_data.py:343-371, loader_NeonDB.py:749-781).

    An EMPTY keyword list yields a never-matching pattern ``(?!)`` — the
    empty-string alternation would rlike-match every row, turning
    ``keyword_include(col, [])`` into all-true and (worse)
    ``keyword_exclude(col, [])`` into a silent filter-everything."""
    if not keywords:
        return r"(?!)"
    parts = [re.escape(k) for k in keywords]
    if word_boundary:
        parts = [rf"\b{p}\b" for p in parts]
    return "|".join(parts)


def ascii_text_pred(col: Column | str) -> Column:
    """True when the string is non-NULL and pure ASCII — the population
    guard for CHAR-LEVEL string metrics (edit distance, fixed-width
    char slicing).  Round-12 dirty-audit find (`edit_distance_match`):
    the engines segment non-ASCII text differently — Spark's
    levenshtein/substring walk UTF-16 code units / codepoints while
    DuckDB's levenshtein/substr walk GRAPHEME CLUSTERS — so a combining
    sequence ('cafe' + U+0301) has length 5 in one engine and 4 in the
    other, shifting distances, slices and blocking keys.  Char-level
    semantics are engine-independent only on ASCII; queries that need
    them define their population as ASCII rows, identically in both
    engines.  On the all-ASCII clean corpus this is a no-op.  Pair with
    ``ascii_text_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return s.isNotNull() & ~s.rlike(r"[^\x00-\x7f]")


def ascii_text_sql(expr: str) -> str:
    """The oracle-side WHERE fragment matching ``ascii_text_pred``."""
    return (
        f"({expr} IS NOT NULL AND NOT regexp_matches({expr},"
        f" '[^\\x00-\\x7f]'))"
    )


def _ascii_fold(col: Column) -> Column:
    """ASCII-only case fold for keyword matching (round-12, the
    ``ascii_lower`` contract): the keyword vocabularies are all-ASCII, so
    matching only needs the 26-letter fold — Java's full ``lower()`` maps
    some non-ASCII characters INTO ASCII ('K' Kelvin → 'k', 'İ' → 'i'+◌̇)
    differently from DuckDB's utf8proc, so a lowered-text rlike could
    include/exclude different ROWS per engine.  ``translate`` is a pure
    1:1 char map, identical everywhere, and bit-identical to ``lower()``
    on ASCII text."""
    return F.translate(col.cast("string"), ASCII_UPPER, ASCII_LOWER)


#: CPython mirror of ``_ascii_fold``'s 26-letter translate map — keywords
#: must fold with the SAME map as the column (round-12 advisor): a
#: keyword containing non-ASCII uppercase folded by ``str.lower()`` but
#: never by the column-side translate would silently stop matching its
#: own raw spelling.
_PY_ASCII_FOLD = str.maketrans(ASCII_UPPER, ASCII_LOWER)


def keyword_include(col: Column, keywords: Sequence[str], **kw) -> Column:
    """Case-insensitive keyword include mask (P7)."""
    return _ascii_fold(col).rlike(
        keyword_pattern([k.translate(_PY_ASCII_FOLD) for k in keywords], **kw)
    )


def keyword_exclude(col: Column, keywords: Sequence[str], **kw) -> Column:
    """Keyword exclusion mask (P8): true when NO keyword matches."""
    return ~keyword_include(col, keywords, **kw)


def esports_filter(
    df: DataFrame,
    text_col: str,
    include: Sequence[str],
    exclude: Sequence[str],
) -> DataFrame:
    """Include-then-exclude keyword filter over a text column — the
    reference's esports market filter shape (transformer_data.py:341-382,
    466-496): a row must match ≥1 include keyword and 0 exclude keywords."""
    c = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    return df.filter(keyword_include(c, include) & keyword_exclude(c, exclude))
