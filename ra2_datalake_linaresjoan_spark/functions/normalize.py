"""Scalar normalizers as native Column expressions (SURVEY.md §2.8 F1-F6,
F11-F16, F21).

Reference-parity notes (behavior studied at the cited lines; implemented
fresh as Spark expressions):

- ``normalize_boolean``  — reference ``src/utils/transformer_data.py:21-43``
- ``normalize_numeric``  — reference ``src/utils/transformer_data.py:45-78``
  (EU-format decision table at :63-71)
- ``clean_string``       — reference ``src/utils/transformer_data.py:80-100``
- ``normalize_prices``   — reference ``src/utils/transformer_data.py:102-140``
- ``normalize_outcomes`` — reference ``src/utils/transformer_data.py:142-176``
- ``parse_tags``         — reference ``src/utils/transformer_data.py:178-212``
- ``normalize_null_literals`` — reference ``src/utils/spark_cleaner.py:54-71``
- ``to_timestamp_coerce``     — reference ``transformer_data.py:243-246``
  (pandas ``to_datetime(errors='coerce')`` semantics: null on failure)

All builders are pure ``Column -> Column``: zero Python at execution time,
so they run inside WholeStageCodegen and scale to any data volume.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Literal strings the reference treats as null (spark_cleaner.py:54-71).
NULL_LITERALS = ("", "None", "none", "null", "NULL", "N/A", "n/a", "NA", "NaN")

_TRUE_WORDS = ("true", "yes", "1", "t", "y", "si", "sí")
_FALSE_WORDS = ("false", "no", "0", "f", "n")


def normalize_boolean(col: Column) -> Column:
    """Multi-format boolean: true-words → True, false-words → False, else null.

    Accepts the zoo the reference accepts: True/'True'/1/'yes'/'si'/'sí'…
    Numeric inputs go through their string form ('1'/'0' are in the word
    lists; other numerics are truthy per ``bool(int(v))`` — handled by the
    final numeric fallback).
    """
    s = F.lower(F.trim(col.cast("string")))
    return (
        F.when(s.isin(*_TRUE_WORDS), F.lit(True))
        .when(s.isin(*_FALSE_WORDS), F.lit(False))
        # numeric strings like "2", "0.0": bool(int(v)) semantics as
        # |v| >= 1 (int() truncates toward zero, so int(v) != 0 ⇔
        # |v| >= 1) — overflow-proof, unlike a try_cast to int/long
        # which NULLs past the integer range ('3000000000' must be
        # True, not null)
        .when(s.rlike(r"^-?\d+(\.\d+)?$"), F.abs(s.try_cast("double")) >= 1)
        .otherwise(F.lit(None).cast("boolean"))
    )


def normalize_numeric(col: Column) -> Column:
    """US/EU numeric string → double, null on failure.

    Decision table (transformer_data.py:63-71):
    - dots>0 and commas==1 and last comma AFTER last dot  → EU `1.234,56`:
      strip dots, comma becomes decimal point
    - commas>0 and dots==0                               → `1,234`: strip commas
    - otherwise the string is float-cast as-is (dots-only strings pass through)
    """
    s = F.trim(col.cast("string"))
    # EU: one comma, a dot before it and none after; US: commas, no dot
    eu = s.rlike(r"^[^,]*\.[^,]*,[^.,]*$")
    us_thousands = s.rlike(r"^[^.]*,[^.]*$")
    cleaned = (
        F.when(eu, F.regexp_replace(F.regexp_replace(s, r"\.", ""), ",", "."))
        .when(us_thousands, F.regexp_replace(s, ",", ""))
        .otherwise(s)
    )
    # try_cast: null on malformed input (ANSI-safe coerce-to-null)
    return cleaned.try_cast("double")


def clean_string(col: Column, max_length: int = 5000) -> Column:
    """Trim, collapse whitespace, strip control chars, truncate; ''→null.

    Order matters and mirrors the reference: whitespace collapse happens
    before control-char removal (so \\n/\\t become single spaces), then any
    remaining chars with codepoint < 32 are stripped, then truncation.

    Documented quirk of that reference-parity order: a NON-whitespace
    control char surrounded by spaces ('a \\x07 b') leaves a double space
    after stripping, and one at the string edge leaves an edge space —
    the reference pipeline has the same residue, and the oracle SQL
    reproduces it, so both engines agree; callers needing strict
    canonical whitespace re-clean after.
    """
    s = F.trim(col.cast("string"))
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.regexp_replace(s, r"[\x00-\x1f]", "")
    s = F.substring(s, 1, max_length)
    return F.when(s == "", F.lit(None).cast("string")).otherwise(s)


def _jsonish_array(col: Column) -> Column:
    """Parse a Python-literal-ish JSON array string to array<string>.

    The reference repairs single quotes by a global replace before
    ``json.loads`` (transformer_data.py:116) — values containing
    apostrophes therefore fail to parse and yield null. We adopt the
    documented contract (best-effort parse → null on failure) using
    ``from_json``, which returns null for malformed input.
    Non-'['-prefixed strings are null (reference returns None for them).

    Deliberately NOT shared with ``json_utils.parse_list_value``: the two
    mirror DIFFERENT reference functions with different failure contracts
    — this one nulls on failure (transformer_data.py:116 returns None),
    parse_list_value returns an EMPTY ARRAY (loader_NeonDB.py:287-304
    returns []). Merging them would silently change one contract.
    """
    s = F.trim(col.cast("string"))
    repaired = F.regexp_replace(s, "'", '"')
    return F.when(s.startswith("["), F.from_json(repaired, "array<string>")).otherwise(
        F.lit(None).cast("array<string>")
    )


def normalize_prices(col: Column) -> Column:
    """JSON-ish array of numeric strings → array<double>; skips unparseable
    elements; null if nothing parses (transformer_data.py:102-140)."""
    arr = _jsonish_array(col)
    doubles = F.filter(
        F.transform(arr, lambda x: F.trim(x).try_cast("double")), lambda x: x.isNotNull()
    )
    return F.when(F.size(doubles) > 0, doubles).otherwise(
        F.lit(None).cast("array<double>")
    )


def normalize_outcomes(col: Column) -> Column:
    """JSON-ish array → trimmed UPPER array<string>, dropping empties; null
    if empty (transformer_data.py:142-176)."""
    arr = _jsonish_array(col)
    upped = F.filter(
        F.transform(arr, lambda x: F.upper(F.trim(x))), lambda x: x != ""
    )
    return F.when(F.size(upped) > 0, upped).otherwise(
        F.lit(None).cast("array<string>")
    )


def parse_tags(col: Column) -> Column:
    """JSON-ish array → distinct lower-cased trimmed array<string>; null if
    empty (transformer_data.py:178-212)."""
    arr = _jsonish_array(col)
    tags = F.array_distinct(
        F.filter(F.transform(arr, lambda x: F.lower(F.trim(x))), lambda x: x != "")
    )
    return F.when(F.size(tags) > 0, tags).otherwise(F.lit(None).cast("array<string>"))


#: ``NULL_LITERALS`` as one SQL array: parsed in one call per column,
#: where ``isin`` sends every literal to the JVM on its own.
_NULL_LITERALS_SQL = "array({})".format(", ".join(f"'{s}'" for s in NULL_LITERALS))


def normalize_null_literals(col: Column) -> Column:
    """Map the reference's fake-null string literals to real NULL (F11)."""
    s = col.cast("string")
    return F.when(
        F.array_contains(F.expr(_NULL_LITERALS_SQL), F.trim(s)),
        F.lit(None).cast("string"),
    ).otherwise(s)


def coalesce_chain(*cols: Column | str, default: str | None = None) -> Column:
    """Coalesce fallback chain (F13), e.g. title→ticker→slug→'Sin título'."""
    resolved = [F.col(c) if isinstance(c, str) else c for c in cols]
    if default is not None:
        resolved.append(F.lit(default))
    return F.coalesce(*resolved)


def to_timestamp_coerce(col: Column) -> Column:
    """ISO-8601 string → timestamp, null on failure (F16; try_to_timestamp
    keeps coerce semantics under ANSI mode)."""
    return F.try_to_timestamp(col.cast("string"))


def safe_array_size(col: Column) -> Column:
    """len(arr) with null→0 (F21). Spark's size(null) is -1 with legacy
    conf; make it explicitly 0."""
    return F.when(col.isNull(), F.lit(0)).otherwise(F.size(col))
