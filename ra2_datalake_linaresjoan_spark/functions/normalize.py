"""Scalar normalizers as Spark SQL expression text (SURVEY.md §2.8 F1-F6,
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

Every builder maps SQL text to SQL text: its input is a quoted column
reference (``functions.sql.col_ref``), a typed NULL or another builder's
output, and a stage parses all of its columns in one ``selectExpr``
(``F.expr`` wraps one for the Column API). Nothing runs Python per row,
so the expressions stay inside WholeStageCodegen.

No builder on the medallion path calls ``lower()`` or ``upper()`` on
ASCII text: Spark 4 maps case through ICU, and the first call in a JVM
loads its case tables (about 1.5 s, inside whichever task hits it first).
"""

from __future__ import annotations

from ra2_datalake_linaresjoan_spark.functions.sql import (
    ASCII_LOWER,
    ASCII_UPPER,
    sql_str,
    sql_strs,
)

#: Literal strings the reference treats as null (spark_cleaner.py:54-71).
NULL_LITERALS = ("", "None", "none", "null", "NULL", "N/A", "n/a", "NA", "NaN")

_TRUE_WORDS = ("true", "yes", "1", "t", "y", "si", "sí")
_FALSE_WORDS = ("false", "no", "0", "f", "n")


def _word_fold(expr: str) -> str:
    """``lower()`` restricted to what the boolean word lists can tell
    apart: the 26 ASCII capitals and 'Í'.  Both sides agree on every
    string: a character that ``lower()`` maps to a letter of the words is
    one of those capitals, 'Í', or already that letter (the Kelvin sign
    folds to 'k' and 'İ' to two characters, neither of which a word
    holds), and a string with any other character is in neither list
    under either fold.  ``tests/test_functions.py`` checks this over
    every code point."""
    return f"translate({expr}, '{ASCII_UPPER}Í', '{ASCII_LOWER}í')"


def normalize_boolean(col: str) -> str:
    """Multi-format boolean: true-words → True, false-words → False, else null.

    Accepts the zoo the reference accepts: True/'True'/1/'yes'/'si'/'sí'…
    Numeric inputs go through their string form ('1'/'0' are in the word
    lists); other numeric strings like "2", "0.0" follow ``bool(int(v))``
    as |v| >= 1 (int() truncates toward zero, so int(v) != 0 ⇔ |v| >= 1)
    — overflow-proof, unlike a try_cast to int/long, which NULLs past the
    integer range ('3000000000' must be True, not null).
    """
    s = _word_fold(f"trim(CAST({col} AS STRING))")
    return (
        f"CASE WHEN {s} IN ({sql_strs(_TRUE_WORDS)}) THEN true "
        f"WHEN {s} IN ({sql_strs(_FALSE_WORDS)}) THEN false "
        rf"WHEN {s} RLIKE r'^-?\d+(\.\d+)?$' THEN abs(try_cast({s} AS DOUBLE)) >= 1 "
        "ELSE CAST(NULL AS BOOLEAN) END"
    )


def normalize_numeric(col: str) -> str:
    """US/EU numeric string → double, null on failure.

    Decision table (transformer_data.py:63-71):
    - dots>0 and commas==1 and last comma AFTER last dot  → EU `1.234,56`:
      strip dots, comma becomes decimal point
    - commas>0 and dots==0                               → `1,234`: strip commas
    - otherwise the string is float-cast as-is (dots-only strings pass through)
    """
    s = f"trim(CAST({col} AS STRING))"
    # EU: one comma, a dot before it and none after; US: commas, no dot.
    # try_cast: null on malformed input (ANSI-safe coerce-to-null)
    return (
        "try_cast(CASE "
        rf"WHEN {s} RLIKE r'^[^,]*\.[^,]*,[^.,]*$' "
        rf"THEN regexp_replace(regexp_replace({s}, r'\.', ''), ',', '.') "
        rf"WHEN {s} RLIKE r'^[^.]*,[^.]*$' THEN regexp_replace({s}, ',', '') "
        f"ELSE {s} END AS DOUBLE)"
    )


def clean_string(col: str, max_length: int = 5000) -> str:
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
    s = (
        rf"substring(regexp_replace(regexp_replace(trim(CAST({col} AS STRING)), "
        rf"r'\s+', ' '), r'[\x00-\x1f]', ''), 1, {int(max_length)})"
    )
    return f"CASE WHEN {s} = '' THEN CAST(NULL AS STRING) ELSE {s} END"


def _jsonish_array(col: str) -> str:
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
    s = f"trim(CAST({col} AS STRING))"
    return (
        f"CASE WHEN startswith({s}, '[') "
        f"""THEN from_json(regexp_replace({s}, '\\'', '"'), 'array<string>') """
        "ELSE CAST(NULL AS ARRAY<STRING>) END"
    )


def _non_empty(arr: str, dtype: str) -> str:
    """``arr`` when it has elements, else a typed NULL."""
    return f"CASE WHEN size({arr}) > 0 THEN {arr} ELSE CAST(NULL AS {dtype}) END"


def normalize_prices(col: str) -> str:
    """JSON-ish array of numeric strings → array<double>; skips unparseable
    elements; null if nothing parses (transformer_data.py:102-140)."""
    doubles = (
        f"filter(transform({_jsonish_array(col)}, x -> try_cast(trim(x) AS DOUBLE)), "
        "x -> x IS NOT NULL)"
    )
    return _non_empty(doubles, "ARRAY<DOUBLE>")


def normalize_outcomes(col: str) -> str:
    """JSON-ish array → trimmed UPPER array<string>, dropping empties; null
    if empty (transformer_data.py:142-176).  A pure-ASCII element (as many
    bytes as characters) is upper-cased by the 26-letter translate, which
    equals ``upper()`` there; only the other elements call ``upper()``."""
    upped = (
        f"filter(transform({_jsonish_array(col)}, x -> CASE "
        f"WHEN octet_length(x) = length(x) "
        f"THEN translate(trim(x), '{ASCII_LOWER}', '{ASCII_UPPER}') "
        "ELSE upper(trim(x)) END), x -> x != '')"
    )
    return _non_empty(upped, "ARRAY<STRING>")


def parse_tags(col: str) -> str:
    """JSON-ish array → distinct lower-cased trimmed array<string>; null if
    empty (transformer_data.py:178-212)."""
    tags = (
        f"array_distinct(filter(transform({_jsonish_array(col)}, "
        "x -> lower(trim(x))), x -> x != ''))"
    )
    return _non_empty(tags, "ARRAY<STRING>")


def normalize_null_literals(col: str) -> str:
    """Map the reference's fake-null string literals to real NULL (F11)."""
    s = f"CAST({col} AS STRING)"
    return (
        f"CASE WHEN array_contains(array({sql_strs(NULL_LITERALS)}), trim({s})) "
        f"THEN CAST(NULL AS STRING) ELSE {s} END"
    )


def coalesce_chain(*cols: str, default: str | None = None) -> str:
    """Coalesce fallback chain (F13), e.g. title→ticker→slug→'Sin título'."""
    parts = list(cols) + ([sql_str(default)] if default is not None else [])
    return f"coalesce({', '.join(parts)})"


def to_timestamp_coerce(col: str) -> str:
    """ISO-8601 string → timestamp, null on failure (F16; try_to_timestamp
    keeps coerce semantics under ANSI mode)."""
    return f"try_to_timestamp(CAST({col} AS STRING))"


def safe_array_size(col: str) -> str:
    """len(arr) with null→0 (F21). Spark's size(null) is -1 with legacy
    conf; make it explicitly 0."""
    return f"CASE WHEN {col} IS NULL THEN 0 ELSE size({col}) END"
