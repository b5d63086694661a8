"""Expression library: pure SQL-text builders.

These replicate the scalar semantics catalogued in SURVEY.md §2.8 (F1-F22)
as native Spark expressions — no Python executes per-row, so every
function stays inside WholeStageCodegen and is usable at 100 TB. Each
builder takes SQL text (a column reference from ``col_ref``, a typed NULL
or another builder's output) and returns SQL text: a stage parses all of
its columns in one ``selectExpr``, where a Column tree would cost one py4j
round-trip per node (``F.expr`` wraps a single builder for the Column API).
"""

from ra2_datalake_linaresjoan_spark.functions.normalize import (
    clean_string,
    coalesce_chain,
    normalize_boolean,
    normalize_null_literals,
    normalize_numeric,
    normalize_outcomes,
    normalize_prices,
    parse_tags,
    safe_array_size,
    to_timestamp_coerce,
)
from ra2_datalake_linaresjoan_spark.functions.classify import (
    extract_bet_type,
    extract_gaming_type,
)
from ra2_datalake_linaresjoan_spark.functions.calendar import calendar_parts
from ra2_datalake_linaresjoan_spark.functions.sql import col_ref
from ra2_datalake_linaresjoan_spark.functions.json_utils import (
    parse_json_ish,
    parse_struct_labels,
)

__all__ = [
    "clean_string",
    "coalesce_chain",
    "normalize_boolean",
    "normalize_null_literals",
    "normalize_numeric",
    "normalize_outcomes",
    "normalize_prices",
    "parse_tags",
    "safe_array_size",
    "to_timestamp_coerce",
    "extract_bet_type",
    "extract_gaming_type",
    "calendar_parts",
    "col_ref",
    "parse_json_ish",
    "parse_struct_labels",
]
