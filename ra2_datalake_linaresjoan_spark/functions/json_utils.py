"""JSON-ish parsing helpers (SURVEY.md §2.8 F9/F10/F20).

The reference's bronze layer stores nested API payloads as Python-literal
JSON strings (single quotes). Parsing behavior mirrors
``loader_NeonDB.py:287-304`` (tolerant list parse) and ``:408-429``
(tag structs → label ?? slug ?? id), with the documented contract
"best-effort parse → null on failure" (SURVEY §1.2).
"""

from __future__ import annotations

from ra2_datalake_linaresjoan_spark.functions.sql import sql_str

#: Each element of a parsed tag list read as a tag object.
_TAG_STRUCT = "struct<label:string,slug:string,id:string>"


def _repair(col: str) -> str:
    """Python-literal JSON → JSON (single→double quotes, reference quirk)."""
    return f"""regexp_replace(CAST({col} AS STRING), '\\'', '"')"""


def parse_json_ish(col: str, schema: str) -> str:
    """Parse a possibly-Python-literal JSON string with the given schema.

    ``from_json`` returns null on malformed input — the engine's documented
    parse-failure contract. Apostrophes inside values corrupt the repair
    (same as the reference's replace trick) and land in the null path.
    Text in, text out, like ``functions.normalize``.
    """
    return f"from_json({_repair(col)}, {sql_str(schema)})"


def parse_list_value(col: str) -> str:
    """Tolerant list parse (F9): '[...]' → array<string>, else empty array.

    Mirrors ``loader_NeonDB.py:287-304`` (_parse_list_value).
    """
    s = f"trim(CAST({col} AS STRING))"
    return (
        f"coalesce(CASE WHEN startswith({s}, '[') "
        f"THEN {parse_json_ish(s, 'array<string>')} END, "
        "CAST(array() AS ARRAY<STRING>))"
    )


def parse_struct_labels(col: str) -> str:
    """Tag objects → labels (F10), PER ELEMENT like the reference
    (``loader_NeonDB.py:408-429`` _parse_tags_field iterates the parsed
    list): a dict element yields ``label ?? slug ?? id`` (trimmed) or is
    DROPPED when it has none of those keys; a string element is kept
    trimmed; blanks drop. Mixed dict/string lists therefore resolve
    per element, and an unknown-key object (``[{'name': 'x'}]``) yields
    ``[]`` — it must never leak its JSON text as a label (the previous
    whole-array fallback emitted the blob into dim_tag_gaming).
    """
    st = f"from_json(x, {sql_str(_TAG_STRUCT)})"
    label_of = (
        f"CASE WHEN startswith(trim(x), '{{') "
        f"THEN trim(coalesce({st}.label, {st}.slug, {st}.id)) ELSE trim(x) END"
    )
    labels = f"transform({parse_json_ish(col, 'array<string>')}, x -> {label_of})"
    return f"filter({labels}, e -> e IS NOT NULL AND e != '')"


def extract_ids(col: str) -> str:
    """Embedded entity structs → array of their ids (J10 pattern):
    "[{'id': 'E1', ...}]" → ['E1']  (loader_NeonDB.py:711-736)."""
    structs = parse_json_ish(col, "array<struct<id:string>>")
    return f"filter(transform({structs}, x -> x.id), x -> x IS NOT NULL)"
