"""Unit tests for the expression library (SURVEY §5.2.2): F1-F22 edge
cases — boolean literal zoo, EU/US numerics, control chars, malformed
JSON-ish arrays, calendar conventions."""

from __future__ import annotations

import datetime

import pytest

from ra2_datalake_linaresjoan_spark.functions import (
    calendar_parts,
    clean_string,
    normalize_boolean,
    normalize_null_literals,
    normalize_numeric,
    normalize_outcomes,
    normalize_prices,
    parse_tags,
    safe_array_size,
)
from ra2_datalake_linaresjoan_spark.functions.json_utils import (
    extract_ids,
    parse_struct_labels,
)


def _apply(spark, fn, values):
    """Apply a SQL-text builder to a one-string-column frame of ``values``."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["out"] for r in df.selectExpr(f"{fn('v')} AS out").collect()]


def test_normalize_boolean_zoo(spark):
    vals = ["true", "Yes", " 1 ", "T", "si", "sí", "False", "NO", "0", "f",
            "maybe", None, "2", "0.0"]
    out = _apply(spark, normalize_boolean, vals)
    assert out == [True, True, True, True, True, True, False, False, False,
                   False, None, None, True, False]


def test_normalize_boolean_numeric_edge_cases(spark):
    """bool(int(v)) semantics via |v| >= 1 — including values past the
    int32/int64 range, where a try_cast-to-int formulation silently
    nulled ('3000000000' was null, not True). Sub-unit magnitudes
    truncate to 0 → False."""
    vals = ["3000000000", "-3000000000", "99999999999999999999", "0.5",
            "-0.999", "1.0", "-1", "0.000"]
    out = _apply(spark, normalize_boolean, vals)
    assert out == [True, True, True, False, False, True, True, False]


def test_normalize_numeric_formats(spark):
    # decision table: EU 1.234,56 | US-commas 1,234 | dots pass through
    vals = ["123.45", "1.234,56", "1,234", "1,234.56", " 42 ", "", "abc",
            None, "1.2.3,4", "-5,5"]
    out = _apply(spark, normalize_numeric, vals)
    # reference decision table quirks preserved: '1,234.56' hits NO branch
    # (comma before dot ≠ EU; dots>0 ≠ US-comma) → float-cast fails → null;
    # '-5,5' is commas-only → strip commas → -55.0 (NOT -5.5);
    # '1.2.3,4' is EU → strip dots, comma→dot → 123.4
    assert out == [123.45, 1234.56, 1234.0, None, 42.0, None, None,
                   None, 123.4, -55.0]


def test_clean_string_rules(spark):
    vals = ["  a   b\t\nc  ", "", "   ", "x" * 6000, "ab\x01cd"]
    out = _apply(spark, lambda c: clean_string(c), vals)
    assert out[0] == "a b c"
    assert out[1] is None and out[2] is None
    assert len(out[3]) == 5000
    assert out[4] == "abcd"


def test_jsonish_arrays(spark):
    prices = _apply(spark, normalize_prices,
                    ["['0.45', '0.55']", "['x', '0.3']", "[]", "nope", None,
                     "[0.1, 0.2]"])
    assert prices == [[0.45, 0.55], [0.3], None, None, None, [0.1, 0.2]]
    outs = _apply(spark, normalize_outcomes, ["[' yes', 'no ']", "[]", "bad"])
    assert outs == [["YES", "NO"], None, None]
    tags = _apply(spark, parse_tags, ["['B', ' a', 'b ']", "[]"])
    assert sorted(tags[0]) == ["a", "b"]  # distinct + lower
    assert tags[1] is None
    # apostrophe corruption → parse failure → null (documented contract)
    assert _apply(spark, normalize_outcomes, ["['it's bad', 'ok']"]) == [None]


def test_struct_labels_and_ids(spark):
    labels = _apply(
        spark, parse_struct_labels,
        ["[{'id':'1','label':'Esports','slug':'es'}]",
         "[{'id':'2','slug':'only-slug'}]",
         "['plain', 'strings']"],
    )
    assert labels == [["Esports"], ["only-slug"], ["plain", "strings"]]
    ids = _apply(spark, extract_ids, ["[{'id': 'E1'}, {'id': 'E2'}]", "[]"])
    assert ids == [["E1", "E2"], []]


def test_null_literals(spark):
    vals = ["None", "null", "N/A", " NA ", "NaN", "real", ""]
    out = _apply(spark, normalize_null_literals, vals)
    assert out == [None, None, None, None, None, "real", None]


def test_calendar_parts_monday_zero(spark):
    # 2026-08-10 is a Monday; 2026-08-15 a Saturday
    df = spark.createDataFrame(
        [(datetime.date(2026, 8, 10),), (datetime.date(2026, 8, 15),)], "d date"
    )
    rows = df.selectExpr(*calendar_parts("d")).collect()
    mon, sat = rows
    assert mon["dia_semana"] == 0 and mon["es_finde"] is False
    assert sat["dia_semana"] == 5 and sat["es_finde"] is True
    assert mon["trimestre"] == 3


def test_safe_array_size(spark):
    df = spark.createDataFrame([([1, 2],), (None,)], "v array<int>")
    out = [r["n"] for r in df.selectExpr(f"{safe_array_size('v')} AS n").collect()]
    assert out == [2, 0]


def test_parse_list_value_tolerant(spark):
    from ra2_datalake_linaresjoan_spark.functions.json_utils import parse_list_value

    out = _apply(spark, parse_list_value,
                 ["['a', 'b']", "not-a-list", None, "[]"])
    assert out == [["a", "b"], [], [], []]


def test_char_shingles_udtf(spark):
    from ra2_datalake_linaresjoan_spark.llmdata.udtfs import (
        register_udtfs,
        shingle_table,
    )

    register_udtfs(spark)
    docs = spark.createDataFrame(
        [(1, "Hello"), (2, None), (3, "ab")], ["doc_id", "text"]
    )
    docs.createOrReplaceTempView("udtf_docs")
    sql_rows = spark.sql(
        "SELECT d.doc_id, s.pos, s.shingle "
        "FROM udtf_docs d, LATERAL char_shingles(d.text, 3) s"
    ).collect()
    assert {(r["doc_id"], r["pos"], r["shingle"]) for r in sql_rows} == {
        (1, 0, "hel"),
        (1, 1, "ell"),
        (1, 2, "llo"),
    }
    api_rows = shingle_table(docs, "text", 3).collect()
    assert {(r["doc_id"], r["shingle"]) for r in api_rows} == {
        (1, "hel"),
        (1, "ell"),
        (1, "llo"),
    }


def test_parse_struct_labels_reference_per_element_semantics(spark):
    """Per-element parity with the reference's _parse_tags_field: dicts
    without label/slug/id are DROPPED (never stringified into a label),
    mixed dict/string lists resolve per element, and blanks drop."""
    out = _apply(
        spark, parse_struct_labels,
        ["[{'name': 'x'}]",                       # unknown keys -> dropped
         "[{'label': 'A'}, 'plain', {'nope': 1}]",  # mixed list
         "[' padded ', '']",                     # trims, drops blank
         "not json"],
    )
    assert out == [[], ["A", "plain"], ["padded"], None]


def _code_points(spark):
    """One row per Unicode scalar value (every code point but the
    surrogates) as the one-character string ``c``. Each is decoded from
    UTF-32 behind a byte-order mark, so U+FEFF is kept as a character."""
    return (
        spark.range(0x110000)
        .where("id < 55296 OR id > 57343")
        .selectExpr("decode(unhex(concat('0000FEFF', lpad(hex(id), 8, '0'))), 'UTF-32') AS c")
    )


def _assert_same(df, expr: str, reference: str) -> None:
    """``expr`` and ``reference`` agree (NULL-safe) on every ``s`` of ``df``.
    Counted in an aggregate: as a filter, the two expressions fuse into
    one generated method too large for the JIT to compile."""
    pair = df.selectExpr("s", f"{expr} AS a", f"{reference} AS b")
    if pair.selectExpr("count_if(NOT (a <=> b)) AS n").first()["n"]:
        raise AssertionError(pair.where("NOT (a <=> b)").limit(5).collect())


def test_normalize_boolean_fold_equals_lower_on_every_code_point(spark, monkeypatch):
    """The word fold decides exactly what ``lower()`` decided: over every
    code point alone, and spliced into every true/false word (inserted at
    each position and substituted for each letter), the builder equals
    its ``lower()`` form."""
    from ra2_datalake_linaresjoan_spark.functions import normalize
    from ra2_datalake_linaresjoan_spark.functions.sql import sql_str

    folded = normalize.normalize_boolean("s")
    monkeypatch.setattr(normalize, "_word_fold", lambda e: f"lower({e})")
    lowered = normalize.normalize_boolean("s")
    words = normalize._TRUE_WORDS + normalize._FALSE_WORDS
    splices = {("", "")}
    splices |= {(w[:i], w[i:]) for w in words for i in range(len(w) + 1)}
    splices |= {(w[:i], w[i + 1 :]) for w in words for i in range(len(w))}
    spliced = _code_points(spark).selectExpr(
        "explode(array({})) AS s".format(
            ", ".join(f"concat({sql_str(a)}, c, {sql_str(b)})" for a, b in sorted(splices))
        )
    )
    _assert_same(spliced, folded, lowered)


def test_normalize_outcomes_translate_equals_upper(spark):
    """ASCII elements take the translate, the rest ``upper()``; together
    they equal ``upper()`` on every element: named non-ASCII cases whose
    upper case changes length or script, and every code point alone and
    inside ASCII text."""
    from ra2_datalake_linaresjoan_spark.functions.normalize import (
        _jsonish_array,
        _non_empty,
        normalize_outcomes,
    )

    upper_form = _non_empty(
        f"filter(transform({_jsonish_array('s')}, x -> upper(trim(x))), x -> x != '')",
        "ARRAY<STRING>",
    )
    named = spark.createDataFrame(
        [("['sí', 'ß', 'İ', ' straße ', 'ﬁ', 'ǅ', ' Yes', 'no ']",)], "s string"
    )
    row = named.selectExpr(f"{normalize_outcomes('s')} AS a", f"{upper_form} AS b").first()
    assert row["a"] == row["b"] == ["SÍ", "SS", "İ", "STRASSE", "FI", "Ǆ", "YES", "NO"]
    every = _code_points(spark).selectExpr("concat('[\\'', c, '\\', \\' a', c, 'z \\']') AS s")
    _assert_same(every, normalize_outcomes("s"), upper_form)
