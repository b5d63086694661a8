"""Cross-engine operator-semantics probe: Spark vs DuckDB on adversarial
scalar inputs, OUTSIDE the query corpus.

The round-11 unicode case-fold class and the round-12 grapheme
segmentation class were both found by probing operator PAIRS directly
rather than waiting for a corpus query to trip over them.  This tool
makes that practice repeatable: a battery of (name, spark Column
expression, duckdb SQL expression, input rows) probes, each evaluated on
both engines and compared value-for-value.

AGREE    — identical results on every input (class is safe to use
           unguarded in oracle-paired queries)
DIVERGE  — at least one input differs (class needs a shared contract /
           population guard before an oracle-paired query may rely on it;
           the mismatching inputs are printed)

Probes marked KNOWN_DIVERGENT document classes we have already fenced
with a shared contract (ascii_words / ascii_lower / ascii_text_pred /
finite_case / exact_cents) — the probe asserts the divergence still
exists (if an engine upgrade makes one vanish, the guard could be
retired).

Usage: python tools/semantics_probe.py
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: (name, spark_expr_builder(col), duck_sql_expr over "x", inputs, kind)
#: kind: 'str' or 'dbl' input column type; expected: 'agree' | 'diverge'
PROBES = []


def probe(name, spark_fn, duck_expr, inputs, kind="str", expected="agree"):
    PROBES.append((name, spark_fn, duck_expr, inputs, kind, expected))


# --- double -> string formatting (latent class: no corpus query casts a
# raw DOUBLE to string; every digest casts ints/cents) ---------------------
DBLS = [0.0, -0.0, 1.0, 941.54, 1234567.0, 12345678.9, 1e7, 9999999.5,
        1e16, 1e-3, 1e-4, float("nan"), float("inf"), float("-inf"), None]
probe("cast_double_to_string", lambda c: c.cast("string"),
      "CAST(x AS VARCHAR)", DBLS, kind="dbl", expected="diverge")

# --- unicode whitespace in \s and trim ------------------------------------
WS = ["a b", "a b", "a　b", " a b ", " a ",
      "a\tb", "ab", None]
probe("split_ws_regex", lambda c: F.split(c, r"\s+"),
      r"regexp_split_to_array(x, '\s+')", WS, expected="diverge")
probe("trim_unicode_ws", lambda c: F.trim(c), "trim(x)", WS,
      expected="diverge")
probe("regexp_replace_ws", lambda c: F.regexp_replace(c, r"\s", "_"),
      r"regexp_replace(x, '\s', '_', 'g')", WS, expected="diverge")
# round-13: the three probes above flipped to expected=diverge — the
# classes are now FENCED (oracles use [\s\x0b] classes and trim(x, ' '));
# the agree-pair probes below are the shipped contracts, plus the two new
# classes the strengthened dirty corpus found (floor-band saturation,
# full-case upper), and the printf renderer that replaces bare
# double->string casts.
probe("split_ws_contract", lambda c: F.split(c, r"\s+"),
      r"regexp_split_to_array(x, '[\s\x0b]+')", WS)
probe("trim_charset_contract", lambda c: F.trim(c), "trim(x, ' ')", WS)
BAND = [0.0, -857.71, 941.54, 9.3e16, -1e305, 1e308, float("nan"),
        float("inf"), None]
probe("floor_band_raw", lambda c: F.floor(c / 100).cast("string"),
      "CAST(CAST(floor(x / 100) AS BIGINT) AS VARCHAR)", BAND, kind="dbl",
      expected="diverge")
probe("floor_band_money_contract",
      lambda c: F.when(
          c.isNotNull() & ~F.isnan(c)
          & (F.abs(c) != F.lit(float("inf")))
          & (F.abs(c) < F.lit(9.2e16)),
          F.floor(c / 100),
      ).cast("string"),
      "CAST(CASE WHEN isfinite(x) AND abs(x) < 9.2e16"
      " THEN CAST(floor(x / 100) AS BIGINT) END AS VARCHAR)",
      BAND, kind="dbl")
probe("printf_2f_contract", lambda c: F.format_string("%.2f", c),
      "printf('%.2f', x)",
      [0.0, -0.0, 857.71, 900.0, 1e7, 123456789.12, 9.3e16], kind="dbl")
probe("upper_ligature", lambda c: F.upper(c), "upper(x)",
      ["\ufb01n", "\ufb03", "stra\u00dfe", "SPARK"], expected="diverge")

# --- binary collation: comparisons and min/max over unicode strings -------
CMP = ["a", "Z", "z", "é", "İ", "Ａ", "ABC", "abc", ""]
probe("string_lt_Z", lambda c: (c < F.lit("b")).cast("string"),
      "CAST((x < 'b') AS VARCHAR)", CMP)

# --- rounding ties ---------------------------------------------------------
TIES = [0.0625, -0.0625, 2.5, -2.5, 0.5, 1.5, 62.5, -62.5, 0.125, None]
probe("round_0dp", lambda c: F.round(c, 0), "round(x, 0)", TIES, kind="dbl")
probe("round_3dp", lambda c: F.round(c, 3), "round(x, 3)", TIES, kind="dbl")

# --- negative modulo / integer division ------------------------------------
probe("mod_negative", lambda c: (c.cast("long") % 3).cast("string"),
      "CAST((CAST(x AS BIGINT) % 3) AS VARCHAR)",
      ["-7", "-1", "0", "7", None])

# --- substring degenerate starts -------------------------------------------
probe("substr_zero_start", lambda c: F.substring(c, 0, 3),
      "substr(x, 0, 3)", ["abcdef", "ab", "", None], expected="diverge")
probe("substr_negative_start", lambda c: F.substring(c, -2, 2),
      "substr(x, -2, 2)", ["abcdef", "ab", "", None])

# --- math edges (population guards exist: entropy/KL guard ratios > 0) ----
probe("ln_zero_and_negative", lambda c: F.log(c).cast("string"),
      "CAST(ln(x) AS VARCHAR)", [0.0, -1.0, 1.0, None], kind="dbl",
      expected="diverge")
probe("pow_edges", lambda c: F.pow(c, F.lit(0.0)).cast("string"),
      "CAST(pow(x, 0.0) AS VARCHAR)", [0.0, -1.0, float("nan"), None],
      kind="dbl")
probe("sqrt_negative", lambda c: F.sqrt(c).cast("string"),
      "CAST(sqrt(x) AS VARCHAR)", [-1.0, 4.0, None], kind="dbl",
      expected="diverge")

# --- NULL semantics of n-ary comparators -----------------------------------
probe("greatest_with_null",
      lambda c: F.greatest(c, F.lit(1.0), F.lit(None).cast("double")).cast("string"),
      "CAST(greatest(x, 1.0, NULL::DOUBLE) AS VARCHAR)",
      [0.0, 2.0, None], kind="dbl", expected="diverge")

# --- division edges under ANSI ----------------------------------------------
# ANSI Spark RAISES on raw x/0.0 while DuckDB's / yields NULL -- the
# guard-denominators convention is load-bearing.  try_divide (NULL) and
# DuckDB / (NULL) form the agreeing pair:
probe("try_divide_matches_duck_div",
      lambda c: F.expr("CAST(try_divide(x, 0.0D) AS STRING)"),
      "CAST((x / 0.0) AS VARCHAR)", [1.0, -1.0, 0.0, None], kind="dbl")

# --- date/time: pre-epoch truncation and micros extraction ------------------
probe("to_date_pre_epoch",
      lambda c: F.to_date(c.cast("timestamp")).cast("string"),
      "CAST(CAST(CAST(x AS TIMESTAMP) AS DATE) AS VARCHAR)",
      ["1969-12-31 23:59:59.999999", "1970-01-01 00:00:00",
       "2038-01-19 03:14:07.999999", None])
probe("unix_micros_pre_epoch",
      lambda c: F.unix_micros(c.cast("timestamp")).cast("string"),
      "CAST(epoch_us(CAST(x AS TIMESTAMP)) AS VARCHAR)",
      ["1969-12-31 23:59:59.999999", "1970-01-01 00:00:00.000001", None])
probe("date_trunc_week",
      lambda c: F.date_trunc("week", c.cast("timestamp")).cast("string"),
      # DuckDB date_trunc('week') returns DATE (Spark: TIMESTAMP) -- compare
      # after a TIMESTAMP re-cast; the week START (Monday) is the claim
      "CAST(CAST(date_trunc('week', CAST(x AS TIMESTAMP)) AS TIMESTAMP) AS VARCHAR)",
      ["2024-01-01 10:00:00", "2024-12-31 23:00:00", None])

# --- array semantics ---------------------------------------------------------
probe("array_sort_nulls",
      lambda c: F.expr(
          "array_sort(transform(split(x, ','), v -> try_cast(v AS INT)))"),
      "list_sort(list_transform(regexp_split_to_array(x, ','),"
      " v -> TRY_CAST(v AS INT)))",
      ["3,1,2", "3,,1", "1", ",,"])  # NULLs sort LAST in both
probe("concat_ws_null_skip",
      lambda c: F.concat_ws("-", c, F.lit(None).cast("string"), F.lit("z")),
      "concat_ws('-', x, NULL, 'z')", ["a", "", None])

# --- JSON path extraction (bridge parsers) -----------------------------------
probe("json_extract_string",
      lambda c: F.get_json_object(c, "$.a"),
      "json_extract_string(x, '$.a')",
      ['{"a": "v"}', '{"a": 3}', '{"b": 1}', 'not json', None],
      expected="diverge")  # fenced: the round-9 json_valid lockstep guard

# --- KNOWN fenced classes (assert the fence is still needed) ----------------
probe("lower_unicode", lambda c: F.lower(c), "lower(x)",
      ["İstanbul", "straße", "ΣΙΣ", "SPARK"],
      expected="diverge")
probe("length_unicode", lambda c: F.length(c).cast("string"),
      "CAST(length(x) AS VARCHAR)",
      ["caf\u00e9", "cafe\u0301", "abc", "\u0130"], expected="diverge")
probe("levenshtein_unicode",
      lambda c: F.levenshtein(c, F.lit("cafe")).cast("string"),
      "CAST(levenshtein(x, 'cafe') AS VARCHAR)",
      ["café", "café", "cafe"], expected="diverge")


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("semantics-probe")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    bad = 0
    for name, fn, dexpr, inputs, kind, expected in PROBES:
        schema = "x double" if kind == "dbl" else "x string"
        df = spark.createDataFrame([(v,) for v in inputs], schema)
        try:
            s_vals = [r["y"] for r in df.select(fn(F.col("x")).alias("y")).collect()]
            s_err = None
        except Exception as e:  # noqa: BLE001
            s_vals, s_err = None, str(e).splitlines()[0][:100]
        d_vals, d_errs = [], []
        cast = "DOUBLE" if kind == "dbl" else "VARCHAR"
        for v in inputs:
            try:
                d_vals.append(
                    con.execute(
                        f"SELECT {dexpr} FROM (SELECT ?::{cast} AS x)", [v]
                    ).fetchone()[0]
                )
            except Exception as e:  # noqa: BLE001
                d_vals.append(f"<ERR {str(e).splitlines()[0][:60]}>")
                d_errs.append(v)

        def norm(v):
            if isinstance(v, float) and math.isnan(v):
                return "NaN"
            if isinstance(v, list):
                return [norm(e) for e in v]
            return v

        if s_err is not None:
            status = "SPARK_ERR"
            detail = s_err
        else:
            diffs = [
                (i, norm(s), norm(d))
                for i, (s, d) in enumerate(zip(s_vals, d_vals))
                if norm(s) != norm(d)
            ]
            status = "AGREE" if not diffs else "DIVERGE"
            detail = "; ".join(
                f"in={inputs[i]!r} spark={s!r} duck={d!r}" for i, s, d in diffs[:4]
            )
        marker = ""
        if status == "DIVERGE" and expected == "agree":
            marker = "  <-- UNEXPECTED (candidate corpus carrier)"
            bad += 1
        if status == "AGREE" and expected == "diverge":
            marker = "  <-- fence may be retirable"
        print(f"{name}: {status}{marker}" + (f" — {detail}" if detail else ""))
    print(f"\nunexpected divergences: {bad}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
