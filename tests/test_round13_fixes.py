"""Round-13 contract pins.

Three cross-engine divergence classes got corpus coverage and fixes this
round (SCALE.md round-13 section):

1. money-domain populations — ``money_case``/``money_pred`` (finite AND
   |x| < 9.2e16) replacing finite-only filters wherever a statistic
   casts to BIGINT cents/buckets, computes moment sums, or floor-bands
   (the advisor's finite-but-huge double carriers made each failure
   observable: lockstep ANSI raises, DuckDB STDDEV out-of-range vs
   Spark Inf, Spark floor() LONG saturation vs DuckDB raise).
2. double→VARCHAR formatting — printf('%.2f') as the cross-engine
   renderer (table_profile), population bounds at |x| < 1e7 for
   parity queries that render by design, and the printable-ASCII fence
   for from_json inputs (raw U+000B is invalid JSON).
3. interpolated-percentile ULP drift — Spark ``percentile`` and DuckDB
   ``quantile_cont`` land 1 ULP apart on identical multisets (observed
   live: 0.452 vs 0.45199999999999996); thresholds must round to the
   same grid as the scores they cut.

Plus the dirty-audit carrier re-keying (the round-12 selector silently
produced DEAD carriers) and the keyword-fold symmetry fix.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def test_money_case_boundary_lockstep(spark):
    """money_case / money_case_sql keep the identical row population on
    the domain boundary, the carriers, and the classic non-finites."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        money_case,
        money_case_sql,
        money_pred,
    )

    vals = [
        0.0, -0.0, 1.0, -857.71,
        9.199999999999998e16,  # just inside
        9.2e16, 9.3e16, 1e17, 1e308, -1e308,
        float("nan"), float("inf"), float("-inf"), None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    kept_spark = sorted(
        r["x"] for r in money_case(df, "x").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    kept_duck = sorted(
        r[0]
        for r in con.execute(
            f"SELECT x FROM t WHERE {money_case_sql('x')}"
        ).fetchall()
    )
    assert kept_spark == kept_duck
    assert 9.3e16 not in kept_spark and 9.199999999999998e16 in kept_spark
    # the row-level pred agrees with the filter
    preds = df.select(money_pred("x").alias("p"), "x").collect()
    assert sorted(r["x"] for r in preds if r["p"]) == kept_spark
    # and the cents cast is safe on every kept value (no ANSI raise)
    money_case(df, "x").select(
        F.round(F.col("x") * 100).cast("long")
    ).collect()


def test_printf_renderer_cross_engine(spark):
    """printf('%.2f') == F.format_string('%.2f') for the profiled money
    domain, including magnitudes where a bare cast diverges (Spark goes
    scientific at |x| >= 1e7, DuckDB stays plain)."""
    import duckdb

    vals = [0.0, -0.0, 857.71, 900.0, 1234.56, 1e7, 123456789.12, 9.3e16]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = [
        r["s"]
        for r in df.select(F.format_string("%.2f", "x").alias("s")).collect()
    ]
    con = duckdb.connect()
    d = [
        con.execute("SELECT printf('%.2f', ?::DOUBLE)", [v]).fetchone()[0]
        for v in vals
    ]
    assert s == d
    # the class being escaped: bare casts disagree at 1e7
    bare = df.select(F.col("x").cast("string").alias("s")).collect()
    assert any("E" in r["s"] for r in bare), "Spark no longer scientific?"


def test_percentile_threshold_grid_rounding(spark):
    """The live round-13 find: Spark percentile vs DuckDB quantile_cont
    interpolate 1 ULP apart on an identical multiset; rounding both to
    the 6-dp score grid restores bit-equality."""
    import duckdb
    import struct

    vals = sorted(
        [0.45, 0.452, 0.452, 0.4574, 0.5124, 0.597, 0.608, 0.6762,
         0.7128, 0.7564, 0.45, 0.46, 0.47, 0.48, 0.49, 0.5, 0.51,
         0.52, 0.53, 0.54, 0.55]
    )
    df = spark.createDataFrame([(v,) for v in vals], "s double")
    qs = ", ".join(str(q / 10) for q in range(1, 10))
    thr_s = df.agg(
        F.expr(f"transform(percentile(s, array({qs})), t -> round(t, 6))")
        .alias("t")
    ).collect()[0]["t"]
    con = duckdb.connect()
    con.execute("CREATE TABLE sc AS SELECT unnest(?) AS s", [vals])
    thr_d = con.execute(
        "SELECT list_transform(quantile_cont(s, "
        "[0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), t -> round(t, 6)) FROM sc"
    ).fetchone()[0]
    assert [struct.pack("d", a) for a in thr_s] == [
        struct.pack("d", b) for b in thr_d
    ]


def test_from_json_rejects_raw_control_chars(spark):
    """The jsonish fence rationale: a raw U+000B inside a JSON string is
    INVALID JSON — from_json nulls the whole array, so any oracle that
    shortcuts the parse must exclude non-printable-ASCII inputs."""
    df = spark.createDataFrame(
        [('[" a\x0bb ", "ok"]',), ('[" ab ", "ok"]',)], "s string"
    )
    rows = df.select(
        F.from_json("s", "array<string>").alias("a"), "s"
    ).collect()
    by_s = {r["s"]: r["a"] for r in rows}
    assert by_s['[" a\x0bb ", "ok"]'] is None
    assert by_s['[" ab ", "ok"]'] == [" ab ", "ok"]


def test_java_upper_diverges_from_utf8proc_on_ligatures(spark):
    """Why the outcomes-arm ASCII fence is load-bearing: Java's full
    upper() expands the ligature 'ﬁ' to 'FI' while DuckDB's utf8proc
    upper is codepoint-wise and leaves it alone."""
    import duckdb

    s = spark.createDataFrame([("ﬁn",)], "x string").select(
        F.upper("x").alias("u")
    ).collect()[0]["u"]
    d = duckdb.connect().execute("SELECT upper('ﬁn')").fetchone()[0]
    assert s == "FIN" and d != "FIN"


def test_keyword_fold_symmetry():
    """keyword_include folds keywords with the SAME 26-letter translate
    map as the column side (round-12 advisor): ASCII uppercase folds,
    non-ASCII uppercase passes through on BOTH sides."""
    from ra2_datalake_linaresjoan_spark.operators.filters import (
        _PY_ASCII_FOLD,
        keyword_pattern,
    )

    assert "NAÏVE".translate(_PY_ASCII_FOLD) == "naÏve"
    assert "SPARK".translate(_PY_ASCII_FOLD) == "spark"
    # a keyword with non-ASCII uppercase keeps it verbatim in the
    # pattern — str.lower() would have folded Ï to ï and silently
    # stopped matching the column-side fold (which never touches Ï)
    pat = keyword_pattern(["NAÏVE".translate(_PY_ASCII_FOLD)])
    assert "naÏve" in pat and "naïve" not in pat


def test_dirty_audit_carriers_reach_text_column(spark, tmp_path):
    """Regression pin for the round-13 dead-carrier find: the round-12
    selector arithmetic left every new carrier entry unused (4 rows per
    column, same 4 indices everywhere).  The re-keyed selector must land
    every carrier CLASS in documents.text — the column every tokenizer,
    trim, and char-level query reads."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "dpa", os.path.join(repo, "tools", "dirty_parity_audit.py")
    )
    dpa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dpa)
    out = str(tmp_path / "dirty")
    dpa.build_dirty_dir(spark, out)
    rows = spark.read.parquet(os.path.join(out, "documents.parquet")).collect()
    text = [r["text"] for r in rows if isinstance(r["text"], str)]
    for label, ch in (
        ("VT", "\x0b"),
        ("NBSP", "\xa0"),
        ("astral", "\U0001d5e6"),
        ("combining", "̇"),
    ):
        assert any(ch in t for t in text), f"{label} carrier missing in text"
    # and the finite-huge doubles reach a money column
    orders = spark.read.parquet(os.path.join(out, "orders.parquet")).collect()
    prices = [r["o_totalprice"] for r in orders if r["o_totalprice"] is not None]
    assert any(p == 9.3e16 for p in prices)
    assert any(p == -1e308 for p in prices)
    # close review: the floor-saturation class needs a POSITIVE finite
    # value past 2^63 (9.3e16 still fits BIGINT after floor; -1e308
    # loses every >= bound) — pre-fix benford_digits diverged on
    # exactly this row (Spark LONG_MAX saturation digit "9" vs a DuckDB
    # cast raise)
    assert any(p == 1e19 for p in prices)


def test_bellman_ford_survives_poisoned_price_lockstep(spark, tmp_path):
    """Close-review pin: bellman_ford_routes carried the registry's one
    UNGUARDED per-row cents cast, and its oracle casts only AFTER the
    min — so a NaN/huge price on a row that SURVIVES the 4-way join
    would ANSI-raise the Spark job while the oracle sailed past it.
    The 60-row dirty corpus never exercises this (its poisoned lineitem
    rows all lose the orders join), hence a direct fixture: poisoned
    prices on surviving rows must neither raise nor shift the edge
    weights, identically in both engines."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.queries_ext11 import (
        SQL_BELLMAN_FORD_ROUTES,
        q_bellman_ford_routes,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            # order 1 (cust 1 → nation 1) supplied from nation 0: one
            # clean price and BOTH poison shapes on surviving rows
            (1, 1, 100.50),
            (1, 1, float("nan")),
            (1, 1, 9.3e16),
            # order 2 (cust 2 → nation 2) supplied from nation 1:
            # ONLY poisoned prices — the whole edge must vanish, not
            # saturate into a fake cost
            (2, 2, float("inf")),
            (2, 2, -1e308),
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double",
    ).write.parquet(os.path.join(sf, "lineitem.parquet"))
    spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(os.path.join(sf, "orders.parquet"))
    spark.createDataFrame(
        [(1, 0), (2, 1)], "s_suppkey long, s_nationkey int"
    ).write.parquet(os.path.join(sf, "supplier.parquet"))
    spark.createDataFrame(
        [(1, 1), (2, 2)], "c_custkey long, c_nationkey int"
    ).write.parquet(os.path.join(sf, "customer.parquet"))

    got = [
        (r["node"], r["cost"])
        for r in q_bellman_ford_routes(spark, sf).collect()
    ]
    # node 0 at cost 0; node 1 via the one in-domain price; node 2
    # unreachable (its only edge was entirely out-of-domain)
    assert got == [(0, 0), (1, 10050)]

    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf, t + '.parquet')}/*.parquet')"
        )
    oracle = [tuple(r) for r in con.execute(SQL_BELLMAN_FORD_ROUTES).fetchall()]
    assert oracle == got


def test_percentile_interpolation_agrees_at_huge_magnitude(spark):
    """Close-review probe pin: Spark ``percentile`` and DuckDB
    ``quantile_cont`` interpolate BIT-IDENTICALLY even when the
    interpolation spans a finite-huge value (1 ULP at 1e19 is ~2048 —
    far beyond any rounding grid, so agreement here is why the
    finite-only percentile populations stay un-bounded while every
    integer-cast/floor site needs the money domain).  If an engine
    upgrade breaks this, the percentile queries need money_case too."""
    import duckdb

    con = duckdb.connect()
    cases = [
        [1.0, 2.0, 3.0, 1e19],
        [5.0, 9.3e16],
        [1.0, 2.0, 1e19, 1e19],
        [857.71, 941.54, 9.3e16, 1e19],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        for p in (0.5, 0.9, 0.99):
            s = df.select(
                F.expr(f"percentile(x, {p})").alias("q")
            ).collect()[0]["q"]
            d = con.execute(
                f"SELECT quantile_cont(x, {p}) FROM "
                "(SELECT unnest(?::DOUBLE[]) AS x)",
                [vals],
            ).fetchone()[0]
            assert s == d, (vals, p, s, d)


def test_hhi_excludes_zero_total_nations_lockstep(spark, tmp_path):
    """FK-coherent-corpus find: a nation whose surviving revenue nets to
    ZERO made Spark's LONG/LONG share division raise DIVIDE_BY_ZERO
    while the oracle's DOUBLE/BIGINT division yielded IEEE Inf/NaN and
    sailed past.  Shares have no meaning over a zero denominator — the
    population is nonzero-total nations, identically in both engines."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.queries_ext21 import (
        SQL_HHI_CONCENTRATION,
        q_hhi_concentration,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            # nation A: normal revenue
            (1, 1, 100.0, 0.0),
            (1, 1, 50.0, 0.1),
            # nation B: revenue nets to EXACTLY zero (cancelling rows)
            (2, 2, 75.0, 0.0),
            (2, 2, -75.0, 0.0),
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
    ).write.parquet(os.path.join(sf, "lineitem.parquet"))
    spark.createDataFrame(
        [(1, 10), (2, 20)], "s_suppkey long, s_nationkey int"
    ).write.parquet(os.path.join(sf, "supplier.parquet"))
    spark.createDataFrame(
        [(10, "ALPHA"), (20, "BETA")], "n_nationkey int, n_name string"
    ).write.parquet(os.path.join(sf, "nation.parquet"))

    got = [tuple(r) for r in q_hhi_concentration(spark, sf).collect()]
    # BETA vanished (zero total), ALPHA's single supplier holds 100%
    assert got == [("ALPHA", 1, 1.0, 1.0)]

    con = duckdb.connect()
    for t in ("lineitem", "supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf, t + '.parquet')}/*.parquet')"
        )
    assert [tuple(r) for r in con.execute(SQL_HHI_CONCENTRATION).fetchall()] == got


def test_dirty_corpus_poisoned_rows_survive_joins(spark, tmp_path):
    """The FK-coherent sampler's contract: at least one poisoned
    lineitem row (non-finite or out-of-cents-domain l_extendedprice)
    must SURVIVE the lineitem⋈orders join — otherwise every
    join-downstream cast sits in the coverage shadow that hid
    bellman_ford_routes' unguarded cents cast for two rounds."""
    import importlib.util
    import math

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "dpa2", os.path.join(repo, "tools", "dirty_parity_audit.py")
    )
    dpa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dpa)
    out = str(tmp_path / "dirty")
    dpa.build_dirty_dir(spark, out)
    li = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(out, "orders.parquet"))
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_extendedprice"
    ).collect()
    poisoned = [
        r["l_extendedprice"]
        for r in joined
        if r["l_extendedprice"] is not None
        and (
            math.isnan(r["l_extendedprice"])
            or abs(r["l_extendedprice"]) >= 9.2e16
        )
    ]
    assert poisoned, "no poisoned lineitem row survives the orders join"
