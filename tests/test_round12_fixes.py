"""Round-12 pins: the exact_cents representable-domain bound, the
unguarded-double hypothesis sweep it unlocks, the ascii_lower contract
(whitespace-tokenizer sibling of ascii_words), and the keyword-filter
ASCII fold.

Round-11 shipped finite_case/exact_cents as shared contracts on 40+
call sites but the property sweep clamped |x| < 1e15 — the round-12
advisor noted a huge-but-finite double (1e17) passed finite_pred and
overflowed the BIGINT cents cast in BOTH engines.  exact_cents now
guards the representable cents domain (|x| < 9.2e16 ≈ 2^63/100 with
round() headroom), so the sweep runs UNCLAMPED and the boundary is
pinned explicitly.
"""

from __future__ import annotations

import math

import pytest


def test_exact_cents_domain_boundary_cross_engine(spark):
    """Explicit boundary values: at/around ±9.2e16 (the guard), around
    ±2^63/100 (the raw cast limit the guard protects), -0.0, exact .5
    cents fractions (0.625*100 = 62.5 exactly — HALF_UP away from zero
    in both engines), and 1-ulp-below-.5 fractions."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        exact_cents,
        exact_cents_sql,
    )

    just_in = math.nextafter(9.2e16, 0)  # inside the strict < bound
    half_exact = 0.625  # 5/8: *100 = 62.5 exactly representable
    below_half = math.nextafter(62.5, 0) / 100  # cents fraction 1 ulp under .5
    vals = [
        9.2e16, -9.2e16,                      # exactly AT the bound -> NULL
        just_in, -just_in,                    # just inside -> cast succeeds
        2**63 / 100, -(2**63) / 100,          # raw cast limit -> NULL (guarded)
        1e17, 1e308, -1e308,                  # far out-of-domain finites -> NULL
        -0.0,                                 # signed zero -> 0 cents
        half_exact, -half_exact,              # exact .5 -> away from zero
        below_half, -below_half,              # 1 ulp below .5 -> toward zero
        float("nan"), float("inf"), float("-inf"), None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["c"] for r in df.select(exact_cents("x").alias("c")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {exact_cents_sql('x')} FROM (SELECT ?::DOUBLE AS x)", [v]
        ).fetchone()[0]
        for v in vals
    ]
    assert got == want
    by = dict(zip(map(repr, vals), got))
    assert by[repr(9.2e16)] is None and by[repr(1e17)] is None
    assert by[repr(just_in)] == round(just_in * 100)
    assert by[repr(-0.0)] == 0
    assert by[repr(0.625)] == 63 and by[repr(-0.625)] == -63
    assert by[repr(below_half)] == 62 and by[repr(-below_half)] == -62


def test_exact_cents_unclamped_hypothesis_cross_engine(spark):
    """Full-double-domain sweep — no magnitude clamp (the round-11 sweep
    clamped to |x| < 1e15; the domain guard makes the clamp obsolete)."""
    import duckdb

    from hypothesis import given, settings, strategies as st

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        exact_cents,
        exact_cents_sql,
    )

    doubles = st.one_of(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.sampled_from(
            [9.2e16, -9.2e16, math.nextafter(9.2e16, 0), 2**63 / 100,
             1e17, 5e-324, 1e308, -0.0, 0.625, -0.625, 99.995]
        ),
        st.none(),
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doubles, min_size=1, max_size=25))
    def run(vals):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [
            r["c"] for r in df.select(exact_cents("x").alias("c")).collect()
        ]
        con = duckdb.connect()
        for v, g in zip(vals, got):
            (d,) = con.execute(
                f"SELECT {exact_cents_sql('x')} FROM (SELECT ?::DOUBLE AS x)",
                [v],
            ).fetchone()
            assert g == d, (v, g, d)

    run()


def test_ascii_lower_cross_engine_and_ascii_noop(spark):
    """The round-12 whitespace-tokenizer fold: identical output in both
    engines on unicode carriers, and bit-identical to lower() on ASCII."""
    import duckdb

    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        ascii_lower,
        ascii_lower_sql,
    )

    texts = [
        "Hello World 42!",
        "İstanbul straße ΣΙΣ ﬁn",
        "the SPARK value",      # Kelvin sign: full lower() folds to ASCII k
        "DİYARBAKIR ığdır",
        "MIXED punct-1.5, (ok)",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["t"] for r in df.select(ascii_lower("text").alias("t")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {ascii_lower_sql('text')} FROM (SELECT ?::VARCHAR AS text)",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
    # ASCII no-op: equals full lower() wherever the input is pure ASCII
    ascii_rows = df.where(~F.col("text").rlike("[^\\x00-\\x7f]"))
    same = ascii_rows.select(
        (ascii_lower("text") == F.lower("text")).alias("eq")
    ).collect()
    assert same and all(r["eq"] for r in same)


def test_shingles_fold_is_engine_independent(spark):
    """dedup.shingles (feeds minhash/containment) must emit the same
    shingle multiset both engines would compute — pinned directly on a
    unicode carrier (the round-12 migration of llmdata/dedup.py:38)."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.llmdata.dedup import shingles

    rows = [
        (1, "The Quick Brown Fox Jumps"),
        (2, "İstanbul straße ΣΙΣ quick brown fox"),
        (3, "the SPARK value stream here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["shingle"])
        for r in shingles(df, "doc_id", "text", 3).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i, _ in rows)
        + ") AS t(doc_id, text)",
        [t for _, t in rows],
    )
    want = sorted(
        (int(i), s)
        for i, s in con.execute(
            r"""
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(translate(text,
                       'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       'abcdefghijklmnopqrstuvwxyz')), '\s+') AS words
              FROM d
            )
            SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ')
            FROM w, unnest(range(1, len(words) - 1)) AS t(i)
            WHERE len(words) >= 3
            """
        ).fetchall()
    )
    assert got == want


def test_keyword_filter_fold_row_sets_match_cross_engine(spark):
    """keyword_include/exclude choose ROWS — an engine-divergent fold
    changes result cardinality, not just strings.  Pin the ASCII-fold
    contract on carriers where Java lower() folds non-ASCII into ASCII
    ('K' Kelvin completes 'spark') while translate leaves it alone."""
    import duckdb

    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        keyword_exclude,
        keyword_include,
    )

    rows = [
        (1, "a SPARK stream"),  # plain ASCII -> include
        # U+212A KELVIN: Java lower() folds it to ASCII 'k' completing
        # 'spark'; the translate contract does NOT -> row excluded
        (2, "a SPAR\u212a flow"),
        (3, "slow SPARK thing"),  # include hits, exclude hits -> out
        (4, "nothing relevant"),
        (5, "\u0130stanbul spark"),  # carrier beside a real keyword
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        r["id"]
        for r in df.filter(
            keyword_include(F.col("text"), ["spark", "stream"])
            & keyword_exclude(F.col("text"), ["slow", "error"])
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i, _ in rows)
        + ") AS t(id, text)",
        [t for _, t in rows],
    )
    tr = ("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
          " 'abcdefghijklmnopqrstuvwxyz')")
    want = sorted(
        int(i)
        for (i,) in con.execute(
            f"SELECT id FROM d WHERE regexp_matches({tr}, 'spark|stream')"
            f" AND NOT regexp_matches({tr}, 'slow|error')"
        ).fetchall()
    )
    assert got == want
    # row 2's Kelvin sign must NOT complete 'spark' under the translate
    # contract (a full lower() would have included it)
    assert got == [1, 5]


def test_scd2_two_interleaved_writers(spark, tmp_path):
    """Two scd2_stream_sink writers share ONE episodes path under
    DIFFERENT checkpoints, strictly interleaved (A, B, A, B — never
    simultaneous), the union of their feeds in CDC order.  The at-rest
    table must equal the one-shot scd2_history over the whole feed.

    This pins the round-11 marker-scoping fix from the OTHER side: the
    marker lives inside each writer's checkpoint, so writer B's epoch 0
    must not be skipped as a replay of writer A's epoch 0 (a shared
    path-derived marker — the pre-round-11 design — would drop B's
    first batch silently).  Simultaneous writers stay out of contract
    (documented in scd2_stream_sink's docstring): they race the shared
    __stage/__bak scratch paths."""
    import os
    import time

    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators.scd2 import scd2_history
    from ra2_datalake_linaresjoan_spark.sources.readers import read_testdata
    from ra2_datalake_linaresjoan_spark.streaming.scd2_sink import (
        scd2_stream_sink,
    )
    from ra2_datalake_linaresjoan_spark.streaming.windows import (
        read_events_stream,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "event_type", "ts", "event_id"]
    ev = (
        read_testdata(spark, sf, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(*cols)
        .orderBy("ts", "event_id")
        .limit(400)
    )
    rows = ev.collect()
    feed = spark.createDataFrame(rows, ev.schema)
    quarter = (len(rows) + 3) // 4
    src_a, src_b = tmp_path / "feedA", tmp_path / "feedB"
    src_a.mkdir(), src_b.mkdir()

    def _drop_chunk(i: int, src) -> None:
        chunk = spark.createDataFrame(
            rows[i * quarter : (i + 1) * quarter], ev.schema
        )
        stage = tmp_path / f"stage{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(stage / part, src / f"chunk{i}.parquet")

    out = str(tmp_path / "episodes")

    def _run(src, ckpt) -> None:
        q = scd2_stream_sink(
            read_events_stream(
                spark, str(src), max_files_per_trigger=1
            ).select(*cols),
            out,
            checkpoint_dir=str(ckpt),
            key="user_id",
            state="event_type",
            ts="ts",
            tiebreak="event_id",
        )
        q.awaitTermination(120)

    # A(chunk0) -> B(chunk1) -> A(chunk2) -> B(chunk3): each writer
    # resumes its OWN checkpoint, folding into the table the other
    # writer left behind; time terciles keep global CDC order
    for i, (src, ckpt) in enumerate(
        [
            (src_a, tmp_path / "ckptA"),
            (src_b, tmp_path / "ckptB"),
            (src_a, tmp_path / "ckptA"),
            (src_b, tmp_path / "ckptB"),
        ]
    ):
        _drop_chunk(i, src)
        time.sleep(0.2)
        _run(src, ckpt)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            scd2_history(
                feed, "user_id", "event_type", "ts", "event_id"
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_probe_pins_deferred_classes_still_diverge(spark):
    """Pins for tools/semantics_probe.py findings (round-12): the two
    DEFERRED divergence classes must still diverge (if an engine
    upgrade converges them, the round-13 fix plan in SCALE.md retires
    instead of lands), and the fenced levenshtein class must stay
    byte-level in DuckDB (the ascii_text_pred fence's justification)."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()
    # 1. \s class: Java includes U+000B, RE2 does not
    df = spark.createDataFrame([("a\x0bb",)], "x string")
    s = df.select(F.size(F.split("x", r"\s+")).alias("n")).collect()[0]["n"]
    (d,) = con.execute(
        r"SELECT len(regexp_split_to_array('a' || chr(11) || 'b', '\s+'))"
    ).fetchone()
    assert s == 2 and d == 1, (s, d)
    # 2. trim charset: DuckDB strips NBSP, Spark strips ASCII space only
    df = spark.createDataFrame([(" a ",)], "x string")
    s = df.select(F.trim("x").alias("t")).collect()[0]["t"]
    (d,) = con.execute("SELECT trim(chr(160) || 'a' || chr(160))").fetchone()
    assert s == " a " and d == "a", (s, d)
    # 3. levenshtein: DuckDB walks BYTES ('café' is 5 utf-8 bytes)
    df = spark.createDataFrame([("café",)], "x string")
    s = df.select(F.levenshtein("x", F.lit("cafe")).alias("d")).collect()[0]["d"]
    (d,) = con.execute(
        "SELECT levenshtein('caf' || chr(233), 'cafe')"
    ).fetchone()
    assert s == 1 and d == 2, (s, d)


def test_probe_pins_agreeing_classes(spark):
    """The probe's AGREE families that corpus queries rely on unguarded:
    binary string collation, rounding ties at representable decimals,
    negative modulo."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()
    vals = ["a", "Z", "z", "é", "İ", "Ａ", "ABC", ""]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    s = [r["b"] for r in df.select((F.col("x") < "b").alias("b")).collect()]
    d = [
        con.execute("SELECT ?::VARCHAR < 'b'", [v]).fetchone()[0]
        for v in vals
    ]
    assert s == d
    ties = [0.0625, -0.0625, 2.5, -2.5, 62.5, -62.5]
    df = spark.createDataFrame([(v,) for v in ties], "x double")
    for nd in (0, 3):
        s = [
            r["y"] for r in df.select(F.round("x", nd).alias("y")).collect()
        ]
        d = [
            con.execute(f"SELECT round(?::DOUBLE, {nd})", [v]).fetchone()[0]
            for v in ties
        ]
        assert s == d, (nd, s, d)
    mods = [-7, -1, 0, 7]
    df = spark.createDataFrame([(v,) for v in mods], "x long")
    s = [r["m"] for r in df.select((F.col("x") % 3).alias("m")).collect()]
    d = [
        con.execute("SELECT ?::BIGINT % 3", [v]).fetchone()[0] for v in mods
    ]
    assert s == d


def test_round13_fix_recipes_proven_cross_engine(spark):
    """The two deferred-class fix recipes (SCALE.md round-13 plan),
    proven BEFORE any call site migrates — the r13 migration then only
    routes call sites through an already-pinned contract:

    1. ws_split: Spark `[\\s\\x0b]+` == DuckDB `[\\s\\x0b]+` (RE2's \\s
       lacks U+000B; the explicit union makes the classes equal) — and
       on Spark's side `[\\s\\x0b]+` == plain `\\s+` (Java's \\s already
       contains \\x0b), so migrating Spark sites is a provable no-op on
       EVERY input, not just clean data.
    2. trim charset: Spark F.trim == DuckDB trim(x, ' ') (explicit
       single-space charset; DuckDB's default trim strips unicode
       spaces Spark's never touches)."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()
    texts = [
        "a b", "a\x0bb", "a\tb", "a\x0b \tb", "\x0bab\x0b",
        " a ", "a b", " a ", "a　b", "", "ab",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "x string")
    rows = df.select(
        F.split("x", r"[\s\x0b]+").alias("w_new"),
        F.split("x", r"\s+").alias("w_old"),
        F.trim("x").alias("t"),
    ).collect()
    # Spark-side no-op: the explicit union equals Java's \s exactly
    assert all(r["w_new"] == r["w_old"] for r in rows)
    for t, r in zip(texts, rows):
        (d_w, d_t) = con.execute(
            r"SELECT regexp_split_to_array(x, '[\s\x0b]+'), trim(x, ' ')"
            " FROM (SELECT ?::VARCHAR AS x)",
            [t],
        ).fetchone()
        assert r["w_new"] == d_w, (t, r["w_new"], d_w)
        assert r["t"] == d_t, (t, r["t"], d_t)
