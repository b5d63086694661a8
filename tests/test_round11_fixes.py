"""Round-11 pins: the value-fuzz contracts and advisor closures.

- ``finite_case`` / ``finite_pred`` / ``exact_cents`` — the shared
  finite-population recipes that closed the 35 value-fuzz divergences
  (NaN/±Inf/-0.0 adversarial values; see tools/dirty_parity_audit.py's
  round-11 generator layer).
- ``order_nulls_last`` — the shared window/ranking NULL-ordering
  contract (round-10 verdict ask #4).
- The SCD2 streaming sink's replay-guard marker now lives INSIDE the
  checkpoint directory (round-10 ADVICE, medium): wiping the checkpoint
  must wipe the marker, so a recreated stream whose epoch ids restart
  at 0 is NOT silently skipped.
- The Poisson-bootstrap LCG uniform stream (round-11 A/B replacing the
  md5 stream) — pinned against a pure-Python reference so the Spark
  expression and the DuckDB oracle arithmetic can never drift apart
  silently.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_finite_case_drops_only_nonfinite(spark):
    from ra2_datalake_linaresjoan_spark.operators.filters import finite_case

    df = spark.createDataFrame(
        [(1, 1.5), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, None), (6, -0.0), (7, 0.0)],
        "id long, x double",
    )
    kept = sorted(r["id"] for r in finite_case(df, "x").collect())
    # -0.0 and 0.0 are finite; NaN/±Inf/NULL are not
    assert kept == [1, 6, 7]


def test_exact_cents_nullifies_nonfinite_and_rounds_half_up(spark):
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    df = spark.createDataFrame(
        [(1, 12.345), (2, 12.344), (3, float("nan")),
         (4, float("inf")), (5, None)],
        "id long, x double",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", exact_cents("x").alias("c")).collect()
    }
    assert got[1] == 1235 and got[2] == 1234  # Spark round = HALF_UP
    assert got[3] is None and got[4] is None and got[5] is None


def test_exact_cents_sql_matches_spark(spark):
    """The oracle-side fragment must produce the identical cents for
    the identical inputs — including the NULL-on-nonfinite contract."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        exact_cents,
        exact_cents_sql,
    )

    vals = [12.345, 0.0, -0.0, 99.994, 99.995, float("nan"),
            float("inf"), float("-inf"), None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = [r["c"] for r in df.select(exact_cents("x").alias("c")).collect()]
    con = duckdb.connect()
    d = [
        con.execute(
            f"SELECT {exact_cents_sql('x')} FROM (SELECT ? ::DOUBLE AS x)",
            [v],
        ).fetchone()[0]
        for v in vals
    ]
    assert s == d


def test_order_nulls_last_both_directions(spark):
    from ra2_datalake_linaresjoan_spark.operators.ordering import (
        order_nulls_last,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "id long, x double"
    )
    asc = [r["id"] for r in df.orderBy(order_nulls_last("x")).collect()]
    desc = [
        r["id"]
        for r in df.orderBy(order_nulls_last("x", ascending=False)).collect()
    ]
    assert asc == [3, 1, 2], "asc must put the NULL row last"
    assert desc == [1, 3, 2], "desc must put the NULL row last"


def test_dedup_keep_newest_null_order_never_survives(spark):
    """Under the shared contract a NULL order value can never outrank a
    real one — the seam the next dirty-generator strengthening (NULL
    timestamps on surviving keys) would otherwise land in."""
    from ra2_datalake_linaresjoan_spark.operators.dedup import (
        dedup_keep_newest,
    )

    df = spark.createDataFrame(
        [("k", None, 9), ("k", 5, 1), ("k", 3, 2)],
        "key string, ts int, payload int",
    )
    out = dedup_keep_newest(df, ["key"], "ts", tiebreak=["payload"]).collect()
    assert len(out) == 1 and out[0]["ts"] == 5


def test_scd2_marker_dies_with_checkpoint(spark, tmp_path):
    """Round-10 ADVICE (medium): a marker keyed by checkpoint PATH
    outlived a wiped-and-recreated checkpoint, silently skipping the
    new stream's first batches.  With marker_path INSIDE the
    checkpoint directory, checkpoint-gone ⇒ marker-gone: re-applying
    epoch 0 after the wipe must fold the new batch in."""
    import shutil

    from ra2_datalake_linaresjoan_spark.streaming.scd2_sink import (
        scd2_apply_epoch,
    )

    table = str(tmp_path / "episodes")
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    marker = str(ckpt / "__scd2_epoch_marker__")
    args = ("user_id", "state", "ts", "tb")

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, ts timestamp, tb long"
        ).selectExpr("user_id", "state", "ts", "tb")

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    b0 = batch([(1, "a", t0, 1)])
    scd2_apply_epoch(
        spark, table, b0, *args, epoch_id=0, marker_path=marker
    )
    assert spark.read.parquet(table).count() == 1
    # replay of epoch 0 under the SAME checkpoint: skipped (idempotent)
    scd2_apply_epoch(
        spark, table, batch([(2, "x", t0, 9)]), *args,
        epoch_id=0, marker_path=marker,
    )
    assert spark.read.parquet(table).count() == 1
    # checkpoint wiped and recreated at the SAME path: epoch ids restart
    # at 0, and the fresh marker must NOT skip the new stream's batch
    shutil.rmtree(ckpt)
    ckpt.mkdir()
    b0b = batch([(2, "b", t0 + dt.timedelta(hours=1), 2)])
    scd2_apply_epoch(
        spark, table, b0b, *args, epoch_id=0, marker_path=marker
    )
    users = sorted(
        r["user_id"] for r in spark.read.parquet(table).collect()
    )
    assert users == [1, 2], "post-wipe epoch 0 was silently skipped"


def test_poisson_lcg_matches_python_reference(spark):
    """The Spark LCG expression == the closed-form Python reference for
    the uniform stream AND the weights (the same arithmetic the DuckDB
    oracle runs — exact int64, no float in the stream)."""
    from ra2_datalake_linaresjoan_spark.queries_ext27 import (
        _PB_A,
        _PB_B,
        _PB_C,
        _PB_CUTS16,
        _PB_M32,
        _pb_u16,
        _pb_w_of,
    )

    def ref_weights(k):
        out = []
        km = k % _PB_M32
        for b in range(1, _PB_B + 1):
            s1 = (km * _PB_A + b * _PB_C + 12345) % _PB_M32
            s2 = (s1 * _PB_A + _PB_C) % _PB_M32
            u16 = s2 // 65536
            out.append((b, sum(u16 >= c for c in _PB_CUTS16)))
        return out

    keys = [0, 1, 7, 123456789, 2**41 + 17]
    df = spark.createDataFrame([(k,) for k in keys], "k long").select(
        "k", F.explode(F.sequence(F.lit(1), F.lit(_PB_B))).alias("b")
    ).select("k", "b", _pb_w_of(_pb_u16(F.col("k"), F.col("b"))).alias("w"))
    got: dict[int, list] = {}
    for r in df.collect():
        got.setdefault(r["k"], []).append((r["b"], r["w"]))
    for k in keys:
        assert sorted(got[k]) == ref_weights(k), k


def test_poisson_lcg_weight_distribution_sane(spark):
    """Poisson(1)-ish sanity over many keys: mean weight ≈ 1 and the
    zero-weight share ≈ e⁻¹ within loose bounds — guards against a
    future seed/multiplier edit quietly destroying the distribution."""
    from ra2_datalake_linaresjoan_spark.queries_ext27 import (
        _PB_B,
        _pb_u16,
        _pb_w_of,
    )

    df = (
        spark.range(2000)
        .select("id", F.explode(F.sequence(F.lit(1), F.lit(_PB_B))).alias("b"))
        .select(_pb_w_of(_pb_u16(F.col("id"), F.col("b"))).alias("w"))
        .agg(
            F.avg("w").alias("mean_w"),
            F.avg((F.col("w") == 0).cast("double")).alias("p0"),
        )
        .collect()[0]
    )
    assert abs(df["mean_w"] - 1.0) < 0.02
    assert abs(df["p0"] - math.exp(-1)) < 0.02


def test_finite_and_cents_cross_engine_property(spark):
    """Hypothesis sweep: for arbitrary doubles (incl. NaN/±Inf/signed
    zeros/subnormals), the Spark finite_pred / exact_cents pair and the
    DuckDB SQL fragments agree value-for-value — the round-11 recipe's
    cross-engine contract, pinned beyond the fixed-corpus audits."""
    import duckdb
    import math as m

    from hypothesis import given, settings, strategies as st

    from ra2_datalake_linaresjoan_spark.operators.filters import (
        exact_cents,
        exact_cents_sql,
        finite_pred,
    )

    doubles = st.one_of(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.sampled_from(
            [0.0, -0.0, float("nan"), float("inf"), float("-inf"),
             5e-324, 1e308, 99.995, -99.995]
        ),
        st.none(),
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doubles, min_size=1, max_size=25))
    def run(vals):
        # exact_cents is only DEFINED where |x*100| fits the BIGINT
        # round — clamp the magnitude domain like the queries' money
        # columns (guarding the cast is the finite contract's job, not
        # an overflow-domain one)
        vals = [
            v if v is None or not m.isfinite(v) or abs(v) < 1e15 else 1e15
            for v in vals
        ]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = df.select(
            finite_pred("x").alias("f"), exact_cents("x").alias("c")
        ).collect()
        con = duckdb.connect()
        for v, row in zip(vals, got):
            fin, cents = con.execute(
                f"SELECT coalesce(isfinite(x), FALSE), {exact_cents_sql('x')}"
                " FROM (SELECT ?::DOUBLE AS x)",
                [v],
            ).fetchone()
            assert bool(row["f"]) == bool(fin), v
            assert row["c"] == cents, v

    run()


def test_ascii_words_cross_engine_on_unicode(spark):
    """The shared tokenization contract: identical token lists in both
    engines ON UNICODE INPUT (the very case Java lower() vs utf8proc
    diverge on), and identical to the legacy lower-then-split on pure
    ASCII."""
    import duckdb

    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        ascii_words,
        ascii_words_sql,
    )

    texts = [
        "Hello World",
        "İstanbul straße ΣΙΣΥΦΟΣ ﬁn",
        "MiXeD123case tail",
        "",
        "ß",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["w"] for r in df.select(ascii_words("text").alias("w")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {ascii_words_sql('text')} FROM (SELECT ?::VARCHAR AS text)",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
    # ASCII equivalence with the legacy order
    from pyspark.sql import functions as F

    legacy = [
        r["w"]
        for r in df.where(~F.col("text").rlike("[^\\x00-\\x7f]"))
        .select(F.split(F.lower("text"), "[^a-z]+").alias("w"))
        .collect()
    ]
    new_ascii = [
        r["w"]
        for r in df.where(~F.col("text").rlike("[^\\x00-\\x7f]"))
        .select(ascii_words("text").alias("w"))
        .collect()
    ]
    assert legacy == new_ascii
