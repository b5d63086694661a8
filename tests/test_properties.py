"""Property-based checks (hypothesis): the normalize_numeric Column
expression must agree with an independent Python statement of the
reference's decision table (transformer_data.py:45-78) on arbitrary
inputs, and dedup determinism must hold under shuffling (SURVEY §5.2.4)."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from ra2_datalake_linaresjoan_spark.functions.normalize import normalize_numeric
from ra2_datalake_linaresjoan_spark.operators.dedup import dedup_keep_newest


def numeric_spec(value: str) -> float | None:
    """Independent spec of the reference decision table: EU when dots>0,
    commas==1 and last comma after last dot; strip-commas when commas-only;
    else float() as-is; None on failure."""
    s = value.strip()
    if not s:
        return None
    dots, commas = s.count("."), s.count(",")
    if dots > 0 and commas == 1 and s.rfind(",") > s.rfind("."):
        s = s.replace(".", "").replace(",", ".")
    elif commas > 0 and dots == 0:
        s = s.replace(",", "")
    try:
        # Spark's try_cast and Python float() agree on inf/nan spellings
        # ('1e999'→inf, 'Infinity', 'nan', ...) — verified empirically
        return float(s)
    except ValueError:
        return None


digits = st.text(alphabet="0123456789.,- eE", min_size=0, max_size=12)
realistic = st.one_of(
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False).map(lambda x: f"{x:.4f}"),
    st.integers(min_value=-10**9, max_value=10**9).map(lambda i: f"{i:,}"),
    st.floats(min_value=0, max_value=1e6, allow_nan=False).map(
        lambda x: f"{x:,.2f}".replace(",", "#").replace(".", ",").replace("#", ".")
    ),
    digits,
)


@settings(max_examples=30, deadline=None)
@given(st.lists(realistic, min_size=1, max_size=40))
def test_normalize_numeric_matches_spec(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r["x"] for r in df.selectExpr(f"{normalize_numeric('v')} AS x").collect()]
    want = [numeric_spec(v) for v in values]
    import math

    for g, w, v in zip(got, want, values):
        if g is None or w is None:
            assert g == w, (v, g, w)
        elif math.isnan(w):
            assert math.isnan(g), (v, g, w)
        elif math.isinf(w):
            assert g == w, (v, g, w)
        else:
            assert abs(g - w) < 1e-9 * max(1.0, abs(w)), (v, g, w)


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_dedup_survivor_invariant_under_shuffle(spark, seed):
    rows = [(k, ts, f"{k}:{ts}") for k in range(5) for ts in range(4)]
    rnd = random.Random(seed)
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "id int, ts int, payload string").repartition(7)
    out = {r["id"]: r["payload"] for r in dedup_keep_newest(df, ["id"], "ts").collect()}
    assert out == {k: f"{k}:3" for k in range(5)}


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_pack_sequences_invariants(spark, seed):
    """Packing invariants: a row's bin equals (tokens-before-it) div
    capacity, and — when every doc fits in a context window (the real
    pipeline truncates longer ones first) — bins within a shard are dense
    from 0. Oversize docs would legitimately skip bins, which the formula
    assertion still covers."""
    from ra2_datalake_linaresjoan_spark.llmdata.packing import pack_sequences

    rnd = random.Random(seed)
    cap = 100
    rows = [
        (shard, i, rnd.randint(1, cap))
        for shard in ("a", "b")
        for i in range(rnd.randint(1, 40))
    ]
    df = spark.createDataFrame(rows, "shard string, doc_id int, tokens long")
    got = pack_sequences(df, "doc_id", "tokens", cap, shard_cols=["shard"]).collect()
    by_shard: dict[str, list] = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            assert r["bin_id"] == cum // cap, (shard, r)
            cum += r["tokens"]
        bins = sorted({r["bin_id"] for r in rs})
        assert bins == list(range(bins[-1] + 1))
