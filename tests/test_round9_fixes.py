"""Round-9 contract pins: the advisor fixes, the complete-case /
emb-clean conventions that drained the dirty-parity backlog, and the
new incremental SCD2 apply operator.

Each test pins a behavior the oracle gate alone cannot see (degenerate
inputs the testdata lacks, plan/storage properties, or cross-strategy
agreement inside ONE engine).
"""

from __future__ import annotations

import datetime

import pytest


# ---------------------------------------------------------------------------
# complete_case / complete_case_sql
# ---------------------------------------------------------------------------


def test_complete_case_filters_every_listed_column(spark):
    from ra2_datalake_linaresjoan_spark.operators.filters import (
        complete_case,
        complete_case_sql,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None), (None, None)], "k int, v string"
    )
    got = sorted(r["k"] for r in complete_case(df, "k", "v").collect())
    assert got == [1]
    assert complete_case_sql("k", "v") == "k IS NOT NULL AND v IS NOT NULL"

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a'), "
                "(NULL, 'b'), (2, NULL), (NULL, NULL)) AS t(k, v)")
    n = con.execute(
        f"SELECT count(*) FROM t WHERE {complete_case_sql('k', 'v')}"
    ).fetchone()[0]
    assert n == 1


# ---------------------------------------------------------------------------
# EMB_CLEAN ragged-length guard (round-8 advisor finding)
# ---------------------------------------------------------------------------


def test_emb_clean_rejects_ragged_vectors_on_both_engines(spark, tmp_path):
    from ra2_datalake_linaresjoan_spark.queries import EMB_CLEAN_SQL, _emb_clean

    rows = [
        (1, [0.1] * 64, 0),
        (2, [0.2] * 16, 0),      # ragged: DuckDB list_cosine raises on it
        (3, None, 0),
        (4, [0.0] * 64, 0),      # zero norm
        (5, [0.3] * 63 + [None], 0),  # interior NULL
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "emb")
    df.coalesce(1).write.parquet(d + "/embeddings.parquet")
    kept = sorted(r["vec_id"] for r in _emb_clean(spark, d).collect())
    assert kept == [1]

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    got = con.execute(
        f"SELECT vec_id FROM embeddings WHERE {EMB_CLEAN_SQL} ORDER BY 1"
    ).fetchall()
    assert [r[0] for r in got] == [1]


# ---------------------------------------------------------------------------
# cosine_topk: numpy and expr strategies agree on degenerate vectors
# ---------------------------------------------------------------------------


def test_cosine_topk_strategies_agree_on_dirty_corpus(spark):
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),   # zero norm: no defined cosine
        (4, [0.0, 1.0, 0.0]),
        (5, None),              # NULL vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def canon(out):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"])
            for r in out.collect()
        )

    got_np = canon(cosine_topk(df, df, k=2, method="numpy"))
    got_ex = canon(cosine_topk(df, df, k=2, method="expr"))
    assert got_np == got_ex
    # the zero-norm row must appear as neither query nor neighbor
    flat = {r[0] for r in got_np} | {r[1] for r in got_np}
    assert 3 not in flat and 5 not in flat


# ---------------------------------------------------------------------------
# ks_from_joint: count products past int64 (the advisor's overflow class)
# ---------------------------------------------------------------------------


def test_ks_from_joint_survives_int64_overflow_counts(spark):
    from ra2_datalake_linaresjoan_spark.streaming.sketches import ks_from_joint

    big = 1 << 40  # cum*tot products reach 2^80 — far past int64
    joint = spark.createDataFrame(
        [(0, big, big // 2), (1, big, 2 * big)],
        "bucket int, na long, nb long",
    )
    row = ks_from_joint(joint).collect()[0]
    assert row["n_a"] == 2 * big and row["n_b"] == big // 2 + 2 * big
    # CDF_a at bucket 0 = 0.5, CDF_b = 0.2 -> D = 0.3
    assert row["ks_d"] == pytest.approx(0.3, abs=1e-6)
    assert row["argmax_bucket"] == 0


# ---------------------------------------------------------------------------
# scd2_apply: incremental == one-shot on a hand-built change feed
# ---------------------------------------------------------------------------


def _ts(h):
    return datetime.datetime(2026, 1, 1, h)


def test_scd2_apply_matches_one_shot_rebuild(spark):
    from ra2_datalake_linaresjoan_spark.operators.scd2 import (
        scd2_apply,
        scd2_history,
    )

    schema = "k string, st string, ts timestamp, tb long"
    b1 = spark.createDataFrame(
        [("u1", "a", _ts(1), 1), ("u1", "b", _ts(2), 2), ("u2", "x", _ts(2), 3)],
        schema,
    )
    # batch 2: u1 keeps state b (must COLLAPSE into the open episode,
    # not mint a new one), u2 changes, u3 is a brand-new key
    b2 = spark.createDataFrame(
        [("u1", "b", _ts(3), 4), ("u2", "y", _ts(4), 5), ("u3", "z", _ts(4), 6)],
        schema,
    )
    inc = scd2_apply(
        scd2_history(b1, "k", "st", "ts", "tb"), b2, "k", "st", "ts", "tb"
    )
    full = scd2_history(b1.unionByName(b2), "k", "st", "ts", "tb")
    canon = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert canon(inc) == canon(full)
    open_states = {
        (r["k"], r["state"]) for r in inc.where("is_current").collect()
    }
    assert open_states == {("u1", "b"), ("u2", "y"), ("u3", "z")}


def test_scd2_apply_closed_episodes_untouched(spark):
    from ra2_datalake_linaresjoan_spark.operators.scd2 import (
        scd2_apply,
        scd2_history,
    )

    schema = "k string, st string, ts timestamp, tb long"
    b1 = spark.createDataFrame(
        [("u1", "a", _ts(1), 1), ("u1", "b", _ts(2), 2)], schema
    )
    ep1 = scd2_history(b1, "k", "st", "ts", "tb")
    closed_before = sorted(
        map(tuple, ep1.where("NOT is_current").collect())
    )
    b2 = spark.createDataFrame([("u1", "c", _ts(5), 3)], schema)
    ep2 = scd2_apply(ep1, b2, "k", "st", "ts", "tb")
    closed_after = sorted(
        map(tuple, ep2.where("NOT is_current").collect())
    )
    # the old closed episode survives byte-identical; the old OPEN
    # episode is now closed at the new change's timestamp
    assert closed_before[0] in closed_after
    assert len(closed_after) == 2
    assert ep2.where("is_current").collect()[0]["state"] == "c"
