"""Round-8 regression pins for round-7 advisor findings.

1. quantile_estimate(q=0) must report (near) the MINIMUM, not bucket 0's
   upper edge, when the distribution's min sits above bucket 0.
2. The whole-row tiebreak fingerprints in merge_upsert and asof_join must
   DISTINGUISH rows that differ only in which column is NULL — xxhash64
   skips null inputs, so the naive per-column cast hash collides on
   ('x', NULL) vs (NULL, 'x') and the survivor falls back to partition
   order (the nondeterminism the fingerprint exists to remove).
"""

from __future__ import annotations

import os


def test_quantile_estimate_q0_reports_minimum_bucket(spark):
    """All mass in buckets 100-101 of 256 over [0, 512): q=0 must land
    within one bucket width of the true min (200.0), not at bucket 0's
    upper edge (2.0)."""
    from ra2_datalake_linaresjoan_spark.streaming.sketches import (
        QH_BUCKETS,
        quantile_estimate,
        quantile_hist,
    )

    lo, hi = 0.0, 512.0
    width = (hi - lo) / QH_BUCKETS
    vals = spark.createDataFrame(
        [(200.0,), (201.0,), (202.0,), (203.0,)], ["v"]
    )
    hist = quantile_hist(vals, "v", lo, hi)
    est = {
        r["q"]: r["est"]
        for r in quantile_estimate(hist, (0.0, 1.0), lo, hi).collect()
    }
    assert abs(est[0.0] - 200.0) <= width + 1e-9, est
    assert abs(est[1.0] - 203.0) <= width + 1e-9, est


def test_upsert_fingerprint_distinguishes_null_placement(spark, tmp_path):
    """Two equal-precedence update rows for one key, differing only in
    WHICH column is NULL, must resolve to the same survivor on every
    run/partitioning — possible only if their fingerprints differ."""
    from ra2_datalake_linaresjoan_spark.sources.upsert import merge_upsert

    path = os.path.join(str(tmp_path), "t")
    survivors = set()
    for n_parts in (1, 4, 7):
        if os.path.exists(path):
            import shutil

            shutil.rmtree(path)
        updates = spark.createDataFrame(
            [(1, "x", None), (1, None, "x")], "k int, a string, b string"
        ).repartition(n_parts)
        merge_upsert(spark, path, updates, ["k"])
        rows = spark.read.parquet(path).collect()
        assert len(rows) == 1
        survivors.add((rows[0]["a"], rows[0]["b"]))
    assert len(survivors) == 1, f"survivor flipped across runs: {survivors}"


def test_asof_tiebreak_distinguishes_null_placement(spark):
    """Equal-timestamp right rows whose value columns differ only in null
    placement must attach deterministically across partitionings."""
    from ra2_datalake_linaresjoan_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 10)], "by string, t int")
    picked = set()
    for n_parts in (1, 3, 5):
        right = spark.createDataFrame(
            [("u", 10, "x", None), ("u", 10, None, "x")],
            "by string, t int, v1 string, v2 string",
        ).repartition(n_parts)
        out = asof_join(left, right, on="t", by="by").collect()
        assert len(out) == 1
        picked.add((out[0]["v1_asof"], out[0]["v2_asof"]))
    assert len(picked) == 1, f"attached row flipped: {picked}"
