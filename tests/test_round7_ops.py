"""Round-7 regression pins.

Covers the round-6 verdict and advisor findings:

- batch-32 corpus-proportional joins (verdict "What's wrong #1"): the
  ``bloom_join_prefilter`` exactness join and the
  ``join_reorder_advisor`` customer-key semi-joins carry no broadcast
  hint, so with size-based broadcasting off they plan as shuffle joins
  and return the same rows;
- CBO estimate floor-division parity (ADVICE r6 #1): Spark's
  double-division ``cast("long")`` truncates while DuckDB's
  ``CAST(... AS BIGINT)`` rounds, so the estimate now runs as an exact
  DECIMAL(38,0)/HUGEINT integral division in both engines — pinned on a
  synthetic table where the quotient is non-integral;
- pair-count integer halving (ADVICE r6 #2) for
  ``blocking_quality_audit``;
- bootstrap empty-input parity (ADVICE r6 #3): ``poisson_bootstrap_ci``
  on an EMPTY orders table — Spark's ANSI ``element_at`` would throw and
  DuckDB's un-coalesced ``list()`` would yield NULL ``len``.
"""

from __future__ import annotations

import os

import pytest

from tests.oracle_harness import compare, duck_con

SF_SMOKE = "/root/testdata/sf0.001"


def _tree(df) -> str:
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return plan.split("\n\n")[0]


# ---------------------------------------------------------------------------
# corpus-proportional joins stay unhinted (round-6 verdict #1)
# ---------------------------------------------------------------------------


def test_bloom_prefilter_large_path_shuffles_and_matches(spark):
    """100-TB contract: with size-based broadcasting off, the residual
    exactness join must be a shuffle (SortMergeJoin), not a broadcast of
    the linearly growing build side — and produce bit-identical
    results."""
    from ra2_datalake_linaresjoan_spark import queries_ext32 as m

    small = m.q_bloom_join_prefilter(spark, SF_SMOKE).collect()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = m.q_bloom_join_prefilter(spark, SF_SMOKE)
        tree = _tree(out)
        assert "SortMergeJoin" in tree, tree
        large = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert [tuple(r) for r in small] == [tuple(r) for r in large]


def test_join_reorder_advisor_large_path_matches(spark):
    """The customer-key truth semi-joins must survive (and agree) with
    size-based broadcasting off — no hint forces a table-sized
    broadcast."""
    from ra2_datalake_linaresjoan_spark import queries_ext32 as m

    small = m.q_join_reorder_advisor(spark, SF_SMOKE).collect()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        large = m.q_join_reorder_advisor(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert [tuple(r) for r in small] == [tuple(r) for r in large]


# ---------------------------------------------------------------------------
# CBO estimate floor-division parity (ADVICE r6 #1)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cbo_sf(tmp_path_factory):
    """Tables engineered so |R|x|S| / max(ndv) is NON-integral:
    14 / 3 = 4.67 — the case where a Spark double-cast truncates to 4
    while DuckDB's BIGINT cast rounds to 5. Single-file parquet so the
    DuckDB oracle can read the same paths Spark does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("cbo_sf")
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 1, 2, 2, 2, 3, 3], pa.int64()),
                "c_nationkey": pa.array([1] * 7, pa.int32()),
            }
        ),
        str(d / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([10, 11], pa.int64()),
                "o_custkey": pa.array([1, 2], pa.int64()),
            }
        ),
        str(d / "orders.parquet"),
    )
    pq.write_table(
        pa.table({"l_orderkey": pa.array([10, 10, 12], pa.int64())}),
        str(d / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({"n_nationkey": pa.array([1], pa.int32())}),
        str(d / "nation.parquet"),
    )
    return str(d)


def test_cbo_estimate_floor_division_parity(spark, cbo_sf):
    from ra2_datalake_linaresjoan_spark import queries_ext32 as m

    sdf = m.q_join_reorder_advisor(spark, cbo_sf)
    con = duck_con(cbo_sf)
    ok, msg = compare(sdf, con, m.SQL_JOIN_REORDER_ADVISOR)
    assert ok, msg
    rows = {r["join_pair"]: r for r in sdf.collect()}
    # 7 customers x 2 orders / max(ndv 3, ndv 2) = 14 div 3 = 4 (floor,
    # NOT the 5 a rounding BIGINT cast would produce)
    assert rows["customer*orders"]["est_rows"] == 4


# ---------------------------------------------------------------------------
# pair-count integer halving (ADVICE r6 #2)
# ---------------------------------------------------------------------------


def test_blocking_quality_audit_integer_halving_parity(spark):
    from ra2_datalake_linaresjoan_spark import queries_ext30 as m

    con = duck_con(SF_SMOKE)
    ok, msg = compare(
        m.q_blocking_quality_audit(spark, SF_SMOKE),
        con,
        m.SQL_BLOCKING_QUALITY_AUDIT,
    )
    assert ok, msg


# ---------------------------------------------------------------------------
# bootstrap empty-input parity (ADVICE r6 #3)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_orders_sf(tmp_path_factory):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("empty_orders_sf")
    for f in os.listdir(SF_SMOKE):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(SF_SMOKE, f))
        if f == "orders.parquet":
            t = t.slice(0, 0)
        pq.write_table(t, str(d / f))
    return str(d)


def test_poisson_bootstrap_ci_empty_orders_parity(spark, empty_orders_sf):
    """Degenerate-input parity: zero order rows must yield the SAME
    one-row frame from both engines (NULL mean/CI, n_boot = 0) — not an
    ANSI element_at crash (Spark) vs a NULL n_boot (DuckDB)."""
    from ra2_datalake_linaresjoan_spark import queries_ext27 as m

    con = duck_con(empty_orders_sf)
    ok, msg = compare(
        m.q_poisson_bootstrap_ci(spark, empty_orders_sf),
        con,
        m.SQL_POISSON_BOOTSTRAP_CI,
    )
    assert ok, msg


# ---------------------------------------------------------------------------
# batch 34 semantic pins
# ---------------------------------------------------------------------------


def test_schema_evolution_union_nulls_exactly_where_missing(spark):
    """Batch 0 lacked (user_id, props); batch 1 lacked cents; batch 2
    was complete — the evolved read must surface NULLs for exactly the
    missing rows and nothing else."""
    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_schema_evolution_union,
    )

    rows = {r["batch"]: r for r in q_schema_evolution_union(spark, SF_SMOKE).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["null_user_id"] == rows[0]["n_rows"]
    assert rows[0]["null_props"] == rows[0]["n_rows"]
    assert rows[0]["null_cents"] == 0
    assert rows[1]["null_cents"] == rows[1]["n_rows"]
    assert rows[1]["null_user_id"] == 0
    assert rows[2]["null_user_id"] == 0
    assert rows[2]["null_cents"] == 0
    assert rows[2]["null_props"] == 0


def test_merge_upsert_audit_balances_to_zero(spark):
    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_merge_upsert_audit,
    )

    r = q_merge_upsert_audit(spark, SF_SMOKE).collect()[0]
    assert r["merge_imbalance"] == 0
    assert r["rows_after"] == r["n_base"] + r["n_inserted"]
    assert r["n_base"] == r["n_updated"] + r["n_unchanged"]
    assert r["n_updated"] > 0 and r["n_inserted"] > 0


def test_zorder_beats_both_linear_layouts(spark):
    """The 2-D rectangle predicate: the z-order layout must scan fewer
    files than either single-column layout, and rows_matched must be
    layout-invariant (the layout changes placement, never membership)."""
    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_zorder_vs_linear_pruning,
    )

    rows = {r["layout"]: r for r in q_zorder_vs_linear_pruning(spark, SF_SMOKE).collect()}
    assert set(rows) == {"linear_a", "linear_b", "zorder"}
    matched = {r["rows_matched"] for r in rows.values()}
    assert len(matched) == 1
    z, la, lb = rows["zorder"], rows["linear_a"], rows["linear_b"]
    assert z["files_scanned"] < la["files_scanned"]
    assert z["files_scanned"] < lb["files_scanned"]
    assert z["rows_scanned"] <= la["rows_scanned"]
    assert z["rows_scanned"] <= lb["rows_scanned"]


def test_jackknife_se_positive_and_brackets_ratio(spark):
    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_jackknife_ratio_variance,
    )

    r = q_jackknife_ratio_variance(spark, SF_SMOKE).collect()[0]
    assert r["n_months"] >= 2
    assert r["jk_se"] > 0
    # the jackknife mean of leave-one-out ratios stays within a few SE
    # of the full-sample ratio on any non-adversarial data
    assert abs(r["jk_mean"] - r["ratio_full"]) < 10 * r["jk_se"]


def test_pq_codebook_distortion_fewer_vectors_than_centroids(spark, tmp_path_factory):
    """Round-6 verdict optional ask: a corpus with FEWER vectors than
    _PQ_CENTROIDS (16) must still produce a well-formed per-subspace
    frame (codebook = all available vectors), not crash."""
    import pyarrow.parquet as pq_

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("tiny_emb_sf")
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        t = pq_.read_table(os.path.join(src, f))
        if f == "embeddings.parquet":
            t = t.slice(0, 7)  # 7 vectors < 16 centroids
        pq_.write_table(t, str(d / f))
    from ra2_datalake_linaresjoan_spark.queries_ext33 import (
        SQL_PQ_CODEBOOK_DISTORTION,
        q_pq_codebook_distortion,
    )

    sdf = q_pq_codebook_distortion(spark, str(d))
    rows = sdf.collect()
    assert len(rows) > 0
    con = duck_con(str(d))
    ok, msg = compare(sdf, con, SQL_PQ_CODEBOOK_DISTORTION)
    assert ok, msg


# ---------------------------------------------------------------------------
# batch 35 semantic pins
# ---------------------------------------------------------------------------


def test_bucket_pruning_audit_confines_probe(spark):
    from ra2_datalake_linaresjoan_spark.queries_ext35 import (
        q_bucket_pruning_audit,
    )

    r = q_bucket_pruning_audit(spark, SF_SMOKE).collect()[0]
    assert 0 < r["rows_matched"] <= r["rows_scanned"] <= r["rows_total"]
    assert r["buckets_touched"] <= r["buckets_used"] <= 64
    # the probe set is ~0.1% of keys — a bucketed layout must prune
    assert r["scan_fraction"] < 1.0


def test_epoch_shuffle_collapses_source_clumping(spark):
    """Source-major ingest order is near-fully clumped; the md5
    permutation must bring adjacency down toward the independence
    baseline (1/n_sources = 0.05 on this corpus)."""
    from ra2_datalake_linaresjoan_spark.queries_ext35 import (
        q_epoch_shuffle_quality,
    )

    r = q_epoch_shuffle_quality(spark, SF_SMOKE).collect()[0]
    assert r["n_pairs"] < r["n_docs"]
    # at sf0.001 a shard holds only ~8 docs over 20 sources, so the
    # ingest clumping is diluted — pin the RATIO, not an absolute level
    # (sf0.01: 0.74 vs 0.05; sf0.001: 0.19 vs 0.04)
    assert r["clump_rate_shuffled"] < 0.25
    assert r["clump_rate_ingest"] > 3 * r["clump_rate_shuffled"]


def test_shuffle_partition_advisor_sizing(spark):
    from ra2_datalake_linaresjoan_spark.queries_ext35 import (
        q_shuffle_partition_advisor,
    )

    rows = {r["table_name"]: r for r in q_shuffle_partition_advisor(spark, SF_SMOKE).collect()}
    assert set(rows) == {"orders", "events", "documents"}
    for r in rows.values():
        assert r["est_bytes"] > r["n_rows"] * 16  # overhead floor
        assert r["partitions_at_128mb"] >= 1
        assert r["rows_per_partition"] <= r["n_rows"]


# ---------------------------------------------------------------------------
# batch 36 semantic pins
# ---------------------------------------------------------------------------


def test_content_fingerprint_xor_identity(spark):
    """digest(base) XOR digest(delta) must reconstruct digest(full)
    exactly — the incremental-verification contract."""
    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_content_fingerprint_audit,
    )

    r = q_content_fingerprint_audit(spark, SF_SMOKE).collect()[0]
    assert r["xor_identity"] == 0
    assert r["n_full"] == r["n_base"] + r["n_delta"]
    assert r["digest_base"] != r["digest_full"]  # delta is non-empty


def test_content_fingerprint_detects_single_row_change(spark, tmp_path_factory):
    """Flipping ONE row's value must change the full digest — the
    audit is a tamper check, not a row count."""
    import pyarrow.parquet as pq_

    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_content_fingerprint_audit,
    )

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("tamper_sf")
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        t = pq_.read_table(os.path.join(src, f))
        if f == "events.parquet":
            cols = {c: t.column(c).to_pylist() for c in t.column_names}
            cols["value"][0] = (cols["value"][0] or 0.0) + 1.0
            import pyarrow as pa

            t = pa.table(cols, schema=t.schema)
        pq_.write_table(t, str(d / f))
    a = q_content_fingerprint_audit(spark, src).collect()[0]
    b = q_content_fingerprint_audit(spark, str(d)).collect()[0]
    assert a["n_full"] == b["n_full"]
    assert a["digest_full"] != b["digest_full"]
    assert b["xor_identity"] == 0  # identity still holds post-change


def test_two_phase_agg_exact_and_relieving(spark):
    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_two_phase_agg_audit,
    )

    r = q_two_phase_agg_audit(spark, SF_SMOKE).collect()[0]
    assert r["mismatch_users"] == 0
    assert r["max_partial_rows"] <= r["max_group_rows"]
    assert r["hot_key_relief"] >= 1.0


def test_jackknife_partition_count_invariance(spark):
    """The month-sorted fold discipline must make the jackknife output
    BIT-identical under different shuffle-partition counts — a cluster
    resize cannot change a statistic."""
    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_jackknife_ratio_variance,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = q_jackknife_ratio_variance(spark, SF_SMOKE).collect()
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = q_jackknife_ratio_variance(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_content_fingerprint_matches_python_brute_force(spark, tmp_path_factory):
    """Independent oracle: the XOR digest computed by Spark must equal
    a row-by-row Python md5 fold over the same parquet — and stay
    identical when the file is written in a permuted row order
    (commutativity is the whole point of the digest)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_content_fingerprint_audit,
    )

    src = "/root/testdata/sf0.001"
    ev = pq_.read_table(os.path.join(src, "events.parquet"))
    rows = ev.to_pylist()

    def tok(v):
        # mirrors row_digest_col: fixed-width null-distinguishing tokens
        if v is None:
            return "n"
        return "v" + hashlib.md5(str(v).encode()).hexdigest()

    def py_digest(rws):
        acc = 0
        for r in rws:
            cents = round(r["value"] * 100)
            key = tok(r["event_id"]) + tok(r["event_type"]) + tok(cents)
            acc ^= int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        return acc

    want_full = py_digest(rows)

    d = tmp_path_factory.mktemp("perm_sf")
    for f in os.listdir(src):
        if not f.endswith(".parquet"):
            continue
        t = pq_.read_table(os.path.join(src, f))
        if f == "events.parquet":
            t = pa.Table.from_pylist(list(reversed(rows)), schema=ev.schema)
        pq_.write_table(t, str(d / f))

    a = q_content_fingerprint_audit(spark, src).collect()[0]
    b = q_content_fingerprint_audit(spark, str(d)).collect()[0]
    assert a["digest_full"] == want_full
    assert b["digest_full"] == want_full  # row order cannot matter
    assert tuple(a) == tuple(b)


def test_zorder_interleave_is_bijective():
    """Pure-arithmetic pin: the 8-bit x 8-bit interleave used by
    zorder_vs_linear_pruning maps the full 256x256 domain onto 65536
    DISTINCT z-values (a true Morton code, no collisions) — evaluated
    in Python with the same div/mod arithmetic the SQL runs."""
    from ra2_datalake_linaresjoan_spark.queries_ext34 import _ZV_BITS

    def z(a, b):
        acc = 0
        for i in range(_ZV_BITS):
            acc += ((a // (1 << i)) % 2) * (1 << (2 * i))
            acc += ((b // (1 << i)) % 2) * (1 << (2 * i + 1))
        return acc

    seen = {z(a, b) for a in range(256) for b in range(256)}
    assert len(seen) == 65536
    assert min(seen) == 0 and max(seen) == 65535


def test_two_phase_agg_survives_one_hot_user(spark, tmp_path):
    """Every event on ONE user — the pathology the salted partial
    aggregate exists for. The merged partials must still equal the
    direct aggregate exactly, and the max partial group must be ~1/16
    of the hot group (the load relief the salt buys)."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_two_phase_agg_audit,
    )

    d = tmp_path / "hot2"
    spark.range(0, 4800).select(
        F.col("id").alias("event_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(7).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") % 100 / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.parquet(str(d / "events.parquet"))
    r = q_two_phase_agg_audit(spark, str(d)).collect()[0]
    assert r["n_users"] == 1
    assert r["mismatch_users"] == 0
    assert r["max_group_rows"] == 4800
    assert r["max_partial_rows"] == 300  # 4800 / 16, exact residues
    assert r["hot_key_relief"] == 16.0


def test_spread_guard_semantics(spark, tmp_path):
    """_spread widens a narrow scan to defaultParallelism and no-ops on
    an already-wide frame — the invariant that makes it safe to leave
    in a 100-TB plan (a big scan never gets an extra shuffle)."""
    from ra2_datalake_linaresjoan_spark.queries import _spread

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    widened = _spread(spark, narrow)
    assert widened.rdd.getNumPartitions() == par
    # row-identical, only redistributed
    assert sorted(r["id"] for r in widened.collect()) == list(range(1000))

    wide = spark.range(0, 1000).repartition(par + 4)
    assert _spread(spark, wide) is wide  # untouched, not just same count


def test_poisson_16bit_cuts_match_reference_inverse_cdf():
    """The integer-cut inverse CDF must agree with the real Poisson(1)
    quantile at every 16-bit uniform value: w(u16) = #{k : u16/65536 >=
    F(k)} for the double CDF F — i.e. the integer comparison is an EXACT
    reformulation, not an approximation, of thresholding u16/65536."""
    from ra2_datalake_linaresjoan_spark.queries_ext27 import (
        _PB_CUMS,
        _PB_CUTS16,
    )

    assert len(_PB_CUTS16) == len(_PB_CUMS) == 7
    for u16 in range(65536):
        w_int = sum(u16 >= t for t in _PB_CUTS16)
        w_ref = sum(u16 / 65536.0 >= c for c in _PB_CUMS)
        assert w_int == w_ref, (u16, w_int, w_ref)


def test_sketch_family_guards(spark):
    """The md5-slice and banding guards raise instead of silently
    corrupting: CMS depth past the 4 md5 slices, minhash bands not
    dividing num_hashes (all-pairs blowup), simhash radius past the
    4-block pigeonhole bound."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.llmdata.dedup import (
        minhash_lsh_candidates,
        simhash_neardup_pairs,
    )
    from ra2_datalake_linaresjoan_spark.streaming.sketches import _cell

    with _pytest.raises(ValueError, match="8-hex slices"):
        _cell(F.lit("x"), depth=4)
    docs = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=32, bands=5)
    with _pytest.raises(ValueError, match="candidate-complete"):
        simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=4)


def test_cosine_paths_support_string_ids(spark):
    """The numpy paths derive the id dtype from the schema — string ids
    must work identically to the expr path instead of crashing on the
    hardcoded int64 cast (auto-strategy behavior flipped with corpus
    size)."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import (
        cosine_neardup_pairs,
        cosine_topk,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01]), ("c", [0.0, 1.0])],
        ["doc_uuid", "embedding"],
    )
    pairs = cosine_neardup_pairs(
        df, id_col="doc_uuid", vec_col="embedding", threshold=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("a", "b")}
    top = cosine_topk(
        df, df, id_col="doc_uuid", vec_col="embedding", k=1
    ).collect()
    assert {r["query_id"]: r["neighbor_id"] for r in top} == {
        "a": "b", "b": "a", "c": "b",
    }


def test_text_analysis_deep_review_fixes(spark):
    """The four text_analysis fixes hold: uppercase emails redact,
    space-adjacent punctuation fingerprints identically, accented
    letters are NOT punctuation, and bpe counts are null-safe."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        bpe_ish_token_count,
        doc_fingerprint,
        punct_ratio,
        redact_pii,
    )

    df = spark.createDataFrame(
        [("JOHN.DOE@EXAMPLE.COM call +1-555-1234",)], ["t"]
    )
    red = df.select(redact_pii(F.col("t")).alias("r")).collect()[0]["r"]
    assert red == "[EMAIL] call [PHONE]", red

    fp = spark.createDataFrame([("hello!",), ("hello !",)], ["t"]).select(
        doc_fingerprint(F.col("t")).alias("f")
    ).collect()
    assert fp[0]["f"] == fp[1]["f"]

    pr = spark.createDataFrame([("café niño",)], ["t"]).select(
        punct_ratio(F.col("t")).alias("p")
    ).collect()[0]["p"]
    assert pr == 0.0, pr

    nb = spark.createDataFrame([(None,)], "t string").select(
        bpe_ish_token_count(F.col("t")).alias("n")
    ).collect()[0]["n"]
    assert nb == 0


def test_multimodal_null_meta_and_mode_validation(spark):
    """A null meta struct degrades like a null payload instead of
    TypeError-ing the job, and a typo'd decode_mode raises instead of
    silently returning fabricated stub features."""
    import pytest as _pytest

    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        resize_images,
    )

    media = spark.createDataFrame(
        [(1, b"abc", None)],
        schema=MEDIA_SCHEMA,
    )
    rows = extract_features(media, decode_mode="numpy").collect()
    assert len(rows) == 1 and rows[0]["modality"] is None

    with _pytest.raises(ValueError, match="decode_mode"):
        extract_features(media, decode_mode="Numpy")
    with _pytest.raises(ValueError, match="decode_mode"):
        resize_images(media, decode_mode="Numpy")


def test_audits_null_safe_on_null_keys(spark, tmp_path):
    """The round-7 audits must stay CLEAN on tables with NULL keys/values
    — the review found three that reported corruption (or lost rows) on
    perfectly healthy data: xor identity broken by a NULL event_id
    falling out of both slices, two-phase mismatches from non-null-safe
    compares/joins, and schema-evolution silently dropping NULL-id rows."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.queries_ext34 import (
        q_schema_evolution_union,
    )
    from ra2_datalake_linaresjoan_spark.queries_ext36 import (
        q_content_fingerprint_audit,
        q_two_phase_agg_audit,
    )

    d = tmp_path / "nullkeys"
    spark.createDataFrame(
        [
            (None, "click", None, 3.0, "{}"),
            (1, "view", 7, None, "{}"),
            (10, "view", None, 4.0, "{}"),
            (11, "view", 7, None, "{}"),
        ],
        "event_id long, event_type string, user_id long, value double, props string",
    ).select(
        "event_id",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.parquet(str(d / "events.parquet"))

    cf = q_content_fingerprint_audit(spark, str(d)).collect()[0]
    assert cf["xor_identity"] == 0
    assert cf["n_base"] + cf["n_delta"] == cf["n_full"] == 4

    tp = q_two_phase_agg_audit(spark, str(d)).collect()[0]
    assert tp["mismatch_users"] == 0  # NULL cents / NULL user_id are equal
    assert tp["n_users"] == 2  # the two NULL-user rows group as ONE user

    se = q_schema_evolution_union(spark, str(d)).collect()
    assert sum(r["n_rows"] for r in se) == 4  # NULL id routed, not dropped


def test_ext30_33_audits_null_safe_values(spark, tmp_path):
    """Value-class NULL pins for the second hardening pass: the IVM
    merge invariant stays 0 with a NULL-timestamp event, the salted
    join keeps a NULL-event_id event's revenue, and Fellegi-Sunter
    does not crash (and fits on consistent counts) when a compared
    field is NULL."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.queries_ext30 import (
        q_fellegi_sunter_em,
    )
    from ra2_datalake_linaresjoan_spark.queries_ext31 import (
        q_salted_skew_join,
    )
    from ra2_datalake_linaresjoan_spark.queries_ext32 import (
        q_ivm_merge_audit,
    )

    d = tmp_path / "nullvals"
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "click", 3.0, "{}"),
            (None, "2024-01-02 00:00:00", 7, "view", 5.0, "{}"),
            (3, None, 7, "view", 9.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.parquet(str(d / "events.parquet"))
    spark.createDataFrame(
        [(7, "BUILDING", None, 100.0), (8, None, 3, -50.0)],
        "c_custkey long, c_mktsegment string, c_nationkey int, c_acctbal double",
    ).write.parquet(str(d / "customer.parquet"))

    ivm = q_ivm_merge_audit(spark, str(d)).collect()[0]
    assert ivm["mismatch_days"] == 0  # NULL-day row in exactly one slice

    sj = q_salted_skew_join(spark, str(d)).collect()
    rev = {r["segment"]: r["revenue_cents"] for r in sj}
    assert rev.get("BUILDING") == 300 + 500 + 900  # NULL event_id kept

    fs = q_fellegi_sunter_em(spark, str(d)).collect()  # must not crash
    assert len(fs) in (0, 4)  # empty frame or 4 field rows
