"""Round-6 targeted pins: degenerate-input semantics for the batch-26
sketch kernels (round-5 verdict ask #5), the shared Bloom hash-family
guard (ADVICE r5), and the deduped-quantile decile contract of
``revenue_decile_lift``'s large path (ADVICE r5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.streaming.sketches import (
    bloom_bits,
    bloom_probe,
    hll_estimate,
)


# ---------------------------------------------------------------------------
# HLL: zero observations
# ---------------------------------------------------------------------------


def test_hll_estimate_zero_events_is_zero(spark):
    """No observations → no registers set → linear counting gives
    m·ln(m/m) = 0 exactly; the estimate must be 0, not NaN/None."""
    regs = spark.createDataFrame([], schema="register long, rho int")
    row = hll_estimate(regs).collect()[0]
    assert row["n_registers_set"] == 0
    assert row["estimate"] == 0.0


# ---------------------------------------------------------------------------
# Bloom: empty bit set, builder/prober agreement, shared k-guard
# ---------------------------------------------------------------------------


def test_bloom_probe_empty_bitset_all_false(spark):
    """Probing an EMPTY filter must report maybe_member = false for
    every key (an empty corpus contains nothing) — never null, never a
    crash. This is the empty-fingerprint-corpus case of the membership
    audit."""
    bits = spark.createDataFrame([], schema="bit long")
    probes = spark.createDataFrame([(f"k{i}",) for i in range(5)], ["k"])
    rows = bloom_probe(bits, probes, "k").collect()
    assert len(rows) == 5
    assert all(r["maybe_member"] is False for r in rows)


def test_bloom_no_false_negatives_roundtrip(spark):
    """Every inserted key must probe as maybe-member (the Bloom
    guarantee) — pinned through the SHARED bit-position helper so the
    builder and prober hash families can never drift."""
    keys = spark.createDataFrame([(f"key-{i}",) for i in range(50)], ["k"])
    bits = bloom_bits(keys, "k").groupBy("bit").agg(F.count(F.lit(1)).alias("n"))
    rows = bloom_probe(bits, keys, "k").collect()
    assert len(rows) == 50
    assert all(r["maybe_member"] is True for r in rows)


def test_bloom_probe_rejects_k_above_md5_slices(spark):
    """bloom_probe must raise on k > 4 exactly like bloom_bits: a 5th
    8-hex md5 slice is empty, conv yields NULL bit columns, and every
    probe would silently report false (false negatives)."""
    bits = spark.createDataFrame([(1,)], ["bit"])
    probes = spark.createDataFrame([("a",)], ["k"])
    with pytest.raises(ValueError, match="md5 slices"):
        bloom_probe(bits, probes, "k", k=5)
    with pytest.raises(ValueError, match="md5 slices"):
        bloom_bits(probes, "k", k=5)


def test_bloom_probe_k4_is_the_last_valid_slice(spark):
    """k = 4 uses the final full 8-hex md5 word and must still satisfy
    the no-false-negative roundtrip."""
    keys = spark.createDataFrame([(f"k4-{i}",) for i in range(20)], ["k"])
    bits = bloom_bits(keys, "k", k=4).groupBy("bit").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = bloom_probe(bits, keys, "k", k=4).collect()
    assert all(r["maybe_member"] is True for r in rows)


def test_bloom_membership_audit_empty_corpus_well_defined(spark, tmp_path):
    """Empty documents table → the audit still returns its one summary
    row (null counts, no crash) — the degenerate partition contract."""
    import os

    from ra2_datalake_linaresjoan_spark.queries_ext26 import (
        q_bloom_membership_audit,
    )

    src = "/root/testdata/sf0.001"
    d = tmp_path / "empty_sf"
    os.makedirs(d, exist_ok=True)
    docs = spark.read.parquet(f"{src}/documents.parquet")
    docs.limit(0).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = q_bloom_membership_audit(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["n_false_positives"] in (None, 0)


# ---------------------------------------------------------------------------
# batch 27/28 semantic invariants (sf0.01)
# ---------------------------------------------------------------------------

SF = "/root/testdata/sf0.01"


def _q(spark, name):
    from ra2_datalake_linaresjoan_spark import queries as q

    return q.queries()[name](spark, SF).collect()


def test_neyman_allocation_sums_to_budget(spark):
    rows = _q(spark, "neyman_allocation")
    assert sum(r["alloc"] for r in rows) == 1000
    assert all(r["alloc"] >= 0 for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4


def test_poisson_bootstrap_ci_brackets_mean(spark):
    row = _q(spark, "poisson_bootstrap_ci")[0]
    assert row["n_boot"] == 40
    assert row["ci_lo_cents"] <= row["mean_cents"] <= row["ci_hi_cents"]
    # CI of a mean over thousands of orders is tight: within ±5 %
    assert row["ci_hi_cents"] - row["ci_lo_cents"] < 0.1 * row["mean_cents"]


def test_jsd_within_ln2(spark):
    import math

    row = _q(spark, "js_divergence_splits")[0]
    assert -1e-9 <= row["jsd_nats"] <= math.log(2) + 1e-9


def test_acf_bounds(spark):
    rows = _q(spark, "acf_daily_events")
    assert rows
    assert all(-1.0 - 1e-6 <= r["acf"] <= 1.0 + 1e-6 for r in rows)


def test_burstiness_and_simpson_bounds(spark):
    for r in _q(spark, "burstiness_fano"):
        assert r["fano"] > 0
        assert -1.0 - 1e-9 <= r["burstiness"] <= 1.0 + 1e-9
    for r in _q(spark, "simpson_source_diversity"):
        assert 0.0 <= r["simpson"] < 1.0
        assert 1.0 - 1e-9 <= r["effective_sources"] <= r["n_sources"] + 1e-9


def test_gopher_any_rule_dominates(spark):
    rows = {r["rule"]: r for r in _q(spark, "gopher_quality_rules")}
    assert set(rows) == {
        "word_count_range",
        "mean_word_length",
        "type_token_ratio",
        "stopword_presence",
        "any_rule",
    }
    singles = [v["n_fail"] for k, v in rows.items() if k != "any_rule"]
    assert rows["any_rule"]["n_fail"] >= max(singles)
    assert rows["any_rule"]["n_fail"] <= sum(singles)
    assert all(0.0 <= v["fail_rate"] <= 1.0 for v in rows.values())


def test_holt_forecast_is_level_plus_trend(spark):
    row = _q(spark, "holt_linear_forecast")[0]
    assert (
        abs(row["forecast_cents"] - (row["level_cents"] + row["trend_cents"]))
        <= 0.02
    )


def test_runs_test_counts_consistent(spark):
    row = _q(spark, "runs_test_revenue")[0]
    assert 1 <= row["n_runs"] <= row["n_up"] + row["n_down"]
    assert row["expected_runs"] >= 1.0


def test_minhash_bucket_skew_pair_bounds(spark):
    rows = _q(spark, "minhash_bucket_skew")
    assert [r["band"] for r in rows] == [0, 1, 2, 3]
    for r in rows:
        mx = r["max_bucket"]
        # the max bucket alone contributes C(mx, 2); all buckets together
        # can't exceed n_buckets * C(mx, 2)
        assert r["candidate_pairs"] >= mx * (mx - 1) // 2
        assert r["candidate_pairs"] <= r["n_buckets"] * mx * (mx - 1) // 2
        assert r["bucket_cv"] >= 0.0


def test_session_entropy_bands_reconcile_with_sessionization(spark):
    bands = _q(spark, "session_type_entropy_bands")
    assert abs(sum(r["session_share"] for r in bands) - 1.0) < 1e-4
    assert all(r["band"] >= 0 for r in bands)
    # same 5-minute-gap session definition as event_sessionization:
    # session totals must reconcile exactly across the two operators
    n_sessions = sum(r["n_sessions"] for r in bands)
    assert n_sessions == len(_q(spark, "event_sessionization"))


def test_dp_release_nonnegative_l1_consistent(spark):
    rows = _q(spark, "dp_count_noise_audit")
    assert all(r["released"] >= 0 for r in rows)
    assert all(r["epsilon"] == 1.0 for r in rows)
    l1 = sum(r["abs_err"] for r in rows)
    assert all(r["total_l1_err"] == l1 for r in rows)


def test_bh_fdr_ranks_and_prefix(spark):
    rows = _q(spark, "bh_fdr_daily_anomalies")
    assert [r["bh_rank"] for r in rows] == list(range(1, len(rows) + 1))
    ps = [r["p_value"] for r in rows]
    assert ps == sorted(ps)
    assert all(0.0 <= p <= 1.0 for p in ps)
    assert all(r["z"] >= 0.0 for r in rows)
    # BH discoveries form a prefix of the p-ascending order
    flags = [r["discovered"] for r in rows]
    assert flags == sorted(flags, reverse=True)


def test_calibration_bins_wilson_brackets(spark):
    rows = _q(spark, "score_calibration_bins")
    assert rows
    for r in rows:
        assert 0.0 <= r["pos_rate"] <= 1.0
        assert r["wilson_lo"] - 1e-9 <= r["pos_rate"] <= r["wilson_hi"] + 1e-9
        assert r["pos"] <= r["n"]
    import pyspark.sql.functions as F  # noqa: N812

    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == n_docs


def test_power_analysis_consistent(spark):
    row = _q(spark, "power_analysis_arms")[0]
    assert row["x0"] <= row["n0"] and row["x1"] <= row["n1"]
    assert 0.0 <= row["p0"] <= 1.0 and 0.0 <= row["p1"] <= 1.0
    assert abs(row["observed_lift"] - abs(row["p0"] - row["p1"])) < 2e-6
    if row["observed_lift"] > 0:
        assert row["n_required_per_arm"] >= 1
        assert row["powered_now"] == (
            min(row["n0"], row["n1"]) >= row["n_required_per_arm"]
        )


def test_mmr_picks_distinct_and_greedy_consistent(spark):
    rows = _q(spark, "mmr_diverse_topk")
    assert [r["pick"] for r in rows] == list(range(1, len(rows) + 1))
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "MMR re-picked a document"
    # first pick has no diversity penalty: mmr = lambda * rel exactly
    assert abs(rows[0]["mmr_score"] - 0.7 * rows[0]["rel"]) < 2e-6
    # cosine is signed, so the diversity term can add as well as
    # subtract — but it is bounded: |mmr − λ·rel| ≤ (1−λ)·|cos| ≤ 0.3
    for r in rows[1:]:
        assert abs(r["mmr_score"] - 0.7 * r["rel"]) <= 0.3 + 2e-6
    # relevance values are the rank rational: in (0, 1]
    assert all(0.0 < r["rel"] <= 1.0 for r in rows)


# ---------------------------------------------------------------------------
# containment_pairs: df-cap candidate bound under engineered skew
# ---------------------------------------------------------------------------


def test_containment_pairs_df_cap_bounds_skewed_shingle(spark, tmp_path):
    """Skew-stress the inverted-index blocking (r4/r5 verdict ask,
    mirroring the fuzzy_join skew test): one shingle shared by exactly
    df = 21 docs (one past the cap) must contribute ZERO candidate
    pairs, while a shingle at exactly df = 20 (the cap) still yields
    its full 20·19 candidate cohort — the cap is the candidate bound,
    inclusive at the boundary."""
    from ra2_datalake_linaresjoan_spark.queries_llm14 import (
        _CONT_DF_CAP,
        q_containment_pairs,
    )

    assert _CONT_DF_CAP == 20  # the fixture sizes below straddle this cap
    over = [(i, "alpha beta gamma delta") for i in range(21)]  # df 21
    at_cap = [(100 + i, "omega psi chi phi") for i in range(20)]  # df 20
    docs = spark.createDataFrame(
        [(i, t, "en", "fixture", len(t)) for i, t in over + at_cap],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "skew_sf"
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))

    rows = q_containment_pairs(spark, str(d)).collect()
    # only the at-cap cohort can pair: full containment, top-20 of the
    # 380 ordered candidate pairs
    assert len(rows) == 20
    assert all(r["containment"] == 1.0 for r in rows)
    assert all(r["doc_a"] >= 100 and r["doc_b"] >= 100 for r in rows)
    # over-cap docs appear in NO pair — the skewed shingle was dropped
    assert not any(r["doc_a"] < 100 or r["doc_b"] < 100 for r in rows)


# ---------------------------------------------------------------------------
# revenue_decile_lift: quantile path under heavy ties
# ---------------------------------------------------------------------------


def test_revenue_deciles_quantile_path_contiguous_under_ties(
    spark, tmp_path, monkeypatch
):
    """Force the approxQuantile path (a zero exact cap) on a corpus with
    only 3 distinct spend values (70/25/5 split). approxQuantile repeats
    boundaries under ties; un-deduped, the when-chain double-increments
    past a repeated boundary and skips interior decile numbers (the
    ADVICE r5 finding). Deduped boundaries must yield a CONTIGUOUS
    populated decile range starting at 1, covering all customers."""
    from ra2_datalake_linaresjoan_spark import queries_ext15
    from ra2_datalake_linaresjoan_spark.queries_ext15 import (
        q_revenue_decile_lift,
    )

    rows_in = (
        [(i, 10.0) for i in range(70)]
        + [(i, 50.0) for i in range(70, 95)]
        + [(i, 100.0) for i in range(95, 100)]
    )
    orders = spark.createDataFrame(rows_in, ["o_custkey", "o_totalprice"])
    d = tmp_path / "ties_sf"
    orders.write.mode("overwrite").parquet(str(d / "orders.parquet"))

    monkeypatch.setattr(queries_ext15, "_DECILE_EXACT_CAP", 0)
    out = sorted(
        q_revenue_decile_lift(spark, str(d)).collect(),
        key=lambda r: r["decile"],
    )
    deciles = [r["decile"] for r in out]
    # contiguous from 1 — under 3 distinct values at most 3 buckets exist
    assert deciles == list(range(1, len(deciles) + 1))
    assert len(deciles) <= 3
    assert sum(r["n_customers"] for r in out) == 100
    # decile 1 = top spenders; shares sum to 1
    shares = [r["revenue_share"] for r in out]
    assert shares[0] == max(shares)
    assert abs(sum(shares) - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# batch 30/31 semantic invariants (sf0.01)
# ---------------------------------------------------------------------------


def test_k_anonymity_audit_consistent(spark):
    row = _q(spark, "k_anonymity_audit")[0]
    assert row["singletons"] <= row["groups_below_k"] <= row["qi_groups"]
    assert row["rows_below_k"] <= row["rows_total"]
    assert 0.0 <= row["risk_frac"] <= 1.0
    assert row["k_min"] >= 1


def test_shard_balance_bounds(spark):
    row = _q(spark, "shard_balance_audit")[0]
    assert 1 <= row["shards_used"] <= 64
    assert row["min_shard_rows"] <= row["max_shard_rows"]
    assert row["max_row_share_x"] >= 1.0  # max is at least the mean


def test_mixture_weights_normalize(spark):
    rows = _q(spark, "mixture_temperature_weights")
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["natural_share"] for r in rows) - 1.0) < 1e-4
    # temperature < 1 upsamples the tail: every below-average source
    # must carry weight above its natural share
    for r in rows:
        assert r["upsampled"] == (r["weight"] > r["natural_share"]) or (
            abs(r["weight"] - r["natural_share"]) < 2e-6
        )


def test_blocking_and_bcubed_bounds(spark):
    b = _q(spark, "blocking_quality_audit")[0]
    assert 0.0 <= b["completeness"] <= 1.0
    assert 0.0 <= b["cand_precision"] <= 1.0
    assert 0.0 <= b["reduction_ratio"] <= 1.0
    assert b["co_blocked_gold"] <= min(b["cand_pairs"], b["gold_pairs"])
    c = _q(spark, "bcubed_cluster_eval")[0]
    assert 0.0 < c["bcubed_precision"] <= 1.0
    assert 0.0 < c["bcubed_recall"] <= 1.0
    lo = min(c["bcubed_precision"], c["bcubed_recall"])
    hi = max(c["bcubed_precision"], c["bcubed_recall"])
    assert lo - 1e-6 <= c["bcubed_f1"] <= hi + 1e-6


def test_matryoshka_full_prefix_exact(spark):
    rows = {r["prefix_dim"]: r for r in _q(spark, "matryoshka_prefix_fidelity")}
    # the 64-prefix IS the full vector: error must be exactly 0
    assert rows[64]["mean_abs_err"] == 0.0
    # fidelity improves (error shrinks) as the prefix grows
    assert rows[8]["mean_abs_err"] >= rows[32]["mean_abs_err"]


def test_fellegi_sunter_em_well_formed(spark):
    rows = _q(spark, "fellegi_sunter_em")
    assert len(rows) == 4
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    for r in rows:
        assert r["pairs_total"] == n_cust - 1
        assert 0.0 < r["m_prob"] < 1.0
        assert 0.0 < r["u_prob"] < 1.0
        assert 0.0 < r["lambda_match"] < 1.0
        # weights are the log-likelihood ratios of the fitted params
        import math

        assert abs(
            r["w_agree"] - math.log2(r["m_prob"] / r["u_prob"])
        ) < 1e-3


def test_salted_join_plan_is_salted_shuffle(spark):
    """The whole point of salted_skew_join: the executed plan must be a
    SHUFFLE (sort-merge) join keyed on (user_id, salt) — a broadcast
    would make the salt decorative."""
    from ra2_datalake_linaresjoan_spark.queries_ext31 import (
        q_salted_skew_join,
    )

    df = q_salted_skew_join(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan.split("SortMergeJoin")[0]
    join_line = next(
        line for line in plan.splitlines() if "SortMergeJoin" in line
    )
    assert "salt" in join_line and "user_id" in join_line


def test_salted_join_matches_plain_join(spark):
    """Salting must not change RESULTS — compare against the unsalted
    broadcast join computed inline."""
    from pyspark.sql import functions as F

    rows = {r["segment"]: r for r in _q(spark, "salted_skew_join")}
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(F.sum("c").alias("cents"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in plain:
        assert rows[r["c_mktsegment"]]["revenue_cents"] == r["cents"]
        assert rows[r["c_mktsegment"]]["n_events"] == r["n"]


def test_conformal_calibration_guarantee(spark):
    """Split-conformal promises >= 90 % coverage ON THE CALIBRATION
    split by construction; test coverage should land near it."""
    rows = _q(spark, "conformal_calibration")
    n_test = sum(r["n_test"] for r in rows)
    covered = sum(r["covered"] for r in rows)
    assert covered / n_test > 0.8  # finite-sample slack
    for r in rows:
        assert 0.0 <= r["coverage"] <= 1.0
        assert r["k"] == -(-(r["n_cal"] + 1) * 9 // 10)  # ceil


def test_group_kfold_no_leakage(spark):
    rows = _q(spark, "group_kfold_assign")
    assert all(r["leak_groups"] == 0 for r in rows)
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-4
    assert len(rows) <= 5


def test_equi_depth_histogram_monotone(spark):
    rows = _q(spark, "equi_depth_histogram")
    assert [r["bucket"] for r in rows] == list(range(1, 8))
    bands = [r["boundary_band"] for r in rows]
    assert bands == sorted(bands)
    for r in rows:
        # the boundary band is the FIRST band reaching the target rank
        assert r["cum_rows"] >= r["target_rank"]
        assert r["target_rank"] == -(
            -r["bucket"] * r["rows_total"] // 8
        )


# ---------------------------------------------------------------------------
# batch 32 semantic invariants (sf0.01)
# ---------------------------------------------------------------------------


def test_ivm_merge_is_exact(spark):
    row = _q(spark, "ivm_merge_audit")[0]
    assert row["mismatch_days"] == 0
    assert row["rows_delta"] <= row["rows_total"]
    assert row["days_delta"] <= row["days_total"]


def test_bloom_prefilter_no_false_negatives(spark):
    """Bloom candidates must contain EVERY true match, and the revenue
    through the prefiltered path must equal the plain-join revenue."""
    from pyspark.sql import functions as F

    row = _q(spark, "bloom_join_prefilter")[0]
    assert row["true_matches"] + row["false_positives"] == row[
        "bloom_candidates"
    ]
    cust = spark.read.parquet(f"{SF}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plain = (
        orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
        .collect()[0]
    )
    assert row["true_matches"] == plain["n"]
    assert row["revenue_cents"] == plain["cents"]


def test_ess_bounds(spark):
    row = _q(spark, "ess_importance_weights")[0]
    assert 0.0 < row["ess_frac"] <= 1.0 + 1e-9
    assert row["max_epoch_factor"] >= 1.0 - 1e-6 or row["n_sources"] == 1
    # sum of importance weights ~ N by construction of epoch factors
    assert abs(row["sum_w"] - row["n_docs"]) / row["n_docs"] < 0.5


def test_join_advisor_fk_estimates_tight(spark):
    """For clean FK joins the |R||S|/max(ndv) estimate is near-exact —
    the ratio must sit close to 1."""
    rows = _q(spark, "join_reorder_advisor")
    assert len(rows) == 3
    for r in rows:
        assert 0.5 <= r["est_over_actual"] <= 2.0


# ---------------------------------------------------------------------------
# batch 33 semantic invariants (sf0.01)
# ---------------------------------------------------------------------------


def test_zone_map_sorting_helps(spark):
    row = _q(spark, "zone_map_pruning")[0]
    # contiguous ids: both layouts produce the same chunk count
    assert row["chunks_natural"] == row["chunks_sorted"]
    assert 0.0 <= row["pruned_frac_natural"] <= 1.0
    assert 0.0 <= row["pruned_frac_sorted"] <= 1.0
    # clustering by the filter column can only improve (or tie) pruning
    assert row["pruned_frac_sorted"] >= row["pruned_frac_natural"]


def test_pq_distortion_well_formed(spark):
    rows = _q(spark, "pq_codebook_distortion")
    assert [r["sub"] for r in rows] == list(range(8))
    n = {r["n_vecs"] for r in rows}
    assert len(n) == 1  # every subspace quantizes every vector
    for r in rows:
        assert r["mean_sq_distortion"] >= 0.0
        assert 1 <= r["codewords_used"] <= 16


def test_compaction_plan_reduces_files(spark):
    row = _q(spark, "compaction_plan_audit")[0]
    assert row["files_after"] <= row["files_total"]
    assert row["open_file_reduction_x"] >= 1.0
    assert row["small_rows"] <= row["rows_total"]
    assert row["compacted_groups"] <= max(row["small_files"], 1)


# ---------------------------------------------------------------------------
# skew / degenerate stress pins for batch 30/31
# ---------------------------------------------------------------------------


def test_salted_join_survives_one_hot_key(spark, tmp_path):
    """Every event on ONE user — the exact pathology the salt exists
    for. The salted plan must still agree with the plain join, and the
    hot key's rows must actually spread across multiple salt values."""
    from pyspark.sql import functions as F
    from ra2_datalake_linaresjoan_spark.queries_ext31 import (
        _SJ_SALTS,
        q_salted_skew_join,
    )

    d = tmp_path / "hot"
    ev = spark.range(0, 5000).select(
        F.col("id").alias("event_id"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(7).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") % 100 / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(str(d / "events.parquet"))
    spark.read.parquet(f"{SF}/customer.parquet").write.parquet(
        str(d / "customer.parquet")
    )
    rows = q_salted_skew_join(spark, str(d)).collect()
    # user 7 belongs to exactly one segment; totals must equal the
    # plain aggregate of all 5000 events
    assert len(rows) == 1
    assert rows[0]["n_events"] == 5000
    assert rows[0]["n_users"] == 1
    plain_cents = (
        ev.select(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
        ).collect()[0]["c"]
    )
    assert rows[0]["revenue_cents"] == plain_cents
    # the salt really spreads the hot key over all residue classes
    n_salts = (
        ev.select(
            F.pmod(F.col("event_id"), F.lit(_SJ_SALTS)).alias("s")
        )
        .distinct()
        .count()
    )
    assert n_salts == _SJ_SALTS


def test_fellegi_sunter_single_row_is_empty(spark, tmp_path):
    """One customer → zero consecutive pairs → the EM has no input and
    the query must return an EMPTY frame (matching the oracle's
    HAVING count(*) > 0 guard), not crash or emit NaNs."""
    from ra2_datalake_linaresjoan_spark.queries_ext30 import (
        q_fellegi_sunter_em,
    )

    d = tmp_path / "single"
    one = spark.read.parquet(f"{SF}/customer.parquet").limit(1)
    one.write.parquet(str(d / "customer.parquet"))
    assert q_fellegi_sunter_em(spark, str(d)).count() == 0


def test_conformal_threshold_covers_calibration_split(spark):
    """The k-th order statistic must cover >= k of n_cal calibration
    scores by definition — re-derive calibration coverage from the
    published threshold and assert the exact finite-sample bound."""
    from pyspark.sql import functions as F

    rows = _q(spark, "conformal_calibration")
    thr, n_cal, k = (
        rows[0]["threshold_q"],
        rows[0]["n_cal"],
        rows[0]["k"],
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "lang", "n_chars", (F.col("doc_id") % 5).alias("part")
    )
    fit = (
        docs.where(F.col("part") <= 2)
        .groupBy("lang")
        .agg((F.sum("n_chars") / F.count(F.lit(1))).alias("mu"))
    )
    covered_cal = (
        docs.where(F.col("part") == 3)
        .join(fit, "lang")
        .where(
            F.round(F.abs(F.col("n_chars") - F.col("mu")) * 100).cast(
                "long"
            )
            <= thr
        )
        .count()
    )
    assert covered_cal >= k
    assert covered_cal >= 0.9 * (n_cal + 1) - 1
