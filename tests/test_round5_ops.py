"""Semantic invariants + empty-input robustness for the round-5 batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark import queries as q

ROUND5_QUERIES = [
    "benford_digits",
    "cusum_changepoint",
    "decayed_event_counts",
    "encoding_advisor",
    "interval_union_coverage",
    "degree_assortativity",
    # LLM batch 14
    "boilerplate_blocks",
    "containment_pairs",
    "auc_quality_score",
    "pmi_phrases",
    "weighted_sample_topk",
    "hill_tail_index",
    # batch 21 (IR/ML evaluation + concentration)
    "reciprocal_rank_fusion",
    "ndcg_eval",
    "knn_accuracy",
    "cohens_kappa",
    "hhi_concentration",
    "embedding_centroid_shift",
    # batch 22 (iterative algebra, sketch audits, intervals, langid)
    "markov_stationary",
    "cms_width_sweep",
    "wilson_ci",
    "char_ngram_langid",
    "minhash_error_audit",
    # batch 23 (curation policy & estimation audits)
    "ngram_contamination",
    "quality_survivor_dedup",
    "markov_absorption",
    "dup_rate_sample_estimate",
    # batch 24 (pre-flight estimation & EDA)
    "join_size_sample_estimate",
    "doc_feature_corr",
    "split_srm_check",
    # batch 25 (method-comparison & composition audits)
    "dedup_method_venn",
    "mutual_knn_rate",
    "crosslang_oov_matrix",
    "laspeyres_price_index",
    # batch 26 (sketch kernels under the oracle gate)
    "hll_register_estimate",
    "bloom_membership_audit",
]


@pytest.mark.parametrize("name", ROUND5_QUERIES)
def test_round5_query_survives_empty_tables(spark, empty_sf, name):
    n = q.queries()[name](spark, empty_sf).count()
    assert n >= 0


def test_benford_shares_form_distributions(spark, sf_dir):
    rows = q.queries()["benford_digits"](spark, sf_dir).collect()
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    assert set(r["digit"] for r in rows) <= set(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    # Benford expectation over the digits present sums to <= 1 (== 1 when
    # all nine digits appear)
    assert sum(r["benford_share"] for r in rows) <= 1.0 + 1e-9
    assert all(r["chi2_term"] >= 0 for r in rows)


def test_cusum_peak_dominates_every_prefix(spark, sf_dir):
    """cusum_max must equal the true max over prefix deviations — recompute
    per type from the daily counts in plain Python."""
    out = {
        r["event_type"]: r
        for r in q.queries()["cusum_changepoint"](spark, sf_dir).collect()
    }
    ev = q._t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in daily:
        by_type.setdefault(r["event_type"], []).append((r["day"], r["n"]))
    for et, series in by_type.items():
        series.sort()
        tot = sum(n for _, n in series)
        nd = len(series)
        cum, best, best_day = 0, -1, None
        for i, (day, n) in enumerate(series, start=1):
            cum += n
            s = abs(cum * nd - i * tot)
            if s > best:
                best, best_day = s, day
        assert out[et]["n_days"] == nd
        assert out[et]["change_day"] == best_day
        assert out[et]["cusum_max"] == pytest.approx(best / nd, abs=1e-4)


def test_decayed_counts_bounded_by_raw(spark, sf_dir):
    rows = q.queries()["decayed_event_counts"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r["decayed_count"] <= r["n_events"]
        assert 0 < r["freshness"] <= 1.0


def test_encoding_advisor_rules(spark, sf_dir):
    rows = {
        r["colname"]: r for r in q.queries()["encoding_advisor"](spark, sf_dir).collect()
    }
    # flag columns: tiny domains -> dictionary+RLE
    assert rows["l_returnflag"]["advice"] == "dictionary+rle"
    assert rows["l_linestatus"]["advice"] == "dictionary+rle"
    for r in rows.values():
        assert 1 <= r["n_distinct"] <= r["n_rows"]
        assert 0 < r["top_share"] <= 1.0


def test_interval_union_never_exceeds_sum_of_lengths(spark, sf_dir):
    """Union coverage per order is <= the sum of interval lengths and >=
    the longest single interval — checked through the aggregate: avg
    coverage must be positive and max >= avg."""
    rows = q.queries()["interval_union_coverage"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["avg_coverage_days"] > 0
        assert r["max_coverage_days"] >= r["avg_coverage_days"]
        assert r["avg_islands"] >= 1.0


def test_assortativity_is_a_correlation(spark, sf_dir):
    r = q.queries()["degree_assortativity"](spark, sf_dir).collect()[0]
    assert r["n_edges"] > 0
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["avg_cust_degree"] > 0 and r["avg_supp_degree"] > 0


def test_boilerplate_blocks_detects_repeats(spark, sf_dir):
    rows = q.queries()["boilerplate_blocks"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert sum(r["n_boilerplate"] for r in rows) > 0
    for r in rows:
        assert 0 <= r["n_boilerplate"] <= r["n_blocks"]
        assert 0.0 <= r["boilerplate_share"] <= 1.0
        assert r["n_docs_hit"] <= r["n_blocks"]


def test_containment_is_a_ratio_and_sorted(spark, sf_dir):
    rows = q.queries()["containment_pairs"](spark, sf_dir).collect()
    assert len(rows) > 0
    vals = [r["containment"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        assert 0.6 <= r["containment"] <= 1.0
        assert r["n_shared"] >= 1
        assert r["doc_a"] != r["doc_b"]


def test_auc_constant_score_is_half(spark, tmp_path):
    """The bucket-aggregated rank-sum must give the textbook tie credit:
    a constant score can't rank anything, so AUC == 0.5 exactly."""
    d = str(tmp_path / "docs_const")
    spark.createDataFrame(
        [(i, "t", ("en" if i % 3 == 0 else "xx"), "s0", 42) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    r = q.queries()["auc_quality_score"](spark, d).collect()[0]
    assert r["auc"] == pytest.approx(0.5)
    assert r["n_scores"] == 1


def test_auc_perfect_separation_is_one(spark, tmp_path):
    d = str(tmp_path / "docs_sep")
    rows = [(i, "t", "en", "s0", 1000 + i) for i in range(10)] + [
        (100 + i, "t", "xx", "s0", 10 + i) for i in range(10)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    r = q.queries()["auc_quality_score"](spark, d).collect()[0]
    assert r["auc"] == pytest.approx(1.0)


def test_pmi_phrases_thresholded_and_sorted(spark, sf_dir):
    rows = q.queries()["pmi_phrases"](spark, sf_dir).collect()
    assert len(rows) > 0
    vals = [r["pmi"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(r["c12"] >= 5 for r in rows)


def test_weighted_sample_is_deterministic_and_ranked(spark, sf_dir):
    fn = q.queries()["weighted_sample_topk"]
    a = fn(spark, sf_dir).collect()
    b = fn(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert [r["sample_rank"] for r in a] == list(range(1, len(a) + 1))
    keys = [r["es_key"] for r in a]
    assert keys == sorted(keys, reverse=True)
    assert all(k <= 0 for k in keys)  # ln(u) < 0, weights > 0


def test_hill_tail_index_positive(spark, sf_dir):
    r = q.queries()["hill_tail_index"](spark, sf_dir).collect()[0]
    assert r["k"] == 100
    assert r["hill_gamma"] > 0
    assert r["tail_alpha"] > 0
    assert r["x_k_plus_1"] >= 1


def test_rrf_scores_bounded_and_sorted(spark, sf_dir):
    rows = q.queries()["reciprocal_rank_fusion"](spark, sf_dir).collect()
    assert len(rows) == 20
    vals = [r["rrf_score"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    # max possible score: rank 1 in both rankings
    assert all(0 < v <= 2 / 61 + 1e-9 for v in vals)


def test_ndcg_bounded_by_ideal(spark, sf_dir):
    rows = q.queries()["ndcg_eval"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["idcg_at_10"] >= r["dcg_at_10"] > 0
        assert 0 < r["ndcg_at_10"] <= 1.0


def test_knn_accuracy_bounds(spark, sf_dir):
    rows = q.queries()["knn_accuracy"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_queries"]
        assert 0.0 <= r["accuracy"] <= 1.0


def test_kappa_perfect_agreement_fixture(spark, tmp_path):
    """Two-class perfect agreement must give kappa == 1 exactly (p_o = 1,
    p_e = 0.5 by the marginals)."""
    d = str(tmp_path / "docs_kappa")
    rows = [(i, "the and of is a", "en", "s0", 15) for i in range(10)] + [
        (100 + i, "el la de que los", "es", "s0", 16) for i in range(10)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    r = q.queries()["cohens_kappa"](spark, d).collect()[0]
    assert r["p_observed"] == pytest.approx(1.0)
    assert r["p_expected"] == pytest.approx(0.5)
    assert r["kappa"] == pytest.approx(1.0)


def test_kappa_bounds_on_real_data(spark, sf_dir):
    r = q.queries()["cohens_kappa"](spark, sf_dir).collect()[0]
    assert -1.0 <= r["kappa"] <= 1.0
    assert 0.0 <= r["p_observed"] <= 1.0
    assert 0.0 < r["p_expected"] < 1.0


def test_hhi_between_uniform_floor_and_top_share(spark, sf_dir):
    rows = q.queries()["hhi_concentration"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # HHI is between 1/n (uniform) and the top share (sum s_i^2 <= max s)
        assert 1.0 / r["n_suppliers"] - 1e-6 <= r["hhi"] <= r["top_share"] + 1e-6
        assert r["top_share"] ** 2 <= r["hhi"] + 1e-6


def test_markov_stationary_is_a_distribution(spark, sf_dir):
    rows = q.queries()["markov_stationary"](spark, sf_dir).collect()
    assert len(rows) > 0
    # v = vP preserves total mass for a stochastic P: the 3-step vector
    # still sums to ~1
    assert sum(r["stationary_p"] for r in rows) == pytest.approx(1.0, abs=1e-3)
    assert sum(r["empirical_share"] for r in rows) == pytest.approx(1.0, abs=1e-3)
    assert all(r["stationary_p"] > 0 for r in rows)


def test_cms_width_sweep_monotone_in_width(spark, sf_dir):
    rows = q.queries()["cms_width_sweep"](spark, sf_dir).collect()
    assert [r["width"] for r in rows] == [256, 1024, 4096]
    for r in rows:
        assert r["mean_overestimate"] >= 0
        assert r["max_overestimate"] >= 0
        assert r["n_exact_probes"] <= r["n_probes"]
    # wider sketches can only reduce collisions (same depth, same keys)
    means = [r["mean_overestimate"] for r in rows]
    assert means[0] >= means[1] >= means[2]


def test_wilson_ci_brackets_p_hat(spark, sf_dir):
    rows = q.queries()["wilson_ci"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["ci_lo"] <= r["p_hat"] <= r["ci_hi"] <= 1.0
        assert r["k"] <= r["n"]


def test_char_ngram_langid_bounds(spark, sf_dir):
    rows = q.queries()["char_ngram_langid"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_scored"]
        assert 0.0 <= r["accuracy"] <= 1.0


def test_minhash_error_audit_small_unbiased_error(spark, sf_dir):
    r = q.queries()["minhash_error_audit"](spark, sf_dir).collect()[0]
    assert r["n_pairs"] > 0
    # 16 components: per-pair std ~ sqrt(J(1-J)/16) <= 0.125; the MEAN
    # absolute error across pairs must sit well inside that envelope
    assert 0.0 <= r["mean_abs_err"] <= 0.125
    assert r["max_abs_err"] <= 16 / 16  # trivially bounded, sanity
    assert abs(r["mean_signed_err"]) <= r["mean_abs_err"] + 1e-9


def test_ngram_contamination_bounds_and_planted_leak(spark, tmp_path):
    """A train doc sharing an 8-gram with an eval doc must be flagged;
    disjoint docs must not."""
    d = str(tmp_path / "docs_contam")
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (97, leak + " iota", "en", "s0", 50),          # eval (97 % 97 == 0)
        (1, "prefix " + leak, "en", "s0", 52),          # train, contaminated
        (2, "totally different words here none shared ok fine", "en", "s0", 48),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    r = q.queries()["ngram_contamination"](spark, d).collect()[0]
    assert r["n_eval"] == 1 and r["n_train"] == 2
    assert r["n_contaminated"] == 1
    assert r["contamination_rate"] == pytest.approx(0.5)
    assert r["n_shared_grams"] >= 1


def test_quality_survivor_policy_counts(spark, sf_dir):
    r = q.queries()["quality_survivor_dedup"](spark, sf_dir).collect()[0]
    assert r["n_docs"] == r["n_clusters"] + r["n_dropped"]
    assert r["n_policy_differs"] <= r["n_dup_clusters"]
    assert r["n_dup_clusters"] <= r["n_dropped"] or r["n_dropped"] == 0


def test_markov_absorption_monotone_in_horizon(spark, sf_dir):
    """More steps can only raise the absorption probability, so
    p_absorb_5 >= p_direct, and both are probabilities."""
    rows = q.queries()["markov_absorption"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["p_direct"] <= r["p_absorb_5"] <= 1.0


def test_dup_rate_sampling_bias_direction(spark, sf_dir):
    """Id-hash sampling severs duplicate clusters, so its estimate can
    only fall at or below the exact rate; content-hash sampling keeps
    clusters whole and should land near the exact rate."""
    r = q.queries()["dup_rate_sample_estimate"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["id_sample_rate"] <= r["exact_copy_rate"] + 1e-9
    assert abs(r["content_sample_rate"] - r["exact_copy_rate"]) <= max(
        0.05, r["exact_copy_rate"]
    )
    assert r["n_id_sample"] < r["n_docs"]
    assert r["n_fp_sample"] < r["n_docs"]


def test_fuzzy_join_skew_stress_rarest_pair_blocking(spark, tmp_path):
    """Adversarial skew fixture: every part name contains the same two
    ultra-hot tokens ('common' + 'shared') plus two rare discriminative
    words. Raw-token blocking would pair every record with every other
    (n² candidates); rarest-PAIR blocking must key on the two rare
    words, keeping candidates per probe at the tiny rare-pair cohort
    while still finding every reversed-variant match."""
    from ra2_datalake_linaresjoan_spark.queries_ext5 import q_fuzzy_join

    d = str(tmp_path / "skew_parts")
    n = 1000
    rows = [
        (
            i * 100,  # every key divisible by 100 -> all rows are probes
            f"common shared rare{i}a rare{i}b",
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows, "p_partkey long, p_name string").write.parquet(
        f"{d}/part.parquet"
    )
    out = q_fuzzy_join(spark, d).collect()
    assert len(out) == n
    # exact recall: each reversed variant matches its own source name
    assert all(r["n_matches"] >= 1 for r in out)
    # skew bound: the rare-pair blocking key is unique per record, so
    # the only candidate is the record itself - not the n-sized cohort
    # the hot tokens would produce
    assert max(r["n_candidates"] for r in out) <= 2


def test_join_size_estimates_bracket_exact(spark, sf_dir):
    """The key-correlated estimate must land much closer to exact than
    sampling alone guarantees; both estimates are non-negative and the
    exact size equals the true join count by the count-vector formula."""
    r = q.queries()["join_size_sample_estimate"](spark, sf_dir).collect()[0]
    li = q._t(spark, sf_dir, "lineitem").select("l_partkey")
    pt = q._t(spark, sf_dir, "part").select("p_partkey")
    true_n = li.join(pt, li["l_partkey"] == pt["p_partkey"]).count()
    assert r["exact_size"] == true_n
    assert r["key_sample_est"] >= 0 and r["row_sample_est"] >= 0
    # 10% key sample over thousands of keys: relative error well under 50%
    assert abs(r["key_rel_err"]) < 0.5


def test_doc_feature_corr_bounds_and_strong_pairs(spark, sf_dir):
    rows = {r["pair"]: r["corr"] for r in q.queries()["doc_feature_corr"](spark, sf_dir).collect()}
    assert len(rows) == 6
    for v in rows.values():
        assert -1.0 <= v <= 1.0
    # chars and tokens of the same text are strongly positively correlated
    assert rows["n_chars~n_tok"] > 0.5


def test_split_srm_shares_sum_to_one(spark, sf_dir):
    rows = q.queries()["split_srm_check"](spark, sf_dir).collect()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert sum(r["observed_share"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert sum(r["expected_share"] for r in rows) == pytest.approx(1.0)
    assert all(r["chi2_term"] >= 0 for r in rows)


def test_dedup_venn_partitions_the_corpus(spark, sf_dir):
    rows = q.queries()["dedup_method_venn"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # an exact dup is by definition also a canonical dup (canonicalization
    # only merges classes)
    assert not any(r["exact"] and not r["canonical"] for r in rows)


def test_mutual_knn_rate_bounds(spark, sf_dir):
    r = q.queries()["mutual_knn_rate"](spark, sf_dir).collect()[0]
    assert r["n_vectors"] > 0
    assert 0 <= r["n_mutual_pairs"] * 2 <= r["n_directed_edges"]
    assert 0.0 <= r["mutuality_rate"] <= 1.0


def test_crosslang_oov_diagonal_is_one(spark, sf_dir):
    rows = {
        (r["vocab_lang"], r["text_lang"]): r["covered_share"]
        for r in q.queries()["crosslang_oov_matrix"](spark, sf_dir).collect()
    }
    langs = {a for a, _ in rows}
    for lang in langs:
        assert rows[(lang, lang)] == pytest.approx(1.0)
    for v in rows.values():
        assert 0.0 < v <= 1.0


def test_laspeyres_base_year_is_one(spark, sf_dir):
    rows = q.queries()["laspeyres_price_index"](spark, sf_dir).collect()
    assert len(rows) > 0
    # the base year's index is identically 1 (p_t = p_0)
    assert rows[0]["laspeyres_index"] == pytest.approx(1.0)
    assert all(r["laspeyres_index"] > 0 for r in rows)
    assert all(r["n_basket_parts"] > 0 for r in rows)


def test_cosine_neardup_lsh_path_empty_corpus(spark):
    """The LSH route (what `auto` takes beyond MAX_COLLECT_ROWS) must
    return an empty frame on an empty corpus, like the numpy path."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import (
        cosine_neardup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cosine_neardup_pairs(empty, method="lsh")
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cos_sim"]


def test_hll_estimate_accuracy_envelope(spark, sf_dir):
    r = q.queries()["hll_register_estimate"](spark, sf_dir).collect()[0]
    assert 0 < r["n_registers_set"] <= 1024
    # m = 1024 -> ~3.25% standard error; 4 sigma envelope
    assert abs(r["rel_err"]) < 0.13
    assert r["estimate"] > 0 and r["n_exact"] > 0


def test_bloom_audit_no_false_negatives(spark, sf_dir):
    r = q.queries()["bloom_membership_audit"](spark, sf_dir).collect()[0]
    # the Bloom guarantee: every seen probe flags maybe-member
    assert r["n_seen_flagged"] == r["n_seen_probes"] > 0
    assert 0 <= r["n_false_positives"] <= r["n_unseen_probes"]
    assert 0.0 <= r["fp_rate"] <= 1.0


def test_centroid_shift_zero_for_identical_halves(spark, tmp_path):
    d = str(tmp_path / "emb_same")
    rows = [(i, [float(i % 3), 1.0, -2.5], i % 2) for i in range(20)]
    # vec_id parity defines the halves; i%3 pattern repeats identically in
    # both parities only if built that way — use a constant per label
    rows = [(i, [1.5, -0.25, 3.0], 7) for i in range(20)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")
    r = q.queries()["embedding_centroid_shift"](spark, d).collect()
    assert len(r) == 1
    assert r[0]["centroid_shift_l2"] == pytest.approx(0.0)
    assert r[0]["n_a"] == r[0]["n_b"] == 10
