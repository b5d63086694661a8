"""Empty-input robustness for the round-4 batches (LLM batch 10 +
relational batch 15): every new query must execute (not raise) over
structurally-identical EMPTY tables — the degenerate partition every
100-TB job eventually meets."""

from __future__ import annotations

import pytest

from ra2_datalake_linaresjoan_spark import queries as q

ROUND4_QUERIES = [
    "bm25_topk",
    "cms_heavy_hitters",
    "domain_balance_weights",
    "waterfill_allocation",
    "canonical_text_dedup",
    "char_entropy_filter",
    "training_shard_assign",
    "hapax_rate",
    "event_trigram_paths",
    "revenue_decile_lift",
    "dow_seasonality",
    # batch 2 (LLM batch 11 + relational batch 16)
    "kl_divergence_sources",
    "bigram_lm_perplexity",
    "tfidf_cosine_pairs",
    "robust_scaler_embeddings",
    "chi2_independence",
    "nation_jaccard",
    "zipf_fit",
    "gini_spend",
    # batch 3 (LLM batch 12)
    "winnow_fingerprints",
    "chunk_overlap_audit",
    "dedup_threshold_sweep",
    # batch 4 (LLM batch 13 + relational batch 17)
    "stratified_split_assign",
    "padding_waste_sweep",
    "skew_diagnosis",
    "multimodal_real_decode",
    "audio_real_decode",
    "vocab_coverage_curve",
    "session_survival_curve",
    "dup_inflation_by_source",
    # batch 19 (round-4 close)
    "ngram_entropy_rate",
    "inter_event_time_dist",
]


@pytest.mark.parametrize("name", ROUND4_QUERIES)
def test_round4_query_survives_empty_tables(spark, empty_sf, name):
    n = q.queries()[name](spark, empty_sf).count()
    assert n >= 0
