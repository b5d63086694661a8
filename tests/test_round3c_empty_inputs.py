"""Empty-input robustness for the round-3-continuation operators: every
new query must execute (not raise) over structurally-identical EMPTY
tables — the degenerate partition every 100-TB job eventually meets
(empty date partition, freshly-truncated table, all-rows-filtered
branch)."""

from __future__ import annotations

import pytest

from ra2_datalake_linaresjoan_spark import queries as q

NEW_QUERIES = [
    "ohlc_bars",
    "linear_interp_gaps",
    "markov_transitions",
    "k_anonymity",
    "zorder_layout",
    "event_rate_anomaly",
    "spmm_topics",
    "bloom_dedup",
    "bpe_encode",
    "corpus_datacard",
    "pca_power_iteration",
    "skyline_pareto",
    "approx_quantile_guarantee",
    "vocab_oov_rate",
    "split_leakage_audit",
    "emb_norm_outliers",
    "feature_store_pit",
    "bellman_ford_routes",
    "edit_distance_match",
    "l_diversity",
    "ngram_novelty",
    "cross_source_dups",
    "join_cardinality",
    "time_travel_scd2",
    "linear_attribution",
    "ab_test_readout",
    "ks_distance",
    "code_switch_score",
    "tokenizer_fertility",
    "association_rules",
    "fingerprint_cluster_histogram",
    "funnel_time_to_convert",
    "exact_corr_moments",
    # round-4 additions: queries whose implementation changed (the
    # contamination lazy rewrite's empty-train contract is exactly what
    # this suite exists to pin)
    "contamination",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_new_query_survives_empty_tables(spark, empty_sf, name):
    # bellman_ford seeds node 0 itself; everything else must yield an
    # empty (or seed-only) frame without raising
    n = q.queries()[name](spark, empty_sf).count()
    assert n >= 0
