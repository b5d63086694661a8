"""Physical-plan regression guards: the properties that make queries
scale — pushdown, pruning, broadcast, TakeOrderedAndProject — asserted on
the actual executed plans so a refactor can't silently lose them."""

from __future__ import annotations

import uuid

import pytest

from ra2_datalake_linaresjoan_spark import queries as q
from tests.conftest import SF_SMOKE


def _plan(spark, sf_dir, name: str) -> str:
    df = q.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    # formatted explain lists each node twice (tree + detail)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_join")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name", ["semi_join", "hhi_concentration", "ngram_contamination"]
)
def test_unhinted_join_queries_build_without_jobs(spark, name):
    """Join strategy is Catalyst's and AQE's call, so building these
    queries runs no size probe: zero Spark jobs before execution."""
    sc = spark.sparkContext
    group = f"build_{name}_{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"build {name}")
    try:
        q.queries()[name](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_window_dedup_partitions_by_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_dedup")
    # the window must shuffle by the dedup key, not a global sort
    assert "hashpartitioning(user_id" in plan


def test_having_joinback_broadcasts_aggregate(spark, sf_dir):
    """Q18 shape: the HAVING-filtered aggregate (tiny) must be the broadcast
    side, so the orders/customer scans never shuffle on the join key."""
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_customer_distribution_keeps_outer(spark, sf_dir):
    """Q13 shape: the LEFT OUTER must survive optimization (zero-order
    customers are the point of the query)."""
    plan = _plan(spark, sf_dir, "customer_distribution")
    assert "LeftOuter" in plan


def test_exists_semi_prunes_columns(spark, sf_dir):
    """Q4 shape: the lineitem side of the EXISTS semi-join should scan only
    the join key + filter column, not the full row."""
    plan = _plan(spark, sf_dir, "order_priority_exists")
    li_reads = [
        l for l in plan.splitlines()
        if "ReadSchema" in l and "l_orderkey" in l
    ]
    assert li_reads and all(
        "l_extendedprice" not in l and "l_quantity" not in l for l in li_reads
    )
    assert "LeftSemi" in plan


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6 shape: every predicate (date range, discount band, quantity cap)
    must reach the parquet scan, and the job must be join-free — one
    map-side partial agg plus the single-partition final."""
    plan = _plan(spark, sf_dir, "forecast_revenue")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, frag
    assert "Join" not in plan


def test_top_supplier_single_fact_scan(spark, sf_dir):
    """Q15 shape: the window-max formulation must NOT recompute the revenue
    subtree — exactly two scans (lineitem + supplier; formatted explain
    lists each node twice)."""
    plan = _plan(spark, sf_dir, "top_supplier")
    assert plan.count("Scan parquet") == 4
    assert "SortMergeJoin" not in plan


def test_discounted_revenue_disjunction_pushdown(spark, sf_dir):
    """Q19 shape: Catalyst must extract per-side conjuncts of the
    OR-of-ANDs onto BOTH scans (quantity envelopes → lineitem, brand/size
    envelopes → part) and keep the part side broadcast."""
    plan = _plan(spark, sf_dir, "discounted_revenue")
    li_pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "l_quantity" in l
    ]
    part_pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "p_brand" in l
    ]
    assert li_pushed and any("Or(" in l for l in li_pushed)
    assert part_pushed and any("Or(" in l for l in part_pushed)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_time_bucket_rollup_single_scan(spark, sf_dir):
    """Hypertable rollup: the hourly level must merge the 5-minute
    partials, not re-scan events — one scan, no join."""
    plan = _plan(spark, sf_dir, "time_bucket_rollup")
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan


def test_waiting_suppliers_no_cartesian(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT-EXISTS rewrite must stay key-equi — no
    nested-loop or cartesian fallback anywhere in the plan."""
    plan = _plan(spark, sf_dir, "waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dormant_customers_anti_join(spark, sf_dir):
    """Q22 shape: the dormancy check must be a LeftAnti join over the
    key-pruned, date-filtered orders column."""
    plan = _plan(spark, sf_dir, "dormant_customers")
    assert "LeftAnti" in plan
    reads = [
        l for l in plan.splitlines() if "ReadSchema" in l and "o_custkey" in l
    ]
    assert reads and all("o_totalprice" not in l for l in reads)


def test_scd2_single_shuffle_for_both_windows(spark, sf_dir):
    """SCD2: the lag-filter pass and the lead pass share partitioning and
    ordering, so the plan must contain exactly one events-side hash
    exchange on user_id (formatted explain lists nodes twice)."""
    plan = _plan(spark, sf_dir, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_pagerank_iterations_reuse_cached_edges(spark, sf_dir):
    """PageRank: the iterations run once against the cached transition
    table and the result is localCheckpoint-materialized (cache released,
    no executor-memory accumulation across calls) — so the plan the caller
    collects is a checkpointed-RDD scan with NO parquet rescans of the
    fact table."""
    plan = _plan(spark, sf_dir, "nation_pagerank")
    assert "ExistingRDD" in plan
    li_scans = [
        l
        for l in plan.splitlines()
        if "Scan parquet" in l and "lineitem" in l
    ]
    assert len(li_scans) == 0


def test_market_share_single_shuffle_join(spark, sf_dir):
    """Q8 shape: the customer→nation→region chain must collapse into
    broadcast joins so lineitem⋈orders is the ONLY shuffle join, and the
    fact scans are column-pruned to what the aggregate needs."""
    plan = _plan(spark, sf_dir, "market_share")
    tree = plan.split("\n\n")[0]  # node tree (details repeat node names)
    assert tree.count("BroadcastHashJoin") >= 3
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") <= 1
    li_read = [l for l in plan.splitlines() if "ReadSchema" in l and "l_orderkey" in l]
    assert li_read and "l_shipdate" not in li_read[0] and "l_partkey" not in li_read[0]


def test_cluster_tightness_centroids_broadcast(spark, sf_dir):
    """The centroid table (tiny: one array row per label) must flow back to
    the member vectors through a broadcast join on label, and the fact must
    be exploded/shuffled only once (the centroid pass) — member cosines are
    array lambdas, so exactly one Generate and one BroadcastHashJoin."""
    plan = _plan(spark, sf_dir, "cluster_tightness")
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 1
    assert tree.count("Generate") == 1  # single posexplode pass
    assert "SortMergeJoin" not in tree
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree


def test_domain_mixture_normalizer_broadcast(spark, sf_dir):
    """The 1-row normalizer aggregate joins back via broadcast-nested-loop
    (1 row × shards — constant cost), never a cartesian of data-sized
    inputs, and the document scan reads only the 3 needed columns."""
    plan = _plan(spark, sf_dir, "domain_mixture")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read and "doc_id" not in read


def test_heavy_hitter_words_ranks_within_lang(spark, sf_dir):
    """The top-5 ranking must window-partition by lang (no global-order
    single-partition window on the word counts)."""
    plan = _plan(spark, sf_dir, "heavy_hitter_words")
    assert "hashpartitioning(lang" in plan


def test_gapfill_spine_broadcast_single_fact_shuffle(spark, sf_dir):
    """The date-spine grid (days × types) must broadcast into the LEFT
    join, and the events fact must aggregate before joining — so the raw
    fact shuffles exactly once regardless of spine length."""
    plan = _plan(spark, sf_dir, "gapfill_daily_events")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_trailing_week_window_partitioned(spark, sf_dir):
    """The RANGE window must run partitioned by priority on the
    post-aggregation daily table — no unpartitioned global window."""
    plan = _plan(spark, sf_dir, "trailing_week_revenue")
    assert "hashpartitioning(o_orderpriority" in plan


def test_seq_packing_window_partitioned_by_shard(spark, sf_dir):
    """Packing's running sum must be a per-shard window (partitioned by
    lang) — never a global ordered window over the corpus."""
    plan = _plan(spark, sf_dir, "seq_packing")
    assert "hashpartitioning(lang" in plan
    # no single-partition exchange anywhere in the plan
    assert "SinglePartition" not in plan


def test_pii_redact_is_scan_plus_one_shuffle(spark, sf_dir):
    """PII count/redact are Column expressions: the whole query is a scan
    plus exactly one aggregation exchange (lang groupBy)."""
    plan = _plan(spark, sf_dir, "pii_redact")
    tree = plan.split("\n\n")[0]
    # one partial->final agg exchange + the presentation orderBy's range
    # exchange — nothing else (no join, no window, no extra shuffle)
    assert tree.count("Exchange") <= 2
    # pure Column expressions: no join, window, or Python-worker node
    assert "Join" not in tree and "Window" not in tree
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree


def test_fuzzy_join_blocks_never_cartesian(spark, sf_dir):
    """The fuzzy join must stay blocking+verify: candidate pairs come from
    an equi-join on tokens — no cartesian or nested-loop pairing of the
    two name sets anywhere in the plan."""
    plan = _plan(spark, sf_dir, "fuzzy_join")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_fuzzy_join_candidates_bounded_by_rarest_token(spark, sf_dir):
    """Rarest-token (prefix-filter) blocking must keep recall for exact
    matches (every reversed variant still finds its source part) while
    proposing far fewer candidates than raw-token blocking would — the
    documented df-aware skew fix."""
    from ra2_datalake_linaresjoan_spark.queries_ext5 import q_fuzzy_join

    rows = q_fuzzy_join(spark, sf_dir).collect()
    assert len(rows) > 0
    # recall pin: a full-overlap match exists for every probe
    assert all(r["n_matches"] >= 1 for r in rows)
    assert all(r["best_lev"] is not None for r in rows)
    # rarest-token blocking: one blocking key per record, so candidates
    # per probe are bounded by the largest rarest-token cohort (~df of
    # the rarest token), below the several-hundred-per-probe a raw
    # shared-any-token block proposes even on TPC-H's tiny ~92-word
    # name vocabulary (at web-scale vocab the gap is orders of magnitude)
    n_parts = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    assert all(r["n_candidates"] < n_parts / 5 for r in rows)


def test_cosine_neardup_auto_large_path_no_broadcast_no_nlj(spark, sf_dir, monkeypatch):
    """Pin the 100-TB contract of cosine_neardup_pairs: when the corpus
    exceeds MAX_COLLECT_ROWS the auto route must take the LSH-bucketed
    path whose plan has NO nested-loop/cartesian pairing and NO
    explicit broadcast of the embeddings table. With the size-based
    auto-broadcast threshold disabled, any Broadcast* node left in the
    plan could only come from a code-side hint — there must be none."""
    from ra2_datalake_linaresjoan_spark.llmdata import similarity

    monkeypatch.setattr(similarity, "MAX_COLLECT_ROWS", 10)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = similarity.cosine_neardup_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.9
        )
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0]
        assert "BroadcastNestedLoopJoin" not in tree
        assert "CartesianProduct" not in tree
        assert "BroadcastExchange" not in tree
        assert "ArrowEvalPython" not in tree  # LSH path is pure JVM
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ngram_contamination_large_path_no_broadcast(spark, sf_dir):
    """Pin the 100-TB contract of ngram_contamination (round-5 verdict
    finding #2): the eval slice is 1/97 of the corpus, so the eval gram
    set must never be force-broadcast. With the size-based
    auto-broadcast threshold disabled, any Broadcast* node could only
    come from a code-side hint, so the plan must hold none."""
    from ra2_datalake_linaresjoan_spark import queries_ext23

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = queries_ext23.q_ngram_contamination(spark, sf_dir)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0]
        # the 1-row x 1-row result stitch legitimately plans as a
        # CartesianProduct; the ban is on broadcasting the (corpus-
        # proportional) eval gram set anywhere in the plan
        assert "BroadcastExchange" not in tree
        assert "BroadcastNestedLoopJoin" not in tree
        # values must not depend on the route (same row either way)
        row = out.collect()[0]
        assert row["n_train"] > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ngram_contamination_small_path_broadcasts_eval(spark, sf_dir):
    """Below the cap the eval gram set must be broadcast (scan-shaped
    decontamination: the train grams are probed in place, not shuffled)."""
    from ra2_datalake_linaresjoan_spark.queries_ext23 import q_ngram_contamination

    out = q_ngram_contamination(spark, sf_dir)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    # specifically the LeftSemi probe must be a broadcast hash join (the
    # 1-row stitch also broadcasts, so check the semi join, not just any
    # BroadcastExchange)
    semi_bhj = [
        l
        for l in tree.splitlines()
        if "BroadcastHashJoin" in l and "LeftSemi" in l
    ]
    assert semi_bhj, tree


def test_table_profile_single_scan(spark, sf_dir):
    """The profiler must compute every per-column metric in ONE scan of
    orders (SURVEY §7.4.7: no count() storm)."""
    plan = _plan(spark, sf_dir, "table_profile")
    scans = [l for l in plan.splitlines() if "Scan parquet" in l and "orders" in l]
    assert len(scans) <= 2  # tree + detail repeat of the single node


def test_latest_event_argmax_no_window_no_sort(spark, sf_dir):
    """The argmax formulation must stay a single hash aggregate: no Window
    operator, no Sort before the aggregate — that is its whole advantage
    over the rank-and-filter shape at scale."""
    plan = _plan(spark, sf_dir, "latest_event_argmax")
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    # struct ordering keys make Spark pick SortAggregate; the scale property
    # is the partial (map-side) aggregate before the single key shuffle
    assert "partial_max_by" in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_doc_chunking_explode_before_single_shuffle(spark, sf_dir):
    """Chunk explode happens map-side: exactly one Exchange (the final
    per-lang aggregate) in the whole plan."""
    plan = _plan(spark, sf_dir, "doc_chunking")
    tree = plan.split("\n\n")[0]
    # one data shuffle (the per-lang aggregate); the final orderBy adds a
    # rangepartitioning exchange over the 5-row result — not data-sized
    # (formatted explain keeps partitioning args in the detail section)
    assert plan.count("hashpartitioning(lang") == 1
    assert "Generate" in plan  # the explode node


def test_bigram_vocab_no_positional_self_join(spark, sf_dir):
    """Bigrams are built inside the row (transform over sequence) — the
    plan must not contain any join at all."""
    plan = _plan(spark, sf_dir, "bigram_vocab")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree


def test_cumulative_unique_users_window_after_agg(spark, sf_dir):
    """The running sum must run over the per-day aggregate, not the raw
    fact: the single-partition window Exchange is fed by HashAggregate
    output (bounded by #days), never by the events scan directly."""
    plan = _plan(spark, sf_dir, "cumulative_unique_users")
    tree = plan.split("\n\n")[0]
    win = tree.index("Window")
    assert "HashAggregate" in tree[win:]


def test_quantize_is_pure_projection_plus_agg(spark, sf_dir):
    """Quantization error is Column lambdas only — no Python eval nodes,
    no join, one aggregate shuffle."""
    plan = _plan(spark, sf_dir, "embedding_quantize")
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree
    assert "Join" not in tree


def test_watermark_audit_windows_are_bucketed(spark, sf_dir):
    """The prefix-max must never put a whole event_type in one window
    partition: the per-row window partitions by (event_type, bucket) and
    only the tiny per-bucket aggregate windows by event_type alone."""
    plan = _plan(spark, sf_dir, "watermark_late_audit")
    assert "hashpartitioning(event_type" in plan
    # the data-sized window keys on the bucket too
    assert plan.count("hashpartitioning(event_type#") >= 1
    assert "_bkt" in plan


def test_bracket_revenue_derived_predicates_pushed(spark, sf_dir):
    """Q19 shape: the derived part-side disjunction prunes the build before
    the join (broadcast, never sort-merge) and the derived quantity
    superset reaches the lineitem scan as a pushed filter."""
    plan = _plan(spark, sf_dir, "bracket_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "LessThanOrEqual(l_quantity,30" in plan


def test_bitmap_distinct_no_expand_two_shuffles(spark, sf_dir):
    """The bitmap plan must aggregate (type, bucket) partials map-side and
    never fall back to the COUNT(DISTINCT) Expand: two hash exchanges
    (bucket agg + final type agg) plus the output sort, zero joins."""
    plan = _plan(spark, sf_dir, "bitmap_exact_distinct")
    assert "Expand" not in plan
    assert "Join" not in plan
    assert plan.count("partial_bitmap_construct_agg") >= 1  # map-side partial
    assert plan.count("hashpartitioning") == 2


def test_burst_window_partitioned_by_user(spark, sf_dir):
    """The RANGE window must shuffle by user — a global interval window
    would single-partition the corpus."""
    plan = _plan(spark, sf_dir, "burst_1h_max")
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan.split("Window")[0]


def test_span_dedup_survivor_agg_no_window(spark, sf_dir):
    """Span survivors come from one groupBy(span) min-struct aggregate —
    no span-level window (the oracle's row_number formulation would
    single-partition nothing here, but the engine plan must not sort
    span-level rows globally)."""
    plan = _plan(spark, sf_dir, "span_dedup")
    assert "Window" not in plan
    assert "hashpartitioning(span" in plan


def test_semantic_kmeans_small_route_is_one_action_broadcast(spark, sf_dir):
    """Round-14 routing, small branch (what sf0.01 exercises): the
    capped-count probe must route bench-scale corpora to the
    single-action broadcast-join Lloyd — centroids are BROADCAST k-row
    subplans (never a shuffled join side), and no localCheckpoint
    materialization appears (the plan reads parquet, not ExistingRDD)."""
    plan = _plan(spark, sf_dir, "semantic_kmeans")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Scan ExistingRDD" not in plan
    assert "Scan parquet" in plan


def test_semantic_kmeans_large_route_has_no_assignment_join(
    spark, sf_dir, monkeypatch
):
    """Round-14 routing, large branch (forced via a zero cap): the
    in-row argmax + localCheckpoint shape — NO join of any kind, only
    the final 8-key aggregation exchange, and the corpus read comes
    from the checkpoint (Scan ExistingRDD), never a re-scan of the
    embeddings parquet (ADVICE r13: guard the checkpoint so a refactor
    cannot silently reintroduce the 3x scan+clean+quantize re-run)."""
    from ra2_datalake_linaresjoan_spark import queries_llm5

    monkeypatch.setattr(queries_llm5, "_KMEANS_SMALL_CAP", 0)
    plan = _plan(spark, sf_dir, "semantic_kmeans")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_semantic_prune_large_route_reads_checkpoint(
    spark, sf_dir, monkeypatch
):
    """Round-14, large branch of semantic_prune: the assignment is
    in-row (no centroid join — the only joins left are the
    intra-cluster pair stage the query is ABOUT) and every corpus read
    comes from the localCheckpoint (ADVICE r13 guard)."""
    from ra2_datalake_linaresjoan_spark import queries_llm5

    monkeypatch.setattr(queries_llm5, "_KMEANS_SMALL_CAP", 0)
    plan = _plan(spark, sf_dir, "semantic_prune")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_decimal_money_stays_decimal_to_the_sum(spark, sf_dir):
    """The money path must aggregate in decimal (exact), only casting to
    bigint after the sum — a double anywhere in the sum would reintroduce
    summation-order drift."""
    plan = _plan(spark, sf_dir, "decimal_exact_money")
    assert "sum(rev" in plan and "decimal" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


# -- round-3 continuation batches (9/10, LLM 6/7) ---------------------------


def test_ohlc_bars_is_one_aggregate_no_window(spark, sf_dir):
    """OHLC must come from min_by/max_by partial aggregation — a window
    formulation would sort every partition of the fact table."""
    plan = _plan(spark, sf_dir, "ohlc_bars")
    assert "Window" not in plan
    assert "min_by" in plan and "max_by" in plan


def test_skyline_window_input_is_price_cardinality(spark, sf_dir):
    """The Pareto frontier's single global window must run over the
    per-price AGGREGATE (price-cardinality rows), never the raw parts —
    the pre-aggregate is what makes the partition-less WindowExec safe
    at scale. An O(n²) dominance self-join (cartesian / nested-loop)
    must never appear; the equi join-back of the tiny per-price table
    is the intended shape."""
    plan = _plan(spark, sf_dir, "skyline_pareto")
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan
    tree = plan.split("\n\n")[0]
    # in the tree, the Window node's child chain down to its scan must
    # pass through a HashAggregate — i.e. the window input is the
    # per-price aggregate, not raw part rows
    w_idx = tree.index("Window")
    seg = tree[w_idx : tree.index("Scan parquet", w_idx)]
    assert "HashAggregate" in seg
    # the price-cardinality table is the broadcast side of the join-back
    assert "BroadcastHashJoin" in tree


def test_event_rate_anomaly_window_partitioned(spark, sf_dir):
    """Trailing-window stats must partition by event_type over the daily
    aggregate — never a global (SinglePartition) window."""
    plan = _plan(spark, sf_dir, "event_rate_anomaly")
    assert "hashpartitioning(event_type" in plan


def test_markov_window_partitioned_by_user(spark, sf_dir):
    plan = _plan(spark, sf_dir, "markov_transitions")
    assert "hashpartitioning(user_id" in plan
    assert "BroadcastHashJoin" in plan  # row-normalizer join


def test_spmm_projection_matrix_broadcasts(spark, sf_dir):
    """B (vocabulary-sized) must be the broadcast side of the SpMM join."""
    plan = _plan(spark, sf_dir, "spmm_topics")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_bit_table_broadcasts(spark, sf_dir):
    """The Bloom bit-position set (≤2^16 rows) must broadcast against the
    probe stream; nothing in the membership path may sort-merge."""
    plan = _plan(spark, sf_dir, "bloom_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pca_final_plan_is_local(spark, sf_dir):
    """Round-13 Gram rewrite: the corpus is scanned ONCE inside the
    eager mapInPandas Gram pass (w = Gv runs driver-side on the bounded
    64×64 matrix), so the RETURNED plan must be a bounded local relation
    — zero parquet rescans, zero checkpoint rescans, zero joins (the
    old shape rescanned the checkpoint per join-aggregate: 285 nodes)."""
    plan = _plan(spark, sf_dir, "pca_power_iteration")
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" not in plan
    assert "Join" not in plan
    assert "LocalTableScan" in plan


def test_vocab_oov_vocab_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "vocab_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_emb_norm_outlier_thresholds_broadcast(spark, sf_dir):
    """Label-level median/MAD thresholds are label-sized — they must come
    back to the norms as broadcasts, never a shuffle join."""
    plan = _plan(spark, sf_dir, "emb_norm_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_event_trigram_paths_window_partitioned(spark, sf_dir):
    """The lead/lead2 window must partition by user_id — a global
    (SinglePartition) sequence window would serialize the clickstream."""
    plan = _plan(spark, sf_dir, "event_trigram_paths")
    assert "hashpartitioning(user_id" in plan


def test_bm25_stats_broadcast(spark, sf_dir):
    """Round-13 one-scan BM25: the collection-stats row must broadcast
    back onto the checkpointed per-doc table (never a shuffle join),
    and the per-doc stage itself must be a pure scan+project — no
    explode, no doc-keyed exchange (the old postings shape tokenized
    the corpus three times and shuffled tf⋈dl)."""
    plan = _plan(spark, sf_dir, "bm25_topk")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" not in plan

    from ra2_datalake_linaresjoan_spark.queries_llm10 import _bm25_per_doc

    df = _bm25_per_doc(spark, sf_dir)
    stage = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Generate" not in stage
    assert "Exchange" not in stage


def test_char_entropy_is_scan_shaped(spark, sf_dir):
    """Entropy is an in-row expression: no data-keyed shuffle, no Window,
    no Generate (explode). Allowed exchanges are exactly the presentation
    sort's range partitioning and — when the test scan is narrower than
    the cluster — the ``_spread`` guard's round-robin, which carries no
    key (never a hash partitioning anywhere in this plan)."""
    plan = _plan(spark, sf_dir, "char_entropy_filter")
    tree = plan.split("\n\n")[0]
    assert "Generate" not in tree
    assert "Window" not in tree
    assert tree.count("Exchange") <= 2
    # the in-row fold must never be re-keyed: no hash shuffle at all
    assert "hashpartitioning" not in plan


def test_nation_jaccard_dims_broadcast(spark, sf_dir):
    """Supplier/nation dims must broadcast onto lineitem; the only
    data-sized shuffle join is the part-keyed self-join of the distinct
    (nation, part) table."""
    plan = _plan(spark, sf_dir, "nation_jaccard")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_window_partitioned_by_doc(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bigram_lm_perplexity")
    assert "hashpartitioning(doc_id" in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """The E-S weighted sample must be scan + TakeOrderedAndProject (a
    bounded per-partition heap), never a global Sort of the corpus."""
    plan = _plan(spark, sf_dir, "weighted_sample_topk")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree


def test_hill_tail_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "hill_tail_index")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree


def test_containment_pairs_no_cartesian(spark, sf_dir):
    """Containment candidates must come from the shingle equi-join —
    never a cartesian/nested-loop pairing of documents."""
    plan = _plan(spark, sf_dir, "containment_pairs")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_containment_pairs_df_subtree_runs_once(spark, sf_dir):
    """Round-13 checkpoint guard: the df-capped posting list is
    localCheckpointed, so the final plan reads the checkpoint exactly
    three times (sizes + both self-join sides) and never re-runs the
    shingle-df aggregate or the df⋈postings join — the audited before-
    plan ran that subtree 3× (plans/r13/containment_pairs_before.txt,
    added in commit 5f8a807)."""
    import re

    plan = _plan(spark, sf_dir, "containment_pairs")
    # every corpus/posting access is pre-checkpoint: no parquet scan and
    # exactly 3 checkpoint reads in the executed plan
    assert "Scan parquet" not in plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 3
    # the df-cap filter lives inside the checkpoint build, not the final
    # plan — the cap literal reappearing would mean the df join/filter
    # is being recomputed (ADVICE r13: the old `df#` check could never
    # fire — attribute names don't appear in the operator tree)
    from ra2_datalake_linaresjoan_spark.queries_llm14 import _CONT_DF_CAP

    assert f"<= {_CONT_DF_CAP}" not in plan
    # the checkpoint stores only the (shingle, doc_id) pairs the
    # consumers read — the df column must be projected away pre-
    # materialization, so no df attribute may appear anywhere in the
    # final plan, including the detail blocks (ADVICE r13)
    assert "df#" not in plan


def test_cusum_windows_partitioned_by_type(spark, sf_dir):
    """Every CUSUM window must be event_type-partitioned over the daily
    aggregate — a partition-less window over daily counts would
    serialize the whole series through one task."""
    plan = _plan(spark, sf_dir, "cusum_changepoint")
    import re

    # formatted detail section lists window specs; assert no empty
    # partition spec windowspecdefinition appears
    detail = plan
    assert "Window" in detail
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", detail)
    assert specs, "expected window specs in plan detail"
    for s in specs:
        assert "event_type" in s, f"unpartitioned window spec: {s}"


def test_vocab_coverage_window_over_count_buckets(spark, sf_dir):
    """The coverage-curve global window may only run AFTER the groupBy(n)
    bucket aggregate — its input is the distinct-count table, so the
    plan must show an Aggregate below the Window (two aggregates total
    between scan and window: word counts, then count buckets)."""
    plan = _plan(spark, sf_dir, "vocab_coverage_curve")
    tree = plan.split("\n\n")[0]
    w = tree.find("Window")
    assert w >= 0
    below = tree[w:]
    # the subtree under/after Window in formatted tree ordering includes
    # the aggregates feeding it
    assert below.count("HashAggregate") >= 2


def test_encoding_advisor_single_scan(spark, sf_dir):
    """The stacked profiler must read lineitem exactly once (no
    per-column scan storm)."""
    plan = _plan(spark, sf_dir, "encoding_advisor")
    scans = [
        l
        for l in plan.splitlines()
        if "Scan parquet" in l and "lineitem" in l
    ]
    assert len(scans) <= 2  # tree + detail repeat of one node


def test_poisson_bootstrap_weight_stream_is_lcg(spark, sf_dir):
    """Round-11 A/B guard: the bootstrap's uniform stream is the two-step
    32-bit LCG — pure integer arithmetic inside codegen. A reappearing
    md5/conv/substring in the weight fan-out would restore the 2× kernel
    cost the rewrite removed (SCALE.md round-11 table)."""
    plan = _plan(spark, sf_dir, "poisson_bootstrap_ci")
    assert "md5" not in plan and "conv(" not in plan
    assert "pmod" in plan  # the LCG's mod-2^32 steps


def test_containment_pairs_joins_on_hashed_shingles(spark, sf_dir):
    """Round-11 A/B guard: the posting-list shingle keys are in-row
    xxhash64 of the 4-word slices — int64 join/aggregate state, never
    materialized shingle strings (SCALE.md round-11 table).  The
    query's localCheckpoint hides this stage from the final explain, so
    the guard plans the exposed pre-checkpoint builder."""
    from ra2_datalake_linaresjoan_spark.queries_llm14 import _cont_shingles

    df = _cont_shingles(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "xxhash64" in plan
    assert "concat_ws" not in plan
    assert dict(df.dtypes)["shingle"] == "bigint"


def test_quantile_sketch_audit_single_corpus_scan(spark, sf_dir):
    """Round-11 A/B guard: the 256-bucket histogram derives from the
    distinct-value table — exactly ONE events scan in the whole audit
    (the checkpointed byv table; a second Scan parquet node means the
    histogram regressed to its own corpus pass)."""
    plan = _plan(spark, sf_dir, "quantile_sketch_audit")
    assert plan.count("Scan parquet") <= 1
