"""Round-8 adversarial-review pins for the batch-13..16 fixes — the
defect classes the DuckDB oracle gate is blind to (lockstep bugs and
inputs the synthetic testdata never contains):

1. zipf_fit: a single-word vocabulary makes the least-squares
   denominator exactly 0 — NULL slope, never an ANSI DIVIDE_BY_ZERO.
2. chi2_independence: unobserved (type, weekday) cells must contribute
   their (0-exp)^2/exp = exp term — the observed-cells-only sum
   understated Pearson's statistic in BOTH engines.
3. ks_distance: NULL-text rows are dropped in lockstep (Spark's
   cumulative window orders a NULL group FIRST, DuckDB LAST — every
   CDF value after it diverged).
4. event_trigram_paths: a NULL event_type must never yield a 2-token
   path (Spark concat_ws silently skips NULL args).
5. exact_corr_moments: complete cases only — a row with NULL text must
   not count toward n while being absent from the y-moments.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixdir(spark, tmp_path_factory):
    """One tmp sf_dir with tiny documents + events tables exercising
    exactly the dirty inputs the pins need."""
    d = tmp_path_factory.mktemp("r8_review_pins")
    docs = spark.createDataFrame(
        [
            # lang 'xx': single-word vocabulary (zipf denominator = 0)
            Row(doc_id=1, lang="xx", source="src0",
                text="hello hello hello", n_chars=17),
            # lang 'yy': normal vocabulary, one NULL-text row and one
            # NULL-n_chars row (corr complete-case pin)
            Row(doc_id=2, lang="yy", source="src0",
                text="a b c d", n_chars=7),
            Row(doc_id=3, lang="yy", source="src1",
                text="a b b c e f", n_chars=11),
            Row(doc_id=4, lang="yy", source="src1", text=None, n_chars=99),
            Row(doc_id=5, lang="yy", source="src0",
                text="g h i j k", n_chars=None),
            Row(doc_id=6, lang="yy", source="src1",
                text="a a b c", n_chars=7),
        ]
    )
    docs.write.parquet(str(d / "documents.parquet"))
    events = spark.createDataFrame(
        [
            # user 1: NULL event_type mid-sequence — with the NULL row
            # dropped the only trigram is view>click>buy
            Row(event_id=1, user_id=1, event_type="view",
                ts="2024-01-01 10:00:00", value=1.0),
            Row(event_id=2, user_id=1, event_type=None,
                ts="2024-01-01 10:01:00", value=1.0),
            Row(event_id=3, user_id=1, event_type="click",
                ts="2024-01-01 10:02:00", value=1.0),
            Row(event_id=4, user_id=1, event_type="buy",
                ts="2024-01-02 10:03:00", value=1.0),
            Row(event_id=5, user_id=1, event_type="view",
                ts="2024-01-02 10:04:00", value=1.0),
            # user 2: 'buy' never occurs on Jan 1 (chi2 zero cell comes
            # from the type x weekday grid over these two days)
            Row(event_id=6, user_id=2, event_type="view",
                ts="2024-01-01 09:00:00", value=1.0),
            Row(event_id=7, user_id=2, event_type="view",
                ts="2024-01-02 09:00:00", value=1.0),
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    events.write.parquet(str(d / "events.parquet"))
    return str(d)


def test_zipf_fit_single_word_vocabulary_null_slope(spark, fixdir):
    from ra2_datalake_linaresjoan_spark.queries_ext16 import q_zipf_fit

    rows = {r["lang"]: r for r in q_zipf_fit(spark, fixdir).collect()}
    assert rows["xx"]["n_vocab"] == 1
    assert rows["xx"]["zipf_slope"] is None  # 0/0 -> NULL, no ANSI crash
    assert rows["yy"]["zipf_slope"] is not None


def test_chi2_counts_unobserved_cells(spark, fixdir):
    """Monday has no 'buy' and no NULL-type events: the grid must still
    carry those cells, n_cells = r*c, and chi2 must equal the
    hand-computed complete-grid Pearson statistic."""
    from ra2_datalake_linaresjoan_spark.queries_ext16 import (
        q_chi2_independence,
    )

    r = q_chi2_independence(spark, fixdir).collect()[0]
    # observed grid: types {view, click, buy} x days {Mon, Tue}
    # (2024-01-01 = Monday); the NULL-type event is excluded in
    # lockstep. 'click' on Tue and 'buy' on Mon are the zero cells.
    obs = {
        ("view", 1): 2, ("view", 2): 2,
        ("click", 1): 1,
        ("buy", 2): 1,
    }
    types = {"view", "click", "buy"}
    dows = {1, 2}
    n = sum(obs.values())
    row_n = {t: sum(v for (tt, _), v in obs.items() if tt == t) for t in types}
    col_n = {d: sum(v for (_, dd), v in obs.items() if dd == d) for d in dows}
    chi2 = 0.0
    for t in types:
        for d in dows:
            exp = row_n[t] * col_n[d] / n
            o = obs.get((t, d), 0)
            chi2 += (o - exp) ** 2 / exp
    assert r["n_events"] == n
    assert r["n_cells"] == len(types) * len(dows)  # complete grid
    assert r["dof"] == (len(types) - 1) * (len(dows) - 1)
    assert math.isclose(r["chi2"], round(chi2, 4), abs_tol=1e-4)


def test_ks_distance_drops_null_text_in_lockstep(spark, fixdir):
    from ra2_datalake_linaresjoan_spark.queries_ext13 import q_ks_distance

    r = q_ks_distance(spark, fixdir).collect()[0]
    # src0 non-null word counts: {3, 4} (doc5 has NULL n_chars but real
    # text -> counts; doc2 'a b c d' = 4, doc5 = 5, doc1 = 3) ...
    # assert structurally: the NULL-text doc4 (src1) is excluded
    assert r["na"] == 3  # docs 1, 2, 5
    assert r["nb"] == 2  # docs 3, 6 — doc4's NULL text excluded
    assert r["ks_d"] is not None


def test_event_trigram_paths_never_two_token_paths(spark, fixdir):
    from ra2_datalake_linaresjoan_spark.queries_ext15 import (
        q_event_trigram_paths,
    )

    rows = q_event_trigram_paths(spark, fixdir).collect()
    paths = {r["path"]: r["n_paths"] for r in rows}
    for p in paths:
        assert p.count(">") == 2, f"malformed path {p!r}"
    # with the NULL row dropped, user 1's sequence is view>click>buy>view
    assert paths == {"view>click>buy": 1, "click>buy>view": 1}


def test_exact_corr_moments_complete_cases_only(spark, fixdir):
    """n for lang 'yy' must count only rows with BOTH n_chars and text
    present, and r must equal the complete-case Pearson correlation."""
    from ra2_datalake_linaresjoan_spark.queries_ext14 import (
        q_exact_corr_moments,
    )

    rows = {r["lang"]: r for r in q_exact_corr_moments(spark, fixdir).collect()}
    # yy complete cases: doc2 (7 chars, 4 distinct), doc3 (11, 5),
    # doc6 (7, 3) — docs 4 (NULL text) and 5 (NULL n_chars) excluded
    assert rows["yy"]["n"] == 3
    xs, ys = [7, 11, 7], [4, 5, 3]
    nn = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx, syy = sum(a * a for a in xs), sum(b * b for b in ys)
    want = (nn * sxy - sx * sy) / (
        math.sqrt(nn * sxx - sx * sx) * math.sqrt(nn * syy - sy * sy)
    )
    assert math.isclose(rows["yy"]["pearson_r"], round(want, 6), abs_tol=1e-6)


# ---------------------------------------------------------------------------
# Second review pass (batches 17-21) — degenerate/dirty-input pins
# ---------------------------------------------------------------------------


def _pad64(v):
    """Zero-pad a short test vector to the corpus EMB_DIM=64."""
    return v + [0.0] * (64 - len(v))


@pytest.fixture(scope="module")
def fixdir2(spark, tmp_path_factory):
    """Tmp sf_dir exercising the batch-17..21 dirty inputs: NULL ts
    events, sub-unit order totals, NULL shipdates, dirty embedding
    vectors, a single-class corpus, and NULL-text documents."""
    d = tmp_path_factory.mktemp("r8_review_pins2")
    events = spark.createDataFrame(
        [
            Row(event_id=1, user_id=1, event_type="view",
                ts="2024-01-01 10:00:00", value=1.0),
            Row(event_id=2, user_id=1, event_type="view",
                ts="2024-01-02 10:00:00", value=2.0),
            Row(event_id=3, user_id=1, event_type="view",
                ts="2024-01-03 10:00:00", value=9.0),
            Row(event_id=4, user_id=2, event_type="view",
                ts=None, value=1.0),  # NULL ts
            Row(event_id=5, user_id=None, event_type="view",
                ts=None, value=1.0),  # NULL user_id (HLL phantom register)
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    events.write.parquet(str(d / "events.parquet"))
    orders = spark.createDataFrame(
        [
            Row(o_orderkey=1, o_custkey=1, o_totalprice=123.0,
                o_orderpriority="1-URGENT"),
            Row(o_orderkey=2, o_custkey=1, o_totalprice=0.5,
                o_orderpriority="1-URGENT"),   # digit 0 -> excluded
            Row(o_orderkey=3, o_custkey=2, o_totalprice=-40.0,
                o_orderpriority="1-URGENT"),   # negative -> excluded
            Row(o_orderkey=4, o_custkey=2, o_totalprice=456.0,
                o_orderpriority="1-URGENT"),
        ]
    )
    orders.write.parquet(str(d / "orders.parquet"))
    lineitem = spark.createDataFrame(
        [
            Row(l_orderkey=1, l_suppkey=1, l_partkey=1,
                l_shipdate="2024-01-01", l_quantity=5.0,
                l_extendedprice=10.0, l_discount=0.0),
            Row(l_orderkey=1, l_suppkey=1, l_partkey=2,
                l_shipdate="2024-02-01", l_quantity=5.0,
                l_extendedprice=10.0, l_discount=0.0),
            Row(l_orderkey=1, l_suppkey=1, l_partkey=3,
                l_shipdate=None, l_quantity=5.0,
                l_extendedprice=10.0, l_discount=0.0),  # NULL shipdate
        ]
    ).withColumn("l_shipdate", F.to_date("l_shipdate"))
    lineitem.write.parquet(str(d / "lineitem.parquet"))
    emb = spark.createDataFrame(
        [
            # vectors padded to the corpus EMB_DIM=64 convention the
            # round-9 _emb_clean ragged-length guard enforces
            Row(vec_id=0, embedding=_pad64([1.0, 0.0]), label=1),   # query, clean
            Row(vec_id=10, embedding=None, label=1),        # NULL -> out
            Row(vec_id=20, embedding=_pad64([0.0, 0.0]), label=1),  # zero-norm
            Row(vec_id=1, embedding=_pad64([1.0, 0.1]), label=1),
            Row(vec_id=2, embedding=_pad64([0.9, 0.2]), label=1),
            Row(vec_id=3, embedding=_pad64([1.0, None]), label=2),  # interior NULL
            Row(vec_id=4, embedding=_pad64([0.8, 0.3]), label=1),
            Row(vec_id=5, embedding=_pad64([0.7, 0.1]), label=1),
            Row(vec_id=6, embedding=_pad64([0.6, 0.2]), label=1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.parquet(str(d / "embeddings.parquet"))
    docs = spark.createDataFrame(
        [
            # every doc english and predicted english -> kappa p_e = 1;
            # doc_ids all % 4 == 0 -> ndcg idcg = 0 for this lang
            Row(doc_id=4, lang="en", source="s0",
                text="the cat and the dog", n_chars=19),
            Row(doc_id=8, lang="en", source="s0",
                text="the bird of the hour is a bird", n_chars=30),
            # two UNRELATED failed extractions (NULL text, same source)
            Row(doc_id=12, lang="en", source="s0", text=None, n_chars=0),
            Row(doc_id=16, lang="en", source="s0", text=None, n_chars=0),
        ]
    )
    docs.write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_benford_excludes_subunit_and_negative_totals(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext20 import q_benford_digits

    rows = q_benford_digits(spark, fixdir2).collect()
    got = {r["digit"]: r["n_orders"] for r in rows}
    assert got == {1: 1, 4: 1}  # 123.0 and 456.0 only; no crash, no 0


def test_cusum_and_decay_drop_null_ts(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext20 import (
        q_cusum_changepoint,
        q_decayed_event_counts,
    )

    c = q_cusum_changepoint(spark, fixdir2).collect()
    assert len(c) == 1 and c[0]["n_days"] == 3  # NULL-ts day never forms
    assert c[0]["change_day"] is not None
    dec = q_decayed_event_counts(spark, fixdir2).collect()[0]
    assert dec["n_events"] == 3
    assert dec["decayed_count"] is not None  # NULL element never folds in


def test_interval_union_drops_null_shipdate(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext20 import (
        q_interval_union_coverage,
    )

    r = q_interval_union_coverage(spark, fixdir2).collect()[0]
    # two disjoint 5-day islands from the non-null rows
    assert r["avg_islands"] == 2.0
    assert r["avg_coverage_days"] == 10.0


def test_assortativity_single_edge_null(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext20 import (
        q_degree_assortativity,
    )

    r = q_degree_assortativity(spark, fixdir2).collect()[0]
    # all edges share one supplier: zero variance -> NULL, no ANSI crash
    assert r["assortativity"] is None


def test_ndcg_zero_ideal_gain_null(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext21 import q_ndcg_eval

    r = q_ndcg_eval(spark, fixdir2).collect()[0]
    assert r["idcg_at_10"] == 0.0
    assert r["ndcg_at_10"] is None  # 0/0 -> NULL, no ANSI crash


def test_kappa_single_class_null(spark, tmp_path_factory):
    """A corpus where every doc is labeled AND predicted the same class
    concentrates the marginals to p_e = 1 — NULL kappa, no ANSI crash
    (the shared fixture's NULL-text docs predict 'und' and would
    dilute p_e, so this pin writes its own single-class corpus)."""
    from ra2_datalake_linaresjoan_spark.queries_ext21 import q_cohens_kappa

    d = tmp_path_factory.mktemp("r8_kappa_single_class")
    spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", source="s0",
                text="the cat and the dog", n_chars=19),
            Row(doc_id=2, lang="en", source="s0",
                text="the bird of the hour", n_chars=20),
        ]
    ).write.parquet(str(d / "documents.parquet"))
    r = q_cohens_kappa(spark, str(d)).collect()[0]
    assert r["p_expected"] == 1.0
    assert r["kappa"] is None  # p_e = 1 -> NULL, no ANSI crash


def test_knn_accuracy_excludes_dirty_vectors(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext21 import q_knn_accuracy

    rows = q_knn_accuracy(spark, fixdir2).collect()
    # the only surviving query is vec 0 (10 = NULL, 20 = zero-norm);
    # its 5 clean neighbors all carry label 1
    assert len(rows) == 1
    assert rows[0]["label"] == 1 and rows[0]["n_queries"] == 1
    assert rows[0]["accuracy"] == 1.0


def test_dup_inflation_null_texts_are_not_copies(spark, fixdir2):
    from ra2_datalake_linaresjoan_spark.queries_ext18 import (
        q_dup_inflation_by_source,
    )

    r = q_dup_inflation_by_source(spark, fixdir2).collect()[0]
    assert r["n_docs"] == 4
    assert r["n_copies"] == 0  # the two NULL-text docs are NOT duplicates
    assert r["wasted_tokens"] == 0


# ---------------------------------------------------------------------------
# Cross-engine DIRTY-DATA parity pins — the strongest form of the fix
# contract: the registered Spark query and its DuckDB oracle must agree
# on the NULL-riddled fixtures, not just on clean testdata. Every name
# here was fixed in a round-8 review pass for a cross-engine divergence
# (NULL ordering, concat-vs-concat_ws, '0x' hash casts, phantom NULL
# fingerprints) and this pin holds the two engines together on the
# exact dirty inputs that used to split them.
# ---------------------------------------------------------------------------

_PARITY_FIX1 = [
    "ks_distance",
    "event_trigram_paths",
    "exact_corr_moments",
    "zipf_fit",
    "chi2_independence",
    "markov_stationary",
    "markov_absorption",
    "cms_width_sweep",
]
_PARITY_FIX2 = [
    "cusum_changepoint",
    "decayed_event_counts",
    "benford_digits",
    "interval_union_coverage",
    "degree_assortativity",
    "hll_register_estimate",
    "dup_inflation_by_source",
    "quality_survivor_dedup",
    "dedup_method_venn",
    "dup_rate_sample_estimate",
    "split_srm_check",
    "doc_feature_corr",
    "knn_accuracy",
    "laspeyres_price_index",
    "bloom_membership_audit",
    "ngram_contamination",
    "ndcg_eval",
]


def _assert_parity(spark, sf_dir, names):
    from oracle_harness import compare, duck_con

    from ra2_datalake_linaresjoan_spark.queries import oracle_sql, queries

    qs, sqls = queries(), oracle_sql()
    con = duck_con(sf_dir)
    failures = []
    for name in names:
        try:
            ok, msg = compare(qs[name](spark, sf_dir), con, sqls[name])
        except Exception as e:  # noqa: BLE001 — collect, report all
            ok, msg = False, f"exception: {e}"
        if not ok:
            failures.append(f"{name}: {msg}")
    assert not failures, "dirty-data parity broken:\n" + "\n".join(failures)


def test_dirty_parity_fixture1(spark, fixdir):
    _assert_parity(spark, fixdir, _PARITY_FIX1)


def test_dirty_parity_fixture2(spark, fixdir2):
    _assert_parity(spark, fixdir2, _PARITY_FIX2)
