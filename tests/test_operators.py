"""Unit tests for relational operators not already covered by oracle
queries: P3 drop-all-null-columns, FK resolution, top-k determinism,
volumetry report shape, approx distinct."""

from __future__ import annotations

from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.operators.dedup import (
    dedup_keep_newest,
    drop_all_null_columns,
)
from ra2_datalake_linaresjoan_spark.operators.joins import fk_resolve
from ra2_datalake_linaresjoan_spark.operators.topk import top_k
from ra2_datalake_linaresjoan_spark.plans.volumetry import volumetry_report


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame(
        [(1, None, "a", None), (2, None, "b", None)],
        "id int, empty1 string, keep string, empty2 int",
    )
    out = drop_all_null_columns(df)
    assert out.columns == ["id", "keep"]
    # no all-null columns → unchanged
    assert drop_all_null_columns(out).columns == ["id", "keep"]


def test_fk_resolve_broadcast(spark):
    fact = spark.createDataFrame([("a", "DOTA"), ("b", "Chess")], "id string, game string")
    dim = spark.createDataFrame([(1, "DOTA")], "game_id int, name string")
    out = fk_resolve(fact, dim, "game", "name", "game_id", "resolved_id")
    rows = {r["id"]: r["resolved_id"] for r in out.collect()}
    assert rows == {"a": 1, "b": None}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_top_k_deterministic_with_ties(spark):
    df = spark.createDataFrame(
        [(i, 1.0 if i < 10 else 0.5) for i in range(20)], "id int, score double"
    )
    out = [r["id"] for r in top_k(df, "score", 5, tiebreak=["id"]).collect()]
    assert out == [0, 1, 2, 3, 4]


def test_dedup_keep_newest_null_timestamps(spark):
    df = spark.createDataFrame(
        [("k", None, 1), ("k", "2026-01-02", 2), ("k", "2026-01-01", 3)],
        "id string, ts string, payload int",
    )
    out = dedup_keep_newest(df, ["id"], "ts").collect()
    assert len(out) == 1 and out[0]["payload"] == 2  # nulls sort last


def test_volumetry_report(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "active", F.col("o_orderstatus") == "O"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rep = volumetry_report(
        {"orders": orders},
        {"items_per_order": (lineitem, "l_orderkey", "l_partkey")},
    )
    assert rep["entities"]["orders"]["total"] == orders.count()
    assert 0 < rep["entities"]["orders"]["pct_active"] < 100
    rel = rep["relations"]["items_per_order"]
    assert rel["n_keys"] > 0 and rel["max_per_key"] >= rel["avg_per_key"]
    assert len(rel["top"]) == 10


def test_approx_count_distinct_close_to_exact(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    row = cust.agg(
        F.countDistinct("c_custkey").alias("exact"),
        F.approx_count_distinct("c_custkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_ann_recall_vs_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.llmdata.similarity import (
        cosine_topk,
        ivf_ann,
        lsh_bucket_ann,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(qs, emb, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_ann(qs, emb, k=5, n_cells=16, n_probe=4).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in lsh_bucket_ann(qs, emb, dim=64, k=5, planes=4, tables=8).collect()}
    assert len(ivf & exact) / len(exact) >= 0.7
    # random near-orthogonal vectors are LSH's worst case (top neighbors sit
    # at ~68deg); with 4-bit buckets x 8 tables expected recall is ~0.5-0.7
    assert len(lsh & exact) / len(exact) >= 0.4


def test_cosine_neardup_lsh_path_subset_of_exact(spark, sf_dir):
    """The scale route of cosine_neardup_pairs (method='lsh', what 'auto'
    picks past MAX_COLLECT_ROWS) must return only verified pairs — every
    emitted pair also exists in the exact all-pairs result with the same
    rounded score — and keep useful recall on near-duplicate vectors."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.llmdata.similarity import (
        cosine_neardup_pairs,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(400)
    )
    # inject true near-dups: a slightly perturbed copy of every 20th vector
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    corpus = emb.unionByName(dup)
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in cosine_neardup_pairs(corpus, threshold=0.9, method="numpy").collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in cosine_neardup_pairs(corpus, threshold=0.9, method="lsh").collect()}
    assert lsh, "LSH route returned nothing"
    for pair, sim in lsh.items():
        assert pair in exact and abs(exact[pair] - sim) < 1e-9
    # scaled copies are parallel (cos=1.0): sign-hash buckets agree in every
    # table, so LSH must recover essentially all injected near-dups
    assert len(lsh) / len(exact) >= 0.9


def test_salted_join_and_group(spark):
    from ra2_datalake_linaresjoan_spark.operators.skew import (
        salted_group_count,
        salted_join,
    )

    # one hot key (90% of rows) + tail
    big = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [(f"k{i}", i) for i in range(100)],
        "k string, v int",
    ).repartition(8)
    small = spark.createDataFrame([("hot", "H"), ("k1", "K")], "k string, name string")
    joined = salted_join(big, small, "k")
    assert joined.count() == 901  # 900 hot + k1
    counts = {r["k"]: r["n"] for r in salted_group_count(big, ["k"]).collect()}
    assert counts["hot"] == 900 and counts["k7"] == 1


def test_grouped_agg_pandas_udaf(spark, sf_dir):
    import numpy as np

    from ra2_datalake_linaresjoan_spark.llmdata.udafs import label_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = {r["label"]: r for r in label_centroids(emb).collect()}
    assert set(cents) == {r["label"] for r in emb.select("label").distinct().collect()}
    # verify one centroid against a local numpy computation
    lbl = sorted(cents)[0]
    local = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.filter(F.col("label") == lbl).collect()]
    ).mean(axis=0)
    got = np.asarray(cents[lbl]["centroid"])
    assert np.allclose(got, local, atol=1e-9)
    assert cents[lbl]["n_vectors"] == int(emb.filter(F.col("label") == lbl).count())


def test_apply_in_pandas_standardize(spark, sf_dir):
    import numpy as np

    from ra2_datalake_linaresjoan_spark.llmdata.udafs import (
        standardize_embeddings_per_label,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    z = standardize_embeddings_per_label(emb)
    assert z.count() == emb.count()
    # per-label mean ~0 and std ~1 in every dimension
    one = z.filter(F.col("label") == 0).collect()
    mat = np.stack([np.asarray(r["z_embedding"]) for r in one])
    assert np.allclose(mat.mean(axis=0), 0, atol=1e-9)
    assert np.allclose(mat.std(axis=0), 1, atol=1e-6)


def test_curation_lsh_equals_exact(spark, sf_dir):
    from ra2_datalake_linaresjoan_spark.llmdata.curation import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {r["doc_id"] for r in curate_corpus(docs).collect()}
    lsh = {r["doc_id"] for r in curate_corpus(docs, use_lsh=True).collect()}
    assert exact == lsh  # LSH path = exact path at these parameters
    assert 0 < len(exact) < docs.count()


def test_multimodal_resize_and_frames(spark, sf_dir):
    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        attach_binary_payload,
        resize_images,
        sample_frames,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = attach_binary_payload(docs, "text", "doc_id")
    resized = resize_images(media, width=64, height=64)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(len(r["payload"]) == 64 * 64 // 64 for r in rows)
    assert all(r["width"] == 64 for r in rows)
    frames = sample_frames(media, every_n=10, max_frames=3)
    per_media = frames.groupBy("media_id").count().collect()
    assert all(1 <= r["count"] <= 3 for r in per_media)


def test_connected_components(spark):
    from ra2_datalake_linaresjoan_spark.operators.components import (
        connected_components,
    )

    # two components: a chain 1-2-3-4 (diameter > 1 round) and a pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        (r["id"], r["component_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """A path longer than the round budget must raise, not return the
    half-propagated labels as component ids."""
    import pytest

    from ra2_datalake_linaresjoan_spark.operators import components

    monkeypatch.setattr(components, "MAX_ITER", 3)
    path = spark.createDataFrame([(i, i + 1) for i in range(5)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="3 rounds"):
        components.connected_components(path)
    # the same path converges once the budget covers its diameter
    monkeypatch.setattr(components, "MAX_ITER", 6)
    got = {r["component_id"] for r in components.connected_components(path).collect()}
    assert got == {0}


def test_hll_sketch_rollup(spark, sf_dir):
    """Mergeable HLL sketches: per-group sketches union to the global
    distinct count — the pre-aggregated-rollup path for COUNT(DISTINCT)
    at 100 TB (store sketch bytes per partition, merge at query time,
    never re-scan raw data)."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_status = orders.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = per_status.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_n")
    ).collect()[0]["approx_n"]
    exact = orders.select("o_custkey").distinct().count()
    assert abs(merged - exact) / exact < 0.05


def test_salted_join_deterministic_with_salt_cols(spark):
    """Hash-derived salt: same input → same salt assignment on every run
    (stable under task retry), and join results match the unsalted join."""
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators.skew import salted_join

    big = spark.range(2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("row_id")
    )
    small = spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    out1 = salted_join(big, small, "k", salt=8, salt_cols=["row_id"])
    out2 = salted_join(big, small, "k", salt=8, salt_cols=["row_id"])
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))
    expected = big.join(small, "k").count()
    assert out1.count() == expected


def test_surrogate_key_modes_agree(spark, monkeypatch):
    """The offset-partitioned big-input path must produce exactly the keys
    the global-window path produces (dense, 1-based, sorted order)."""
    from ra2_datalake_linaresjoan_spark.operators import surrogate
    from ra2_datalake_linaresjoan_spark.operators.surrogate import surrogate_key

    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.concat(F.lit("tag_"), F.format_string("%04d", (F.col("id") * 7919) % 1000)).alias(
            "name"
        )
    ).distinct()
    small = {(r["sk"], r["name"]) for r in surrogate_key(df, ["name"]).collect()}
    monkeypatch.setattr(surrogate, "SMALL_BYTES", 10)
    monkeypatch.setattr(surrogate, "NUM_PARTS", 8)
    big_df = surrogate_key(df, ["name"])
    big = {(r["sk"], r["name"]) for r in big_df.collect()}
    assert small == big
    # the big-input path must not funnel through one partition anywhere
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    keys = sorted(k for k, _ in small)
    assert keys == list(range(1, len(keys) + 1))


def test_zorder_tightens_both_dimensions(spark, tmp_path):
    """Z-ordered files must have tighter per-file min/max ranges than a
    single-column sort on BOTH filter dimensions — measured from the
    actual parquet row-group statistics the scan pruner uses."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators.zorder import write_zordered

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    z_path = str(tmp_path / "zorder")
    s_path = str(tmp_path / "xsort")
    write_zordered(df, z_path, ["x", "y"], n_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.parquet(s_path)
    )

    def avg_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(
                    [md.schema.column(i).name for i in range(md.num_columns)].index(col)
                ).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    # x-sorted files: near-perfect x clustering, y nearly spans the domain
    assert avg_span(s_path, "x") < 30
    assert avg_span(s_path, "y") > 150
    # z-ordered files: BOTH dimensions clustered well below full domain
    assert avg_span(z_path, "x") < 120
    assert avg_span(z_path, "y") < 120


def test_zorder_quantile_path_no_window(spark, tmp_path, monkeypatch):
    """Above the exact threshold, zorder_key must bucket via sampled
    quantile boundaries (Bucketizer binary search) — no global window,
    no single-partition stage anywhere in the plan — while still
    clustering both dimensions in the written row-group stats."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators import zorder
    from ra2_datalake_linaresjoan_spark.operators.zorder import (
        write_zordered,
        zorder_key,
    )

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    monkeypatch.setattr(zorder, "EXACT_THRESHOLD", 1_000)
    keyed = zorder_key(df, ["x", "y"])
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan

    z_path = str(tmp_path / "zorder_q")
    write_zordered(df, z_path, ["x", "y"], n_files=16)

    def avg_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names.index(col)).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    assert avg_span(z_path, "x") < 120
    assert avg_span(z_path, "y") < 120


def test_zorder_quantile_path_rejects_non_numeric(spark, monkeypatch):
    import pytest
    from pyspark.sql import functions as F

    from ra2_datalake_linaresjoan_spark.operators import zorder
    from ra2_datalake_linaresjoan_spark.operators.zorder import zorder_key

    monkeypatch.setattr(zorder, "EXACT_THRESHOLD", 1_000)
    df = spark.range(5_000).select(
        F.col("id").alias("x"), F.concat(F.lit("s"), F.col("id")).alias("name")
    )
    with pytest.raises(ValueError, match="numeric"):
        zorder_key(df, ["x", "name"])
    # small input still takes the exact ntile path for any orderable type
    assert "_zorder" in zorder_key(df.limit(100), ["x", "name"]).columns


def test_asof_join_attaches_whole_rows_atomically(spark):
    """The carried values come from ONE right row: a null field in the
    LATEST right row stays null (never resurrects a stale older value),
    and the output never mixes columns from different right rows."""
    from ra2_datalake_linaresjoan_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k", 1, 10.0, 5), ("k", 2, None, 7)],
        "by string, ts int, price double, qty int",
    )
    left = spark.createDataFrame([("k", 3)], "by string, ts int")
    row = asof_join(left, right, on="ts", by="by").collect()[0]
    # latest right row is ts=2 with price NULL, qty 7 — atomic attach
    assert row["price_asof"] is None
    assert row["qty_asof"] == 7


def test_asof_join_equal_ts_tiebreak_deterministic(spark):
    """Equal-timestamp right rows resolve by whole-row fingerprint, so
    the survivor is identical across runs and partitionings."""
    from ra2_datalake_linaresjoan_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 5)], "by string, ts int")
    got = set()
    for n_parts in (1, 4, 7):
        right = spark.createDataFrame(
            [("k", 5, 10.0), ("k", 5, 20.0)], "by string, ts int, price double"
        ).repartition(n_parts)
        got.add(asof_join(left, right, on="ts", by="by").collect()[0]["price_asof"])
    assert len(got) == 1, f"tie survivor flipped: {got}"


def test_keyword_pattern_empty_list_matches_nothing(spark):
    """keyword_pattern([]) must never match (the empty alternation
    matched EVERYTHING, turning exclude=[] into filter-all-rows)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import (
        esports_filter,
        keyword_exclude,
        keyword_include,
    )

    df = spark.createDataFrame([("dota match",), ("cooking",)], ["q"])
    inc = df.filter(keyword_include(F.col("q"), [])).count()
    exc = df.filter(keyword_exclude(F.col("q"), [])).count()
    assert inc == 0      # no include keywords -> nothing matches
    assert exc == 2      # no exclude keywords -> nothing excluded
    out = esports_filter(df, "q", include=["dota"], exclude=[])
    assert out.count() == 1  # was 0 before the fix


def test_salted_join_rejects_outer_modes(spark):
    """right/full joins would emit each unmatched small-side row once
    per salt replica — the helper refuses them."""
    import pytest as _pytest

    from ra2_datalake_linaresjoan_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], ["k", "v"])
    small = spark.createDataFrame([(2, "o")], ["k", "w"])
    with _pytest.raises(ValueError, match="unmatched small-side"):
        salted_join(big, small, "k", how="full")
    assert salted_join(big, small, "k", how="inner").count() == 0


def test_zorder_interleave_rejects_sign_bit_overflow(spark):
    """bits*cols > 63 would put bucket bits in (or past) the long sign
    bit, producing negative keys that range-sort before all positive
    ones — the layout silently loses its pruning."""
    import pytest as _pytest

    from ra2_datalake_linaresjoan_spark.operators.zorder import zorder_key

    df = spark.range(0, 10).select(
        *[(F.col("id") * (i + 1)).alias(f"c{i}") for i in range(8)]
    )
    with _pytest.raises(ValueError, match="sign bit"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits=8)
    # 8 cols x 7 bits = 56 bits is fine
    assert "_zorder" in zorder_key(df, [f"c{i}" for i in range(8)], bits=7).columns


def test_interval_join_rejects_submicrosecond_window(spark):
    import pytest as _pytest

    from ra2_datalake_linaresjoan_spark.operators.rangejoin import interval_join

    df = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00")], ["k", "ts"]
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    with _pytest.raises(ValueError, match="microsecond"):
        interval_join(df, df, by="k", left_on="ts", right_on="ts", window_seconds=0)


def test_clean_markets_dedups_on_time_not_string_order(spark):
    """Mixed ISO offsets: '09:00+02:00' (=07:00Z) sorts lexically ABOVE
    the genuinely newer '08:30Z' — the dedup must coerce to timestamp
    first and keep the 08:30Z row."""
    from ra2_datalake_linaresjoan_spark.plans.pipelines import clean_markets

    df = spark.createDataFrame(
        [
            ("m1", "q?", "2024-06-01T09:00:00+02:00", "old"),
            ("m1", "q?", "2024-06-01T08:30:00Z", "new"),
        ],
        ["id", "question", "updatedAt", "tag"],
    )
    out = clean_markets(df).collect()
    assert len(out) == 1 and out[0]["tag"] == "new"


def test_gaming_summary_tolerates_missing_active_closed(spark):
    """A feed without active/closed must aggregate with zero counts, not
    throw UNRESOLVED_COLUMN — the docstring's schema-tolerance promise."""
    from ra2_datalake_linaresjoan_spark.plans.pipelines import gaming_summary

    df = spark.createDataFrame(
        [("Esports General", 10.0)], ["gaming_type", "volume"]
    )
    row = gaming_summary(df).collect()[0]
    assert row["n_markets"] == 1 and row["n_active"] == 0 and row["n_closed"] == 0
