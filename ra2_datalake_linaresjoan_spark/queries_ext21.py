"""Batch 21 (round 5): IR/ML evaluation metrics and concentration
statistics — the measurement layer a retrieval/curation stack reports.

- ``reciprocal_rank_fusion`` — RRF fusion of two rankings (length prior
  vs term-frequency), the standard hybrid-retrieval combiner. Each
  ranking is a TakeOrdered top-100, so every window runs over a
  k-bounded table at any corpus size.
- ``ndcg_eval`` — nDCG@10 of the length ranking against hash-derived
  graded relevance, per language. Gains fold over a SORTED per-lang
  array (≤10 terms) so float summation order is pinned cross-engine.
- ``knn_accuracy`` — leave-one-out k-NN label accuracy over the
  embedding table (k = 5, exact cosine): the standard embedding-space
  sanity metric. Reuses the brute-force ``cosine_topk`` baseline
  (sampled queries); the ANN variants (``ann_lsh``/``ann_ivf``) are
  the documented 100-TB candidate path.
- ``cohens_kappa`` — chance-corrected agreement between the heuristic
  language-ID and the labeled lang column: the one-number summary of
  ``lang_id_confusion``'s matrix. Counts exact; κ's double path is
  written identically on both engines.
- ``hhi_concentration`` — Herfindahl–Hirschman index of supplier
  revenue per nation (market-concentration audit). Revenue in exact
  integer cents; only the final share squares are floats.
- ``embedding_centroid_shift`` — per-label L2 distance between the
  centroids of the two vec_id-parity halves: the embedding-drift
  check between two ingests. Vectors quantize to integers FIRST
  (×1000, the ``quantize_embeddings`` parity trick), so the per-dim
  sums are exact and the shift is deterministic at any partitioning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_words

from ra2_datalake_linaresjoan_spark.queries import EMB_CLEAN_SQL, _emb_clean, _t


# ---------------------------------------------------------------------------
# reciprocal_rank_fusion — hybrid-retrieval rank combiner
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 100
_RRF_TERM = "key"


def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs by RRF score 1/(60+r_len) + 1/(60+r_tf) fusing a
    doc-length ranking and a term-frequency ranking (term 'key'), each
    truncated to its top-100 (TakeOrderedAndProject — the rank windows
    only ever see 100 rows). Docs present in one ranking contribute a
    single term (the standard RRF convention).

    Complete-case on (doc_id, n_chars) in lockstep (round-10 dirty
    audit): rank order is (metric, doc_id) and NULLs rank on opposite
    ends per engine at the top-100 cut; a NULL text counts tf = 0 on
    both engines (coalesce — Spark size(NULL) and DuckDB len(NULL) are
    both NULL and would re-introduce the same asymmetry in r2)."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "n_chars",
        F.coalesce(
            F.size(
                F.filter(
                    ascii_words("text"),
                    lambda x: x == _RRF_TERM,
                )
            ),
            F.lit(0),
        ).alias("tf"),
    )
    r1 = (
        base.orderBy(F.desc("n_chars"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), "doc_id"))
            .alias("rank_len"),
        )
    )
    r2 = (
        base.orderBy(F.desc("tf"), "doc_id")
        .limit(_RRF_TOP)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("tf"), "doc_id"))
            .alias("rank_tf"),
        )
    )
    score = F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_len")), F.lit(0.0)) + (
        F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_tf")), F.lit(0.0))
    )
    return (
        r1.join(r2, "doc_id", "full")
        .select(
            "doc_id", "rank_len", "rank_tf", F.round(score, 6).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(20)
    )


SQL_RECIPROCAL_RANK_FUSION = """
WITH base AS (
  SELECT doc_id, n_chars,
         coalesce(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'),
                         x -> x = 'key')), 0) AS tf
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
), r1 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS INT) AS rank_len
  FROM base ORDER BY n_chars DESC, doc_id LIMIT 100
), r2 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS INT) AS rank_tf
  FROM base ORDER BY tf DESC, doc_id LIMIT 100
)
SELECT doc_id, rank_len, rank_tf,
       round(coalesce(1.0 / (60 + rank_len), 0.0)
             + coalesce(1.0 / (60 + rank_tf), 0.0), 6) AS rrf_score
FROM r1 FULL JOIN r2 USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# ndcg_eval — graded ranking quality per language
# ---------------------------------------------------------------------------


def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 per language of the doc-length ranking against graded
    relevance rel = doc_id % 4. Both DCG and ideal DCG fold over a
    SORTED (rank, gain) array — ≤10 terms — so the float sum is
    order-pinned; ndcg = dcg/idcg at 6 dp. The per-lang rank windows
    are the documented top-k-per-group contract (`rank_parts`); at
    petabyte scale the top-10 extraction swaps to a grouped bounded
    heap.

    Complete-case on (doc_id, n_chars) in lockstep (round-10 dirty
    audit): rel derives from doc_id (NULL id -> NULL gains -> NULL
    dcg), and NULL metrics rank on opposite ends per engine inside
    both the system and ideal top-10 windows."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull()
    )
    base = docs.select("lang", "doc_id", "n_chars", (F.col("doc_id") % 4).alias("rel"))
    w_sys = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    w_ideal = Window.partitionBy("lang").orderBy(F.desc("rel"), "doc_id")
    gain = lambda rank: (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(rank + 1)  # noqa: E731

    def dcg_at10(ranked: DataFrame, rank_col: str) -> DataFrame:
        g = (
            ranked.filter(F.col(rank_col) <= 10)
            .select("lang", F.col(rank_col).alias("r"), gain(F.col(rank_col)).alias("g"))
            .groupBy("lang")
            .agg(F.sort_array(F.collect_list(F.struct("r", "g"))).alias("a"))
        )
        return g.select(
            "lang",
            F.aggregate("a", F.lit(0.0), lambda acc, x: acc + x["g"]).alias("dcg"),
        )

    sys_r = base.withColumn("rk", F.row_number().over(w_sys))
    ideal_r = base.withColumn("rk", F.row_number().over(w_ideal))
    dcg = dcg_at10(sys_r, "rk")
    idcg = dcg_at10(ideal_r, "rk").withColumnRenamed("dcg", "idcg")
    n_docs = base.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_docs.join(dcg, "lang")
        .join(idcg, "lang")
        .select(
            "lang",
            "n_docs",
            F.round("dcg", 6).alias("dcg_at_10"),
            F.round("idcg", 6).alias("idcg_at_10"),
            # all-zero relevance in the top-10 => idcg = 0: NULL nDCG in
            # lockstep, never an ANSI DIVIDE_BY_ZERO
            F.round(
                F.when(F.col("idcg") != 0, F.col("dcg") / F.col("idcg")), 6
            ).alias("ndcg_at_10"),
        )
        .orderBy("lang")
    )


SQL_NDCG_EVAL = """
WITH base AS (
  SELECT lang, doc_id, n_chars, doc_id % 4 AS rel FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
), sys_r AS (
  SELECT lang, rel,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
  FROM base
), ideal_r AS (
  SELECT lang, rel,
         row_number() OVER (PARTITION BY lang ORDER BY rel DESC, doc_id) AS rk
  FROM base
), dcg AS (
  SELECT lang,
         list_sum(list_transform(
           list(struct_pack(r := rk, g := (power(2.0, rel) - 1) / log2(rk + 1))
                ORDER BY rk),
           x -> x.g)) AS dcg
  FROM sys_r WHERE rk <= 10 GROUP BY lang
), idcg AS (
  SELECT lang,
         list_sum(list_transform(
           list(struct_pack(r := rk, g := (power(2.0, rel) - 1) / log2(rk + 1))
                ORDER BY rk),
           x -> x.g)) AS idcg
  FROM ideal_r WHERE rk <= 10 GROUP BY lang
), n AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY lang
)
SELECT lang, n_docs,
       round(dcg, 6) AS dcg_at_10,
       round(idcg, 6) AS idcg_at_10,
       round(CASE WHEN idcg = 0 THEN NULL ELSE dcg / idcg END, 6)
         AS ndcg_at_10
FROM n JOIN dcg USING (lang) JOIN idcg USING (lang)
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# knn_accuracy — leave-one-out k-NN label vote over embeddings
# ---------------------------------------------------------------------------


def q_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per true label: sampled queries (every 10th vec), 5-NN exact-
    cosine majority-vote predictions (vote ties → smallest label), and
    accuracy. Neighbor scoring reuses the broadcast-matrix
    ``cosine_topk`` baseline; ANN bucketing is the documented
    100-TB path."""
    from ra2_datalake_linaresjoan_spark.llmdata.similarity import cosine_topk

    # lockstep dirty-vector guard via the SHARED _emb_clean filter —
    # NULL ids/vectors, interior NULLs, zero norms, AND ragged lengths
    # (a 48-long vector crashes numpy's matrix stack and DuckDB's
    # list_cosine_similarity outright; round-9 ragged-corpus audit)
    emb = _emb_clean(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") % 10 == 0)
    top = cosine_topk(qs, emb, k=5)
    nb = top.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")
        ),
        "neighbor_id",
    )
    # unlabeled neighbors cannot vote (round-9 decorrelated dirty
    # audit): a NULL nb_label tie-breaks FIRST in Spark's asc window
    # but LAST in DuckDB's, flipping the majority winner
    votes = (
        nb.where(F.col("nb_label").isNotNull())
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("v"), "nb_label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").alias("pred"))
    )
    truth = qs.select(F.col("vec_id").alias("query_id"), "label")
    return (
        truth.join(pred, "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            # when/otherwise(0): a NULL-label query counts 0 like the
            # oracle's CASE ELSE 0, not a sum-poisoning NULL
            F.sum(
                F.when(F.col("pred") == F.col("label"), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("pred") == F.col("label"), F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long")
                )
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


SQL_KNN_ACCURACY = f"""
WITH emb AS (
  SELECT * FROM embeddings
  WHERE {EMB_CLEAN_SQL}
), top AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nb_label,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 10 = 0
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY cos_sim DESC, c.vec_id ASC) <= 5
), votes AS (
  SELECT query_id, nb_label, count(*) AS v FROM top
  WHERE nb_label IS NOT NULL
  GROUP BY 1, 2
), pred AS (
  SELECT query_id, nb_label AS pred FROM votes
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY v DESC, nb_label ASC) = 1
)
SELECT e.label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN pred = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN pred = e.label THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS accuracy
FROM emb e JOIN pred ON e.vec_id = pred.query_id
GROUP BY e.label
ORDER BY e.label
"""


# ---------------------------------------------------------------------------
# cohens_kappa — chance-corrected classifier agreement
# ---------------------------------------------------------------------------


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the heuristic language-ID (the exact
    ``lang_id_confusion`` predictor) and the labeled lang column:
    κ = (p_o − p_e)/(1 − p_e) with p_e from the class marginals.
    Everything is exact integer counts until the final ratios."""
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    conf = (
        docs.select("lang", language_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = conf.agg(F.sum("n").alias("nn"))
    diag = conf.filter(F.col("lang") == F.col("predicted")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("agree")
    )
    rows = conf.groupBy("lang").agg(F.sum("n").alias("row_n"))
    cols = conf.groupBy("predicted").agg(F.sum("n").alias("col_n"))
    cross = (
        rows.join(cols, rows["lang"] == cols["predicted"])
        .agg(
            F.coalesce(
                F.sum(F.col("row_n").cast("double") * F.col("col_n")), F.lit(0.0)
            ).alias("cross")
        )
    )
    po = F.col("agree") / F.col("nn")
    pe = F.col("cross") / (F.col("nn").cast("double") * F.col("nn"))
    return (
        diag.crossJoin(tot)
        .crossJoin(cross)
        .select(
            F.col("nn").alias("n_docs"),
            F.col("agree").alias("n_agree"),
            F.round(po, 6).alias("p_observed"),
            F.round(pe, 6).alias("p_expected"),
            # a single-class corpus concentrates the marginals to
            # p_e = 1: NULL kappa in lockstep, never ANSI DIVIDE_BY_ZERO
            F.round(
                F.when(F.lit(1) - pe != 0, (po - pe) / (1 - pe)), 6
            ).alias("kappa"),
        )
    )


SQL_COHENS_KAPPA = r"""
WITH w AS (
  SELECT lang, regexp_split_to_array(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '[\s\x0b]+') AS words FROM documents
), s AS (
  SELECT lang,
         len(list_filter(words, x -> list_contains(['the','and','of','is','a'], x)))   AS s_en,
         len(list_filter(words, x -> list_contains(['el','la','de','que','los'], x)))  AS s_es,
         len(list_filter(words, x -> list_contains(['le','la','les','et','des'], x)))  AS s_fr,
         len(list_filter(words, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de
  FROM w
), pred AS (
  SELECT lang,
         CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
              WHEN s_es > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
              WHEN s_fr > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
              WHEN s_de > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
              ELSE 'und' END AS predicted
  FROM s
), conf AS (
  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM conf),
diag AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree FROM conf WHERE lang = predicted
), rs AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n FROM conf GROUP BY 1),
cs AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS col_n FROM conf GROUP BY 1),
crossed AS (
  SELECT coalesce(sum(CAST(row_n AS DOUBLE) * col_n), 0.0) AS crossv
  FROM rs JOIN cs ON rs.lang = cs.predicted
)
SELECT nn AS n_docs, agree AS n_agree,
       round(CAST(agree AS DOUBLE) / nn, 6) AS p_observed,
       round(crossv / (CAST(nn AS DOUBLE) * nn), 6) AS p_expected,
       round(CASE WHEN 1 - crossv / (CAST(nn AS DOUBLE) * nn) = 0 THEN NULL
             ELSE (CAST(agree AS DOUBLE) / nn
                   - crossv / (CAST(nn AS DOUBLE) * nn))
                  / (1 - crossv / (CAST(nn AS DOUBLE) * nn)) END, 6) AS kappa
FROM diag CROSS JOIN tot CROSS JOIN crossed
"""


# ---------------------------------------------------------------------------
# hhi_concentration — market concentration per nation
# ---------------------------------------------------------------------------


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue share per nation:
    HHI = Σ share², plus the top-supplier share. Revenue accumulates in
    exact integer cents; shares go double only in the final squares.
    The supplier side grows linearly with scale, so it joins unhinted
    and Catalyst/AQE choose the strategy; nation (25 rows) broadcasts
    unconditionally.  money_case on the revenue inputs: a share
    statistic needs a finite population, and NaN/±Inf raises on the
    cents cast in both engines (round-11 value-fuzz).

    Zero-total nations are excluded in lockstep (round-13 FK-coherent
    fuzz corpus): Spark's share division is LONG/LONG — ANSI raises
    DIVIDE_BY_ZERO when a nation's surviving revenue nets to zero —
    while the oracle's DOUBLE/BIGINT division yields IEEE Inf/NaN and
    sails past; a share has no meaning over a zero denominator, so the
    population is nonzero-total nations in both engines.  Real revenue
    totals are never zero, so this is a clean-corpus no-op."""
    from ra2_datalake_linaresjoan_spark.operators.filters import money_case

    li = money_case(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
    )
    per_sup = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(cents.alias("c"))
    )
    w = Window.partitionBy("n_name")
    return (
        per_sup.withColumn("tot", F.sum("c").over(w))
        .where(F.col("tot") != 0)
        .select(
            "n_name",
            "s_suppkey",
            (F.col("c") / F.col("tot")).alias("share"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .orderBy("n_name")
    )


SQL_HHI_CONCENTRATION = """
WITH per_sup AS (
  SELECT n_name, s_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE (isfinite(l_extendedprice) AND abs(l_extendedprice) < 9.2e16) AND (isfinite(l_discount) AND abs(l_discount) < 9.2e16)
  GROUP BY 1, 2
), sh AS (
  SELECT n_name, s_suppkey,
         CAST(c AS DOUBLE) / CAST(tot AS BIGINT) AS share
  FROM (SELECT n_name, s_suppkey, c,
               sum(c) OVER (PARTITION BY n_name) AS tot
        FROM per_sup)
  WHERE tot <> 0
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(share * share), 6) AS hhi,
       round(max(share), 6) AS top_share
FROM sh
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# embedding_centroid_shift — per-label drift between ingest halves
# ---------------------------------------------------------------------------


def q_embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: sizes of the two vec_id-parity halves and the L2
    distance between their centroids. Components quantize to integers
    (×1000) BEFORE summing, so the per-dim accumulations are exact at
    any partition count; only the final squared differences are
    floats."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1000).cast("long"),
            )
        ).alias("dim", "qv"),
    )
    per = q.groupBy("label", "half", "dim").agg(
        F.sum("qv").alias("s"), F.countDistinct("vec_id").alias("n")
    )
    a = per.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = per.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    d = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    ) / 1000.0
    return (
        a.join(b, ["label", "dim"])
        .select("label", F.col("na").alias("n_a"), F.col("nb").alias("n_b"), (d * d).alias("d2"))
        .groupBy("label", "n_a", "n_b")
        .agg(F.round(F.sqrt(F.sum("d2")), 6).alias("centroid_shift_l2"))
        .orderBy("label")
    )


SQL_EMBEDDING_CENTROID_SHIFT = """
WITH q AS (
  SELECT label, vec_id % 2 AS half, vec_id, t.dim, t.qv
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                       unnest(list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x * 1000) AS BIGINT))) AS qv) t
), per AS (
  SELECT label, half, dim, CAST(sum(qv) AS BIGINT) AS s,
         CAST(count(DISTINCT vec_id) AS BIGINT) AS n
  FROM q GROUP BY 1, 2, 3
), a AS (SELECT label, dim, s AS sa, n AS na FROM per WHERE half = 0),
b AS (SELECT label, dim, s AS sb, n AS nb FROM per WHERE half = 1),
d AS (
  SELECT label, na AS n_a, nb AS n_b,
         (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / 1000.0 AS diff
  FROM a JOIN b USING (label, dim)
)
SELECT label, n_a, n_b, round(sqrt(sum(diff * diff)), 6) AS centroid_shift_l2
FROM d
GROUP BY label, n_a, n_b
ORDER BY label
"""


REGISTRY_EXT21: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "reciprocal_rank_fusion": (q_reciprocal_rank_fusion, SQL_RECIPROCAL_RANK_FUSION),
    "ndcg_eval": (q_ndcg_eval, SQL_NDCG_EVAL),
    "knn_accuracy": (q_knn_accuracy, SQL_KNN_ACCURACY),
    "cohens_kappa": (q_cohens_kappa, SQL_COHENS_KAPPA),
    "hhi_concentration": (q_hhi_concentration, SQL_HHI_CONCENTRATION),
    "embedding_centroid_shift": (
        q_embedding_centroid_shift,
        SQL_EMBEDDING_CENTROID_SHIFT,
    ),
}
