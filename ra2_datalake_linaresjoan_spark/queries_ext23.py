"""Batch 23 (round 5 close): curation policy & estimation audits — the
decision layer on top of the dedup/measurement machinery.

- ``ngram_contamination`` — GPT-3-style n-gram overlap contamination
  between the training corpus and a held-out eval slice: a train doc is
  contaminated if it shares ANY 8-gram with any eval doc. The eval gram
  set is benchmark-sized (tiny next to the corpus) and broadcast
  semi-joins against the train grams — the scan-shaped decontamination
  pass every pretraining pipeline runs. Complements the exact-match
  ``contamination`` query.
- ``quality_survivor_dedup`` — quality-aware survivor selection for
  exact-dup clusters (keep the LONGEST doc, ties → smallest id) vs the
  min-id policy, with a count of clusters where the two policies
  disagree — the evidence that survivor policy matters before you pick
  one. Cluster windows are fingerprint-partitioned (cluster-sized).
- ``markov_absorption`` — probability of reaching 'purchase' within 5
  transitions from each event type (purchase absorbing), by 5 steps of
  h ← P·h + b over |types|-sized join-aggregates: the conversion-
  attribution number a funnel dashboard quotes.
- ``dup_rate_sample_estimate`` — copy-rate estimation from 20% samples:
  id-hash sampling (breaks clusters ⇒ systematic underestimate) vs
  content-hash sampling (keeps every copy of a sampled fingerprint
  together ⇒ near-exact), next to the exact rate. The measured reason
  dedup telemetry must sample by CONTENT hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_words
from ra2_datalake_linaresjoan_spark.queries import _t


# ---------------------------------------------------------------------------
# ngram_contamination — eval-overlap decontamination audit
# ---------------------------------------------------------------------------

_NC_N = 8
_NC_EVAL_MOD = 97


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row contamination audit: train docs sharing ≥1 8-gram with
    the eval slice (doc_id % 97 == 0). Gram extraction is in-row; the
    corpus is scanned, never self-joined.

    The eval slice is corpus-proportional (1/97 of docs), so the eval
    gram set is NOT fixed-size and an unconditional broadcast would OOM
    at scale: the semi-join is unhinted, so Catalyst and AQE choose
    broadcast or shuffle from the gram set's real size. Both audit counts
    (contaminated docs, shared grams) come from ONE pass over the
    matched train grams — a single multi-distinct aggregate — so the
    large path shuffles the train grams once, not twice.
    """
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(ascii_words("text"), lambda x: x != "").alias(
            "w"
        ),
    )
    # round-13 (guide §2.3 "shuffle keys instead of payloads"): the
    # engine-side gram key is xxhash64 of the 8-word slice — the
    # containment_pairs convention.  The old shape materialized a
    # ~50-byte concat_ws string per gram position just to compare
    # equality; the int64 key skips the concat allocation entirely and
    # the distinct/semi-join/broadcast all move 8-byte keys.  The OUTPUT
    # (counts + rate) is hash-invariant; the DuckDB oracle keeps
    # verifying on the actual gram strings, so a 64-bit collision
    # (p ≈ 1e-9 at this cardinality) would surface as an oracle
    # mismatch, not pass silently.
    grams = words.filter(F.size("w") >= _NC_N).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _NC_N),
                    lambda j: F.xxhash64(F.slice("w", j + 1, _NC_N)),
                )
            )
        ).alias("gram"),
    )
    is_eval = F.col("doc_id") % _NC_EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    train_grams = grams.filter(~is_eval)
    # leftsemi keeps (doc_id, gram) of train grams present in the eval
    # set; both counts collapse from it in one aggregate.
    hits = train_grams.join(eval_grams, "gram", "leftsemi")
    hit_counts = hits.agg(
        F.count_distinct("doc_id").alias("n_contaminated"),
        F.count_distinct("gram").alias("n_shared_grams"),
    )
    doc_counts = docs.agg(
        F.sum(F.when(~is_eval, 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(is_eval, 1).otherwise(0)).cast("long").alias("n_eval"),
    )
    return doc_counts.crossJoin(hit_counts).select(
        "n_train",
        "n_eval",
        "n_contaminated",
        # a corpus with zero train docs (every doc_id ≡ 0 mod 97) gives
        # 0/0 — NULL in lockstep, never an ANSI DIVIDE_BY_ZERO
        F.round(
            F.when(
                F.col("n_train") != 0,
                F.col("n_contaminated") / F.col("n_train"),
            ),
            6,
        ).alias("contamination_rate"),
        "n_shared_grams",
    )


SQL_NGRAM_CONTAMINATION = """
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 6),
                               j -> array_to_string(w[j:j+7], ' '))) AS gram
  FROM words WHERE len(w) >= 8
), eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
), train_grams AS (
  SELECT * FROM grams WHERE doc_id % 97 <> 0
), contaminated AS (
  SELECT DISTINCT doc_id FROM train_grams SEMI JOIN eval_grams USING (gram)
), shared AS (
  SELECT DISTINCT gram FROM train_grams SEMI JOIN eval_grams USING (gram)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 97 <> 0) AS n_train,
       (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 97 = 0) AS n_eval,
       (SELECT CAST(count(*) AS BIGINT) FROM contaminated) AS n_contaminated,
       round(CASE WHEN (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) = 0
             THEN NULL
             ELSE (SELECT count(*) FROM contaminated) * 1.0
                  / (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) END, 6)
         AS contamination_rate,
       (SELECT CAST(count(*) AS BIGINT) FROM shared) AS n_shared_grams
"""


# ---------------------------------------------------------------------------
# quality_survivor_dedup — survivor-policy comparison
# ---------------------------------------------------------------------------


def q_quality_survivor_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup-policy audit over exact md5 clusters: docs,
    clusters, dup clusters, docs dropped, and the clusters where the
    quality policy (longest doc, ties → smallest id) picks a DIFFERENT
    survivor than min-id. The fingerprint window sees only cluster-sized
    partitions. NULL-text docs get a per-doc sentinel fingerprint in
    lockstep — md5(NULL) is NULL on both engines and unrelated failed
    extractions must stay singleton clusters, never one phantom
    duplicate cluster."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.coalesce(
            F.md5("text"),
            F.concat(
                F.lit("<null>:"),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("")),
            ),
        ).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), "doc_id")
    marked = fp.withColumn("rn_q", F.row_number().over(w))
    per_cluster = marked.groupBy("fp").agg(
        F.count(F.lit(1)).alias("sz"),
        F.min("doc_id").alias("surv_min"),
        F.min(F.when(F.col("rn_q") == 1, F.col("doc_id"))).alias("surv_q"),
    )
    return per_cluster.agg(
        F.sum("sz").alias("n_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("sz") >= 2).cast("long")).alias("n_dup_clusters"),
        F.sum(F.col("sz") - 1).alias("n_dropped"),
        F.sum(
            ((F.col("sz") >= 2) & (F.col("surv_q") != F.col("surv_min"))).cast(
                "long"
            )
        ).alias("n_policy_differs"),
    )


SQL_QUALITY_SURVIVOR_DEDUP = """
WITH fp AS (
  SELECT doc_id, n_chars,
         coalesce(md5(text),
                  '<null>:' || coalesce(CAST(doc_id AS VARCHAR), '')) AS fp
  FROM documents
), marked AS (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn_q
  FROM fp
), per_cluster AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS sz,
         CAST(min(doc_id) AS BIGINT) AS surv_min,
         CAST(min(CASE WHEN rn_q = 1 THEN doc_id END) AS BIGINT) AS surv_q
  FROM marked GROUP BY fp
)
SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
       CAST(sum(sz - 1) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN sz >= 2 AND surv_q <> surv_min THEN 1 ELSE 0 END) AS BIGINT)
         AS n_policy_differs
FROM per_cluster
"""


# ---------------------------------------------------------------------------
# markov_absorption — time-bounded conversion probability
# ---------------------------------------------------------------------------

_ABS_TARGET = "purchase"
_ABS_STEPS = 5


def q_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(reach 'purchase' within 5 transitions | start at type t), with
    purchase absorbing: h₁(t) = P(t→p); hₖ₊₁(t) = P(t→p) +
    Σ_{s≠p} P(t,s)·hₖ(s). Every step is a |types|-sized join-aggregate
    against the checkpointed transition matrix; the corpus is scanned
    once for the bigram counts. NULL event_type/ts/event_id rows drop
    in lockstep before the sequence window (NULL ts orders FIRST in
    Spark, LAST in DuckDB — different bigrams per engine)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = (
        ev.select(
            F.col("event_type").alias("w1"),
            F.lead("event_type").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    row_tot = big.groupBy("w1").agg(F.sum("c").alias("rt"))
    p = (
        big.join(row_tot, "w1")
        .select("w1", "w2", (F.col("c") / F.col("rt")).alias("p"))
        .localCheckpoint()
    )
    direct = (
        p.filter(F.col("w2") == _ABS_TARGET)
        .select(F.col("w1").alias("t"), F.col("p").alias("b"))
    )
    # states may lack a direct edge to the target: left-join + 0
    states = p.select(F.col("w1").alias("t")).distinct()
    b = states.join(direct, "t", "left").select(
        "t", F.coalesce(F.col("b"), F.lit(0.0)).alias("b")
    )
    h = b
    q_tab = p.filter(F.col("w2") != _ABS_TARGET)
    for _ in range(_ABS_STEPS - 1):
        acc = (
            q_tab.join(h, q_tab["w2"] == h["t"])
            .groupBy(F.col("w1").alias("t1"))
            .agg(F.sum(F.col("p") * F.col("b")).alias("acc"))
        )
        h = (
            b.join(acc, b["t"] == acc["t1"], "left")
            .select(
                "t",
                (F.col("b") + F.coalesce(F.col("acc"), F.lit(0.0))).alias("b"),
            )
        )
    return (
        h.filter(F.col("t") != _ABS_TARGET)
        .join(b.withColumnRenamed("b", "p_direct"), "t")
        .select(
            F.col("t").alias("event_type"),
            F.round("p_direct", 6).alias("p_direct"),
            F.round("b", 6).alias("p_absorb_5"),
        )
        .orderBy("event_type")
    )


SQL_MARKOV_ABSORPTION = """
WITH big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT event_type AS w1,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w2
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
  ) WHERE w2 IS NOT NULL GROUP BY 1, 2
), rt AS (SELECT w1, CAST(sum(c) AS BIGINT) AS rt FROM big GROUP BY 1),
p AS (SELECT w1, w2, CAST(c AS DOUBLE) / rt AS p FROM big JOIN rt USING (w1)),
states AS (SELECT DISTINCT w1 AS t FROM p),
b AS (
  SELECT t, coalesce(p.p, 0.0) AS b
  FROM states LEFT JOIN p ON p.w1 = t AND p.w2 = 'purchase'
), q_tab AS (SELECT * FROM p WHERE w2 <> 'purchase'),
h1 AS (SELECT t, b FROM b),
h2 AS (
  SELECT b.t, b.b + coalesce((SELECT sum(q.p * h1.b) FROM q_tab q JOIN h1 ON q.w2 = h1.t
                              WHERE q.w1 = b.t), 0.0) AS b
  FROM b
),
h3 AS (
  SELECT b.t, b.b + coalesce((SELECT sum(q.p * h2.b) FROM q_tab q JOIN h2 ON q.w2 = h2.t
                              WHERE q.w1 = b.t), 0.0) AS b
  FROM b
),
h4 AS (
  SELECT b.t, b.b + coalesce((SELECT sum(q.p * h3.b) FROM q_tab q JOIN h3 ON q.w2 = h3.t
                              WHERE q.w1 = b.t), 0.0) AS b
  FROM b
),
h5 AS (
  SELECT b.t, b.b + coalesce((SELECT sum(q.p * h4.b) FROM q_tab q JOIN h4 ON q.w2 = h4.t
                              WHERE q.w1 = b.t), 0.0) AS b
  FROM b
)
SELECT h5.t AS event_type,
       round(b.b, 6) AS p_direct,
       round(h5.b, 6) AS p_absorb_5
FROM h5 JOIN b ON h5.t = b.t
WHERE h5.t <> 'purchase'
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# dup_rate_sample_estimate — sampling-policy audit for dedup telemetry
# ---------------------------------------------------------------------------


def q_dup_rate_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy rate (share of docs that are redundant copies of a
    smaller-id doc) exactly and from two 20% samples: id-hash sampling
    severs clusters (both copies must land in the sample to count — a
    systematic underestimate) while content-hash sampling keeps whole
    clusters and tracks the exact rate. One fingerprint shuffle per
    variant; the audit is the measured case for content-hash dedup
    telemetry.

    NULL hardening in lockstep: NULL-text docs get a per-doc sentinel
    fingerprint (md5(NULL) is NULL — unrelated docs must not form one
    phantom cluster), and the sample hashes run over NULL-coalesced
    keys (DuckDB's CAST(concat('0x', NULL-md5) AS BIGINT) errors where
    Spark's conv returns NULL). Two-step select so md5(text) is
    evaluated once (no CSE inside one projection)."""
    docs = _t(spark, sf_dir, "documents")
    fp0 = docs.select(
        "doc_id",
        F.coalesce(
            F.md5("text"),
            F.concat(
                F.lit("<null>:"),
                F.coalesce(F.col("doc_id").cast("string"), F.lit("")),
            ),
        ).alias("fp"),
    )
    fp = fp0.select(
        "doc_id",
        "fp",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.coalesce(
                            F.col("doc_id").cast("string"), F.lit("<null>")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
            < 2
        ).alias("in_id_sample"),
        (
            F.conv(F.substring(F.md5("fp"), 1, 8), 16, 10).cast("long") % 10
            < 2
        ).alias("in_fp_sample"),
    ).localCheckpoint()

    def copy_rate(df: DataFrame, n_col: str, r_col: str) -> DataFrame:
        w = Window.partitionBy("fp")
        marked = df.withColumn("is_copy", (F.col("doc_id") > F.min("doc_id").over(w)).cast("long"))
        return marked.agg(
            F.count(F.lit(1)).alias(n_col),
            F.round(
                F.coalesce(F.sum("is_copy") / F.count(F.lit(1)), F.lit(0.0)), 6
            ).alias(r_col),
        )

    exact = copy_rate(fp, "n_docs", "exact_copy_rate")
    ids = copy_rate(fp.filter("in_id_sample"), "n_id_sample", "id_sample_rate")
    fps = copy_rate(fp.filter("in_fp_sample"), "n_fp_sample", "content_sample_rate")
    return exact.crossJoin(ids).crossJoin(fps)


SQL_DUP_RATE_SAMPLE_ESTIMATE = """
WITH fp0 AS (
  SELECT doc_id,
         coalesce(md5(text),
                  '<null>:' || coalesce(CAST(doc_id AS VARCHAR), '')) AS fp
  FROM documents
), fp AS (
  SELECT doc_id, fp,
         CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '<null>')), 1, 8)) AS BIGINT) % 10 < 2
           AS in_id_sample,
         CAST(concat('0x', substr(md5(fp), 1, 8)) AS BIGINT) % 10 < 2
           AS in_fp_sample
  FROM fp0
), exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         round(coalesce(sum(CASE WHEN doc_id > mn THEN 1 ELSE 0 END) * 1.0
                        / count(*), 0.0), 6) AS exact_copy_rate
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS mn FROM fp)
), ids AS (
  SELECT CAST(count(*) AS BIGINT) AS n_id_sample,
         round(coalesce(sum(CASE WHEN doc_id > mn THEN 1 ELSE 0 END) * 1.0
                        / count(*), 0.0), 6) AS id_sample_rate
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS mn
        FROM fp WHERE in_id_sample)
), fps AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fp_sample,
         round(coalesce(sum(CASE WHEN doc_id > mn THEN 1 ELSE 0 END) * 1.0
                        / count(*), 0.0), 6) AS content_sample_rate
  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS mn
        FROM fp WHERE in_fp_sample)
)
SELECT * FROM exact CROSS JOIN ids CROSS JOIN fps
"""


REGISTRY_EXT23: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "ngram_contamination": (q_ngram_contamination, SQL_NGRAM_CONTAMINATION),
    "quality_survivor_dedup": (q_quality_survivor_dedup, SQL_QUALITY_SURVIVOR_DEDUP),
    "markov_absorption": (q_markov_absorption, SQL_MARKOV_ABSORPTION),
    "dup_rate_sample_estimate": (
        q_dup_rate_sample_estimate,
        SQL_DUP_RATE_SAMPLE_ESTIMATE,
    ),
}
