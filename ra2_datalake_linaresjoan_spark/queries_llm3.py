"""LLM-data-pipeline queries, batch 3: domain mixture weights, per-shard
heavy hitters, embedding cluster tightness, sketch-accuracy contract,
continuous-ingest dedup, multimodal frame/resize kernels, and the
Python-UDTF + pandas-UDAF tiers.

Covers the corpus-composition side of a pretraining pipeline (what to
sample, what dominates each shard, how coherent embedding clusters are)
the same way batch 2 covered the hygiene side (dedup, PII, packing,
contamination), then pins the remaining execution tiers (mapInPandas
kernels, UDTF lateral joins, GROUPED_AGG UDAFs) under the same exact
oracles. Every step is engine-portable arithmetic so each query
carries an exact DuckDB oracle.

Reference parity: extends the reference's summary-statistics surface
(``transformer_data.py:596-618`` distributions, ``validator_warehouse.py``
statistics) to the corpus-curation operations SURVEY's driver mandate
adds on top.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_words
from ra2_datalake_linaresjoan_spark.queries import EMB_CLEAN_SQL, _emb_clean, _t


# ---------------------------------------------------------------------------
# domain_mixture — temperature-scaled sampling weights per (lang, source)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.5  # temperature exponent: 1.0 = proportional, 0 = uniform


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture: sampling weight per (lang, source)
    shard ∝ n_docs^alpha, normalized — the standard up/down-weighting used
    to balance pretraining corpora (alpha<1 boosts small domains). The
    normalizer is a 1-row broadcast aggregate joined back, not a global
    window: two tiny shuffles total, both post-aggregation."""
    docs = _t(spark, sf_dir, "documents")
    shard = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    raw = F.pow(F.col("n_docs").cast("double"), F.lit(_MIX_ALPHA))
    total = shard.agg(F.sum(raw).alias("_total"))
    return (
        shard.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_chars",
            F.round(raw / F.col("_total"), 6).alias("mix_weight"),
        )
        .orderBy("lang", "source")
    )


SQL_DOMAIN_MIXTURE = """
WITH shard AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_chars,
       round(pow(n_docs, 0.5) / (SELECT sum(pow(n_docs, 0.5)) FROM shard), 6)
         AS mix_weight
FROM shard ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# heavy_hitter_words — per-lang top-5 words by document frequency
# ---------------------------------------------------------------------------


def q_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy hitters: top-5 words by DOCUMENT frequency (how
    many distinct docs contain the word — the dedup/boilerplate signal,
    robust to within-doc repetition). Inverted-index shape: explode →
    distinct (lang, doc, word) → count → rank within lang. Deterministic
    tiebreak on the word itself."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            "lang",
            "doc_id",
            F.explode(ascii_words("text")).alias("word"),
        )
        .filter(F.length("word") >= 3)
        .distinct()
    )
    df_ = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), "word")
    return (
        df_.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "word", "doc_freq", "rk")
        .orderBy("lang", "rk")
    )


SQL_HEAVY_HITTER_WORDS = """
WITH words AS (
  SELECT DISTINCT lang, doc_id, t.word
  FROM documents,
       LATERAL (SELECT unnest(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z]+')) AS word) t
  WHERE length(t.word) >= 3
), df AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS doc_freq
  FROM words GROUP BY lang, word
), ranked AS (
  SELECT lang, word, doc_freq,
         row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, word) AS rk
  FROM df
)
SELECT lang, word, doc_freq, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5 ORDER BY lang, rk
"""


# ---------------------------------------------------------------------------
# cluster_tightness — per-label centroid norm + mean cosine-to-centroid
# ---------------------------------------------------------------------------


def q_cluster_tightness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cluster quality: per label, the centroid's L2 norm and the
    mean cosine of members to their centroid (1.0 = perfectly coherent
    cluster; → 0 = random). The grouped-vector-mean is ONE posexplode →
    (label, pos) aggregate re-packed into per-label centroid arrays
    (linear, the only exploded shuffle); member cosines are then array
    lambdas against the broadcast centroid — the fact is never exploded
    or shuffled a second time (round-3 re-plan: the earlier shape joined
    the exploded fact on (label, pos) twice).

    This is the curation signal used for cluster-based pruning/balancing
    (e.g., SemDeDup-style embedding clustering) re-expressed as pure
    DataFrame ops.

    Routes through _emb_clean (interior-NULL/zero-norm vectors poison
    the in-row folds asymmetrically across engines) and drops NULL
    labels in lockstep — an unlabeled vector belongs to no cluster,
    and the label equi-joins would silently drop it on the Spark side
    only (round-8 parity audit)."""
    base = _emb_clean(spark, sf_dir).where(F.col("label").isNotNull()).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    exploded = base.select(
        "label", F.posexplode(F.col("v")).alias("pos", "val")
    )
    # pass 1 (the only exploded shuffle): per-(label, pos) mean -> re-packed
    # into one centroid ARRAY per label, ordered by pos
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s.cval,
            ).alias("cvec")
        )
    )
    # pass 2: centroids (labels x dims, tiny) broadcast back; dot and norms
    # are array lambdas over the ORIGINAL vector column — no second explode,
    # no (label, pos) join, fact touched with zero extra shuffles
    dot = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    vnorm = F.sqrt(
        F.aggregate(F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x)
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.transform("cvec", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return (
        base.join(F.broadcast(cent), "label")
        .select(
            "label",
            cnorm.alias("centroid_norm"),
            (dot / (vnorm * cnorm)).alias("_cos"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.first("centroid_norm"), 4).alias("centroid_norm"),
            F.round(F.avg("_cos"), 4).alias("avg_cos_to_centroid"),
        )
        .orderBy("label")
    )


SQL_CLUSTER_TIGHTNESS = f"""
WITH clean AS (
  SELECT label, vec_id, embedding FROM embeddings
  WHERE label IS NOT NULL AND {EMB_CLEAN_SQL}
), ex AS (
  SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS val
  FROM clean, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
  SELECT label, i, avg(val) AS cval FROM ex GROUP BY label, i
), cn AS (
  SELECT label, sqrt(sum(cval * cval)) AS centroid_norm FROM cent GROUP BY label
), per_vec AS (
  SELECT ex.label, ex.vec_id,
         sum(ex.val * cent.cval) AS dot,
         sqrt(sum(ex.val * ex.val)) AS vnorm
  FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
  GROUP BY ex.label, ex.vec_id
)
SELECT p.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(any_value(cn.centroid_norm), 4) AS centroid_norm,
       round(avg(p.dot / (p.vnorm * cn.centroid_norm)), 4) AS avg_cos_to_centroid
FROM per_vec p JOIN cn ON p.label = cn.label
GROUP BY p.label ORDER BY p.label
"""


# ---------------------------------------------------------------------------
# approx_distinct_guarantee — HLL sketch accuracy contract vs exact
# ---------------------------------------------------------------------------


def q_approx_distinct_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract: per event_type, the exact distinct-user
    count alongside a boolean asserting the HLL++ estimate
    (``approx_count_distinct``, rsd=0.01) landed within 5% of exact. The
    oracle pins the exact count and expects the flag TRUE — verifying the
    mergeable-sketch path an interactive 100-TB dashboard would actually
    serve (exact countDistinct is the verification co-pilot, not the
    product)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


SQL_APPROX_DISTINCT_GUARANTEE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# incremental_dedup — new-batch-vs-corpus fingerprint dedup (continuous ingest)
# ---------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: the standing corpus is docs with
    doc_id % 10 != 9; the new batch simulates a re-crawl — the fresh
    docs (doc_id % 10 == 9), plus re-ingested copies of corpus docs
    (doc_id % 20 == 4, re-keyed +1_000_000 — must be dropped by the
    corpus anti-join), plus second copies of the fresh docs (re-keyed
    +2_000_000 — must be dropped by the within-batch window). Per-lang
    batch size vs survivors; survivors == the fresh docs exactly."""
    from ra2_datalake_linaresjoan_spark.llmdata.dedup import incremental_dedup
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import (
        doc_fingerprint,
    )

    # round-14 (guide §2.4, non-headline repeated-subtree sweep): the
    # batch is a 3-way union of corpus slices and the kept path re-reads
    # both batch and corpus — the audited final plan scanned documents
    # NINE times, re-running the md5-fingerprint regex chain on every
    # scan.  One narrow fingerprinted projection (id, lang, 32-hex — the
    # text column never materializes past the hash), checkpointed, feeds
    # every slice; the dedup operator takes the precomputed column.
    # This mirrors the oracle's own `fp` CTE shape exactly.
    fp = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            doc_fingerprint(F.col("text")).alias("fingerprint"),
        )
        .localCheckpoint()
    )
    corpus = fp.filter(F.col("doc_id") % 10 != 9)
    fresh = fp.filter(F.col("doc_id") % 10 == 9)
    recrawl = corpus.filter(F.col("doc_id") % 20 == 4).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    batch_dup = fresh.withColumn("doc_id", F.col("doc_id") + 2_000_000)
    batch = fresh.unionByName(recrawl).unionByName(batch_dup)
    kept = incremental_dedup(
        batch, corpus, "doc_id", "text", fingerprint_col="fingerprint"
    )
    return (
        batch.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")),
            "lang",
            "left",
        )
        .select("lang", "n_batch", F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
        .orderBy("lang")
    )


SQL_INCREMENTAL_DEDUP = r"""
WITH fp AS (
  SELECT doc_id, lang,
         -- full doc_fingerprint INCLUDING the final trim (punctuation
         -- stripping can create edge spaces the initial trim ran too
         -- early to see) — in lockstep with llmdata.text_analysis
         md5(trim(regexp_replace(regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')), '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g'), ' ')) AS fingerprint
  FROM documents
), batch AS (
  SELECT doc_id, lang, fingerprint FROM fp WHERE doc_id % 10 = 9
  UNION ALL
  SELECT doc_id + 1000000, lang, fingerprint FROM fp WHERE doc_id % 10 <> 9 AND doc_id % 20 = 4
  UNION ALL
  SELECT doc_id + 2000000, lang, fingerprint FROM fp WHERE doc_id % 10 = 9
), corpus AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 9
), kept AS (
  -- NOT EXISTS, never NOT IN: one NULL corpus fingerprint NULL-poisons
  -- NOT IN and empties the whole kept set, where Spark's left_anti
  -- keeps everything (round-10 review). NULL-fingerprint batch rows
  -- pass through (exact_dedup's no-evidence-of-duplication contract,
  -- mirrored by the engine's incremental_dedup).
  SELECT * FROM batch b
  WHERE b.fingerprint IS NULL
     OR NOT EXISTS (SELECT 1 FROM corpus c
                    WHERE c.fingerprint = b.fingerprint)
  QUALIFY doc_id IS NULL OR fingerprint IS NULL
       OR doc_id = min(CASE WHEN doc_id IS NOT NULL THEN doc_id END)
                     OVER (PARTITION BY fingerprint)
)
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(coalesce(any_value(k.n), 0) AS BIGINT) AS n_kept
FROM batch b
LEFT JOIN (SELECT lang, count(*) AS n FROM kept GROUP BY lang) k ON b.lang = k.lang
GROUP BY b.lang ORDER BY b.lang
"""


# ---------------------------------------------------------------------------
# multimodal_frames — 1:N frame sampling over binary payloads (exact oracle)
# ---------------------------------------------------------------------------


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the real mapInPandas 1:N operator
    (``llmdata/multimodal.sample_frames``): each payload yields up to 4
    deterministic byte-slice "frames" (the stub decode — byte math is
    engine-portable, so unlike a real ffmpeg kernel it oracles exactly).
    Output one row per frame with its byte length and an md5 over the hex
    encoding (hex() is case-identical in Spark and DuckDB; DuckDB's md5
    only takes VARCHAR, so both sides hash the hex string).

    Complete-case on (doc_id, text): a NULL payload has no frames —
    the stub and the oracle disagreed on minting empty-frame rows for
    it (round-8 parity audit, binary class)."""
    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        attach_binary_payload,
        sample_frames,
    )
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case

    docs = complete_case(_t(spark, sf_dir, "documents"), "doc_id", "text")
    media = attach_binary_payload(docs, "text", "doc_id")
    frames = sample_frames(media, every_n=10, max_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame").alias("n_bytes"),
        F.md5(F.hex(F.col("frame"))).alias("frame_md5"),
    ).orderBy("media_id", "frame_idx")


SQL_MULTIMODAL_FRAMES = r"""
WITH m AS (
  SELECT doc_id AS media_id,
         hex(encode(text)) AS payload_hex,
         octet_length(encode(text)) AS len
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), p AS (
  SELECT media_id, payload_hex, len,
         greatest(len // 10, 1) AS step,
         least(4, greatest(len // greatest(len // 10, 1), 1)) AS n_frames
  FROM m
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
       CAST(length(substring(payload_hex, i * step * 2 + 1, step * 2)) // 2 AS INT)
         AS n_bytes,
       md5(substring(payload_hex, i * step * 2 + 1, step * 2)) AS frame_md5
FROM p, unnest(range(0, n_frames)) AS t(i)
ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# multimodal_resize — stub resize kernel parity (truncate/pad byte math)
# ---------------------------------------------------------------------------


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the real mapInPandas kernel
    (``llmdata/multimodal.resize_images``): the stub decode
    truncates/zero-pads each payload to the deterministic
    ``width*height/64`` target (224×224 → 784 bytes), so the Arrow
    batching, 1:1 schema contract, and byte math all oracle exactly —
    hex/md5 parity like ``multimodal_frames``.

    Complete-case on (doc_id, text) in lockstep with the oracle —
    a NULL payload has nothing to resize (round-8 parity audit)."""
    from ra2_datalake_linaresjoan_spark.llmdata.multimodal import (
        attach_binary_payload,
        resize_images,
    )
    from ra2_datalake_linaresjoan_spark.operators.filters import complete_case

    docs = complete_case(_t(spark, sf_dir, "documents"), "doc_id", "text")
    media = attach_binary_payload(docs, "text", "doc_id")
    resized = resize_images(media, width=224, height=224)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.octet_length("payload").alias("n_bytes"),
        F.md5(F.hex(F.col("payload"))).alias("payload_md5"),
    ).orderBy("media_id")


SQL_MULTIMODAL_RESIZE = r"""
SELECT doc_id AS media_id,
       CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
       CAST(784 AS INT) AS n_bytes,
       md5(rpad(substring(hex(encode(text)), 1, 784 * 2), 784 * 2, '00'))
         AS payload_md5
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# udtf_char_shingles — Python UDTF lateral join on the driver-verified surface
# ---------------------------------------------------------------------------


def q_udtf_char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character shingling through the Python UDTF lateral join
    (``llmdata/udtfs.CharShingles`` — the Spark 4 table-function escape
    hatch for imperative row generation). Top-3 5-char shingles per
    language by frequency, deterministic tiebreak — pinning the
    UDTF path itself under the DuckDB oracle, not just a unit test.

    Population = ASCII docs (shared ``ascii_text_pred``, round-12):
    three slicers are in play (Python, Spark, DuckDB — codepoint-equal
    on BMP text per the probe, non-BMP unpinned); the guard keeps the
    population rule uniform with the other char-level metrics.
    Clean-data no-op."""
    from ra2_datalake_linaresjoan_spark.llmdata.udtfs import shingle_table
    from ra2_datalake_linaresjoan_spark.operators.filters import ascii_text_pred

    docs = (
        _t(spark, sf_dir, "documents")
        .where(ascii_text_pred("text"))
        .select("lang", "text")
    )
    sh = shingle_table(docs, "text", 5)
    counts = sh.groupBy("lang", "shingle").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "shingle")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "shingle", "n", "rk")
        .orderBy("lang", "rk")
    )


SQL_UDTF_CHAR_SHINGLES = r"""
WITH sh AS (
  SELECT lang, substring(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, 5) AS shingle
  FROM documents, unnest(range(1, length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) - 3)) AS t(i)
  WHERE text IS NOT NULL AND NOT regexp_matches(text, '[^\x00-\x7f]')
    AND length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) >= 5
), counts AS (
  SELECT lang, shingle, CAST(count(*) AS BIGINT) AS n
  FROM sh GROUP BY lang, shingle
), ranked AS (
  SELECT lang, shingle, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, shingle) AS rk
  FROM counts
)
SELECT lang, shingle, n, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3 ORDER BY lang, rk
"""


# ---------------------------------------------------------------------------
# udaf_centroids — GROUPED_AGG pandas UDAF on the driver-verified surface
# ---------------------------------------------------------------------------


def q_udaf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid through the GROUPED_AGG pandas UDAF
    (``llmdata/udafs.embedding_centroid`` — Arrow ships each group's
    vectors to one numpy reduction). Output is the centroid's L2 norm
    and first-dimension value, so the whole UDAF tier (the last UDF tier
    without a driver-verified query) is pinned against the exact
    unnest-and-average oracle.

    Routes through _emb_clean + a lockstep NULL-label filter (an
    unlabeled vector has no centroid group; the Spark label join would
    drop the NULL group the oracle keeps — round-8 parity audit)."""
    from ra2_datalake_linaresjoan_spark.llmdata.udafs import embedding_centroid

    emb = _emb_clean(spark, sf_dir).where(F.col("label").isNotNull())
    # GROUPED_AGG pandas UDFs cannot mix with JVM aggregates in one agg —
    # counts come from a separate (cheap) agg joined back
    cent = emb.groupBy("label").agg(embedding_centroid(F.col("embedding")).alias("c"))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    ssq = F.aggregate("c", F.lit(0.0), lambda acc, x: acc + x * x)
    return cent.join(counts, "label").select(
        "label",
        "n_vecs",
        F.round(F.sqrt(ssq), 4).alias("centroid_norm"),
        F.round(F.element_at("c", 1), 4).alias("c0"),
    ).orderBy("label")


SQL_UDAF_CENTROIDS = f"""
WITH clean AS (
  SELECT label, vec_id, embedding FROM embeddings
  WHERE label IS NOT NULL AND {EMB_CLEAN_SQL}
), ex AS (
  SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS val
  FROM clean, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
  SELECT label, i, avg(val) AS cval FROM ex GROUP BY label, i
)
SELECT label,
       CAST((SELECT count(*) FROM clean e WHERE e.label = cent.label) AS BIGINT)
         AS n_vecs,
       round(sqrt(sum(cval * cval)), 4) AS centroid_norm,
       round(max(CASE WHEN i = 1 THEN cval END), 4) AS c0
FROM cent GROUP BY label ORDER BY label
"""


REGISTRY_LLM3: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "udtf_char_shingles": (q_udtf_char_shingles, SQL_UDTF_CHAR_SHINGLES),
    "udaf_centroids": (q_udaf_centroids, SQL_UDAF_CENTROIDS),
    "domain_mixture": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    "heavy_hitter_words": (q_heavy_hitter_words, SQL_HEAVY_HITTER_WORDS),
    "cluster_tightness": (q_cluster_tightness, SQL_CLUSTER_TIGHTNESS),
    "approx_distinct_guarantee": (
        q_approx_distinct_guarantee,
        SQL_APPROX_DISTINCT_GUARANTEE,
    ),
}
