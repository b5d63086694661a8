"""LLM-data queries, batch 5 (round 4): cross-document span dedup,
semantic clustering (deterministic k-means) with SemDeDup-style
within-cluster pruning, hard-negative mining for embedding training, and
a unigram-logprob (perplexity-proxy) quality filter.

These are the corpus-curation steps between "raw crawl" and "training
mix" that the earlier LLM batches don't cover: removing *spans* repeated
across documents (RefinedWeb/C4 line dedup, generalized to fixed word
windows because this corpus has no newlines), pruning semantically
redundant documents inside embedding clusters (SemDeDup), mining
contrastive negatives, and scoring documents against the corpus's own
unigram language model.

Determinism contract for the vector queries: every cosine is computed
over INTEGER-quantized embeddings (``round(x * 1e6)`` as BIGINT), so
dots and squared norms are exact integer aggregates — order-independent,
hence bit-identical between Spark and DuckDB — and the only floating
step is one divide-by-sqrt on identical operands. A double-precision
cosine would instead inherit each engine's summation order, and an
argmax/top-k over it could flip on 1e-16 noise; quantization removes
that entire failure class (the same trick ``udaf_centroids`` and
``cluster_tightness`` rely on rounding for, made exact here because
*rankings*, not just printed values, depend on it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ra2_datalake_linaresjoan_spark.operators.joins import at_most
from ra2_datalake_linaresjoan_spark.queries import EMB_CLEAN_SQL, _emb_clean, _spread, _t

_SPAN = 16  # words per dedup span
_KMEANS_K = 8
_PRUNE_TAU = 0.25  # SemDeDup cosine threshold (corpus max off-diag ≈ 0.51)
_NLL_FLAG = 6.0  # nats; docs with avg unigram NLL above this are flagged


def _qvec(col: Column) -> Column:
    """Quantize a float embedding to exact integer micro-units."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two long arrays."""
    zero = F.lit(0).cast("long")
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, x: acc + x)


def _icos(a: Column, b: Column) -> Column:
    """Cosine from exact integer dot/norms; the single float divide sees
    identical operands in every engine, so the result is bit-stable.

    Zero guard (round-10 review): a vector whose elements are all below
    0.5 micro-units passes _emb_clean's double-norm check yet quantizes
    to the all-zero long vector — an unguarded divide then throws
    DIVIDE_BY_ZERO under ANSI Spark while DuckDB's x/0.0 yields NULL.
    The guard yields NULL in lockstep (a NULL cosine fails every
    threshold filter on both engines)."""
    den = F.sqrt(_idot(a, a).cast("double")) * F.sqrt(_idot(b, b).cast("double"))
    return F.when(den != 0, _idot(a, b).cast("double") / den)


# Shared SQL fragment: quantized embeddings unnested to (vec_id, pos, v).
#: shared embedding scan for the kmeans/prune/hard-negative oracles —
#: EMB_CLEAN_SQL in lockstep with the Spark side's _emb_clean (interior
#: NULLs poison Spark's integer-dot folds asymmetrically; round-8 audit)
_SQL_QVEC = f"""
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
           AS qv
  FROM embeddings
  WHERE {EMB_CLEAN_SQL}
"""

_SQL_QELEM = """
  SELECT vec_id, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM q
"""


# ---------------------------------------------------------------------------
# span_dedup — cross-document exact span dedup (C4/RefinedWeb line dedup)
# ---------------------------------------------------------------------------


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document dedup of 16-word spans: every document splits into
    non-overlapping 16-word windows, each distinct span keeps only its
    first occurrence (lowest ``(doc_id, start)``), and the result reports
    per-language totals, surviving spans owned, and removal counts with
    an order-independent md5 content pin. This is C4's "three-sentence
    line dedup" generalized to word windows (the corpus has no newlines).
    The plan is explode → one groupBy(span): linear in corpus tokens with
    a single shuffle keyed by span text, and the survivor choice is an
    order-independent ``min(struct(doc_id, start, lang))`` aggregate — no
    global window touches span-level row counts, so the shape survives
    100 TB (span keys also hash-distribute evenly; no skew salting
    needed)."""
    # complete-case on doc_id (lockstep): the survivor tiebreak is
    # (doc_id, start) and the two engines order NULL ids on OPPOSITE
    # ends (Spark min(struct) sorts NULL first, DuckDB row_number
    # defaults NULLS LAST) — a span shared between a NULL-id and a
    # real-id doc flipped owners per engine (round-10 review)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    words = F.split("text", " ")
    spans = (
        docs.select(
            "doc_id",
            "lang",
            words.alias("words"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size(words) - 1, F.lit(0)),
                    F.lit(_SPAN),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            "lang",
            "start",
            F.array_join(F.slice("words", F.col("start") + 1, _SPAN), " ").alias("span"),
        )
    )
    survivors = (
        spans.groupBy("span")
        .agg(F.min(F.struct("doc_id", "start", "lang")).alias("first"))
        .select("span", F.col("first.lang").alias("lang"))
    )
    per_lang_total = spans.groupBy("lang").agg(F.count(F.lit(1)).alias("total_spans"))
    per_lang_surv = survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("owned_survivors"),
        F.min(F.md5(F.col("span").cast("binary"))).alias("min_span_md5"),
        F.max(F.md5(F.col("span").cast("binary"))).alias("max_span_md5"),
    )
    return (
        per_lang_total.join(per_lang_surv, "lang", "left")
        .select(
            "lang",
            "total_spans",
            F.coalesce("owned_survivors", F.lit(0)).alias("owned_survivors"),
            (F.col("total_spans") - F.coalesce("owned_survivors", F.lit(0))).alias(
                "removed_or_ceded"
            ),
            "min_span_md5",
            "max_span_md5",
        )
        .orderBy("lang")
    )


SQL_SPAN_DEDUP = f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
  WHERE doc_id IS NOT NULL
), s AS (
  SELECT doc_id, lang,
         unnest(range(0, greatest(len(words), 1), {_SPAN})) AS start, words
  FROM w
), spans AS (
  SELECT doc_id, lang, start,
         array_to_string(words[start + 1 : start + {_SPAN}], ' ') AS span
  FROM s
), surv AS (
  SELECT span, lang FROM (
    SELECT span, lang,
           row_number() OVER (PARTITION BY span ORDER BY doc_id, start) AS rn
    FROM spans
  ) WHERE rn = 1
), totals AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS total_spans FROM spans GROUP BY lang
), owned AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS owned_survivors,
         min(md5(span)) AS min_span_md5, max(md5(span)) AS max_span_md5
  FROM surv GROUP BY lang
)
SELECT t.lang, t.total_spans,
       COALESCE(o.owned_survivors, 0) AS owned_survivors,
       t.total_spans - COALESCE(o.owned_survivors, 0) AS removed_or_ceded,
       o.min_span_md5, o.max_span_md5
FROM totals t LEFT JOIN owned o ON t.lang = o.lang
ORDER BY t.lang
"""


# ---------------------------------------------------------------------------
# semantic_kmeans — deterministic Lloyd clustering on quantized embeddings
# ---------------------------------------------------------------------------


#: Auto-guard cap for the assignment-strategy ``at_most`` probe
#: (round-14).  Corpora
#: at or under this many clean vectors route to the single-action
#: broadcast-join Lloyd (zero driver collects, one Spark job — the
#: measured winner at bench scale, where the whole query is fixed
#: overhead: 2000 rows cost 4.6 s as three sequential driver-gated
#: jobs vs 1.7 s as one job); larger corpora route to the in-row
#: argmax + localCheckpoint shape (zero corpus-sized exchanges — at
#: 100 TB the join shape's two groupBy(vec_id) re-groups each shuffle
#: the full corpus with its 64-long vectors).  Both branches are
#: row-identical by construction: the join argmax (max_by over
#: struct(cos, -cluster)) and the in-row argmax (array_max over
#: (cos, -cluster) structs) implement the same ordering contract over
#: the same exact-integer cosines, proven MATCH tri-scale separately
#: in rounds 12 and 13.  At the cap, two shuffles of 200k x (64-long
#: vector + key) ≈ 110 MB each — comfortably inside one machine's
#: shuffle budget, so the probe flips strategies long before the
#: shuffle could hurt.
_KMEANS_SMALL_CAP = 200_000


def _seed_cents(vecs: DataFrame) -> list[tuple[int, list[int]]]:
    """The k seed centroids (k lowest vec_ids, cluster id = rank) as a
    bounded driver-side list — a TakeOrdered of k·64 longs."""
    rows = vecs.orderBy("vec_id").limit(_KMEANS_K).collect()
    return [(i, list(r["qv"])) for i, r in enumerate(rows)]


def _seed_frame(vecs: DataFrame) -> DataFrame:
    """The k seed centroids as a k-row FRAME (cluster id = vec_id rank)
    — the lazy twin of ``_seed_cents`` for the small-corpus branch,
    where seeds stay a broadcast subplan of the one Spark action."""
    w0 = Window.orderBy("vec_id")
    return (
        vecs.orderBy("vec_id")
        .limit(_KMEANS_K)
        .select(
            (F.row_number().over(w0) - 1).alias("cluster"),
            F.col("qv").alias("cvec"),
        )
    )


def _assign_join(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment via broadcast crossJoin + argmax
    re-group — the round-12 shape, kept as the SMALL-corpus branch.
    Broadcasts the k centroid rows, scores every (vec, centroid) pair
    with the exact-integer cosine, keeps the argmax per vec (ties →
    lowest cluster id; identical ordering contract to
    ``_assign_inrow``'s struct comparison)."""
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "qv",
        "cluster",
        _icos(F.col("qv"), F.col("cvec")).alias("cos"),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "cluster", F.struct(F.col("cos"), -F.col("cluster"))
        ).alias("cluster"),
        F.max("cos").alias("best_cos"),
        F.first("qv").alias("qv"),
    )


def _assign_inrow(vecs: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment as a PURE per-row expression — zero
    joins, zero shuffles (round-13, guide §2.4 "remove shuffles
    outright").  The previous shape crossJoined the broadcast k-row
    centroid table and re-grouped by vec_id, which pushed every row —
    carrying its full 64-long vector — through a hashpartitioning
    Exchange per assignment pass (two passes = two corpus shuffles whose
    only job was an argmax over k=8 local rows).  With the bounded
    centroid list collected (k·64 longs — the same bounded-collect
    convention as the IVF-PQ codebooks), the argmax is an
    ``array_max`` over k (cos, -cluster) structs computed in-row.

    Value-identical to the old max_by/max pair: struct ordering compares
    cos first with NULL-smallest (exactly max_by's ordering over
    struct(cos, -cluster))), ties fall to max(-cluster) = lowest cluster
    id, and the surviving struct's cos IS max(cos) (NULL only when every
    cosine is NULL, matching F.max's NULL-skipping).  Each cosine
    reproduces ``_icos`` operand-for-operand: den = sqrt(|q|²)·sqrt(|c|²)
    with the centroid norm a constant-folded literal, one float divide on
    identical operands — bit-stable per the module contract."""
    qn = F.sqrt(_idot(F.col("qv"), F.col("qv")).cast("double"))
    # separate select: sqrt(aggregate(..)) is non-cheap, so CollapseProject
    # keeps it materialized once instead of re-evaluating it per centroid
    withnorm = vecs.select("vec_id", "qv", qn.alias("_qn"))
    scored = []
    for cl, cvec in cents:
        c_arr = F.array(*[F.lit(int(x)).cast("long") for x in cvec])
        cn = F.sqrt(F.lit(sum(int(x) * int(x) for x in cvec)).cast("double"))
        den = F.col("_qn") * cn
        cos = F.when(den != 0, _idot(F.col("qv"), c_arr).cast("double") / den)
        scored.append(F.struct(cos.alias("cos"), F.lit(-int(cl)).alias("negc")))
    best = F.array_max(F.array(*scored))
    return withnorm.select(
        "vec_id",
        "qv",
        (-best["negc"]).alias("cluster"),
        best["cos"].alias("best_cos"),
    )


def q_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: one Lloyd iteration plus re-assignment over
    integer-quantized embeddings — seeds are the k lowest vec_ids, the
    centroid update is an exact elementwise integer sum re-quantized to
    micro-units (only the *direction* matters for cosine, so the
    round-to-int mean loses nothing that survives a 6-decimal cosine),
    and each assignment is a pure in-row argmax against the collected
    k-centroid list (round-13: the previous broadcast-crossJoin +
    re-group shape shuffled every row's 64-long vector per assignment
    pass — two corpus Exchanges doing the work of a k=8 local argmax;
    see ``_assign_inrow``), never a vec×vec pair blowup. Per-cluster
    sizes and mean member cosine are the output — the shape
    SemDeDup/semantic curation builds on. At 100 TB: assignments are
    map-side scans (k·64 longs ship in the task closure); the centroid
    update is one (cluster, pos) shuffle of 64·k partial sums per
    partition. Deterministic by construction —
    exact integer dots and norms mean both engines rank identically
    (cf. module docstring), unlike a double-precision k-means whose
    assignments can flip per partition order.

    ``_spread`` is safe for the same reason the whole query is
    deterministic — assignments and centroid sums are exact integers
    (the one float, avg_cos, averages exact per-row cosines and is
    rounded at 6 dp) — and moves the per-row k-way dot products off the
    scan's single task when the input is one small file (A/B measured
    1.79 s -> 1.61 s at sf0.1; the assignment pipeline is broadcast-only
    until the centroid-update shuffle, so map width is the bottleneck).

    Round-14 routing (guide §1.2 — the bench measurement showed the
    whole sf0.1 query is FIXED overhead, not data work: 2000 vectors
    cost 4.6 s as three sequential driver-gated jobs + two heavy
    assignment-expression compiles, vs 1.7 s as the round-12 one-job
    broadcast-join; interleaved A/B at HEAD read 1.9-3.0x in the join
    shape's favor at every iteration): an ``at_most`` probe routes
    corpora ≤
    ``_KMEANS_SMALL_CAP`` to the single-action join Lloyd and larger
    corpora to the in-row + localCheckpoint shape, which removes both
    corpus-sized assignment exchanges where they actually cost (the
    checkpoint note below).  Row-identical both ways — the two argmaxes
    implement the same (cos, -cluster) ordering over the same
    exact-integer cosines.

    Routes through _emb_clean in lockstep with _SQL_QVEC (round-8
    parity audit: dirty vectors collapsed the 8 clusters to 1)."""
    clean = _emb_clean(spark, sf_dir)
    vecs = _spread(spark, clean).select("vec_id", _qvec(F.col("embedding")).alias("qv"))
    # probe the unspread frame: same rows, no second read, no repartition
    small = at_most(clean, _KMEANS_SMALL_CAP)
    if small:
        a1 = _assign_join(vecs, _seed_frame(vecs))
    else:
        # localCheckpoint the quantized vectors ONCE (round-13, guide §5
        # caching): the in-row Lloyd shape runs THREE sequential
        # driver-gated jobs (seed collect → centroid-update collect →
        # final aggregate), and without the checkpoint each job re-ran
        # the parquet scan + _emb_clean + quantization from scratch.
        # With the narrow (vec_id, qv) table materialized, every Lloyd
        # job is memory-resident and the assignment stays map-side —
        # zero corpus-sized exchanges at 100 TB.
        vecs = vecs.localCheckpoint()
        seeds = _seed_cents(vecs)
        if not seeds:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("cluster", T.IntegerType()),
                        T.StructField("n_members", T.LongType(), False),
                        T.StructField("avg_cos", T.DoubleType()),
                        T.StructField(
                            "min_vec_id", vecs.schema["vec_id"].dataType
                        ),
                    ]
                ),
            )
        a1 = _assign_inrow(vecs, seeds)
    sums = (
        a1.select("cluster", F.posexplode("qv").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "c", F.round(F.col("s").cast("double") / F.col("n"), 0).cast("long")
        )
    )
    # the centroid update is one Spark aggregate (exact integer sums,
    # identical arithmetic in both branches); the small branch consumes
    # the k-row frame lazily, the large branch collects only the
    # k·64-long RESULT so the second assignment can run in-row too
    cents1 = sums.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cvec")
    )
    if small:
        a2 = _assign_join(vecs, cents1)
    else:
        cents1_list = [
            (r["cluster"], list(r["cvec"])) for r in cents1.collect()
        ]
        a2 = _assign_inrow(vecs, cents1_list)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("best_cos"), 6).alias("avg_cos"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


SQL_SEMANTIC_KMEANS = f"""
WITH q AS ({_SQL_QVEC}
), qe AS ({_SQL_QELEM}
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cvec
  FROM q ORDER BY vec_id LIMIT {_KMEANS_K}
), ce0 AS (
  SELECT cluster, generate_subscripts(cvec, 1) AS pos, unnest(cvec) AS c
  FROM seeds
), score1 AS (
  SELECT qe.vec_id, ce0.cluster,
         CAST(sum(qe.v * ce0.c) AS DOUBLE)
           / (sqrt(CAST(sum(qe.v * qe.v) AS BIGINT))
              * sqrt(CAST(sum(ce0.c * ce0.c) AS BIGINT))) AS cos
  FROM qe JOIN ce0 ON qe.pos = ce0.pos
  GROUP BY qe.vec_id, ce0.cluster
), a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cluster ASC) AS rn
    FROM score1
  ) WHERE rn = 1
), ce1 AS (
  SELECT a1.cluster, qe.pos,
         CAST(round(CAST(sum(qe.v) AS DOUBLE) / count(*), 0) AS BIGINT) AS c
  FROM a1 JOIN qe ON a1.vec_id = qe.vec_id
  GROUP BY a1.cluster, qe.pos
), score2 AS (
  SELECT qe.vec_id, ce1.cluster,
         CAST(sum(qe.v * ce1.c) AS DOUBLE)
           / (sqrt(CAST(sum(qe.v * qe.v) AS BIGINT))
              * sqrt(CAST(sum(ce1.c * ce1.c) AS BIGINT))) AS cos
  FROM qe JOIN ce1 ON qe.pos = ce1.pos
  GROUP BY qe.vec_id, ce1.cluster
), a2 AS (
  SELECT vec_id, cluster, cos FROM (
    SELECT vec_id, cluster, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cluster ASC) AS rn
    FROM score2
  ) WHERE rn = 1
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       round(avg(cos), 6) AS avg_cos,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM a2 GROUP BY cluster ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# semantic_prune — SemDeDup: within-cluster cosine pruning
# ---------------------------------------------------------------------------


def q_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign embeddings to seed centroids once, then inside
    each cluster prune every vector that has a LOWER-id neighbor with
    cosine above the threshold — the greedy keep-first rule. The pair
    join is cluster-bounded (that is SemDeDup's entire scale argument:
    k clusters turn one n² pair space into k·(n/k)², and at 100 TB k
    grows with the corpus so the per-cluster block stays machine-sized).
    Exact integer cosines make the prune set engine-portable. Reports
    per-cluster members, pruned count, and the kept fraction.
    Round-14 routing: the same ``_KMEANS_SMALL_CAP`` ``at_most`` probe
    as q_semantic_kmeans — small corpora take the round-12 one-action
    join assignment (the measured bench winner; the whole sf0.1 cost is
    fixed job/compile overhead), large corpora keep the round-13
    in-row + localCheckpoint shape (no corpus-sized assignment
    exchange; the checkpoint also feeds the THREE asg consumers —
    both self-join sides + member counts — from one materialization).

    Routes through _emb_clean in lockstep with _SQL_QVEC (round-8
    parity audit)."""
    emb = _emb_clean(spark, sf_dir)
    vecs = emb.select("vec_id", _qvec(F.col("embedding")).alias("qv"))
    if at_most(emb, _KMEANS_SMALL_CAP):
        asg = _assign_join(vecs, _seed_frame(vecs)).select(
            "vec_id", "cluster", "qv"
        )
    else:
        vecs = vecs.localCheckpoint()
        seeds = _seed_cents(vecs)
        if not seeds:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("cluster", T.IntegerType()),
                        T.StructField("n_members", T.LongType(), False),
                        T.StructField("n_pruned", T.LongType(), False),
                        T.StructField("kept_frac", T.DoubleType()),
                    ]
                ),
            )
        asg = _assign_inrow(vecs, seeds).select("vec_id", "cluster", "qv")
    a = asg.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qa"),
    )
    b = asg.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qb"),
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_icos(F.col("qa"), F.col("qb")) > _PRUNE_TAU)
        .select("cluster", "id_b")
        .distinct()
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_pruned"))
    )
    return (
        asg.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(pruned, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            F.round(
                (F.col("n_members") - F.coalesce("n_pruned", F.lit(0)))
                / F.col("n_members"),
                6,
            ).alias("kept_frac"),
        )
        .orderBy("cluster")
    )


SQL_SEMANTIC_PRUNE = f"""
WITH q AS ({_SQL_QVEC}
), qe AS ({_SQL_QELEM}
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cvec
  FROM q ORDER BY vec_id LIMIT {_KMEANS_K}
), ce0 AS (
  SELECT cluster, generate_subscripts(cvec, 1) AS pos, unnest(cvec) AS c
  FROM seeds
), score AS (
  SELECT qe.vec_id, ce0.cluster,
         CAST(sum(qe.v * ce0.c) AS DOUBLE)
           / (sqrt(CAST(sum(qe.v * qe.v) AS BIGINT))
              * sqrt(CAST(sum(ce0.c * ce0.c) AS BIGINT))) AS cos
  FROM qe JOIN ce0 ON qe.pos = ce0.pos
  GROUP BY qe.vec_id, ce0.cluster
), asg AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cluster ASC) AS rn
    FROM score
  ) WHERE rn = 1
), cand AS MATERIALIZED (
  -- same-cluster pairs first: left to the planner, the per-element
  -- joins ran before the cluster filter and blew up at sf0.1
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), pairs AS (
  SELECT c.cluster, c.id_b,
         CAST(sum(ea.v * eb.v) AS DOUBLE)
           / (sqrt(CAST(sum(ea.v * ea.v) AS BIGINT))
              * sqrt(CAST(sum(eb.v * eb.v) AS BIGINT))) AS cos
  FROM cand c
  JOIN qe ea ON ea.vec_id = c.id_a
  JOIN qe eb ON eb.vec_id = c.id_b AND ea.pos = eb.pos
  GROUP BY c.cluster, c.id_a, c.id_b
), pruned AS (
  SELECT cluster, CAST(count(DISTINCT id_b) AS BIGINT) AS n_pruned
  FROM pairs WHERE cos > {_PRUNE_TAU} GROUP BY cluster
), members AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM asg GROUP BY cluster
)
SELECT m.cluster, m.n_members,
       COALESCE(p.n_pruned, 0) AS n_pruned,
       round((m.n_members - COALESCE(p.n_pruned, 0))
             / CAST(m.n_members AS DOUBLE), 6) AS kept_frac
FROM members m LEFT JOIN pruned p ON m.cluster = p.cluster
ORDER BY m.cluster
"""


# ---------------------------------------------------------------------------
# hard_negative_mining — top-k cross-label neighbors for contrastive training
# ---------------------------------------------------------------------------


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each probe vector (the 20 lowest
    vec_ids), the 3 most-similar vectors with a DIFFERENT label — the
    negatives that contrastive embedding training actually learns from.
    The probe set broadcasts against the corpus (probes × corpus, never
    corpus²), ranking uses the exact integer cosine with an id tiebreak,
    so top-3 membership is engine-portable. At 100 TB the same shape
    runs with probes as the small side of a broadcast join; for
    corpus-sized probe sets, route candidate generation through
    ``lsh_bucket_ann`` and only exact-rank the bucket survivors.
    Routes through _emb_clean in lockstep with _SQL_QVEC (round-8
    parity audit)."""
    emb = _emb_clean(spark, sf_dir)
    vecs = emb.select("vec_id", "label", _qvec(F.col("embedding")).alias("qv"))
    probes = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("qv").alias("qp"),
    )
    scored = (
        vecs.join(F.broadcast(probes), F.col("label") != F.col("probe_label"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neg_id"),
            _icos(F.col("qp"), F.col("qv")).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("probe_id", "rank", "neg_id", F.round("cos", 6).alias("cos"))
        .orderBy("probe_id", "rank")
    )


SQL_HARD_NEGATIVE_MINING = f"""
WITH q AS ({_SQL_QVEC}
), qe AS ({_SQL_QELEM}
), probes AS (
  SELECT vec_id AS probe_id, label AS probe_label FROM q WHERE vec_id < 20
), scored AS (
  SELECT p.probe_id, c.vec_id AS neg_id,
         CAST(sum(ep.v * ec.v) AS DOUBLE)
           / (sqrt(CAST(sum(ep.v * ep.v) AS BIGINT))
              * sqrt(CAST(sum(ec.v * ec.v) AS BIGINT))) AS cos
  FROM probes p
  JOIN q c ON c.label <> p.probe_label
  JOIN qe ep ON ep.vec_id = p.probe_id
  JOIN qe ec ON ec.vec_id = c.vec_id AND ep.pos = ec.pos
  GROUP BY p.probe_id, c.vec_id
)
SELECT probe_id, CAST(rank AS INTEGER) AS rank, neg_id, round(cos, 6) AS cos
FROM (
  SELECT probe_id, neg_id, cos,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos DESC, neg_id ASC) AS rank
  FROM scored
)
WHERE rank <= 3
ORDER BY probe_id, rank
"""


# ---------------------------------------------------------------------------
# unigram_logprob_filter — corpus-self-scored perplexity-proxy quality filter
# ---------------------------------------------------------------------------


def q_unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: fit the corpus's own unigram LM
    (word → count / total), score every document by its mean negative
    log-likelihood in nats, and report per-language doc counts, flagged
    outliers (avg NLL above a fixed 6.0-nat threshold — rare-word-heavy
    docs), and the NLL distribution (mean/p50/p90). This is the cheap
    stand-in for a KenLM/CCNet perplexity filter, computable inside the
    engine. Two shuffles: the vocab aggregate and the per-doc aggregate;
    the vocab joins back by word — broadcast when the vocab fits (it is
    Zipf-bounded, far smaller than the corpus), shuffle-join otherwise.
    The fixed flag threshold (not a quantile) keeps the count robust to
    1-ulp ``ln`` differences between engines; the distribution columns
    are rounded to 4 decimals for the same reason."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    # total = sum over the Zipf-small vocab aggregate — exactly equal to
    # count(*) over words but WITHOUT a second full scan+explode of the
    # corpus (round-10 review; the oracle's count(*) form is unaffected
    # since the two are the same exact integer)
    total = vocab.agg(F.sum("n_w").alias("n_total"))
    doc_nll = (
        words.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("n_w") / F.col("n_total"))).alias("avg_nll"))
    )
    return (
        doc_nll.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("avg_nll") > _NLL_FLAG).cast("long")).alias("n_flagged"),
            F.round(F.avg("avg_nll"), 4).alias("mean_nll"),
            F.round(F.expr("percentile(avg_nll, 0.5)"), 4).alias("p50_nll"),
            F.round(F.expr("percentile(avg_nll, 0.9)"), 4).alias("p90_nll"),
        )
        .orderBy("lang")
    )


SQL_UNIGRAM_LOGPROB_FILTER = f"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS n_w FROM words GROUP BY w
), doc_nll AS (
  SELECT wo.doc_id, wo.lang,
         avg(-ln(CAST(v.n_w AS DOUBLE) / (SELECT count(*) FROM words)))
           AS avg_nll
  FROM words wo JOIN vocab v ON wo.w = v.w
  GROUP BY wo.doc_id, wo.lang
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN avg_nll > {_NLL_FLAG} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       round(avg(avg_nll), 4) AS mean_nll,
       round(quantile_cont(avg_nll, 0.5), 4) AS p50_nll,
       round(quantile_cont(avg_nll, 0.9), 4) AS p90_nll
FROM doc_nll GROUP BY lang ORDER BY lang
"""


REGISTRY_LLM5 = {
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "semantic_kmeans": (q_semantic_kmeans, SQL_SEMANTIC_KMEANS),
    "semantic_prune": (q_semantic_prune, SQL_SEMANTIC_PRUNE),
    "hard_negative_mining": (q_hard_negative_mining, SQL_HARD_NEGATIVE_MINING),
    "unigram_logprob_filter": (
        q_unigram_logprob_filter,
        SQL_UNIGRAM_LOGPROB_FILTER,
    ),
}
