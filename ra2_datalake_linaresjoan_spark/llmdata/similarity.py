"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk`` — exact brute force: query set ⋈ corpus with a JVM-side
  cosine (zip_with + aggregate), per-query top-k via window. The baseline,
  and fine whenever |queries|·|corpus| is bounded (broadcast the smaller
  side).
- ``lsh_bucket_ann`` — the scale path: random-hyperplane LSH buckets the
  corpus; each query only scores its bucket's candidates across a few
  hash tables. Recall tunable by planes/tables; still pure DataFrame ops.

Dot products run as Column expressions (no Python, Arrow not needed);
embeddings are cast to double so scores are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.operators.joins import at_most


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns.

    A zero-norm vector has no defined cosine: the guard yields NULL
    instead of an ANSI DIVIDE_BY_ZERO job crash (NULL sorts last under
    the desc rank all call sites use, so degenerate vectors can never
    outrank real neighbors)."""
    den = _norm(a) * _norm(b)
    return F.when(den != 0, _dot(a, b) / den)


#: Above this corpus row count the ``auto`` strategy refuses to collect a
#: matrix to the driver and stays with the broadcast-join expression plan.
MAX_COLLECT_ROWS = 200_000


def _id_dtypes(df, id_col):
    """(numpy dtype, Spark SQL type string) for the id column — the numpy
    paths previously hardcoded int64/'long' and crashed (or miscast) on
    string ids, so auto-strategy behavior flipped with corpus size."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    t = {f.name: f.dataType for f in df.schema.fields}[id_col]
    if isinstance(t, (LongType, IntegerType, ShortType, ByteType)):
        import numpy as np

        return np.int64, "long"
    if isinstance(t, StringType):
        return str, "string"
    raise ValueError(
        f"cosine numpy path supports integer or string ids, got {id_col}: {t}"
    )


def _corpus_groups(corpus: DataFrame, id_col: str, vec_col: str, np_id):
    """Collect the corpus into broadcast per-length unit-norm float64
    matrices ``{length: (ids, matrix)}``; ``None`` for an empty corpus.

    Degenerate vectors cannot participate: NULL ids/vectors crash
    np.array/np.stack with NoneType, and interior-NULL or zero-norm
    vectors have no defined cosine (0/0 = NaN would still occupy top-k
    tail slots or mint NaN pairs). The expr/lsh paths drop exactly the
    same rows through the guarded cosine's NULL — the strategies must
    agree on dirty input, not just on _emb_clean-prefiltered corpora.

    One matrix PER DISTINCT VECTOR LENGTH: the expr/lsh paths' zip_with
    NULL-pads mixed-length pairs, so their cosine is NULL and the pair
    drops — pairs score iff len(q) == len(c). Grouping by length
    reproduces those semantics and keeps a ragged corpus from crashing
    np.array; clean corpora have one group."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .where(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & ~F.exists(vec_col, lambda x: x.isNull())
            & (
                F.aggregate(
                    F.col(vec_col).cast("array<double>"),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
                > 0
            )
        )
        .collect()
    )
    if not rows:
        # empty corpus: no neighbors or pairs exist — the degenerate
        # partition every 100-TB job eventually meets must yield an empty
        # frame, not an ndim crash in the normalizer
        return None
    by_len: dict[int, tuple[list, list]] = {}
    for r in rows:
        gids, gvecs = by_len.setdefault(len(r[1]), ([], []))
        gids.append(r[0])
        gvecs.append(r[1])
    groups = {}
    for length, (gids, gvecs) in by_len.items():
        m = np.array(gvecs, dtype=np.float64)
        groups[length] = (
            np.array(gids, dtype=np_id),
            m / np.linalg.norm(m, axis=1, keepdims=True),
        )
    return corpus.sparkSession.sparkContext.broadcast(groups)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
    method: str = "auto",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, cos_sim).

    Physical strategies, identical results:
    - ``auto`` (default): an ``at_most`` probe (the guard job stops
      scanning at the threshold); if the corpus is within
      ``MAX_COLLECT_ROWS`` use the numpy matmul path, else fall back to
      the collect-free broadcast-join expression plan. No data-sized
      driver collect is ever reachable on an unbounded corpus.
    - ``numpy`` (opt-in): corpus collected once into a broadcast float64
      matrix; queries stream through ``mapInPandas`` and each Arrow batch
      is one BLAS matmul + partial top-k. ~10-100× the expression path —
      the right call whenever the corpus fits executor memory (the
      documented contract of a brute-force baseline; beyond that use
      ``lsh_bucket_ann``).
    - ``expr``: pure Column zip_with/aggregate — no Python anywhere, no
      collect anywhere. The join is UNHINTED, so Spark's nested-loop
      planning broadcasts whichever side is genuinely smaller (usually
      the query sample) — never a forced table-sized broadcast. Past
      that, the real scale path is ``lsh_bucket_ann``.

    Ranking happens on the ROUNDED similarity with neighbor-id tiebreak so
    results are deterministic and engine-portable. Self-matches excluded.
    """
    if method == "auto":
        method = "numpy" if at_most(corpus, MAX_COLLECT_ROWS) else "expr"
    if method == "numpy":
        return _cosine_topk_numpy(queries, corpus, id_col, vec_col, k, round_digits)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), round_digits).alias("cos_sim"),
        )
        # zero-norm/NULL vectors have no defined cosine: the guarded
        # cosine() yields NULL — drop those pairs so the expr path agrees
        # exactly with the numpy path, which filters degenerate vectors
        # out of the matrix (they must never occupy top-k tail slots).
        .where(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _cosine_topk_numpy(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    round_digits: int,
) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    np_id, sql_id = _id_dtypes(corpus, id_col)
    out_schema = f"query_id {sql_id}, neighbor_id {sql_id}, cos_sim double"
    bc = _corpus_groups(corpus, id_col, vec_col, np_id)
    if bc is None:
        return queries.sparkSession.createDataFrame([], schema=out_schema)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grp = bc.value
        for pdf in batches:
            pdf = pdf[pdf[id_col].notna() & pdf[vec_col].notna()]
            if pdf.empty:
                continue
            lens = pdf[vec_col].map(len).to_numpy()
            for length in np.unique(lens):
                if length not in grp:
                    # no same-length corpus vectors: every pair's expr
                    # cosine would be NULL — nothing to emit
                    continue
                c_ids, c_mat = grp[length]
                sub = pdf[lens == length]
                q = np.stack(sub[vec_col].map(np.asarray)).astype(np.float64)
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                # interior NULLs arrive as NaN through Arrow; drop NaN-
                # and zero-norm queries in lockstep with the expr path's
                # NULL-sim filter before the 0/0 division mints NaN rows
                good = np.isfinite(qn[:, 0]) & (qn[:, 0] > 0)
                if not good.any():
                    continue
                sub, q, qn = sub[good], q[good], qn[good]
                q = q / qn
                sims = np.round(q @ c_mat.T, round_digits)
                out_q, out_n, out_s = [], [], []
                for qi, qid in enumerate(sub[id_col].to_numpy()):
                    s = sims[qi]
                    mask = c_ids != qid
                    # deterministic: sort by (-sim, neighbor_id)
                    order = np.lexsort((c_ids[mask], -s[mask]))[:k]
                    sel = np.where(mask)[0][order]
                    out_q.extend([qid] * len(sel))
                    out_n.extend(c_ids[sel])
                    out_s.extend(s[sel])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
                )

    return queries.select(id_col, vec_col).mapInPandas(score, schema=out_schema)


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int = 6,
    method: str = "auto",
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim ≥ t),
    id_a < id_b.

    ``auto`` (default) size-guards with an ``at_most`` probe (the guard
    job never scans past the threshold): a bounded corpus takes
    the broadcast-matrix mapInPandas path (one matmul per Arrow batch, keep
    only pairs with the larger partner id — dedup for free, no shuffle); a
    corpus beyond ``MAX_COLLECT_ROWS`` routes to LSH-bucketed candidate
    generation + exact-cosine verify (``method="lsh"``) — per-bucket joins
    only, never an all-pairs comparison and never a table-sized broadcast.
    The LSH path is candidate-complete only up to bucket recall — the
    ``planes``/``tables``/``seed`` parameters ARE the recall dial (more
    tables raise recall at linear candidate cost, more planes sharpen
    buckets); at the corpus sizes that trigger it, exact
    all-pairs is not a viable plan on any engine, so approximate-with-
    verified-scores is the honest contract. ``method="expr"`` (opt-in)
    keeps the exact non-equi self-join plan WITHOUT a broadcast hint —
    Spark picks the join strategy, the caller accepts O(n²) evaluation.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if method == "auto":
        method = "numpy" if at_most(df, MAX_COLLECT_ROWS) else "lsh"
    if method == "lsh":
        _, sql_id = _id_dtypes(df, id_col)
        # first NON-NULL vector: a null leading embedding must not crash
        # the dim probe (and an all-null/empty corpus has no pairs)
        head = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if head is None:
            return df.sparkSession.createDataFrame(
                [], schema=f"id_a {sql_id}, id_b {sql_id}, cos_sim double"
            )
        dim = len(head[0])
        b = _bucket_ids(
            df, id_col, vec_col, "_bid", dim,
            planes=planes, tables=tables, seed=seed,
        )
        cand = (
            b.alias("l")
            .join(b.alias("r"), ["tbl", "bucket"])
            .filter(F.col("l._bid") < F.col("r._bid"))
            .select(F.col("l._bid").alias("id_a"), F.col("r._bid").alias("id_b"))
            .distinct()
        )
        av = df.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("_av")
        )
        bv = df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("_bv")
        )
        return (
            cand.join(av, "id_a")
            .join(bv, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(cosine(F.col("_av"), F.col("_bv")), round_digits).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    if method == "expr":
        left = df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).cast("array<double>").alias("_av"),
        )
        right = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).cast("array<double>").alias("_bv"),
        )
        return (
            left.join(right, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(cosine(F.col("_av"), F.col("_bv")), round_digits).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    np_id, sql_id = _id_dtypes(df, id_col)
    pair_schema = f"id_a {sql_id}, id_b {sql_id}, cos_sim double"
    bc = _corpus_groups(df, id_col, vec_col, np_id)
    if bc is None:
        return df.sparkSession.createDataFrame([], schema=pair_schema)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grp = bc.value
        for pdf in batches:
            pdf = pdf[pdf[id_col].notna() & pdf[vec_col].notna()]
            if pdf.empty:
                continue
            lens = pdf[vec_col].map(len).to_numpy()
            for length in np.unique(lens):
                if length not in grp:
                    continue
                c_ids, c_mat = grp[length]
                sub = pdf[lens == length]
                q_ids = sub[id_col].to_numpy(dtype=np_id)
                q = np.stack(sub[vec_col].map(np.asarray)).astype(np.float64)
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                with np.errstate(divide="ignore", invalid="ignore"):
                    q = q / qn
                    sims = np.round(q @ c_mat.T, round_digits)
                # NaN sims (interior-NULL / zero-norm queries) fail the
                # >= threshold comparison, matching the guarded cosine's
                # NULL on the lsh/expr paths
                qi, ci = np.where(
                    (sims >= threshold) & (q_ids[:, None] < c_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": q_ids[qi],
                        "id_b": c_ids[ci],
                        "cos_sim": sims[qi, ci],
                    }
                )

    return df.select(id_col, vec_col).mapInPandas(score, schema=pair_schema)


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ivf_ann_seed(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_cells: int,
    n_probe: int,
    round_digits: int,
) -> DataFrame:
    """IVF with a deterministic seed-vector coarse quantizer: the centroids
    are the ``n_cells`` lowest-id corpus vectors (a valid — if crude —
    quantizer; KMeans refines exactly this kind of seeding). Everything is
    pure DataFrame ops: centroid frame is tiny and broadcast, assignment
    and probing are windowed argmins over a broadcast cross join, so the
    whole search is engine-portable and SQL-oracle-checkable.
    """
    emb = lambda d, idn, vn: d.select(  # noqa: E731
        F.col(id_col).alias(idn), F.col(vec_col).cast("array<double>").alias(vn)
    )
    cents = (
        emb(corpus, "cell", "_cv")
        .orderBy("cell")
        .limit(n_cells)
        .withColumn("cell", F.col("cell").cast("int"))
    )
    # Corpus→cell assignment: nearest centroid (squared L2, cell tiebreak).
    c = emb(corpus, "neighbor_id", "_nv")
    aw = Window.partitionBy("neighbor_id").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    assign = (
        c.join(F.broadcast(cents), how="cross")
        .withColumn("_d2", _sqdist(F.col("_nv"), F.col("_cv")))
        .withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") == 1)
        .select("neighbor_id", "_nv", "cell")
    )
    # Query probing: n_probe nearest cells each.
    q = emb(queries, "query_id", "_qv")
    pw = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probed = (
        q.join(F.broadcast(cents), how="cross")
        .withColumn("_d2", _sqdist(F.col("_qv"), F.col("_cv")))
        .withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )
    scored = (
        probed.join(assign, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_nv")), round_digits).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_ann(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    quantizer: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) approximate NN: quantizer-partitioned corpus
    cells, each query probes its ``n_probe`` nearest cells and exact-scores
    only those candidates.

    ``quantizer="kmeans"`` (default): ``pyspark.ml.clustering.KMeans``
    (fixed seed); corpus cell assignment is one ``model.transform``;
    query-side probing broadcasts the (tiny) centroid matrix and explodes
    each query into its probe cells, so the candidate join is per-cell —
    corpus scan cost per query drops by ~n_cells/n_probe. Recall/latency
    tunes via (n_cells, n_probe). At 100 TB: cells are the partition key;
    a cell's vectors co-locate, and only probed cells are read.

    ``quantizer="seed"``: deterministic lowest-id seed vectors as
    centroids — identical search mechanics, engine-portable assignment, so
    the full IVF bucketing is checkable against a SQL oracle.
    """
    if quantizer == "seed":
        return _ivf_ann_seed(
            queries, corpus, id_col, vec_col, k, n_cells, n_probe, round_digits
        )
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    spark = queries.sparkSession
    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_arr"),
    ).withColumn("_vec", array_to_vector("_arr"))
    km = KMeans(k=n_cells, seed=seed, featuresCol="_vec", predictionCol="cell")
    model = km.fit(corpus_v)
    corpus_cells = model.transform(corpus_v).select(
        "neighbor_id", F.col("_arr").alias("_cv"), "cell"
    )

    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    bc = spark.sparkContext.broadcast(centroids)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            pdf = pdf[pdf[id_col].notna() & pdf[vec_col].notna()]
            # ragged queries can't probe the fixed-dim centroid matrix
            # (np.stack would raise); the downstream zip_with cosine
            # would NULL-drop their pairs anyway — drop them here in
            # lockstep (the round-9 advisor's ragged-batch class)
            if not pdf.empty:
                pdf = pdf[pdf[vec_col].map(len) == cents.shape[1]]
            if pdf.empty:
                continue
            q = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cells = np.argsort(d, axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "_qv": [list(v) for v in np.repeat(q, n_probe, axis=0)],
                    "cell": cells.reshape(-1),
                }
            )

    probed = queries.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col)).mapInPandas(
        probe, schema=f"query_id long, _qv array<double>, cell int"
    )
    scored = (
        probed.join(corpus_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), round_digits).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane (host-side constant —
    ships to executors as a literal array, no data movement)."""
    import random

    rnd = random.Random((seed << 16) ^ plane_idx)
    return [1.0 if rnd.random() < 0.5 else -1.0 for _ in range(dim)]


def _bucket_ids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    dim: int,
    planes: int,
    tables: int,
    seed: int,
) -> DataFrame:
    """(id, tbl, bucket) rows: each vector's ``planes``-bit sign bucket in
    each of ``tables`` hyperplane tables — the shared LSH bucketing used by
    ``lsh_bucket_ann`` and the scale path of ``cosine_neardup_pairs``."""
    v = F.col(vec_col).cast("array<double>")
    table_cols = []
    for t in range(tables):
        bits = None
        for p in range(planes):
            plane = F.array(*[F.lit(x) for x in _hyperplane(dim, t * planes + p, seed)])
            bit = F.when(_dot(v, plane) >= 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, p)
            bits = term if bits is None else bits.bitwiseXOR(term)
        table_cols.append(bits)
    return df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(F.array(*table_cols)).alias("tbl", "bucket"),
    )


def lsh_bucket_ann(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 8,
    tables: int = 4,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH.

    Each table hashes a vector to a ``planes``-bit bucket (sign of dot with
    ``planes`` fixed hyperplanes). Queries join candidates per (table,
    bucket), exact cosine re-scores candidates, per-query top-k. At 100 TB
    the join is per-bucket (no all-pairs); buckets are tunable via
    ``planes``; multiple tables recover recall.
    """

    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        return _bucket_ids(df, id_col, vec_col, out_id, dim, planes, tables, seed)

    # Candidate dedup moves ONLY the id pair through the exchange — the
    # embedding arrays are re-joined after distinct so the shuffle payload
    # stays a few bytes per row instead of 2·dim doubles.
    qb = bucketed(queries, "query_id")
    cb = bucketed(corpus, "neighbor_id")
    cand = (
        qb.join(cb, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_nv"),
    )
    scored = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_nv")), round_digits).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
