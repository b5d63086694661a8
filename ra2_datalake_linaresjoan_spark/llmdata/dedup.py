"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact: one hash-shuffle on a 128-bit fingerprint — the cheapest possible
  dedup at any scale.
- n-gram Jaccard: exact pairwise similarity via a shingle inverted index
  (explode → self-join on shingle → count). Correct but O(pairs sharing a
  shingle); used as the verification oracle and for modest corpora.
- MinHash+LSH: the 100-TB path — constant-size signatures per doc, banding
  turns all-pairs into per-bucket joins; candidates are then verified with
  exact Jaccard so the output has no false positives.
- SimHash: 64-bit signature per doc; near-dup when hamming distance small;
  candidate generation by banding the signature bits.

All stages are DataFrame ops (explode/groupBy/join) — no driver-side
loops, no UDFs on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """(id, text) → (id, shingle) word n-grams, case-folded via
    ``ascii_lower`` (round-12: shingles feed minhash/containment —
    engine-divergent unicode folds upstream of the hash would silently
    shift signatures between Spark and the DuckDB oracles; the ASCII
    translate map is identical everywhere and bit-identical to lower()
    on the all-ASCII clean corpus).

    Uses sequence+slice inside a higher-order transform — all JVM-side.
    Documents shorter than n words produce no shingles. ``distinct=False``
    skips the dedup shuffle for consumers whose aggregates are
    duplicate-insensitive (min-hash, collect_set).

    ``hashed=True`` (round-13, guide §2.3) emits int64 ``xxhash64`` keys
    of the word slice instead of materialized " "-joined strings — the
    containment_pairs convention: every downstream
    group/collect/intersect then moves 8-byte longs, and the per-gram
    concat allocation disappears.  Only for consumers whose OUTPUT is
    shingle-identity-invariant (signatures, set intersections, counts);
    anything that surfaces or re-hashes the shingle STRING (simhash's
    md5) must keep the default.
    """
    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import ascii_lower

    words = F.split(F.trim(ascii_lower(F.col(text_col))), r"\s+")
    d = df.select(F.col(id_col), words.alias("_w")).filter(F.size("_w") >= n)
    key = (
        (lambda i: F.xxhash64(F.slice("_w", i, n)))
        if hashed
        else (lambda i: F.concat_ws(" ", F.slice("_w", i, n)))
    )
    sh = F.transform(F.sequence(F.lit(1), F.size("_w") - (n - 1)), key)
    out = d.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard ≥ t).

    Inverted-index self-join: common-shingle counts via groupBy on shingle,
    per-doc shingle counts broadcast back in. jaccard = common/(na+nb-common).
    """
    # eager localCheckpoint, not cache(): see minhash_lsh_candidates —
    # a cached plan is CacheManager-matched by identical later calls,
    # turning repeat benchmark runs into cache reads.
    # hashed=True (round-13): pair counts and jaccard are
    # shingle-identity-invariant, so the checkpoint, the distinct, and
    # the inverted-index self-join all move int64 keys instead of
    # ~20-byte strings (oracle stays on exact STRING jaccard — a
    # collision surfaces as a mismatch).
    sh = shingles(df, id_col, text_col, n, hashed=True).localCheckpoint()
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    verify: bool = True,
) -> DataFrame:
    """MinHash-LSH near-duplicate detection — the 100-TB dedup path.

    shingle → minhash signature (num_hashes) → band into ``bands`` buckets
    (rows = num_hashes/bands) → candidate pairs = docs sharing any band
    bucket → (optionally) verify candidates with exact Jaccard so output
    has no false positives.

    Returns (doc_a, doc_b, jaccard) when verify else (doc_a, doc_b).
    Cost: signatures are one shuffle; banding explodes each doc into
    ``bands`` rows (constant factor); the join is per-bucket — no all-pairs
    blowup as long as buckets stay small (tune bands/rows for the corpus
    dup rate).
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes makes rows_per_band 0 and every band bucket a
        # per-band CONSTANT — all docs share every bucket and the candidate
        # join silently becomes the full n^2 self-join LSH exists to avoid;
        # a non-divisible combo silently discards trailing minhashes
        raise ValueError(
            "minhash banding needs num_hashes divisible by bands "
            f"(got num_hashes={num_hashes}, bands={bands})"
        )
    rows_per_band = num_hashes // bands
    # hashed=True (round-13): signatures, band buckets and the verify
    # intersections are all shingle-identity-invariant, so the whole
    # pipeline runs on int64 shingle keys — the num_hashes salted
    # xxhash64 calls per shingle hash 8 bytes instead of a ~25-byte
    # string, collect_set state and array_intersect shrink the same
    # way, and the concat per shingle position disappears.  The
    # reported jaccard equals the string-set jaccard unless two
    # distinct shingles collide within one doc pair's union
    # (p ≈ 1e-9 at this cardinality); the DuckDB oracle computes exact
    # STRING jaccard, so a collision surfaces as a mismatch, never
    # silently.
    sh = shingles(df, id_col, text_col, n, distinct=False, hashed=True)
    # ONE shuffle computes both the minhash signature and the exact shingle
    # set per doc — the set is reused for candidate verification, so the
    # shingle relation is never re-derived or re-shuffled.
    min_aggs = [
        F.min(F.xxhash64("shingle", F.lit(seed), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    # localCheckpoint (eager), NOT persist: a lazy persist here registers
    # the plan in the CacheManager, and because the CacheManager matches
    # canonicalized plans, a LATER identical invocation (bench run 2/3,
    # or a sibling query calling this helper with the same params in the
    # same session) silently reads the first run's cached table — i.e.
    # cross-run result caching, which the bench must not do.  The eager
    # local checkpoint materializes the signature+shingle-set table ONCE
    # per call (same single computation the persist bought), truncates
    # the lineage, and is recomputed honestly by every fresh call.
    per_doc = (
        sh.groupBy(id_col)
        .agg(F.collect_set("shingle").alias("_sh"), *min_aggs)
        .localCheckpoint()
    )
    # bucket id = murmur3 over (band index, raw minhash longs) — the
    # old shape stringified every minhash and concat_ws'd per band just
    # to feed F.hash, which accepts multiple columns natively
    band_arr = F.array(
        *[
            F.hash(
                F.lit(bi),
                *[
                    F.col(f"h{bi * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for bi in range(bands)
        ]
    )
    banded = per_doc.select(F.col(id_col), F.posexplode(band_arr).alias("band", "bucket"))
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return cand
    sets = per_doc.select(F.col(id_col), F.col("_sh"))
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sh_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sh_b"))
    common = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(common / (F.size("_sh_a") + F.size("_sh_b") - common), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash_bit(hash_fn: str, b: int) -> "F.Column":
    """Bit ``b`` (0 = LSB) of the 64-bit shingle hash, as a 0/1 Column.

    ``xxhash64`` (default): native JVM hash — fastest, Spark-specific.
    ``md5``: engine-portable — bit b lives in hex digit ``15 - b//4`` of
    the md5 hex string (digit's bit ``b%4``), identically computable in
    any SQL engine with md5 + hex parsing (used by the DuckDB oracle).
    """
    if hash_fn == "xxhash64":
        return F.shiftright(F.xxhash64("shingle"), b).bitwiseAND(F.lit(1))
    if hash_fn == "md5":
        digit = F.conv(F.substring(F.md5("shingle"), 16 - b // 4, 1), 16, 10).cast("int")
        return F.shiftright(digit, b % 4).bitwiseAND(F.lit(1))
    raise ValueError(f"unknown simhash hash_fn: {hash_fn!r}")


def simhash(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per document from shingle hashes.

    For each bit position, sum +1/-1 over shingle hashes; bit = sign.
    Implemented as 64 conditional aggregates — JVM-side, one shuffle.
    ``hash_fn="md5"`` swaps xxhash64 for an engine-portable bit source
    (same algorithm, SQL-oracle-checkable). Returns (id, simhash: long).
    """
    sh = shingles(df, id_col, text_col, n)
    aggs = [
        F.sum(
            F.when(_simhash_bit(hash_fn, b) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    per_bit = sh.groupBy(id_col).agg(*aggs)
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return per_bit.select(F.col(id_col), sig.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius.

    Candidate generation by banding the 64-bit signature into 4 16-bit
    blocks (pigeonhole: ≤3 differing bits → ≥1 identical block), then exact
    hamming check via bit_count(xor). Returns (doc_a, doc_b, hamming).

    ``max_hamming`` is capped at 3: with 4 blocks, pigeonhole only
    guarantees candidate completeness up to 3 differing bits — a radius
    of 4+ would SILENTLY miss pairs whose 4 differing bits land one per
    block, so the function raises instead of under-recalling.
    """
    if max_hamming > 3:
        raise ValueError(
            "simhash 4-block banding is candidate-complete only for "
            f"max_hamming <= 3 (got {max_hamming}); re-band with "
            "max_hamming+1 blocks for a wider radius"
        )
    sig = simhash(df, id_col, text_col, n, hash_fn=hash_fn)
    blocks = F.array(
        *[F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)]
    )
    banded = sig.select(F.col(id_col), F.col("simhash"), F.posexplode(blocks).alias("blk", "val"))
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "val")
    b = banded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "val")
    cand = (
        a.join(b, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: md5 fingerprint groupBy, survivor = min id.

    One shuffle on the fingerprint; survivor choice is deterministic
    (SURVEY §2.11: the engine always picks deterministic survivors).

    Dedup runs only among docs with a NON-NULL fingerprint and id:
    a NULL text carries no evidence of duplication (collapsing every
    NULL-text doc to one survivor silently destroys corpus rows), and a
    NULL id can never win — or match — the min-id semi join (the whole
    group used to vanish). Both pass through as survivors.
    """
    from pyspark.sql import Window

    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import doc_fingerprint

    # ONE scan, ONE shuffle, NO join (round-10 A/B): a window min over
    # the fingerprint partition replaces the r9 aggregate + left-join
    # contract — that shape computed the fingerprint twice (once for
    # the keep aggregate, once for the probe) and shuffled full rows
    # into a sort-merge join, and at 100 TB the keep side is
    # ~|distinct fingerprints| (corpus-scale, never broadcastable), so
    # the join costs a SECOND full-row shuffle. Here the fingerprint is
    # computed once and the only movement is the fp-hash shuffle the
    # problem requires. Semantics are identical: a row survives iff it
    # equals its group's min NON-NULL id, or has no group to lose to
    # (NULL id / NULL fingerprint pass through — min() ignores NULL ids
    # and the IS NULL arms never reach the comparison).
    # A/B sf0.1 min-of-5, same session kind, back-to-back on one host:
    # r9 left-join 1.51 s -> 1.08 s window shape (exact_dedup_docs).
    keyed = df.withColumn("_ed_fp", doc_fingerprint(F.col(text_col)))
    w = Window.partitionBy("_ed_fp")
    return (
        keyed.withColumn(
            "_ed_keep",
            F.min(F.when(F.col(id_col).isNotNull(), F.col(id_col))).over(w),
        )
        .where(
            F.col(id_col).isNull()
            | F.col("_ed_fp").isNull()
            | (F.col(id_col) == F.col("_ed_keep"))
        )
        .drop("_ed_fp", "_ed_keep")
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Continuous-ingest dedup: survivors of ``new_batch`` against an
    already-ingested ``corpus`` — drop batch docs whose content
    fingerprint already exists in the corpus (LEFT ANTI on the md5
    fingerprint), then keep the min-id doc per fingerprint within the
    batch itself.

    100-TB shape: the corpus side reduces to a distinct fingerprint
    column (32-byte strings — in production a standing fingerprint store,
    not a rescan), the anti join shuffles on the fingerprint hash, and
    the within-batch window partitions by fingerprint. Nothing touches
    the driver; cost is |batch| + |fingerprint store|, never their
    product. Extends the reference's snapshot-only dedup
    (``spark_cleaner.py:108-114`` newest-wins within one extract) to the
    across-loads case its ON CONFLICT inserts approximate
    (``loader_NeonDB.py:370``).

    ``fingerprint_col`` (round-14): callers that already carry the
    md5 fingerprint (e.g. a checkpointed fingerprint table shared with
    other consumers) name its column here and the per-row
    ``doc_fingerprint`` regex chain is skipped — same anti-join/window
    semantics on identical values (the fingerprint is a deterministic
    function of the text).  On this path ``text_col`` is unused, and the
    result's ``fingerprint`` column is ``fingerprint_col``, so a batch
    that already has a different ``fingerprint`` column raises
    ``ValueError`` instead of having it silently overwritten."""
    from pyspark.sql import Window

    from ra2_datalake_linaresjoan_spark.llmdata.text_analysis import doc_fingerprint

    if fingerprint_col not in (None, "fingerprint") and "fingerprint" in new_batch.columns:
        raise ValueError(
            f"new_batch already has a 'fingerprint' column; "
            f"fingerprint_col={fingerprint_col!r} would overwrite it"
        )
    if fingerprint_col is None:
        nb = new_batch.withColumn(
            "fingerprint", doc_fingerprint(F.col(text_col))
        )
        seen = (
            corpus.select(
                doc_fingerprint(F.col(text_col)).alias("fingerprint")
            ).distinct()
        )
    else:
        nb = new_batch.withColumn(
            "fingerprint", F.col(fingerprint_col)
        )
        seen = (
            corpus.select(F.col(fingerprint_col).alias("fingerprint"))
            .distinct()
        )
    fresh = nb.join(seen, "fingerprint", "left_anti")
    # NULL contract in lockstep with exact_dedup (round-10 review): a
    # NULL fingerprint (NULL text) carries no evidence of duplication —
    # such rows pass the anti join untouched (NULL never equi-matches)
    # and must NOT then be collapsed to one survivor by the window; a
    # NULL id can never win the min and passes through likewise.
    w = Window.partitionBy("fingerprint")
    return (
        fresh.withColumn(
            "_id_keep",
            F.min(F.when(F.col(id_col).isNotNull(), F.col(id_col))).over(w),
        )
        .where(
            F.col(id_col).isNull()
            | F.col("fingerprint").isNull()
            | (F.col(id_col) == F.col("_id_keep"))
        )
        .drop("_id_keep")
    )
