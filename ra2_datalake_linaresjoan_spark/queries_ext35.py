"""Batch 35 (round 7): hash-bucket pruning, epoch-shuffle quality, and
the shuffle-partition advisor.

Three more engine-room operators for the 100-TB posture:

- ``bucket_pruning_audit`` — the point-lookup complement to the
  range-oriented ``zone_map_pruning`` / ``zorder_vs_linear_pruning``
  family: orders hashed into 64 md5 buckets (the Spark bucketed-table /
  liquid-clustering hash tier), a deterministic probe key set, and the
  audit prices the lookup — buckets touched, rows scanned vs matched,
  read amplification.  Computed from ONE bucket-grain aggregate (64
  groups); no join, no probe-set materialization.
- ``epoch_shuffle_quality`` — a training-data-ordering audit: documents
  arrive source-major ("as crawled" — every source's docs contiguous)
  and are re-ordered by an md5 permutation inside each of 64 training
  shards.  Adjacent-pair same-source rates before/after measure the
  clumping a sequential trainer would see; the md5 shuffle must drive
  the rate from ~1 down to ~Σp².  Windows are partitioned by shard —
  never a global sort.
- ``shuffle_partition_advisor`` — the sizing table an operator reads
  before setting ``spark.sql.shuffle.partitions`` /
  ``maxPartitionBytes``: per table, exact row counts and estimated
  in-memory bytes (fixed-width columns + measured string lengths), and
  the integer partition count that lands partitions at the 128 MB
  target.  All arithmetic is exact BIGINT (ceil via
  ``(bytes + T - 1) DIV T``).

Scale posture: bucket/shard/table grains are fixed (64/64/3); the only
windows are shard-partitioned; no broadcasts, no collects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

# ---------------------------------------------------------------------------
# bucket_pruning_audit — 64-way hash-bucket point-lookup cost
# ---------------------------------------------------------------------------

_BP_BUCKETS = 64
_BP_PROBE_MOD = 1000
_BP_PROBE_RES = 7


def q_bucket_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the cost of probing orders for the deterministic key
    set {o_custkey % 1000 == 7} under a 64-way md5 hash-bucket layout.
    A bucketed layout confines each key to one bucket, so the scan
    touches only buckets that contain a probe key; the audit reports
    rows/buckets touched and the read amplification vs the matched
    rows, all from a single 64-group aggregate."""
    orders = _t(spark, sf_dir, "orders")
    is_probe = (
        F.col("o_custkey") % _BP_PROBE_MOD == _BP_PROBE_RES
    ).cast("long")
    # coalesce the key into a sentinel BEFORE hashing: Spark concat
    # NULL-propagates while DuckDB concat skips NULLs, so an unguarded
    # NULL key lands in different buckets per engine (ext28/ext30
    # convention).
    key = F.coalesce(F.col("o_custkey").cast("string"), F.lit("<null>"))
    per_bucket = orders.groupBy(
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("b:"), key)), 1, 4),
                16,
                10,
            ).cast("long")
            % _BP_BUCKETS
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(is_probe).alias("n_probe"),
    )
    touched = F.col("n_probe") > 0
    return per_bucket.agg(
        F.count(F.lit(1)).alias("buckets_used"),
        F.sum("n").alias("rows_total"),
        F.sum(touched.cast("long")).alias("buckets_touched"),
        F.sum(F.when(touched, F.col("n")).otherwise(0)).alias(
            "rows_scanned"
        ),
        F.sum("n_probe").alias("rows_matched"),
    ).select(
        "buckets_used",
        "buckets_touched",
        "rows_total",
        "rows_scanned",
        "rows_matched",
        F.round(F.col("rows_scanned") / F.col("rows_total"), 6).alias(
            "scan_fraction"
        ),
        F.round(
            F.col("rows_scanned")
            / F.greatest(F.col("rows_matched"), F.lit(1)),
            4,
        ).alias("read_amplification"),
    )


SQL_BUCKET_PRUNING_AUDIT = f"""
WITH per_bucket AS (
  SELECT CAST(concat('0x', substr(md5(concat('b:',
              coalesce(CAST(o_custkey AS VARCHAR), '<null>'))), 1, 4))
              AS BIGINT) % {_BP_BUCKETS} AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_custkey % {_BP_PROBE_MOD} = {_BP_PROBE_RES}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_probe
  FROM orders GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(sum(CASE WHEN n_probe > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS buckets_touched,
       CAST(sum(n) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN n_probe > 0 THEN n ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(n_probe) AS BIGINT) AS rows_matched,
       round(sum(CASE WHEN n_probe > 0 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
         AS scan_fraction,
       round(sum(CASE WHEN n_probe > 0 THEN n ELSE 0 END) * 1.0
             / greatest(sum(n_probe), 1), 4) AS read_amplification
FROM per_bucket
"""


# ---------------------------------------------------------------------------
# epoch_shuffle_quality — source clumping before/after the md5 permutation
# ---------------------------------------------------------------------------

_ES_SHARDS = 64


def q_epoch_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: adjacent-pair same-source rates a sequential trainer
    would see over each 64-way training shard, under (a) source-major
    ingest order — every source's documents contiguous, the shape a
    per-source crawl delivers — and (b) the deterministic md5(doc_id)
    epoch permutation.  The shuffle must collapse the clumping rate
    from ~1 toward the independence baseline Σp².  Both orders are
    windows PARTITIONED BY SHARD (ordered within; never a global
    sort), and the rates are exact-integer ratios. NULL-source docs are
    filtered on BOTH engines before the ordering windows — Spark sorts
    NULLS FIRST and DuckDB NULLS LAST by default, so an unfiltered
    nullable order column is a latent cross-engine divergence."""
    # doc_id joins source in the not-null filter (lockstep in SQL): a
    # NULL doc_id would hash to a NULL shard in Spark but a real shard
    # in DuckDB (concat NULL semantics differ), and would order
    # NULLS-FIRST vs NULLS-LAST in the tie-break.
    docs = _t(spark, sf_dir, "documents").where(
        F.col("source").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("e:"), F.col("doc_id"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % _ES_SHARDS
        ).alias("shard"),
        F.md5(F.concat(F.lit("p:"), F.col("doc_id"))).alias("perm"),
    )
    w_ingest = Window.partitionBy("shard").orderBy("source", "doc_id")
    w_shuffled = Window.partitionBy("shard").orderBy("perm", "doc_id")
    pairs = docs.select(
        "source",
        F.lag("source").over(w_ingest).alias("prev_ingest"),
        F.lag("source").over(w_shuffled).alias("prev_shuffled"),
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("prev_ingest").isNotNull().cast("long")).alias(
            "n_pairs"
        ),
        F.sum(
            (F.col("source") == F.col("prev_ingest")).cast("long")
        ).alias("same_ingest"),
        F.sum(
            (F.col("source") == F.col("prev_shuffled")).cast("long")
        ).alias("same_shuffled"),
    ).select(
        "n_docs",
        "n_pairs",
        "same_ingest",
        "same_shuffled",
        F.round(
            F.col("same_ingest") / F.greatest(F.col("n_pairs"), F.lit(1)), 6
        ).alias("clump_rate_ingest"),
        F.round(
            F.col("same_shuffled") / F.greatest(F.col("n_pairs"), F.lit(1)),
            6,
        ).alias("clump_rate_shuffled"),
    )


SQL_EPOCH_SHUFFLE_QUALITY = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(concat('e:', doc_id)), 1, 4))
              AS BIGINT) % {_ES_SHARDS} AS shard,
         md5(concat('p:', doc_id)) AS perm
  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL
), pairs AS (
  SELECT source,
         lag(source) OVER (PARTITION BY shard ORDER BY source, doc_id)
           AS prev_ingest,
         lag(source) OVER (PARTITION BY shard ORDER BY perm, doc_id)
           AS prev_shuffled
  FROM docs
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN prev_ingest IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN source = prev_ingest THEN 1 ELSE 0 END) AS BIGINT)
         AS same_ingest,
       CAST(sum(CASE WHEN source = prev_shuffled THEN 1 ELSE 0 END)
            AS BIGINT) AS same_shuffled,
       round(sum(CASE WHEN source = prev_ingest THEN 1 ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN prev_ingest IS NOT NULL
                            THEN 1 ELSE 0 END), 1), 6)
         AS clump_rate_ingest,
       round(sum(CASE WHEN source = prev_shuffled THEN 1 ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN prev_ingest IS NOT NULL
                            THEN 1 ELSE 0 END), 1), 6)
         AS clump_rate_shuffled
FROM pairs
"""


# ---------------------------------------------------------------------------
# shuffle_partition_advisor — exact-integer partition sizing per table
# ---------------------------------------------------------------------------

_SP_TARGET_BYTES = 128 * 1024 * 1024
#: conservative per-row object overhead (offsets, null bitmaps)
_SP_ROW_OVERHEAD = 16


def q_shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rows (orders, events, documents): exact row counts, the
    estimated in-memory bytes (8 B per numeric/timestamp column plus
    MEASURED string lengths plus a fixed per-row overhead), and the
    partition count that lands each table at the 128 MB shuffle-target
    — ceil division in exact integer arithmetic.  This is the sizing
    pass behind session defaults: at 100 TB the same aggregate runs on
    table statistics instead of full scans, but the math is this."""

    def profile(df: DataFrame, name: str, fixed: int, *strcols: str):
        strbytes = sum(
            (F.sum(F.length(F.coalesce(F.col(c), F.lit(""))))
             for c in strcols),
            start=F.lit(0).cast("long"),
        )
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.count(F.lit(1)) * (fixed + _SP_ROW_OVERHEAD)
                + F.coalesce(strbytes, F.lit(0))
            ).alias("est_bytes"),
        )

    orders = profile(
        _t(spark, sf_dir, "orders"),
        "orders",
        8 * 4,  # orderkey, custkey, totalprice, orderdate
        "o_orderstatus",
        "o_orderpriority",
    )
    events = profile(
        _t(spark, sf_dir, "events"),
        "events",
        8 * 4,  # event_id, ts, user_id, value
        "event_type",
        "props",
    )
    documents = profile(
        _t(spark, sf_dir, "documents"),
        "documents",
        8 * 2,  # doc_id, n_chars
        "text",
        "lang",
        "source",
    )
    out = orders.unionByName(events).unionByName(documents)
    return out.select(
        "table_name",
        "n_rows",
        "est_bytes",
        F.round(F.col("est_bytes") / 1048576.0, 4).alias("est_mb"),
        F.expr(
            f"(est_bytes + {_SP_TARGET_BYTES - 1}) DIV {_SP_TARGET_BYTES}"
        ).alias("partitions_at_128mb"),
        F.expr(
            "n_rows DIV greatest((est_bytes + "
            f"{_SP_TARGET_BYTES - 1}) DIV {_SP_TARGET_BYTES}, 1)"
        ).alias("rows_per_partition"),
    ).orderBy("table_name")


SQL_SHUFFLE_PARTITION_ADVISOR = f"""
WITH profiles AS (
  SELECT 'orders' AS table_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) * {8 * 4 + _SP_ROW_OVERHEAD}
              + coalesce(sum(length(coalesce(o_orderstatus, ''))
                    + length(coalesce(o_orderpriority, ''))), 0) AS BIGINT)
           AS est_bytes
  FROM orders
  UNION ALL
  SELECT 'events', CAST(count(*) AS BIGINT),
         CAST(count(*) * {8 * 4 + _SP_ROW_OVERHEAD}
              + coalesce(sum(length(coalesce(event_type, ''))
                    + length(coalesce(props, ''))), 0) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'documents', CAST(count(*) AS BIGINT),
         CAST(count(*) * {8 * 2 + _SP_ROW_OVERHEAD}
              + coalesce(sum(length(coalesce(text, '')) + length(coalesce(lang, ''))
                    + length(coalesce(source, ''))), 0) AS BIGINT)
  FROM documents
)
SELECT table_name, n_rows, est_bytes,
       round(est_bytes / 1048576.0, 4) AS est_mb,
       CAST((est_bytes + {_SP_TARGET_BYTES - 1}) // {_SP_TARGET_BYTES}
            AS BIGINT) AS partitions_at_128mb,
       CAST(n_rows // greatest((est_bytes + {_SP_TARGET_BYTES - 1})
                               // {_SP_TARGET_BYTES}, 1) AS BIGINT)
         AS rows_per_partition
FROM profiles
ORDER BY table_name
"""


REGISTRY_EXT35: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "bucket_pruning_audit": (
        q_bucket_pruning_audit,
        SQL_BUCKET_PRUNING_AUDIT,
    ),
    "epoch_shuffle_quality": (
        q_epoch_shuffle_quality,
        SQL_EPOCH_SHUFFLE_QUALITY,
    ),
    "shuffle_partition_advisor": (
        q_shuffle_partition_advisor,
        SQL_SHUFFLE_PARTITION_ADVISOR,
    ),
}
