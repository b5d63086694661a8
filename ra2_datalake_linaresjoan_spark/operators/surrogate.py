"""Dense surrogate-key assignment that survives dimension growth.

The reference assigns dimension ids with a sorted insert into a SERIAL
column (``loader_NeonDB.py:431-455``) — the Spark translation is
``row_number() OVER (ORDER BY ...)``, which funnels every row through ONE
partition. Fine for a 5 K-tag dimension, a stall for a 500 M-row one.

``surrogate_key`` keeps the cheap global window for inputs the optimizer
estimates at no more than ``SMALL_BYTES`` (``joins.plan_bytes``: file
sizes of an already-materialized input, so the route costs no job) and
switches to a two-phase assignment past it, or when the input's size is
unknown:

1. range-partition by the ordering columns into ``NUM_PARTS`` ranges
   (deterministic for a given dataset), number rows within each
   partition;
2. count rows per partition (tiny aggregate), broadcast the cumulative
   offsets back, and add them — every partition works independently, no
   single-partition exchange anywhere.

Keys are dense, 1-based, and ordered by ``order_cols`` in both modes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.operators.joins import plan_bytes

#: Inputs estimated at no more than this many bytes take the single
#: global window (about a million short keys).
SMALL_BYTES = 64 * 1024 * 1024
#: Range partitions of the two-phase assignment.
NUM_PARTS = 64


def surrogate_key(
    df: DataFrame, order_cols: Sequence[str], key_col: str = "sk"
) -> DataFrame:
    """Assign dense 1-based surrogate keys ordered by ``order_cols``."""
    cols = list(order_cols)
    if plan_bytes(df) <= SMALL_BYTES:
        w = Window.orderBy(*cols)
        return df.select(F.row_number().over(w).alias(key_col), *df.columns)

    # pin the range partitioning: the counts pass and the final numbering
    # pass must see IDENTICAL partition boundaries — RangePartitioner
    # samples the input to pick them, and recomputing the sample across two
    # jobs is an assumption, not a guarantee. persist() makes both passes
    # read the same materialized partitioning (disk-spillable; released
    # before return).
    parts = df.repartitionByRange(NUM_PARTS, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    parts = parts.persist()
    counts = {r["_pid"]: r["c"] for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        parts.join(off_df, "_pid")
        .select(
            (F.row_number().over(w) + F.col("_off")).alias(key_col),
            *[c for c in df.columns],
        )
    )
    # materialize the assignment, then release the pinned partitioning —
    # repeated surrogate_key calls must not accumulate cached blocks
    # (same discipline as pagerank's transition-table cache)
    out = out.localCheckpoint()
    parts.unpersist()
    return out
