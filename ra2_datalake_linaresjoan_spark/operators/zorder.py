"""Z-order (Morton) sort keys for multi-dimensional data skipping.

The reference's PostgreSQL schema leans on B-tree indexes for its
filter columns (``loader_NeonDB.py:169-171, 200-201``). A lakehouse
replaces those with file/row-group statistics: parquet keeps min/max per
column per row group, and a scan prunes row groups whose range can't
match the filter. Sorting before writing makes those ranges tight — but
a plain sort only clusters the FIRST sort column. Z-ordering interleaves
the bits of several columns so that files are simultaneously clustered
in every dimension, which is what Delta's ``OPTIMIZE ZORDER BY`` does;
this is the same technique as a pure Column expression for plain parquet.

Implementation — two physical strategies behind one rank-based contract:

- **small input** (≤ ``EXACT_THRESHOLD`` rows, an ``at_most`` probe): each
  column is rank-bucketed to ``2^bits`` levels with an exact ``ntile``
  window. A global window is a single task, acceptable only because the
  input is bounded.
- **data-sized input**: per-column bucket boundaries come from
  ``approxQuantile`` (a sampled sketch aggregate — distributed, one
  pass, no sort), and rows map to buckets through
  ``pyspark.ml.feature.Bucketizer`` — a broadcast splits array with a
  JVM-side binary search per row. No window, no single-task stage, no
  shuffle beyond the sketch aggregate: the plan is scan-shaped and
  survives 100 TB. Quantile boundaries keep the bucketing rank-based,
  so skew and arbitrary value ranges don't break the interleave. This
  path requires numeric dimensions (pre-encode dates with
  ``unix_timestamp`` / strings with a numeric surrogate); it raises
  ``ValueError`` rather than silently degrading.

The bucket bits are then interleaved JVM-side with ``shiftleft`` /
``bitwise OR`` — no UDFs, no driver work either way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, IntegerType, LongType, ShortType, ByteType, DecimalType

from ra2_datalake_linaresjoan_spark.operators.joins import at_most

#: Above this row count (checked with ``at_most``) the exact-ntile window
#: is refused and bucketing runs on sampled quantile boundaries instead.
EXACT_THRESHOLD = 100_000

_NUMERIC = (DoubleType, FloatType, IntegerType, LongType, ShortType, ByteType, DecimalType)


def _interleave(bucket_cols: Sequence[Column], bits: int) -> Column:
    # the interleaved key must fit in 63 bits: bit (bits-1, last col)
    # lands at position bits*len(cols)-1, and position 63 is the long
    # SIGN bit — a negative key range-sorts before all positive keys and
    # silently scatters the top corner of the hyper-rectangle across the
    # file layout (shifts past 63 additionally wrap mod 64)
    if bits * len(bucket_cols) > 63:
        raise ValueError(
            "zorder: %d cols x %d bits = %d interleaved bits > 63 (long "
            "sign bit); lower bits= or reduce the column set"
            % (len(bucket_cols), bits, bits * len(bucket_cols))
        )
    z = F.lit(0).cast("long")
    # interleave: bit i of column j lands at position i*len(cols)+j
    for i in range(bits):
        for j, b in enumerate(bucket_cols):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(bucket_cols) + j))
    return z


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    rel_err: float = 0.001,
) -> DataFrame:
    """Add a ``_zorder`` column interleaving ``bits`` rank-bits per column.

    Sort/repartitionByRange on ``_zorder`` before writing to cluster the
    files in all of ``cols`` at once. Strategy (exact ntile vs sampled
    quantile buckets) is size-guarded — see module docstring.

    NOT a lazy builder: the ``at_most`` size probe runs a job at call
    time, and the quantile path additionally runs one ``approxQuantile``
    job for all columns — each call re-pays the input scan (cache the
    input if calling repeatedly) and streaming DataFrames are not
    supported.
    """
    n_buckets = 1 << bits
    out = df
    bucket_cols: list[Column] = []
    if at_most(df, EXACT_THRESHOLD):
        for c in cols:
            b = f"_zb_{c}"
            out = out.withColumn(
                b, (F.ntile(n_buckets).over(Window.orderBy(c)) - 1).cast("long")
            )
            bucket_cols.append(F.col(b))
        z = _interleave(bucket_cols, bits)
        return out.withColumn("_zorder", z).drop(*[f"_zb_{c}" for c in cols])

    from pyspark.ml.feature import Bucketizer

    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if not isinstance(schema.get(c), _NUMERIC):
            raise ValueError(
                f"zorder_key quantile path needs a numeric column, got "
                f"{c}: {schema.get(c)} — pre-encode (unix_timestamp, "
                f"crc32, dictionary code) before Z-ordering at scale"
            )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    in_cols, out_cols = [], []
    for c in cols:
        d = f"_zd_{c}"
        # nulls sort first under ntile; map them to -inf so the quantile
        # path lands them in bucket 0 too
        out = out.withColumn(
            d, F.coalesce(F.col(c).cast("double"), F.lit(float("-inf")))
        )
        in_cols.append(d)
        out_cols.append(f"_zb_{c}")
    # ONE approxQuantile call for all columns — the multi-column form
    # computes every sketch in a single input pass (per-column calls
    # inside the loop were N sequential full scans)
    all_qs = out.stat.approxQuantile(in_cols, probs, rel_err)
    splits_arr = []
    for qs in all_qs:
        inner = sorted({q for q in qs if q not in (float("-inf"), float("inf"))})
        splits_arr.append([float("-inf"), *inner, float("inf")])
    buck = Bucketizer(
        splitsArray=splits_arr,
        inputCols=in_cols,
        outputCols=out_cols,
        handleInvalid="keep",  # NaN -> extra last bucket, clamped below
    )
    out = buck.transform(out)
    bucket_cols = [
        F.least(F.col(f"_zb_{c}").cast("long"), F.lit(n_buckets - 1)) for c in cols
    ]
    z = _interleave(bucket_cols, bits)
    return (
        out.withColumn("_zorder", z)
        .drop(*in_cols)
        .drop(*[f"_zb_{c}" for c in cols])
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 8,
    bits: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as ``n_files`` files range-partitioned on the Z-order
    key — every file covers a tight hyper-rectangle in ``cols`` space, so
    min/max statistics prune scans filtered on ANY of the dimensions."""
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, "_zorder")
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.format(fmt)
        .mode("overwrite")
        .save(path)
    )
