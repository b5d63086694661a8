"""Deduplication operators (SURVEY.md §2.5 W1/W2, §2.7 U1/U2, §2.2 P3).

The engine standardizes on deterministic newest-by-timestamp dedup with an
explicit tiebreak (the reference mixes arrival-order ``keep='first'`` and
newest-by-updatedAt — SURVEY §2.11 bug 3). At scale this is a single hash
shuffle on the key columns; the window never sees more than one key's rows
per partition, so it holds at any data volume as long as individual keys
aren't pathologically hot (for hot keys, use llmdata.dedup exact-hash
variants which pre-aggregate).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.functions.sql import col_ref


def dedup_keep_newest(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str | None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Keep the newest row per key (W1): row_number over
    PARTITION BY keys ORDER BY order_col DESC [, tiebreak DESC], rn=1.

    Mirrors reference ``spark_cleaner.py:108-114``; falls back to plain
    ``dropDuplicates`` when no ordering column is available (U2,
    spark_cleaner.py:114).
    """
    if order_col is None and not tiebreak:
        return df.dropDuplicates(list(keys))
    # the shared NULLS LAST contract (operators/ordering.py) in both
    # directions: a NULL order/tiebreak value never outranks a real one,
    # matching the oracle engine's default.  One parsed window
    # expression, not a Column tree per key.
    order = [c for c in (order_col,) if c is not None] + list(tiebreak)
    window = "row_number() OVER (PARTITION BY {} ORDER BY {})".format(
        ", ".join(col_ref(k) for k in keys),
        ", ".join(f"{col_ref(c)} DESC NULLS LAST" for c in order),
    )
    return df.selectExpr("*", f"{window} AS _rn").where("_rn = 1").drop("_rn")


def dedup_exact(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key-based dedup, nondeterministic survivor (U1/U2) — the cheap path
    when survivor identity doesn't matter."""
    return df.dropDuplicates(list(keys))


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """Drop columns whose every value is null (P3,
    reference ``extractor_polymarket.py:153-157``).

    Data-dependent, so it costs one aggregate job: a single pass computing
    ``count(col)`` for all columns at once (not a per-column count() storm).
    """
    counts = df.agg(
        *[F.count(F.col(c)).alias(c) for c in df.columns]
    ).collect()[0]
    empty = [c for c in df.columns if counts[c] == 0]
    return df.drop(*empty) if empty else df
