"""Join helpers (SURVEY.md §2.3 J1-J7).

Scale posture: dimension lookups are explicitly broadcast (`F.broadcast`)
so fact-side scans never shuffle for them; semi/anti joins are expressed
as plain, unhinted `left_semi` / `left_anti` joins (J6's valid-id set
filters, loader_NeonDB.py:493-500, are `df.join(keys, on, "left_semi")`)
so Catalyst picks the strategy from file statistics and AQE re-plans it
from runtime sizes. No collect-based key sets and no size probe in front
of a join — everything stays distributed and lazy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def at_most(df: DataFrame, n: int) -> bool:
    """The one size probe behind every small/large algorithm route (and
    the ``connected_components`` fixpoint check): does ``df`` have at
    most ``n`` rows?  A capped count — the job stops scanning at ``n``+1
    rows, so it never pays an exact count of a huge frame.  It never
    sets a join hint: join strategy is left to Catalyst and AQE."""
    return df.limit(n + 1).count() <= n


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes, derived from what
    its sources already record (parquet file sizes, inline VALUES): no job
    runs.  A source Spark cannot size, such as an RDD, reports
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default), so it
    never reads as small."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def anti_orphans(fact: DataFrame, dim: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``fact`` with no match in ``dim`` (J1-J3 orphan detection,
    reference validator_warehouse.py:108-162). A left-anti join never
    multiplies ``fact`` rows, so duplicate ``dim`` keys need no distinct."""
    on = [on] if isinstance(on, str) else list(on)
    return fact.join(dim.select(*on), on=on, how="left_anti")


def fk_resolve(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_id: str,
    out_col: str,
) -> DataFrame:
    """Resolve a natural key to a dimension surrogate id via broadcast
    left join (J4/J5 — replaces the reference's driver-side dict probes,
    loader_NeonDB.py:261-264, 523-528). Unmatched keys get null ids.

    The dim side is reduced to ONE surrogate per natural key (min id —
    deterministic) before the join: a dimension carrying duplicate
    natural keys (double-loaded, or one-row-per-SCD-version) would
    otherwise silently FAN OUT fact rows, multiplying downstream counts
    (round-10 review). On a healthy unique-key dim the aggregate is a
    no-op and the tiny frame still broadcasts."""
    d = F.broadcast(
        dim.select(F.col(dim_key).alias("_fk_nat"), F.col(dim_id).alias(out_col))
        .groupBy("_fk_nat")
        .agg(F.min(out_col).alias(out_col))
    )
    return fact.join(d, fact[fact_key] == d["_fk_nat"], "left").drop("_fk_nat")
