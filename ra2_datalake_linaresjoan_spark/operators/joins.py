"""Join helpers (SURVEY.md §2.3 J1-J7).

Scale posture: dimension lookups are explicitly broadcast (`F.broadcast`)
so fact-side scans never shuffle for them; semi/anti joins are expressed
as `left_semi` / `left_anti` so Catalyst can pick broadcast variants and
AQE can re-plan at runtime. No collect-based key sets — everything stays
distributed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Sides up to this many rows get a broadcast hint (semi_filter's key
#: set, maybe_broadcast's default); larger ones join unhinted so
#: Catalyst/AQE pick the strategy from real sizes.
SEMI_BROADCAST_CAP = 1_000_000


def at_most(df: DataFrame, n: int) -> bool:
    """The one size probe behind every small/large route: does ``df``
    have at most ``n`` rows?  A capped count — the job stops scanning at
    ``n``+1 rows, so it never pays an exact count of a huge frame.
    ``not at_most(df, 0)`` is the emptiness check."""
    return df.limit(n + 1).count() <= n


def semi_filter(df: DataFrame, keys_df: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Keep rows whose key exists in keys_df (J6 — the reference's
    valid-id set filters, loader_NeonDB.py:493-500, without collecting).

    The broadcast is GUARDED: key sets that scale with the fact side
    (e.g. one id per market) must not be force-broadcast past AQE's size
    checks — at 100 TB that is a driver OOM. The ``at_most`` probe
    chooses broadcast for genuinely small sets and leaves big ones to
    AQE's own shuffle/broadcast decision.

    Streaming inputs skip the probe entirely (a count on a streaming
    frame throws) — the call stays a pure transformation and Spark's
    own stream-static/stream-stream planning applies."""
    on = [on] if isinstance(on, str) else list(on)
    keys = keys_df.select(*on).distinct()
    if df.isStreaming or keys_df.isStreaming:
        return df.join(keys, on=on, how="left_semi")
    # the probe pins NOTHING (a localCheckpoint here would leave its
    # blocks in executor storage for the session lifetime on the large
    # path — DataFrame.unpersist does not release checkpoint RDD
    # blocks), so the small path re-derives the bounded key set lazily
    # inside the broadcast; the large path joins the lazy distinct
    # unhinted so AQE picks the strategy.
    return df.join(maybe_broadcast(keys), on=on, how="left_semi")


def maybe_broadcast(df: DataFrame, cap: int | None = None) -> DataFrame:
    """Broadcast guard: attach the broadcast hint only when ``at_most``
    proves the side bounded by ``cap`` (default ``SEMI_BROADCAST_CAP``,
    read at call time).  Large sides fall through UNHINTED so
    AQE/shuffle handles linear-growth sides without driver OOM at scale.
    Streaming frames skip the probe (count would throw)."""
    if df.isStreaming:
        return df
    small = at_most(df, SEMI_BROADCAST_CAP if cap is None else cap)
    return F.broadcast(df) if small else df


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
