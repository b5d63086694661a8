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


#: keys_df sizes up to this many rows force-broadcast in semi_filter;
#: larger key sets fall back to a plain left_semi join so Catalyst/AQE
#: pick the strategy from real sizes (the capped ``limit(N+1).count()``
#: probe convention, cf. queries_ext23 ngram_contamination).
SEMI_BROADCAST_CAP = 1_000_000


def semi_filter(df: DataFrame, keys_df: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Keep rows whose key exists in keys_df (J6 — the reference's
    valid-id set filters, loader_NeonDB.py:493-500, without collecting).

    The broadcast is GUARDED: key sets that scale with the fact side
    (e.g. one id per market) must not be force-broadcast past AQE's size
    checks — at 100 TB that is a driver OOM. A capped count probe (stops
    scanning at CAP+1 rows) chooses broadcast for genuinely small sets
    and leaves big ones to AQE's own shuffle/broadcast decision.

    Streaming inputs skip the probe entirely (a count on a streaming
    frame throws) — the call stays a pure transformation and Spark's
    own stream-static/stream-stream planning applies."""
    on = [on] if isinstance(on, str) else list(on)
    keys = keys_df.select(*on).distinct()
    if df.isStreaming or keys_df.isStreaming:
        return df.join(keys, on=on, how="left_semi")
    # plain capped count probe: scans at most CAP+1 distinct keys and
    # pins NOTHING (a localCheckpoint here would leave its blocks in
    # executor storage for the session lifetime on the large path —
    # DataFrame.unpersist does not release checkpoint RDD blocks). The
    # small path re-derives the bounded key set lazily inside the
    # broadcast — one extra scan of a provably-small set; the large
    # path joins the lazy distinct unhinted so AQE picks the strategy.
    probe = keys.limit(SEMI_BROADCAST_CAP + 1)
    if probe.count() <= SEMI_BROADCAST_CAP:
        return df.join(F.broadcast(probe), on=on, how="left_semi")
    return df.join(keys, on=on, how="left_semi")


def maybe_broadcast(df: DataFrame, cap: int = SEMI_BROADCAST_CAP) -> DataFrame:
    """Capped-count broadcast guard (the queries_ext32 ``_maybe_broadcast``
    convention, shared): probe at most ``cap``+1 rows — never an exact
    count of a huge side — and attach the broadcast hint only when the
    side is provably bounded.  Large sides fall through UNHINTED so
    AQE/shuffle handles linear-growth sides without driver OOM at scale.
    Streaming frames skip the probe (count would throw)."""
    if df.isStreaming:
        return df
    small = df.limit(cap + 1).count() <= cap
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
    broadcast_dim: bool = True,
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
    d = (
        dim.select(F.col(dim_key).alias("_fk_nat"), F.col(dim_id).alias(out_col))
        .groupBy("_fk_nat")
        .agg(F.min(out_col).alias(out_col))
    )
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, fact[fact_key] == d["_fk_nat"], "left").drop("_fk_nat")
