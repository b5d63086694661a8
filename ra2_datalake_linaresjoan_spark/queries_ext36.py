"""Batch 36 (round 7): content fingerprints and two-phase (salted)
aggregation.

- ``content_fingerprint_audit`` — the table-integrity contract for
  incremental pipelines: every row hashes to a 60-bit digest and the
  TABLE digest is the XOR of row digests — a commutative, associative,
  partition-order-independent combine, so
  ``digest(full) == digest(base) XOR digest(delta)`` holds for ANY
  disjoint split and any execution order.  This is how a 100-TB
  pipeline verifies an incremental load without re-reading history:
  fold the delta digest into the stored base digest and compare.  The
  audit computes all three digests in ONE scan (conditional
  aggregates) and proves the identity = 0.
- ``two_phase_agg_audit`` — the salted GROUP BY companion to
  ``salted_skew_join`` (queries_ext31): a hot group key floods one
  reduce task; the manual fix aggregates by (key, salt) first, then
  merges partials per key.  The audit runs both routes and proves the
  merged partials equal the direct aggregate for EVERY key (exact
  integer cents), while reporting the max partial-group size the salt
  achieves vs the max raw group size.

Scale posture: one scan + 1-row aggregates (fingerprint); the
two-phase audit's comparison join is group-grain (|users| rows), keyed
and shuffled — nothing corpus-proportional is broadcast or collected.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.queries import _t

# ---------------------------------------------------------------------------
# content_fingerprint_audit — XOR-combinable table digests
# ---------------------------------------------------------------------------

_CF_DELTA_MOD = 10


def q_content_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: 60-bit XOR content digests of the events table, its
    base slice (event_id % 10 != 0) and its delta slice (% 10 == 0),
    plus the measured identity
    ``digest_base XOR digest_delta XOR digest_full == 0``.  Row hashes
    cover (event_id, type, cents); 15 hex chars keep the value positive
    in a BIGINT.  XOR is the one aggregate that is simultaneously
    order-independent, partition-independent and SUBTRACTIVE (removing
    a row re-XORs it out) — the right digest for incremental
    verification.  One scan, one 1-row aggregate."""
    from ra2_datalake_linaresjoan_spark.streaming.sketches import (
        row_digest_col,
    )

    # collision-hardened serialization (see row_digest_col): per-column
    # fixed-width tokens distinguish NULL placement and block delimiter
    # injection — concat_ws skipped nulls, so ('x', NULL, 'y') and
    # ('x', 'y', NULL) hashed identically and a value-shift corruption
    # was invisible to the digest
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    # exact_cents: a non-finite value digests as the NULL token 'n' in
    # both engines instead of raising on the BIGINT cast (round-11
    # value-fuzz)
    ev = _t(spark, sf_dir, "events").select(
        row_digest_col(
            F.col("event_id"),
            F.col("event_type"),
            exact_cents("value"),
        ).alias("h"),
        # coalesce: a NULL event_id must land in ONE slice (base), not
        # fall out of both while staying in digest_full — that broke the
        # xor identity on a clean table
        (
            F.coalesce(F.col("event_id") % _CF_DELTA_MOD, F.lit(-1)) == 0
        ).alias("is_delta"),
    )
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_full"),
        F.sum((~F.col("is_delta")).cast("long")).alias("n_base"),
        F.sum(F.col("is_delta").cast("long")).alias("n_delta"),
        F.expr("bit_xor(CASE WHEN NOT is_delta THEN h END)").alias(
            "digest_base"
        ),
        F.expr("bit_xor(CASE WHEN is_delta THEN h END)").alias(
            "digest_delta"
        ),
        F.expr("bit_xor(h)").alias("digest_full"),
    )
    return agg.select(
        "n_full",
        "n_base",
        "n_delta",
        "digest_base",
        "digest_delta",
        "digest_full",
        F.expr(
            "coalesce(digest_base, 0) ^ coalesce(digest_delta, 0)"
            " ^ coalesce(digest_full, 0)"
        ).alias("xor_identity"),
    )


SQL_CONTENT_FINGERPRINT_AUDIT = f"""
WITH tok AS (
  SELECT CASE WHEN event_id IS NULL THEN 'n'
              ELSE 'v' || md5(CAST(event_id AS VARCHAR)) END
      || CASE WHEN event_type IS NULL THEN 'n'
              ELSE 'v' || md5(CAST(event_type AS VARCHAR)) END
      || CASE WHEN NOT coalesce(isfinite(value) AND abs(value) < 9.2e16,
                                FALSE) THEN 'n'
              ELSE 'v' || md5(CAST(CAST(round(value * 100) AS BIGINT)
                                   AS VARCHAR)) END AS t,
         event_id
  FROM events
), ev AS (
  SELECT CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h,
         coalesce(event_id % {_CF_DELTA_MOD}, -1) = 0 AS is_delta
  FROM tok
)
SELECT CAST(count(*) AS BIGINT) AS n_full,
       CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
         AS n_base,
       CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(bit_xor(CASE WHEN NOT is_delta THEN h END) AS BIGINT)
         AS digest_base,
       CAST(bit_xor(CASE WHEN is_delta THEN h END) AS BIGINT)
         AS digest_delta,
       CAST(bit_xor(h) AS BIGINT) AS digest_full,
       CAST(xor(xor(coalesce(bit_xor(CASE WHEN NOT is_delta THEN h END), 0),
                    coalesce(bit_xor(CASE WHEN is_delta THEN h END), 0)),
                coalesce(bit_xor(h), 0)) AS BIGINT) AS xor_identity
FROM ev
"""


# ---------------------------------------------------------------------------
# two_phase_agg_audit — salted partial aggregation merged and verified
# ---------------------------------------------------------------------------

_TP_SALTS = 16


def q_two_phase_agg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the salted two-phase GROUP BY route — aggregate by
    (user, salt = event_id % 16) first, merge partials per user —
    proven equal to the direct per-user aggregate for EVERY user
    (exact integer cents), with the load numbers that justify it: the
    max (user, salt) partial group is what a reduce task actually
    holds under salting vs the max raw user group without it.  The
    verification join is user-grain, key-shuffled and NULL-SAFE: an
    all-NULL-cents user has s1 = s2 = NULL (equal, not a mismatch), and
    a NULL user_id matches itself across the two routes — `==` / USING
    semantics counted both as false mismatches in an audit whose whole
    job is proving equality. ``partial`` (|users|x16 rows, bounded) is
    localCheckpointed so its two consumers don't re-scan the corpus
    (the ext37 discipline; 3 scans -> 2)."""
    from ra2_datalake_linaresjoan_spark.operators.filters import exact_cents

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_id") % _TP_SALTS).alias("salt"),
        exact_cents("value").alias("cents"),
    )
    partial = (
        ev.groupBy("user_id", "salt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .localCheckpoint()
    )
    merged = partial.groupBy("user_id").agg(
        F.sum("n").alias("n2"), F.sum("s").alias("s2")
    )
    direct = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n1"), F.sum("cents").alias("s1")
    )
    cmp = direct.join(
        merged,
        direct["user_id"].eqNullSafe(merged["user_id"]),
        "full_outer",
    )
    mismatch = F.when(
        F.col("n1").eqNullSafe(F.col("n2"))
        & F.col("s1").eqNullSafe(F.col("s2")),
        F.lit(0),
    ).otherwise(1)
    audit = cmp.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(mismatch).alias("mismatch_users"),
        F.max("n1").alias("max_group_rows"),
        F.sum("s1").alias("total_cents"),
    )
    load = partial.agg(F.max("n").alias("max_partial_rows"))
    return audit.crossJoin(F.broadcast(load)).select(
        "n_users",
        "mismatch_users",
        "max_group_rows",
        "max_partial_rows",
        "total_cents",
        F.round(
            F.col("max_group_rows")
            / F.greatest(F.col("max_partial_rows"), F.lit(1)),
            4,
        ).alias("hot_key_relief"),
    )


SQL_TWO_PHASE_AGG_AUDIT = f"""
WITH ev AS (
  SELECT user_id, event_id % {_TP_SALTS} AS salt,
         CASE WHEN isfinite(value) AND abs(value) < 9.2e16
              THEN CAST(round(value * 100) AS BIGINT) END AS cents
  FROM events
), partial AS (
  SELECT user_id, salt, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM ev GROUP BY 1, 2
), merged AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS n2, CAST(sum(s) AS BIGINT) AS s2
  FROM partial GROUP BY 1
), direct AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(cents) AS BIGINT) AS s1
  FROM ev GROUP BY 1
), cmp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN n1 IS NOT DISTINCT FROM n2
                        AND s1 IS NOT DISTINCT FROM s2
                       THEN 0 ELSE 1 END)
              AS BIGINT) AS mismatch_users,
         CAST(max(n1) AS BIGINT) AS max_group_rows,
         CAST(sum(s1) AS BIGINT) AS total_cents
  FROM direct FULL OUTER JOIN merged
    ON direct.user_id IS NOT DISTINCT FROM merged.user_id
), load AS (
  SELECT CAST(max(n) AS BIGINT) AS max_partial_rows FROM partial
)
SELECT n_users, mismatch_users, max_group_rows, max_partial_rows,
       total_cents,
       round(max_group_rows * 1.0 / greatest(max_partial_rows, 1), 4)
         AS hot_key_relief
FROM cmp, load
"""


REGISTRY_EXT36: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
] = {
    "content_fingerprint_audit": (
        q_content_fingerprint_audit,
        SQL_CONTENT_FINGERPRINT_AUDIT,
    ),
    "two_phase_agg_audit": (q_two_phase_agg_audit, SQL_TWO_PHASE_AGG_AUDIT),
}
