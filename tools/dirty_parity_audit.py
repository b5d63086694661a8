"""Registry-wide DIRTY-DATA oracle parity audit.

The driver's correctness gate compares Spark vs DuckDB on CLEAN
testdata, and the universal null-riddled sweep checks only that Spark
EXECUTES on dirty data.  This tool closes the gap between them: it
builds the same null-riddled corpus the sweep uses (1-in-3 rows with
every nullable column nulled; array columns additionally get
element-interior nulls), registers DuckDB views over the SAME dirty
parquet, and runs every registered query on BOTH engines, comparing
with the driver-replica harness.

Output: one line per query —
  MATCH        engines agree on the dirty corpus
  MISMATCH     both ran, values/rows differ (cross-engine divergence)
  DUCK_ERR     the oracle SQL errors on dirty data (usually the
               '0x'-hash-cast class) while Spark runs
  SPARK_ERR    the Spark side errors (ANSI arithmetic on dirty data)
  BOTH_ERR     both error

Usage: python tools/dirty_parity_audit.py [only_csv_names]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, TimestampNTZType, TimestampType

from ra2_datalake_linaresjoan_spark.sources.readers import TESTDATA_SCHEMAS, read_testdata

SF = "/root/testdata/sf0.001"

#: timestamp fuzz values: the last micro before the epoch (the floor-div
#: negative-epoch class) and the last micro of signed 32-bit seconds
TS_BOUNDARIES = ("1969-12-31 23:59:59.999999", "2038-01-19 03:14:07.999999")

#: Cross-engine divergences on dirty data, by query name — the
#: documented BACKLOG this audit ratchets down each round.  Every OTHER
#: registry query must MATCH (the env-gated pytest sweep in
#: tests/test_dirty_parity_gate.py enforces it); removing a name here
#: requires its fix to show MATCH in a fresh audit run.
#:
#: ROUND 9: the entire round-8 backlog of 39 names was fixed and
#: re-audited to MATCH — the dict is now EMPTY and the gate fails on
#: ANY divergence. The class recipes that closed it (keep for future
#: regressions):
#:
#: Classes, refined from the round-8 one-line diffs (fix recipe each):
#: - embclean: NULL/interior-NULL/zero-norm vectors diverge between the
#:   numpy path's silent drops and the SQL side — route the query
#:   through queries._emb_clean + EMB_CLEAN_SQL (the round-8 cosine
#:   fix; semantic_kmeans/semantic_prune collapse 8 rows to 1 today).
#: - nullts: a NULL-ts group survives as an extra row/day in DuckDB
#:   while Spark's window()/to_date drops or reorders it — lockstep
#:   `ts IS NOT NULL` before the time bucketing (row counts are off by
#:   exactly the NULL group: 39 vs 40, 5 vs 6).
#: - nulltext: token/flag counts on NULL-text docs differ (concat_ws
#:   vs ||, size(split(NULL)), md5(NULL) groups) — lockstep text
#:   filters or sentinels (the dup_inflation/quality_survivor recipe).
#: - statsnull: NULL groups/values reach the closed-form statistic and
#:   the two engines disagree on NULL propagation vs zero-fill —
#:   per-query complete-case filters plus CASE-WHEN guards (the
#:   exact_corr_moments recipe); gini/ntile are rank-tie variants
#:   (NULL keys order first vs last in the rank window).
#: - binary: multimodal byte paths (NULL payloads into the fake
#:   decode) — guard the payload like the text class.
KNOWN_DIVERGENT: dict[str, str] = {}

#: Round-12 per-row unicode carrier table (picked by row id).  Each entry
#: targets a specific cross-engine case-fold divergence class:
#: Turkish İ/ı (full lower adds U+0307), ß→SS vs ẞ, Greek capital/final
#: sigma context, Kelvin sign K→ASCII k (can complete an ASCII keyword
#: under Java lower() only), ligatures (ﬁ/ﬃ do NOT decompose under
#: lower), combining marks (café composed vs decomposed), fullwidth
#: letters, and a mixed-script homoglyph.  Several embed ASCII words
#: ('spark', 'the', 'value', 'error') adjacent to the carrier so keyword
#: filters and stopword/marker matching see the fold boundary, not just
#: tokenizers.
UNICODE_CARRIERS: tuple[str, ...] = (
    "\u0130stanbul stra\u00dfe \u03a3\u0399\u03a3 \ufb01n",
    "the SPAR\u212a value",  # U+212A KELVIN: completes 'spark' under case fold
    "D\u0130YARBAKIR \u0131\u011fd\u0131r the of",  # Turkish I-dot / dotless-i
    "GROSSE STRASSE gro\u1e9ee \u00df",  # U+1E9E capital sharp s
    "\u039f\u0394\u03a5\u03a3\u03a3\u0395\u03a5\u03a3 \u03bf\u03b4\u03c5\u03c3\u03c3\u03b5\u03c5\u03c2 the",  # final-sigma context
    "cafe\u0301 caf\u00e9 the and",  # combining acute vs precomposed
    "\ufb03 \ufb06 \ufb01n o\ufb03ce error",  # ligatures beside 'error'
    "\uff33\uff30\uff21\uff32\uff2b \uff53\uff54ream the",  # fullwidth letters
    "\u041c\u041e\u0421\u041a\u0412\u0410 \u041c\u043e\u0441\u043a\u0432\u0430 the is",  # Cyrillic
    "\u0130\u0130\u0130 \u00df\u00df\u00df \u03a3\u03a3\u03a3",  # carrier-only, no ASCII anchor
    # round-13 whitespace-class carriers (the two deferred semantics-probe
    # classes, SCALE.md round-12 close): U+000B VERTICAL TAB is inside
    # Java's \s but OUTSIDE RE2's \u2014 '\s+' tokenizers split 'alpha\x0bbeta'
    # into 2 words in Spark, 1 in DuckDB until the oracle uses [\s\x0b]+;
    # edge VTs also probe the trim boundary (neither engine's trim may
    # strip them)
    "alpha\x0bbeta the value\x0b",
    # U+00A0 NBSP: DuckDB's default trim() strips unicode spaces, Spark's
    # F.trim strips ASCII space only \u2014 edge NBSPs diverge until the oracle
    # pins trim(x, ' '); mid-string NBSP is a word char to BOTH \s
    # flavors (Java and RE2 \s are ASCII-only) so token counts must agree
    "\u00a0the pad\u00a0ded value\u00a0",
    # non-BMP (astral) carrier: mathematical sans-serif 'SPARK' + an
    # emoji \u2014 exercises the ascii_text_pred fences (char_ngram_langid,
    # udtf_char_shingles, edit_distance_match) on 4-byte UTF-8 where
    # DuckDB walks bytes and Spark walks codepoints, and UTF8String's
    # surrogate-pair handling in substr/length
    "\U0001d5e6\U0001d5fd\U0001d5ee\U0001d5ff\U0001d5f8 the \U0001f600 ok",
    # decomposed combining CLUSTER with reordered marks: q + dot-above +
    # dot-below vs q + dot-below + dot-above are canonically equivalent
    # but bytewise different \u2014 no engine may normalize (both treat text
    # as codepoint sequences; a divergence here means one engine
    # NFC-normalized behind our back)
    "q\u0307\u0323 q\u0323\u0307 the end",
)


def build_dirty_dir(spark: SparkSession, out_dir: str) -> str:
    import zlib

    ts_cells = 0

    # FK-COHERENT sampling (round-13 close review): a bare limit(60)
    # per table breaks referential overlap — the sampled lineitem rows
    # mostly reference orderkeys OUTSIDE the sampled orders, so poisoned
    # child values rarely SURVIVE a join and every join-downstream cast
    # sits in a coverage shadow (how bellman_ford_routes' unguarded
    # cents cast hid through two audited rounds).  Sample parents
    # first, then keep only child rows whose FK lands in the parent
    # sample: customer → orders → lineitem.  First adoption run caught
    # hhi_concentration's LONG/LONG share division raising on a
    # zero-total nation where the oracle's DOUBLE division sailed past.
    # samples read through the declared catalog, so each timestamp column
    # carries its declared type (events.ts TIMESTAMP, the TPC-H dates
    # TIMESTAMP_NTZ) and the timestamp fuzz below reaches every one
    cust = read_testdata(spark, SF, "customer").limit(60)
    cust_keys = [r[0] for r in cust.select("c_custkey").collect()]
    orders_all = read_testdata(spark, SF, "orders")
    orders = orders_all.where(F.col("o_custkey").isin(cust_keys)).limit(60)
    okeys = [r[0] for r in orders.select("o_orderkey").collect()]
    li_all = read_testdata(spark, SF, "lineitem")
    lineitem = li_all.where(F.col("l_orderkey").isin(okeys)).limit(60)
    _fk_sampled = {"customer": cust, "orders": orders, "lineitem": lineitem}

    for name in TESTDATA_SCHEMAS:
        df = _fk_sampled.get(name)
        if df is None:
            df = read_testdata(spark, SF, name).limit(60)
        nullable = [fl.name for fl in df.schema.fields if fl.nullable]

        def _nulled(fl):
            rid = F.monotonically_increasing_id()
            # per-column phase AND period: columns go NULL on DIFFERENT
            # rows with co-prime-ish cycles. The round-8 generator
            # nulled every column on the SAME 1-in-3 rows (correlated
            # dirt); the round-9 phase-only fix still had just 3 phase
            # classes, so doc_id/text/lang (all crc32 % 3 == 0) STILL
            # nulled together and a NULL-id doc with real text never
            # existed — the round-10 llm-batch review found 4 confirmed
            # divergences living in exactly that shadow. Varying the
            # period (3/4/5 by name hash) makes every pairwise
            # (NULL, real) combination appear within a 60-row cycle.
            # divisors chosen so every same-table key pair that a query
            # might join/group on (doc_id-text, text-lang, ts-user_id,
            # user_id-event_type, vec_id-embedding) lands in a distinct
            # (period, offset) cell
            h = zlib.crc32(fl.name.encode())
            period = 3 + (h // 3) % 3
            off = (h // 11) % period
            whole_null = F.when(
                ((rid + off) % period == 0) & F.lit(fl.name in nullable),
                F.lit(None).cast(fl.dataType),
            )
            # ROUND 11: value-fuzz layer — adversarial VALUES both
            # engines must agree on, not just nulls (round-10 verdict
            # ask #5): signed zeros / ±Inf / NaN in doubles,
            # 'NaN'/'Infinity'-style strings where numeric normalizers
            # read, timestamps at the micros boundary (incl. one
            # pre-epoch value — the floor-div negative-epoch class),
            # and ZERO-LENGTH arrays as distinct from NULL arrays.
            # Periods 11/13 are co-prime with the null periods (3/4/5)
            # and the ''-string period (7), so fuzz values land on rows
            # where sibling columns are real, null, and empty alike.
            h2 = zlib.crc32((fl.name + ":vfuzz").encode())
            voff = h2 % 11
            if isinstance(fl.dataType, ArrayType):
                holed = F.transform(
                    F.col(fl.name),
                    lambda x, i: F.when(i % 3 == 0, F.lit(None)).otherwise(x),
                )
                # ragged: 1-in-5 rows lose the tail of the array — the
                # wrong-dimension vector class EMB_CLEAN's len guard
                # exists for (DuckDB's list_cosine RAISES on mismatched
                # lengths; Spark zip_with silently NULLs)
                ragged = F.slice(
                    F.col(fl.name),
                    1,
                    F.greatest(
                        (F.size(fl.name) * 3 / 4).cast("int"), F.lit(1)
                    ),
                )
                return (
                    whole_null.when(
                        (rid + voff) % 11 == 6,
                        F.array().cast(fl.dataType),
                    )
                    .when((rid + off) % 3 == 1, holed)
                    .when((rid + off) % 5 == 2, ragged)
                    .otherwise(F.col(fl.name))
                    .alias(fl.name)
                )
            if fl.dataType.simpleString() == "string":
                # empty-but-not-NULL strings: the ''-vs-NULL boundary
                # (fingerprints of '', concat identities, blank-id
                # filters) that an all-NULL generator never exercises;
                # plus numeric-edge tokens that a cast/normalizer might
                # accept asymmetrically across engines
                # carrier rows dodge the null arm BY CONSTRUCTION: with
                # period 3 a fixed residue could coincide with the null
                # arm's residue class for an unlucky (off, voff) pair and
                # silently null EVERY carrier row of that column — the
                # failure mode that left the round-13 carriers dead on
                # arrival under the old %17 selector.  ~20 eligible rows
                # minus ~1/3 null-arm overlap still walks every carrier
                # index (stride 9 ≡ 3·3 mod 14, gcd(9,14)=1).
                cres = (1 + voff) % 3
                if period == 3 and (-off) % 3 == cres:
                    cres = (cres + 1) % 3
                emptied = F.when(
                    # unicode case-fold carriers (round 11, second
                    # layer; round 12: RANDOMIZED per row): Java and
                    # utf8proc fold these differently — lower('İ') =
                    # 'i'+U+0307 vs 'i', upper('ß') = 'SS' vs 'ẞ',
                    # Greek sigma context rules, 'K' (Kelvin) → ASCII
                    # 'k' — so any lower-before-tokenize/match pipeline
                    # sees different token sets per engine.  The
                    # lockstep recipe is the shared ascii_words /
                    # ascii_lower contract (translate the 26 ASCII
                    # uppercase letters, THEN split/match — a pure char
                    # map, identical in every engine).  Round-11's
                    # carrier was IDENTICAL on every fuzzed row, which
                    # masked duplication-insensitive queries; the
                    # round-12 sharpening picks a DIFFERENT carrier per
                    # row (deterministically, by row id) so distinct-
                    # counts, groupings and dedup survivors all shift
                    # if an engine-divergent fold survives anywhere.
                    # Round-13 re-keying: the round-12 selector
                    # ((rid+voff) % 17 == 4, index = (rid+voff) % n)
                    # DEGENERATED — on a 60-row corpus the residue class
                    # has only 4 solutions and the index inherits the
                    # same residue, so every column drew the SAME ≤4
                    # carriers and new table entries were dead rows (the
                    # round-13 VT/NBSP/astral carriers appeared in ZERO
                    # columns, verified empirically).  Period 3 on the
                    # null-dodging residue gives ~20 eligible rows per
                    # column; the ×3 stride (≡ 1 mod 14 over the step-3
                    # row spacing... 9 ≡ 9; gcd(9,14)=1) walks ALL 14
                    # indices, rotated per column by its own hash, so
                    # every carrier class reaches every string column.
                    (rid + voff) % 3 == cres,
                    F.element_at(
                        F.array(*[F.lit(c) for c in UNICODE_CARRIERS]),
                        (
                            ((rid + voff) * 3 + h2)
                            % len(UNICODE_CARRIERS)
                            + 1
                        ).cast("int"),
                    ),
                ).when(
                    ((rid + off) % 7 == 3) & F.lit(fl.name in nullable),
                    F.lit(""),
                ).when((rid + voff) % 11 == 2, F.lit("NaN")).when(
                    (rid + voff) % 11 == 5, F.lit("Infinity")
                ).when((rid + voff) % 11 == 8, F.lit("-Infinity")).when(
                    (rid + voff) % 13 == 9, F.lit("1e308")
                )
                return (
                    whole_null.otherwise(
                        F.coalesce(emptied, F.col(fl.name))
                    ).alias(fl.name)
                )
            if fl.dataType.simpleString() == "double":
                fuzzed = (
                    F.when((rid + voff) % 11 == 1, F.lit(float("nan")))
                    .when((rid + voff) % 11 == 4, F.lit(float("inf")))
                    .when((rid + voff) % 11 == 7, F.lit(float("-inf")))
                    .when((rid + voff) % 13 == 3, F.lit(-0.0))
                    # round-13 (advisor): FINITE out-of-cents-domain
                    # values — they pass every isfinite/isnan guard but
                    # overflow CAST(round(x*100) AS BIGINT), so only the
                    # |x| < 9.2e16 domain bound (exact_cents) keeps the
                    # two engines lockstep.  Period 19 is co-prime with
                    # 11/13 so they land beside NaN/Inf rows, not on
                    # them.  1e308 is fully-absorbing in float sums
                    # (deterministic); 9.3e16 sits just past the bound.
                    .when((rid + voff) % 19 == 10, F.lit(9.3e16))
                    .when((rid + voff) % 19 == 15, F.lit(-1e308))
                    # round-13 close review: a POSITIVE finite value
                    # past 2^63 — the floor-saturation class needs it
                    # (9.3e16 still fits BIGINT after floor(); -1e308
                    # loses every >= bound): Spark floor()/long-cast
                    # silently pins to LONG_MAX where DuckDB raises,
                    # so an unbounded floor band reads digit "9" off
                    # the saturation instead of failing.  Period 23 is
                    # co-prime with 11/13/19.
                    .when((rid + voff) % 23 == 11, F.lit(1e19))
                )
                return (
                    whole_null.otherwise(
                        F.coalesce(fuzzed, F.col(fl.name))
                    ).alias(fl.name)
                )
            if isinstance(fl.dataType, (TimestampType, TimestampNTZType)):
                # the micros boundary on both sides of the epoch, as the
                # column's own type (UTC session: same wall clock for both)
                pre_epoch, y2038 = (F.lit(b).cast(fl.dataType) for b in TS_BOUNDARIES)
                fuzzed = F.when((rid + voff) % 13 == 1, pre_epoch).when(
                    (rid + voff) % 13 == 6, y2038
                )
                return (
                    whole_null.otherwise(
                        F.coalesce(fuzzed, F.col(fl.name))
                    ).alias(fl.name)
                )
            return whole_null.otherwise(F.col(fl.name)).alias(fl.name)

        out = df.select(*[_nulled(fl) for fl in df.schema.fields])
        # the testdata stores every timestamp timezone-naive; the dirty
        # copy does too, so DuckDB reads the same column types as on the
        # clean corpus (a TIMESTAMP column would land as TIMESTAMPTZ)
        out = out.select(*[
            F.col(fl.name).cast(TimestampNTZType())
            if isinstance(fl.dataType, TimestampType) else F.col(fl.name)
            for fl in out.schema.fields
        ])
        # coalesce(1): deterministic single part file per table so
        # monotonically_increasing_id row selection is reproducible
        out.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        back = read_testdata(spark, out_dir, name)
        for fl in back.schema.fields:
            if isinstance(fl.dataType, (TimestampType, TimestampNTZType)):
                bounds = [F.lit(b).cast(fl.dataType) for b in TS_BOUNDARIES]
                ts_cells += back.where(F.col(fl.name).isin(*bounds)).count()
    print(f"timestamp cells fuzzed to a micros boundary: {ts_cells}")
    return out_dir


def main() -> int:
    only = set(sys.argv[1].split(",")) if len(sys.argv) > 1 else None
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dirty-parity-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="dirty_parity_")
    try:
        return audit(spark, build_dirty_dir(spark, tmp), only)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def audit(spark: SparkSession, d: str, only: set[str] | None) -> int:
    from oracle_harness import compare, duck_con

    from ra2_datalake_linaresjoan_spark.queries import oracle_sql, queries

    con = duck_con(d)
    qs, sqls = queries(), oracle_sql()
    tallies: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = sqls.get(name)
        if sql is None:
            tallies.setdefault("NO_ORACLE", []).append(name)
            print(f"{name}: NO_ORACLE")
            continue
        s_err = d_err = None
        sdf = None
        try:
            sdf = fn(spark, d)
            sdf.collect()
        except Exception as e:  # noqa: BLE001
            s_err = str(e).splitlines()[0][:140]
        try:
            con.execute(sql).fetchall()
        except Exception as e:  # noqa: BLE001
            d_err = str(e).splitlines()[0][:140]
        if s_err and d_err:
            status, detail = "BOTH_ERR", f"spark={s_err} duck={d_err}"
        elif s_err:
            status, detail = "SPARK_ERR", s_err
        elif d_err:
            status, detail = "DUCK_ERR", d_err
        else:
            ok, msg = compare(sdf, con, sql)
            status, detail = ("MATCH", "") if ok else ("MISMATCH", msg.replace("\n", " | ")[:200])
        tallies.setdefault(status, []).append(name)
        print(f"{name}: {status}" + (f" — {detail}" if detail else ""))
    print("\n=== SUMMARY ===")
    for status in sorted(tallies):
        names = tallies[status]
        print(f"{status}: {len(names)}")
        if status != "MATCH":
            for n in sorted(names):
                marker = " (known backlog)" if n in KNOWN_DIVERGENT else ""
                print(f"  {n}{marker}")
    bad = {
        n
        for status, names in tallies.items()
        if status not in ("MATCH", "NO_ORACLE")
        for n in names
        if n not in KNOWN_DIVERGENT
    }
    fixed = sorted(
        n for n in KNOWN_DIVERGENT if n in tallies.get("MATCH", [])
    )
    if fixed:
        print(f"\nbacklog entries now MATCHING (remove from KNOWN_DIVERGENT): {fixed}")
    if bad:
        print(f"\nNEW divergences outside the backlog: {sorted(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
