"""Pipeline orchestrator — the engine's ``main.py`` (reference
``main.py:289-373``).

The reference chains: existence probe → bronze extraction (subprocess) →
S3 mirror → silver transform → pre-load validation → gold load →
post-load validation. Here the whole flow is one SparkSession and one lazy
plan per stage; process/thread boundaries dissolve into Spark scheduling
(SURVEY §3.1). Stages:

1. bronze   — REST ingest (or existing bronze parquet) per entity
2. silver   — clean/dedup/type recipes + gaming filter/enrichment
3. gold     — star-schema build, partitioned writes, idempotent upserts
4. validate — counts / uniqueness / orphan checks (fails the run if dirty)
5. report   — volumetry JSON (S11)

Run: ``python -m ra2_datalake_linaresjoan_spark.cli --base /path/to/lake``
(bronze parquet expected under ``<base>/bronze/<entity>``).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, SparkSession

from ra2_datalake_linaresjoan_spark.plans.pipelines import (
    clean_events,
    clean_markets,
    clean_series,
    enrich_gaming_markets,
    gaming_market_filter,
    gaming_summary,
)
from ra2_datalake_linaresjoan_spark.plans.star_schema import build_gold, write_gold
from ra2_datalake_linaresjoan_spark.plans.validator import validate_gold
from ra2_datalake_linaresjoan_spark.plans.volumetry import volumetry_report
from ra2_datalake_linaresjoan_spark.session import get_spark


def run_pipeline(
    spark: SparkSession,
    markets: DataFrame,
    events: DataFrame,
    series: DataFrame,
    silver_path: str,
    gold_path: str,
) -> dict:
    """Silver → gold → validate → report over already-loaded bronze frames.
    Returns {"validation": ..., "volumetry": ..., "summary": [...]} and
    raises RuntimeError when integrity checks fail (the reference logs and
    continues; the engine fails loudly)."""
    silver = {
        "markets": enrich_gaming_markets(gaming_market_filter(clean_markets(markets))),
        "events": clean_events(events),
        "series": clean_series(series),
    }

    # the validator + volumetry + summary fire ~20 separate actions over
    # these frames; each would re-derive the whole cleaning lineage (a
    # count() storm, SURVEY §7.4.7). So every layer is written to the lake
    # and read back, and the medallion's own silver and gold tables double
    # as the materialization. Each read-back carries the schema of the
    # frame just written, so no read fires a footer-inference job.
    for name, df in silver.items():
        df.write.mode("overwrite").parquet(os.path.join(silver_path, name))
    silver = {
        name: spark.read.schema(df.schema).parquet(os.path.join(silver_path, name))
        for name, df in silver.items()
    }

    gold = build_gold(spark, silver["markets"], silver["events"], silver["series"])
    write_gold(gold, gold_path)
    gold = {
        name: spark.read.schema(df.schema).parquet(os.path.join(gold_path, name))
        for name, df in gold.items()
    }

    report = validate_gold(gold)
    if not report.ok:
        raise RuntimeError(f"gold integrity failed: {report.orphans}")

    vol = volumetry_report(
        silver,
        {
            "markets_per_event": (
                gold["fact_mercado_evento_gaming"],
                "evento_id",
                "mercado_id",
            ),
            "events_per_tag": (gold["fact_evento_tag_gaming"], "tag_id", "evento_id"),
        },
    )
    summary = [r.asDict() for r in gaming_summary(silver["markets"]).collect()]
    return {
        "validation": {
            "counts": report.counts,
            "uniqueness": report.uniqueness,
            "orphans": report.orphans,
            "stats": report.stats,
        },
        "volumetry": vol,
        "summary": summary,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", help="lake root (bronze/<entity> parquet)")
    ap.add_argument("--report", default=None, help="write the JSON report here")
    ap.add_argument(
        "--query",
        default=None,
        help="run one registered query by name against --sf-dir and print it "
        "(use --query list to enumerate)",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="table directory for --query (parquet per table)",
    )
    args = ap.parse_args()

    if args.query:
        from ra2_datalake_linaresjoan_spark import queries as q

        registry = q.queries()
        if args.query == "list":
            print("\n".join(sorted(registry)))
            return
        if args.query not in registry:
            raise SystemExit(f"unknown query {args.query!r}; try --query list")
        spark = get_spark(app_name=f"ra2_query_{args.query}")
        registry[args.query](spark, args.sf_dir).show(50, truncate=False)
        return

    if not args.base:
        raise SystemExit("--base is required unless --query is given")
    spark = get_spark(app_name="ra2_pipeline")
    frames = {}
    is_local = "://" not in args.base or args.base.startswith("file:")
    for entity in ("markets", "events", "series"):
        p = os.path.join(args.base, "bronze", entity)
        # existence pre-check only works on the driver's local FS; for
        # object-store/HDFS URIs let the Spark reader raise its own
        # (path-specific) error instead of wrongly rejecting valid lakes
        if is_local and not os.path.exists(p.removeprefix("file:")):
            raise SystemExit(f"missing bronze table: {p}")
        frames[entity] = spark.read.parquet(p)

    out = run_pipeline(
        spark,
        frames["markets"],
        frames["events"],
        frames["series"],
        gold_path=os.path.join(args.base, "gold"),
        silver_path=os.path.join(args.base, "silver"),
    )
    doc = json.dumps(out, indent=2, default=str)
    if args.report:
        with open(args.report, "w") as f:
            f.write(doc)
    print(doc)


if __name__ == "__main__":
    main()
