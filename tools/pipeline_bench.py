"""End-to-end pipeline benchmark: silver clean → gaming enrich → gold
star schema → full integrity validation, at reference-comparable volume.

BASELINE.md's headline numbers are 3-5 min end-to-end over ~452 K markets
(pandas + row-at-a-time loads, `README.md:317-322`) and ~50 K rows/s of
warehouse load throughput. This harness replays the engine's whole
medallion flow (`cli.run_pipeline` — the same function the CLI runs,
writing silver and gold into a temporary lake) on the messy pipeline
fixtures replicated to a comparable row count, and prints ONE JSON line
with wall seconds, rows/s, the Spark jobs the ``run_pipeline`` call
fired (its job group in the status tracker) and the py4j commands it sent
to the JVM (driver-side plan construction; each Column node built in
Python is one).

Run: python tools/pipeline_bench.py [n_copies]   (default 50000 ≈ 450 K rows)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.cli import run_pipeline
from ra2_datalake_linaresjoan_spark.session import get_spark


def replicate(spark, rows, cols, n_copies: int, id_col: str = "id"):
    """Fan each fixture row out to ``n_copies`` rows with distinct ids —
    executor-side (crossJoin with a range), no driver-side list building."""
    base = spark.createDataFrame(rows, list(cols))
    copies = spark.range(n_copies).withColumnRenamed("id", "_copy")
    out = base.crossJoin(copies)
    return out.withColumn(
        id_col,
        F.when(
            F.col(id_col).isNotNull(),
            F.concat_ws("_", F.col(id_col), F.col("_copy")),
        ),
    ).drop("_copy")


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from tests.test_pipeline_gold import (
        EVENT_COLS,
        EVENTS,
        MARKET_COLS,
        MARKETS,
        SERIES,
        SERIES_COLS,
    )

    spark = get_spark(app_name="ra2_pipeline_bench")
    markets = replicate(spark, MARKETS, MARKET_COLS, n_copies)
    # dims stay reference-shaped (hundreds of events/series per 450 K
    # markets, volumetry_report.json:4-8 ratio) — replicate them 100×
    events = replicate(spark, EVENTS, EVENT_COLS, max(n_copies // 500, 1))
    series = replicate(spark, SERIES, SERIES_COLS, max(n_copies // 500, 1))
    n_in = markets.count() + events.count() + series.count()

    lake = tempfile.mkdtemp(prefix="pipeline_bench_")
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    py4j_calls = 0

    def counting(*args, **kwargs):
        nonlocal py4j_calls
        py4j_calls += 1
        return send(*args, **kwargs)

    sc.setJobGroup("run_pipeline", "cli.run_pipeline")
    client.send_command = counting
    try:
        t0 = time.perf_counter()
        out = run_pipeline(
            spark, markets, events, series,
            silver_path=os.path.join(lake, "silver"), gold_path=os.path.join(lake, "gold"),
        )
        wall = time.perf_counter() - t0
    finally:
        client.send_command = send
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(lake, ignore_errors=True)
    # the status store fills from the listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("run_pipeline"))

    v = out["validation"]
    ok = all(v["uniqueness"].values()) and not any(v["orphans"].values())
    print(
        json.dumps(
            {
                "metric": "pipeline_end_to_end_sec",
                "value": round(wall, 3),
                "unit": "sec",
                "rows_in": n_in,
                "rows_per_sec": int(n_in / wall),
                "spark_jobs": jobs,
                "py4j_calls": py4j_calls,
                "validation_clean": ok,
                "baseline_envelope_sec": "180-300 (reference 3-5 min end-to-end)",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
