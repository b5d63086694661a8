"""Readers (SURVEY.md §2.1 S4 Delta read, plus parquet/csv/json).

Delta Lake is the reference's bronze format (extractor_polymarket.py:208-213);
this environment has no delta-spark, so ``format='delta'`` is gated behind a
runtime check and everything defaults to Parquet (same columnar layout,
same pushdown behavior). On a cluster with Delta available the same calls
serve Delta paths unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: The driver's synthetic star-schema tables (TESTDATA.md), declared the
#: way a Delta log carries a table's schema: reads skip the per-read
#: footer-inference job and an off-contract file fails instead of drifting.
#: Every type is the one footer inference gives, except ``events.ts``: its
#: parquet column is timezone-naive micros, declared TIMESTAMP so Spark
#: reads it directly as the UTC instant every window query works on.
TESTDATA_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE,"
        " l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING,"
        " l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


def pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC: date math on ``events.ts`` must be
    UTC wall-clock like the DuckDB oracle's, and a plain session may not be."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read testdata table ``name`` from ``sf_dir`` with its declared schema."""
    pin_utc(spark)
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def _delta_available(spark: SparkSession) -> bool:
    try:
        return "io.delta" in spark.conf.get("spark.sql.extensions", "")
    except Exception:
        return False


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", **options) -> DataFrame:
    """Read a table; Delta when requested & available, else Parquet.

    CSV defaults to ``header=true`` to mirror ``write_table`` (which
    always writes a header) — without it a write/read round-trip ingests
    the header line as a data row and loses every column name. Callers
    reading headerless CSV pass ``header='false'`` explicitly."""
    if fmt == "delta" and not _delta_available(spark):
        fmt = "parquet"
    if fmt == "csv":
        options.setdefault("header", "true")
    return spark.read.format(fmt).options(**options).load(path)


def read_table_evolved(spark: SparkSession, path: str, **options) -> DataFrame:
    """Read a parquet table whose files span SCHEMA GENERATIONS (a bronze
    dir appended to while the upstream API grew columns): ``mergeSchema``
    unions every file footer's schema, so old files surface the new
    columns as NULL instead of being silently projected away or failing.

    Scale note: schema merging reads every file footer at planning time —
    fine for a bronze landing zone (thousands of files), wrong for a
    100 TB silver table, which should carry ONE authoritative schema (the
    medallion promotion step is exactly where the merge cost is paid once
    and then frozen)."""
    return (
        spark.read.format("parquet")
        .option("mergeSchema", "true")
        .options(**options)
        .load(path)
    )


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from an sf directory as a dict of
    DataFrames. Missing files are skipped (sf dirs may lack extension
    tables)."""
    out: dict[str, DataFrame] = {}
    for t in tables:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            out[t] = read_testdata(spark, sf_dir, t)
    return out
