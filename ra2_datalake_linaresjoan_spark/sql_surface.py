"""Spark SQL surface: the testdata tables are reachable via ``spark.sql``.

The reference's query language IS SQL (validator_warehouse.py:72-248);
this module gives the engine the same front door: register the testdata
tables as temp views and run any ANSI query through Catalyst. The gold
integrity checks live in one place, ``plans/validator.py``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ra2_datalake_linaresjoan_spark.sources.readers import TESTDATA_TABLES, load_tables


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> list[str]:
    """Register the sf directory's parquet tables as temp views so users
    can ``spark.sql('SELECT ... FROM lineitem ...')`` directly."""
    frames = load_tables(spark, sf_dir, tables)
    for t, df in frames.items():
        df.createOrReplaceTempView(t)
    return list(frames)
