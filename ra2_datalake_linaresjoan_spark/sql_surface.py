"""Spark SQL surface: everything the engine does is reachable via
``spark.sql`` too.

The reference's query language IS SQL (validation and statistics run as
PostgreSQL queries — validator_warehouse.py:72-248); this module gives
the engine the same front door: register the lake tables as temp views
and run any ANSI query through Catalyst, including the reference's own
validation SQL re-pointed at gold views (``validate_gold_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def register_gold_views(spark: SparkSession, gold: dict[str, DataFrame]) -> None:
    for name, df in gold.items():
        df.createOrReplaceTempView(name)


#: The reference's integrity checks as SQL (validator_warehouse.py:79-162),
#: runnable verbatim against the gold views.
GOLD_SQL_CHECKS: dict[str, str] = {
    "uniqueness_mercado": """
        SELECT count(DISTINCT mercado_id) = count(*) AS ok FROM dim_mercado_gaming
    """,
    "uniqueness_evento": """
        SELECT count(DISTINCT evento_id) = count(*) AS ok FROM dim_evento_gaming
    """,
    "orphans_evento_tag": """
        SELECT count(*) = 0 AS ok
        FROM fact_evento_tag_gaming f
        LEFT JOIN dim_evento_gaming e ON f.evento_id = e.evento_id
        LEFT JOIN dim_tag_gaming t ON f.tag_id = t.tag_id
        WHERE e.evento_id IS NULL OR t.tag_id IS NULL
    """,
    "orphans_mercado_evento": """
        SELECT count(*) = 0 AS ok
        FROM fact_mercado_evento_gaming f
        LEFT JOIN dim_mercado_gaming m ON f.mercado_id = m.mercado_id
        LEFT JOIN dim_evento_gaming e ON f.evento_id = e.evento_id
        WHERE m.mercado_id IS NULL OR e.evento_id IS NULL
    """,
    "orphans_metricas": """
        SELECT count(*) = 0 AS ok
        FROM fact_metricas_gaming f
        LEFT JOIN dim_mercado_gaming m ON f.mercado_id = m.mercado_id
        LEFT JOIN dim_fecha d ON f.fecha_id = d.fecha_id
        WHERE m.mercado_id IS NULL OR d.fecha_id IS NULL
    """,
}


def validate_gold_sql(spark: SparkSession, gold: dict[str, DataFrame]) -> dict[str, bool]:
    """Run the reference-shaped SQL integrity suite through spark.sql —
    byte-for-byte the query style the reference uses, Catalyst plans the
    anti-joins identically to the DataFrame validator."""
    register_gold_views(spark, gold)
    return {
        name: bool(spark.sql(sql).collect()[0]["ok"])
        for name, sql in GOLD_SQL_CHECKS.items()
    }
