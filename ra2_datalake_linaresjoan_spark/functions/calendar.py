"""Calendar-part derivation (SURVEY.md §2.8 F17).

Mirrors the reference's date dimension build (``loader_NeonDB.py:277-282``),
which uses pandas conventions: day-of-week Monday=0, weekend = dow >= 5,
quarter = (month-1)//3 + 1. Spark's ``dayofweek`` is Sunday=1, so we use
``weekday()`` (Monday=0) for parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ra2_datalake_linaresjoan_spark.functions.sql import col_ref


def calendar_parts(date_col: str, prefix: str = "") -> list[str]:
    """Return the standard calendar-part columns for a date/timestamp
    column, as aliased SQL text (``selectExpr`` items).

    Produces: fecha (date), anio, mes, dia, trimestre, dia_semana (Mon=0),
    es_finde (bool) — the reference's dim_fecha shape
    (loader_NeonDB.py:94-105).
    """
    d = f"to_date({date_col})"
    parts = {
        "fecha": d,
        "anio": f"year({d})",
        "mes": f"month({d})",
        "dia": f"dayofmonth({d})",
        "trimestre": f"quarter({d})",
        "dia_semana": f"weekday({d})",
        "es_finde": f"weekday({d}) >= 5",
    }
    return [f"{e} AS {col_ref(prefix + name)}" for name, e in parts.items()]


def build_date_dim(df: DataFrame, date_col: str) -> DataFrame:
    """Distinct dates of ``date_col`` → date dimension with surrogate key.

    Surrogate ``fecha_id`` is a row_number over date order — deterministic,
    and cheap at dimension scale (dates are tiny even at 100 TB of facts,
    so the single-partition window is fine; facts are never windowed this
    way). Mirrors reference ``_get_or_create_fecha`` (loader_NeonDB.py:266-285)
    without the per-row SELECT/INSERT round-trips.
    """
    # schema-tolerant like star_schema._c: a bronze feed without the date
    # column yields an EMPTY date dim (and empty date-keyed facts), not an
    # UNRESOLVED_COLUMN crash
    src = col_ref(date_col) if date_col in df.columns else "CAST(NULL AS TIMESTAMP)"
    dates = df.selectExpr(f"to_date({src}) AS fecha").where("fecha IS NOT NULL").distinct()
    return dates.selectExpr(
        "row_number() OVER (ORDER BY fecha) AS fecha_id", *calendar_parts("fecha")
    )
