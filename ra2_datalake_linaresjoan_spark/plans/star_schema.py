"""Gold star-schema builder (reference ``loader_NeonDB.py:682-882``).

Builds the 6-dimension + 3-fact gaming star schema as DataFrames:

- dim_fecha            — loader_NeonDB.py:94-105, 266-285
- dim_videojuego       — seeded 13-game catalog, loader_NeonDB.py:109-138
- dim_serie_gaming     — loader_NeonDB.py:141-149, 379-406
- dim_evento_gaming    — loader_NeonDB.py:152-173, 309-377
- dim_tag_gaming       — loader_NeonDB.py:176-182, 431-455
- dim_mercado_gaming   — loader_NeonDB.py:185-203, 555-605
- fact_mercado_evento  — N:N bridge, loader_NeonDB.py:206-216, 457-514
- fact_evento_tag      — N:N bridge, loader_NeonDB.py:219-229, 516-551
- fact_metricas        — metrics fact, loader_NeonDB.py:232-248, 607-652

Scale posture: dims are small → surrogate keys via single-partition
row_number windows are fine; facts never see a global window — FK
resolution is broadcast joins, bridges are explode + plain left-semi
joins (Catalyst and AQE size the key side from file statistics, so no
probe job runs before the write), and the metrics fact joins dim_fecha
by date (broadcast). Known reference bug
(SURVEY §2.11): unknown games fell back to a nonexistent 'Other Gaming'
seed → NULL; the engine falls back to 'Esports General' as documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.functions.calendar import build_date_dim
from ra2_datalake_linaresjoan_spark.functions.json_utils import (
    extract_ids,
    parse_struct_labels,
)
from ra2_datalake_linaresjoan_spark.functions.normalize import clean_string
from ra2_datalake_linaresjoan_spark.functions.sql import (
    col_ref,
    sql_str,
    with_sql_columns,
)
from ra2_datalake_linaresjoan_spark.operators.bridges import explode_bridge

#: Seed game catalog (loader_NeonDB.py:118-132) + engine fallback row.
GAME_CATALOG: list[tuple[str, str, bool]] = [
    ("DOTA", "MOBA", True),
    ("Valorant", "FPS Táctico", True),
    ("CS:GO", "FPS Táctico", True),
    ("League of Legends", "MOBA", True),
    ("Fortnite", "Battle Royale", True),
    ("Overwatch", "Hero Shooter", True),
    ("Apex Legends", "Battle Royale", True),
    ("Call of Duty", "FPS", True),
    ("Rocket League", "Deportes", True),
    ("Hearthstone", "Cartas", True),
    ("StarCraft", "RTS", True),
    ("Rainbow Six", "FPS Táctico", True),
    ("Esports General", "Esports", True),
]


def _c(df: DataFrame, name: str, dtype: str = "string") -> str:
    """Schema-tolerant column access as SQL text: absent columns become
    typed nulls — the Spark analog of the reference's defensive
    ``r.get(col)`` pattern (loader_NeonDB.py passim; bronze schemas are
    whatever the API returned that day, SURVEY §1.3)."""
    return col_ref(name) if name in df.columns else f"CAST(NULL AS {dtype})"


def _flag(df: DataFrame, name: str) -> str:
    """A boolean column, False when absent or NULL."""
    return f"coalesce({_c(df, name, 'boolean')}, false)"


def _with_default(expr: str, default: str) -> str:
    """``expr`` with NULL replaced by the string ``default``."""
    return f"coalesce({expr}, {sql_str(default)})"


def dim_videojuego(spark: SparkSession) -> DataFrame:
    """The seeded catalog as an inline ``VALUES`` table: the optimizer
    sees a ``LocalRelation``, which plans and scans in a fraction of the
    time an RDD-backed ``createDataFrame`` scan takes. Its columns
    (``videojuego_id int, nombre_juego string, genero string, es_esports
    boolean``) are non-nullable, as every literal is."""
    rows = ", ".join(
        f"({i}, '{name}', '{genero}', {str(es).lower()})"
        for i, (name, genero, es) in enumerate(GAME_CATALOG, 1)
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(videojuego_id, nombre_juego, genero, es_esports)"
    )


def dim_serie(series: DataFrame) -> DataFrame:
    return series.filter("id IS NOT NULL").selectExpr(
        "CAST(id AS STRING) AS serie_id",
        f"{clean_string(_c(series, 'slug'), 500)} AS serie_slug",
        f"{clean_string(_c(series, 'title'), 2048)} AS titulo",
        f"{clean_string(_c(series, 'description'), 5000)} AS descripcion",
    )


def _serie_id_of_event(events: DataFrame) -> DataFrame:
    """seriesId wins over the first id inside the embedded series JSON
    (loader_NeonDB.py:327-343)."""
    cols = events.columns
    from_json_id = f"{extract_ids(col_ref('series'))}[0]" if "series" in cols else "NULL"
    explicit = "CAST(seriesId AS STRING)" if "seriesId" in cols else "NULL"
    return with_sql_columns(events, {"_serie_id": f"coalesce({explicit}, {from_json_id})"})


def dim_evento(events: DataFrame, dim_serie_df: DataFrame) -> DataFrame:
    """Event dim with serie FK nulled when the serie doesn't exist
    (loader_NeonDB.py:344-345) — left join instead of a driver-side set."""
    ev = _serie_id_of_event(events).filter("id IS NOT NULL")
    valid = dim_serie_df.selectExpr("serie_id AS _valid_sid").distinct()
    ev = ev.join(F.broadcast(valid), F.expr("_serie_id = _valid_sid"), "left")
    return ev.selectExpr(
        "CAST(id AS STRING) AS evento_id",
        f"{clean_string(_c(ev, 'title'), 2048)} AS titulo",
        f"{clean_string(_c(ev, 'category'), 200)} AS categoria",
        f"{clean_string(_c(ev, 'subcategory'), 200)} AS subcategoria",
        f"{clean_string(_c(ev, 'ticker'), 500)} AS ticker",
        f"{clean_string(_c(ev, 'slug'), 500)} AS slug",
        f"{_flag(ev, 'active')} AS es_activo",
        f"{_flag(ev, 'closed')} AS es_cerrado",
        f"{_flag(ev, 'featured')} AS es_destacado",
        f"{_c(ev, 'creationDate', 'timestamp')} AS fecha_creacion",
        f"{_c(ev, 'startDate', 'timestamp')} AS fecha_inicio",
        f"{_c(ev, 'endDate', 'timestamp')} AS fecha_fin",
        f"{_with_default(clean_string(_c(ev, 'resolutionSource'), 500), 'Sin fuente')} "
        "AS fuente_resolucion",
        "CASE WHEN _valid_sid IS NOT NULL THEN _serie_id END AS serie_id",
    )


def dim_tag(events: DataFrame) -> DataFrame:
    """Distinct tag labels from events' embedded tags (struct or string
    arrays), surrogate key by sorted order (loader_NeonDB.py:431-455:
    sorted insert + SERIAL). Key assignment goes through
    ``surrogate_key`` — a global window at dimension scale, an
    offset-partitioned assignment if the dim ever outgrows it."""
    from ra2_datalake_linaresjoan_spark.operators.surrogate import surrogate_key

    labels = (
        events.selectExpr(f"explode({parse_struct_labels(_c(events, 'tags'))}) AS tag_nombre")
        .where("trim(tag_nombre) != ''")
        .selectExpr("trim(tag_nombre) AS tag_nombre")
        .distinct()
    )
    return surrogate_key(labels, ["tag_nombre"], key_col="tag_id")


def dim_mercado(markets: DataFrame, dim_videojuego_df: DataFrame) -> DataFrame:
    """Market dim with videojuego FK via broadcast lookup; unknown →
    'Esports General' (documented divergence from the reference's
    'Other Gaming' bug)."""
    vj = F.broadcast(dim_videojuego_df.selectExpr("nombre_juego AS _vj_name", "videojuego_id"))
    m = with_sql_columns(
        markets.filter("id IS NOT NULL"),
        {"_game": _with_default(_c(markets, "gaming_type"), "Esports General")},
    )
    m = m.join(vj, F.expr("_game = _vj_name"), "left")
    fallback = dim_videojuego_df.filter("nombre_juego = 'Esports General'").selectExpr(
        "videojuego_id AS _fallback_id"
    )
    m = m.crossJoin(F.broadcast(fallback))
    return m.selectExpr(
        "CAST(id AS STRING) AS mercado_id",
        f"{clean_string(_c(m, 'question'), 2000)} AS pregunta",
        f"{clean_string(_c(m, 'bet_type'), 100)} AS tipo_apuesta",
        "coalesce(videojuego_id, _fallback_id) AS videojuego_id",
        f"{clean_string(_c(m, 'slug'), 500)} AS slug",
        f"{_flag(m, 'active')} AS esta_activo",
        f"{_flag(m, 'closed')} AS esta_cerrado",
        f"{_c(m, 'endDate', 'timestamp')} AS fecha_fin",
        f"substring(to_json({_c(m, 'outcomes_list', 'array<string>')}), 1, 2000) AS outcomes",
        # clean_string (not raw substring, matching dim_serie/dim_evento):
        # '' normalizes to null so the 'Sin fuente' coalesce actually fires
        f"{_with_default(clean_string(_c(m, 'resolutionSource'), 500), 'Sin fuente')} "
        "AS fuente_resolucion",
        f"{_c(m, 'createdAt', 'timestamp')} AS creado_en",
        f"{_c(m, 'updatedAt', 'timestamp')} AS actualizado_en",
    )


def fact_mercado_evento(markets: DataFrame, dim_evento_df: DataFrame, dim_mercado_df: DataFrame) -> DataFrame:
    """Market↔event bridge from markets' embedded events JSON, kept only
    when both FK sides exist (loader_NeonDB.py:457-514)."""
    pairs = explode_bridge(
        markets.selectExpr(
            "CAST(id AS STRING) AS mercado_id", f"{_c(markets, 'events')} AS events"
        ),
        "mercado_id",
        F.expr(extract_ids("events")),
        "evento_id",
    )
    pairs = pairs.join(dim_mercado_df.select("mercado_id"), "mercado_id", "left_semi")
    return pairs.join(dim_evento_df.select("evento_id"), "evento_id", "left_semi")


def fact_evento_tag(events: DataFrame, dim_evento_df: DataFrame, dim_tag_df: DataFrame) -> DataFrame:
    """Event↔tag bridge: explode parsed tag labels, resolve tag_id via
    broadcast join (loader_NeonDB.py:516-551)."""
    pairs = (
        events.selectExpr(
            "CAST(id AS STRING) AS evento_id",
            f"explode({parse_struct_labels(_c(events, 'tags'))}) AS tag_nombre",
        )
        .where("trim(tag_nombre) != ''")
        .selectExpr("evento_id", "trim(tag_nombre) AS tag_nombre")
        .distinct()
    )
    pairs = pairs.join(dim_evento_df.select("evento_id"), "evento_id", "left_semi")
    return pairs.join(F.broadcast(dim_tag_df), "tag_nombre").select("evento_id", "tag_id")


def fact_metricas(markets: DataFrame, dim_fecha_df: DataFrame) -> DataFrame:
    """Metrics fact: one row per market snapshot dated by updatedAt,
    fecha FK via broadcast date join (loader_NeonDB.py:607-652). At scale
    this table is partitioned by fecha (see write_gold).

    INTENTIONAL drop (reference parity): a market whose updatedAt is
    null/unparseable has no date FK and the reference's NOT NULL fecha_id
    insert skips it — the inner join reproduces that; the validator's
    row-count check surfaces the delta when it matters."""
    m = with_sql_columns(
        markets.filter("id IS NOT NULL"),
        {"_fecha": f"to_date({_c(markets, 'updatedAt', 'timestamp')})"},
    )
    fd = F.broadcast(dim_fecha_df.selectExpr("fecha_id", "fecha AS _fecha"))
    metrics = {
        "volume": "volumen_total",
        "liquidity": "liquidez_total",
        "lastTradePrice": "precio_ultimo",
        "bestBid": "mejor_compra",
        "bestAsk": "mejor_venta",
        "spread": "spread",
        "openInterest": "interes_abierto",
    }
    return m.join(fd, "_fecha").selectExpr(
        "CAST(id AS STRING) AS mercado_id",
        "fecha_id",
        *[f"{_c(m, c, 'double')} AS {alias}" for c, alias in metrics.items()],
    )


def build_gold(
    spark: SparkSession,
    markets: DataFrame,
    events: DataFrame,
    series: DataFrame,
) -> dict[str, DataFrame]:
    """Assemble the full star schema from silver-cleaned, gaming-enriched
    inputs. Returns {table_name: DataFrame} in FK-dependency order
    (loader_NeonDB.py:853-865)."""
    d_vj = dim_videojuego(spark)
    d_serie = dim_serie(series)
    d_evento = dim_evento(events, d_serie)
    d_tag = dim_tag(events)
    d_mercado = dim_mercado(markets, d_vj)
    d_fecha = build_date_dim(markets, "updatedAt")
    return {
        "dim_fecha": d_fecha,
        "dim_videojuego": d_vj,
        "dim_serie_gaming": d_serie,
        "dim_evento_gaming": d_evento,
        "dim_tag_gaming": d_tag,
        "dim_mercado_gaming": d_mercado,
        "fact_mercado_evento_gaming": fact_mercado_evento(markets, d_evento, d_mercado),
        "fact_evento_tag_gaming": fact_evento_tag(events, d_evento, d_tag),
        "fact_metricas_gaming": fact_metricas(markets, d_fecha),
    }


def write_gold(gold: dict[str, DataFrame], base_path: str) -> None:
    """Persist the star schema as parquet (Delta when available): facts
    partitioned by their date FK for partition pruning at scale."""
    for name, df in gold.items():
        path = f"{base_path}/{name}"
        if name != "fact_metricas_gaming":
            df.write.mode("overwrite").parquet(path)
            continue
        # an EMPTY partitioned write emits only _SUCCESS (no schema
        # footer anywhere) and the read-back fails with
        # UNABLE_TO_INFER_SCHEMA.  The row count rides on the partitioned
        # write itself (an Observation, as in sources.writers.mirror_table),
        # and only an empty fact is rewritten unpartitioned so its schema
        # survives.
        rows = Observation("fact_metricas_rows")
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).partitionBy("fecha_id").parquet(path)
        if rows.get["n"] == 0:
            df.write.mode("overwrite").parquet(path)
