"""Warehouse validation suite (reference ``validator_warehouse.py:31-248``)
re-expressed over the gold DataFrames.

Checks (same semantics, Spark-native):
- table existence + row counts          (validator_warehouse.py:31-70)
- PK uniqueness per dimension           (:79-105, COUNT(DISTINCT)==COUNT(*))
- referential integrity: anti-join orphan counts must be 0 for both
  bridges and the metrics fact          (:108-162)
- descriptive statistics                (:166-248)

Scale note (SURVEY §7.4.7): each table's checks are batched into a single
multi-aggregate job instead of a count() storm; orphan checks are
left_anti + count (broadcast the dim side).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.operators.filters import finite_pred
from ra2_datalake_linaresjoan_spark.operators.joins import anti_orphans

#: The gold contract, declared once. Each dimension's primary key:
_PK = {
    "dim_fecha": "fecha_id",
    "dim_videojuego": "videojuego_id",
    "dim_serie_gaming": "serie_id",
    "dim_evento_gaming": "evento_id",
    "dim_tag_gaming": "tag_id",
    "dim_mercado_gaming": "mercado_id",
}

#: Each foreign key as (child table, parent dimension, nullable); the key
#: column is the parent's PK. A NULL in a nullable FK is not an orphan
#: (an event outside any series); a NULL anywhere else is.
_FK = (
    ("fact_evento_tag_gaming", "dim_evento_gaming", False),
    ("fact_evento_tag_gaming", "dim_tag_gaming", False),
    ("fact_mercado_evento_gaming", "dim_mercado_gaming", False),
    ("fact_mercado_evento_gaming", "dim_evento_gaming", False),
    ("fact_metricas_gaming", "dim_mercado_gaming", False),
    ("fact_metricas_gaming", "dim_fecha", False),
    ("dim_evento_gaming", "dim_serie_gaming", True),
    ("dim_mercado_gaming", "dim_videojuego", False),
)


def _money_sum(c: str):
    """Exact sum of a money column as per-row ``DECIMAL(20,8)``, the
    reference warehouse type (loader_NeonDB.py:237-243): a double sum's
    last digits follow the row order, a decimal sum does not.  Like
    ``exact_cents``, a non-finite or out-of-range value (|x| >= 1e12
    does not fit) is skipped: under ANSI its cast would raise."""
    ok = finite_pred(c) & (F.abs(F.col(c)) < F.lit(1e12))
    return F.coalesce(F.sum(F.when(ok, F.col(c).cast("decimal(20,8)"))), F.lit(0))


#: Descriptive statistics (validator_warehouse.py:166-248), per table;
#: each rides in that table's count aggregate. Built lazily: a Column
#: needs a running session.
_STATS = {
    "dim_evento_gaming": lambda: {
        "eventos_activos": F.coalesce(F.sum(F.when(F.col("es_activo"), 1).otherwise(0)), F.lit(0)),
        "categorias_distintas": F.countDistinct("categoria"),
    },
    "fact_metricas_gaming": lambda: {
        "volumen_total": _money_sum("volumen_total"),
        "liquidez_total": _money_sum("liquidez_total"),
    },
}


@dataclass
class ValidationReport:
    counts: dict[str, int] = field(default_factory=dict)
    uniqueness: dict[str, bool] = field(default_factory=dict)
    orphans: dict[str, int] = field(default_factory=dict)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(self.uniqueness.values()) and all(
            v == 0 for v in self.orphans.values()
        )


def validate_gold(gold: dict[str, DataFrame]) -> ValidationReport:
    report = ValidationReport()

    # counts, PK uniqueness and statistics: ONE aggregate per table
    for name, df in gold.items():
        pk = _PK.get(name)
        stats = _STATS.get(name, dict)()
        aggs = [F.count(F.lit(1)).alias("n")]
        if pk:
            aggs.append(F.countDistinct(pk).alias("nd"))
        aggs += [expr.alias(stat) for stat, expr in stats.items()]
        row = df.agg(*aggs).collect()[0]
        report.counts[name] = row["n"]
        if pk:
            report.uniqueness[name] = row["n"] == row["nd"]
        for stat in stats:
            report.stats[stat] = float(row[stat])

    # referential integrity: orphan counts (validator_warehouse.py:108-162)
    for child, dim, nullable in _FK:
        key = _PK[dim]
        fact = gold[child]
        if nullable:
            fact = fact.filter(F.col(key).isNotNull())
        report.orphans[f"{child}.{key}"] = anti_orphans(fact, gold[dim], key).count()
    return report
