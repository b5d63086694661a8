"""Relational operator layer: dedup, filters, joins, aggregates, top-k,
bridge builders (SURVEY.md §2.2-§2.7). Every helper takes and returns
DataFrames/Columns so plans stay lazy and Catalyst-optimizable."""

from ra2_datalake_linaresjoan_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_newest,
    drop_all_null_columns,
)
from ra2_datalake_linaresjoan_spark.operators.filters import (
    keyword_exclude,
    keyword_include,
    non_null_non_blank,
)
from ra2_datalake_linaresjoan_spark.operators.joins import (
    anti_orphans,
    fk_resolve,
)
from ra2_datalake_linaresjoan_spark.operators.topk import top_k, top_k_groups
from ra2_datalake_linaresjoan_spark.operators.bridges import explode_bridge

__all__ = [
    "dedup_exact",
    "dedup_keep_newest",
    "drop_all_null_columns",
    "keyword_exclude",
    "keyword_include",
    "non_null_non_blank",
    "anti_orphans",
    "fk_resolve",
    "top_k",
    "top_k_groups",
    "explode_bridge",
]
