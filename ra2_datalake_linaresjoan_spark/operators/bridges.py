"""N:N bridge derivation via explode (SURVEY.md §2.3 J8-J10).

The reference builds bridge tables with per-row Python loops over embedded
JSON (loader_NeonDB.py:457-551); here it's ``from_json`` + ``explode`` —
fully distributed, and the downstream FK-validity check is a left-semi
join instead of a driver-side set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_bridge(
    df: DataFrame,
    left_id: str,
    array_col: Column | str,
    right_name: str,
    distinct: bool = True,
) -> DataFrame:
    """(left_id, array<right>) → exploded (left_id, right) pair table.

    ``array_col`` may be a ready array Column or the name of one.
    Mirrors the market↔event / event↔tag bridge builds
    (loader_NeonDB.py:457-514, 516-551; transformer_data.py:668-735).
    """
    arr = F.col(array_col) if isinstance(array_col, str) else array_col
    pairs = df.select(F.col(left_id), F.explode(arr).alias(right_name))
    return pairs.distinct() if distinct else pairs
