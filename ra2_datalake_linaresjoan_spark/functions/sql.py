"""SQL-text quoting shared by the expression builders.

The builders in this package take and return Spark SQL expression text,
so a whole silver or gold stage parses as one ``selectExpr``: a Column
tree built call by call costs one py4j round-trip per node on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def col_ref(name: str) -> str:
    """A column name as a quoted SQL reference."""
    return "`" + name.replace("`", "``") + "`"


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``df.withColumns`` for SQL text, parsed in one ``selectExpr``: each
    column named in ``exprs`` is replaced in place, the other columns pass
    through, and new names are appended in ``exprs`` order."""
    cols = df.columns
    items = [f"{exprs[c]} AS {col_ref(c)}" if c in exprs else col_ref(c) for c in cols]
    items += [f"{e} AS {col_ref(c)}" for c, e in exprs.items() if c not in cols]
    return df.selectExpr(*items)


def sql_str(value: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_strs(values) -> str:
    """Python strings as a comma-separated list of SQL string literals."""
    return ", ".join(sql_str(v) for v in values)


#: The 26 ASCII capitals and their lower-case forms.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_fold(expr: str) -> str:
    """The 26-letter case fold of ``expr`` (``operators.filters._ascii_fold``
    as SQL text): a 1:1 character map, equal to ``lower()`` on ASCII text,
    that never folds non-ASCII into ASCII and, unlike ``lower()``, never
    loads the JVM's Unicode case tables."""
    return f"translate({expr}, '{ASCII_UPPER}', '{ASCII_LOWER}')"
