"""Driver-cheap predicate builders.

``Column.isin(values)`` in classic PySpark makes ONE py4j round-trip per
literal (each value becomes a ``Literal`` via a separate JVM call): a
2,000-term query-workload filter costs ~3s of driver latency before any job
starts (profiled — 8.3k socket round-trips). Building the same ``IN``
predicate as a single SQL expression string ships every literal in one
call and parses to the identical Catalyst ``In`` expression, so parquet
row-group pushdown (``PushedFilters: In(term, …)``, PLANS.md) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sql_safe(v: str) -> bool:
    """True when the single-quoted literal ``'v'`` parses to the same string
    under BOTH parser modes (default and
    ``spark.sql.parser.escapedStringLiterals=true``): anything without a
    quote or backslash. Values outside this set go through ``Column.isin``
    (a py4j call per value, but parser-mode-independent) — real-world term
    workloads are tokenizer output, so the slow path is near-empty."""
    return "'" not in v and "\\" not in v


def _in_sql(column: str, vals: list) -> tuple[str | None, list]:
    """(``col IN (...)`` SQL over the parser-mode-safe values or None when
    there are none, the values that are not safe)."""
    fast, slow = [], []
    for v in vals:
        if isinstance(v, str):
            (fast if _sql_safe(v) else slow).append(v)
        else:
            fast.append(int(v))
    if not fast:
        return None, slow
    lits = ", ".join("'" + v + "'" if isinstance(v, str) else str(v) for v in fast)
    return f"`{column.replace('`', '``')}` IN ({lits})", slow


def isin_expr(column: str, values) -> Column:
    """``col IN (values)`` with (almost) ONE driver->JVM call.

    ``column`` must be a bare column name (backticks are escaped; it is
    embedded in a SQL snippet); parser-mode-safe string values ship in one
    ``F.expr`` string, ints pass through, and values whose escaping depends
    on the parser mode fall back to ``Column.isin``. Empty ``values`` yields
    a constant-false predicate, matching ``isin([])``.
    """
    vals = list(values)
    if not vals:
        return F.lit(False)
    sql, slow = _in_sql(column, vals)
    slow_pred = F.col(column).isin(slow) if slow else None
    if sql is None:
        return slow_pred
    pred = F.expr(sql)
    return (pred | slow_pred) if slow else pred


def isin_where(df: DataFrame, column: str, values) -> DataFrame:
    """``df.where(col IN (values))``: ONE driver->JVM call when every value
    is parser-mode-safe (``DataFrame.where`` takes the SQL string as is,
    while ``F.expr`` costs three), else :func:`isin_expr`."""
    vals = list(values)
    sql, slow = _in_sql(column, vals)
    return df.where(sql if sql is not None and not slow else isin_expr(column, vals))
