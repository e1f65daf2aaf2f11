"""Plan-hygiene assertions: the properties that make a query survive a
100× scale-up are visible in the physical plan — filters reaching the
parquet scan (PushedFilters), projections pruning columns (ReadSchema),
small sides broadcast (BroadcastHashJoin), top-k compiling to
TakeOrderedAndProject rather than a global sort.  Tests assert them so a
regression (a filter that stops pushing down, a broadcast that silently
becomes a shuffle join) fails CI instead of melting a cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # type: ignore[attr-defined]


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(l.strip() for l in formatted_plan(df).splitlines() if "PushedFilters" in l)


def read_schema(df: DataFrame) -> str:
    return "\n".join(l.strip() for l in formatted_plan(df).splitlines() if "ReadSchema" in l)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count — every Exchange is a full network/disk round at scale.
    Counts detail-section node headers only (each node appears once there)."""
    import re

    return sum(
        1 for l in formatted_plan(df).splitlines() if re.match(r"^\(\d+\) Exchange", l)
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)
