"""Physical-plan inspection — assert the plan you designed is the plan
you got (pushdown, broadcast, partial agg, shuffle count).

These power plan-shape tests: correctness tests prove the answer,
these prove the answer would still arrive at 1000× the data.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted(df)):
        out.extend(x.strip() for x in m.group(1).split(",") if x.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Column sets actually read from each scan (pruning evidence)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple(df)


def num_shuffles(df: DataFrame) -> int:
    return simple(df).count("Exchange hashpartitioning") + \
        simple(df).count("Exchange rangepartitioning")


def has_partial_aggregation(df: DataFrame) -> bool:
    """Map-side combine: HashAggregate appears both before and after
    the exchange (keys=..., functions=[partial_...] then [...])."""
    return "partial_" in simple(df)
