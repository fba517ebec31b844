"""Plan-shape assertions: the engine's 100 TB posture is enforced by
inspecting what Catalyst actually produced, not by trusting the API
calls that requested it.

The reference has no optimizer of its own (SURVEY.md §4) — it relies
on Catalyst implicitly. We make the reliance explicit and testable:
every hot operator has a test asserting its plan shape (pushdown
reached the scan, the dim side broadcast, top-k avoided a global
sort, aggregates produced map-side partials, codegen spans cover the
row pipeline).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates that reached a file scan — the
    evidence that a hive-partitioned probe touches few directories."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)", physical_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached the parquet scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)", physical_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — column pruning evidence."""
    return re.findall(r"ReadSchema: (struct<[^>]*>?)", physical_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_shuffle_join(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "SortMergeJoin" in p or "ShuffledHashJoin" in p


def has_cartesian(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p


def uses_take_ordered(df: DataFrame) -> bool:
    """orderBy+limit compiled to TakeOrderedAndProject (per-partition
    heap), not a global Sort."""
    return "TakeOrderedAndProject" in physical_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine before the exchange."""
    return "partial_" in physical_plan(df)


def codegen_span_count(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen spans ('*(n)' prefixes) —
    fewer spans over the same ops = wider fused pipelines."""
    return len(set(re.findall(r"\*\((\d+)\)", physical_plan(df))))


def window_specs(df: DataFrame) -> list[str]:
    """Argument list of every windowspecdefinition in the physical
    plan — partition columns (if any) precede the ORDER BY columns, so
    an unpartitioned global window is one whose spec starts with an
    ordering expression rather than a plain partition column."""
    return re.findall(r"windowspecdefinition\(([^)]*)", physical_plan(df))


def exchange_count(df: DataFrame) -> int:
    """Shuffle count in the plan — the scale-limiting number."""
    return physical_plan(df).count("Exchange hashpartitioning") + physical_plan(df).count(
        "Exchange rangepartitioning"
    )


# Fingerprint field -> the physical node names it counts.  ``python``
# lists every node that hands rows to a Python worker (the pre-4.0
# names are kept so an older runtime counts the same nodes).
FINGERPRINT_NODES = {
    "exchange": ("Exchange",),
    "bhj": ("BroadcastHashJoin",),
    "smj": ("SortMergeJoin",),
    "bnlj": ("BroadcastNestedLoopJoin",),
    "python": (
        "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
        "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
        "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
        "AggregateInPandas", "ArrowAggregatePython",
        "WindowInPandas", "ArrowWindowPython",
        "FlatMapGroupsInPandasWithState",
        "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
    ),
}

# a tree line's node name: after the ``+- ``/``:- `` indent and an
# optional ``*(n) `` codegen-stage prefix
_NODE_NAME = re.compile(r"^[ :+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def plan_fingerprint(plan: str) -> dict[str, int]:
    """Node counts of an executed-plan text, one per FINGERPRINT_NODES
    field.  Whole node names only: a ``BroadcastExchange`` or a
    ``ReusedExchange`` is not an ``Exchange``."""
    names = Counter(_NODE_NAME.findall(plan))
    return {k: sum(names[n] for n in nodes) for k, nodes in FINGERPRINT_NODES.items()}
