"""The benchmark's workloads: which registered queries each one runs, on
inputs of which scale, and why.

Query keys are the ``qNN`` prefixes of ``__spark_entry__.queries()``;
every one of them must also have an ``oracle_sql()`` entry.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative",
            0.001,
            ("q38", "q167", "q267"),
            "hand-rolled fixed-point loops (dedup components, graph k-core, Markov "
            "chain) that spend ~80% of a pass and launch ~80% of its jobs while the "
            "DataFrame is built",
        ),
        Workload(
            "ingest",
            0.01,
            ("q06", "q30", "q126", "q150", "q197"),
            "a stateful stream and warehouse snapshot writes that finish while the "
            "DataFrame is built (q126, q150), then a MERGE rewrite and Python/Arrow "
            "UDFs that run in the action (q06, q30, q197)",
        ),
    )
}


def resolve(keys, registry) -> list[str]:
    """Map ``qNN`` keys onto the full registered query names."""
    by_key = {name.split("_", 1)[0]: name for name in registry}
    missing = [k for k in keys if k not in by_key]
    if missing:
        raise KeyError(f"queries not registered: {missing}")
    return [by_key[k] for k in keys]
