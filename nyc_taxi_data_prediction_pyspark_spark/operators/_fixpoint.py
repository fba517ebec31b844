"""The fixed-point loop shared by the iterative operators (graph,
clustering, dedup.connected_components and coverage_greedy_selection,
mining's Markov frame loop, windows.haar_energy).

One place owns the per-round state policy:

- **edge frame**: ``(src, dst)`` projection, deduped unless the caller
  guarantees uniqueness, and the ``src ∪ dst`` node set;
- **rounds**: the state is ``localCheckpoint(eager=False)``-ed every
  ``every`` rounds (a constant per operator; 0 = never).  Under AQE a
  lazy checkpoint already runs the round's shuffle stages, so it
  truncates lineage without an extra job; the round's final stage runs
  inside the next round's job.  ``converge`` fuses its convergence test
  (``isEmpty``, one job) into the job that materialises the round, so a
  round costs that job plus the shuffle and broadcast stages of its
  step;
- **finish**: forces the result once and unpersists the setup caches
  handed to it, so repeated calls in a long-lived session do not
  accumulate cached blocks.

Jobs and round tags stay with the caller: nothing here sets a job
group, so an outer tracer keeps its per-query job ledger.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import reduce

from pyspark.sql import DataFrame, functions as F

Step = Callable[[DataFrame], DataFrame]


def edge_frame(
    edges: DataFrame, src: str, dst: str, *, assume_distinct: bool = False
) -> DataFrame:
    """``(src, dst)`` edge rows; the defensive dedup (one |E| shuffle)
    is skipped when the caller built the edges from a distinct frame."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return e if assume_distinct else e.distinct()


def node_set(e: DataFrame, *extra: DataFrame) -> DataFrame:
    """Distinct ``node`` column over ``src ∪ dst`` (∪ any ``extra``
    one-column node frames, e.g. isolated seeds)."""
    ends = [e.select(F.col("src").alias("node")), e.select(F.col("dst").alias("node"))]
    return reduce(DataFrame.union, ends + list(extra)).distinct()


def rounds(state: DataFrame, step: Step, n: int, *, every: int = 1) -> Iterator[DataFrame]:
    """Yield the state after each of ``n`` rounds of ``step``, lazily
    checkpointed after every ``every``-th round."""
    for k in range(1, n + 1):
        state = step(state)
        if every and k % every == 0:
            state = state.localCheckpoint(eager=False)
        yield state


def iterate(state: DataFrame, step: Step, n: int, *, every: int = 1) -> DataFrame:
    """The state after ``n`` rounds (see ``rounds``)."""
    for state in rounds(state, step, n, every=every):
        pass
    return state


def converge(state: DataFrame, step: Step, n: int, *, changed: str) -> DataFrame | None:
    """Run up to ``n`` checkpointed rounds until no row of the round
    has its boolean ``changed`` column set; return that state without
    the column, or None if the bound ran out first.  The ``isEmpty``
    test is the action that materialises the round's checkpoint blocks
    (partitions its early stop leaves unread are filled in by the local
    checkpoint), so each round computes its join once; the test is one
    job where a ``count`` takes two (partial and final aggregate)."""
    for state in rounds(state, step, n):
        if state.where(F.col(changed)).isEmpty():
            return state.drop(changed)
    return None


def finish(out: DataFrame, *caches: DataFrame, force: bool = True) -> DataFrame:
    """Force ``out`` (eager localCheckpoint), then unpersist ``caches``.
    ``force=False`` only releases: valid when, under AQE, every stage
    that reads the caches has already run while ``out`` was built."""
    if force:
        out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out
