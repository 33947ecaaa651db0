"""Materialize-once sub-plans: lazy ``persist()`` with a release hook.

Many registered plans build a sub-frame that feeds two or more consumers
(both sides of an LSH self-join, a deviation frame feeding MAD and the gate
census, a scored corpus feeding a max aggregate and a filter).  Spark has no
cross-DataFrame-reference subtree reuse — without materialization the whole
upstream plan executes once PER CONSUMER, and ReuseExchange rarely fires
because column pruning specializes each branch's scan projection so the
exchanges canonicalize differently.

Earlier rounds marked these frames with ``localCheckpoint(eager=True)``.
That has two costs the lazy cache avoids:

* **jobs at plan-construction time** — building the plan ran every upstream
  stage before any action, and under AQE even ``eager=False`` checkpoints
  materialize their query stages at ``toRdd`` time;
* **no fault tolerance** — localCheckpoint blocks are executor-local and
  lineage is truncated, so one lost executor kills a multi-hour 100 TB run
  mid-query.  A cached frame recomputes evicted/lost partitions from
  lineage.

``shared()`` is the converged convention (the op_graph_pagerank pattern,
VERDICT r9 #3): lazy ``persist()`` so construction fires ZERO multi-stage
jobs (pinned registry-wide by
tests/test_plan_quality_s{0..2}.py::test_construction_is_lazy),
the first action computes the sub-plan exactly once, every later consumer
hits the InMemoryRelation, and AQE may still re-partition joins that feed
the cache (``canChangeCachedPlanOutputPartitioning`` — without it every
downstream shuffle is pinned at the static partition count; measured 67.8 s
vs 7.3 s on PageRank at sf0.1/local[32]).  ``shared()`` sets no conf: the
registry wrapper (plans/registry.py) sets that one once per build, and
``session.get_spark`` sets it for its own sessions.

Eager ``localCheckpoint`` remains correct in exactly two places and is kept
there: inside iterative loops where lineage must be CUT so plans don't grow
per round (operators/graph.py — reliable ``checkpoint()``/Delta on a
cluster), and inside streaming ``foreachBatch`` bodies, which run at
execution time by definition.

Cache lifetime: Spark's CacheManager holds persisted entries until
``unpersist()`` or session end — they are NOT GC-cleaned the way
localCheckpoint RDD blocks are.  Every ``shared()`` frame is therefore
tracked, and ``release_shared()`` drops them all; bench.py calls it after
each query and long-lived sessions should call it between logical jobs.  A
recompute after release (or after memory-pressure eviction) is safe: every
shared sub-plan here is deterministic, or (the ranks.py mid-stamp) its
nondeterministic projection sits above a sort that reproduces the same
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def shared(df: DataFrame) -> DataFrame:
    """Mark a multi-consumer sub-plan: lazy persist, tracked for release."""
    df.persist()
    _LIVE.append(df)
    return df


def release_shared() -> int:
    """Unpersist every tracked shared frame; returns how many were live.

    Call between logical jobs (bench.py: after each query's action), never
    while a query that consumes a shared frame is still executing.
    """
    n = len(_LIVE)
    for df in _LIVE:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _LIVE.clear()
    return n
