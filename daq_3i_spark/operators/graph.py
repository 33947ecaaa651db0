"""Distributed connected components: alternating large-star / small-star.

The two-phase star-contraction algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public paper): each round
rewires every node's neighborhood toward its minimum neighbor, and the
alternation converges in O(log^2 n) rounds REGARDLESS of graph diameter —
the property plain min-label propagation lacks (a depth-d duplicate chain
costs d propagation rounds but only ~log d star rounds).

Both phases are pure DataFrame ops shuffled on the node id:

* large-star: for each node u, connect every strictly-larger neighbor
  v > u to m(u) = min(neighborhood(u) + {u});
* small-star: orient each edge toward its smaller endpoint, then for each
  node u connect its smaller neighbors (and u itself) to their minimum.

Every emitted edge (a, b) keeps a < b, so the edge set stays canonical and
convergence is a star-forest test on each round's output (one aggregate —
see :func:`_is_star_forest`).  At 100 TB each round is two shuffle-on-key
aggregates over the (shrinking) edge list, with the shuffle width derived
from the materialized edge count; lineage is cut per round with
localCheckpoint (reliable checkpoint / Delta on a cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daq_3i_spark.session import isolated, rebind

_MAX_ROUNDS = 25  # >> log^2 of any plausible component count; safety stop


def _large_star(e: DataFrame) -> DataFrame:
    # directed neighborhoods: u -> every neighbor v
    nbrs = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = nbrs.groupBy("u").agg(F.min("v").alias("__mv"))
    m = m.select("u", F.least("__mv", "u").alias("__m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("__m").alias("u"), F.col("v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient toward the smaller endpoint: edges (u, v) with v < u
    down = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # u > v
    m = down.groupBy("u").agg(F.min("v").alias("__m"))
    rewired = (
        down.join(m, "u")
        .select(F.col("__m").alias("u"), F.col("v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edge = m.select(F.col("__m").alias("u"), F.col("u").alias("v")).filter(
        F.col("u") != F.col("v")
    )
    return rewired.unionByName(self_edge).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """True iff the canonical (u < v) edge set is a min-rooted star forest —
    the contraction's terminal state, checked directly on a round's OUTPUT.

    A canonical edge set is a star forest exactly when (a) every node is a
    leaf of at most one edge (each ``v`` distinct) and (b) no center is also
    a leaf (``u`` never appears as a ``v``): each node then has one parent,
    parents are parentless, so components are depth-1 stars, and u < v per
    edge makes each center its component minimum.  Both star phases map such
    a set to itself (large-star: m(center)=center re-emits (center, leaf);
    small-star: each leaf's only smaller neighbor is its center), so this is
    the same fixed point the former new==e set-equality detected — one round
    later, by re-running the pass just to observe no change.  ONE aggregate
    job over the (already contracted, star-list-sized) edge set."""
    occ = e.select(F.col("v").alias("n"), F.lit(1).alias("leaf")).unionByName(
        e.select(F.col("u").alias("n"), F.lit(0).alias("leaf"))
    )
    bad = (
        occ.groupBy("n")
        .agg(F.sum("leaf").alias("nv"), F.count("*").alias("deg"))
        # nv > 1: node is a leaf twice; 0 < nv < deg: node is leaf AND center
        .filter((F.col("nv") > 1) | ((F.col("nv") > 0) & (F.col("nv") < F.col("deg"))))
    )
    return bad.isEmpty()


def star_components(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) edge pairs -> (doc_id, component) with component = the
    minimum doc_id reachable in the undirected graph.

    Isolated nodes never appear in ``pairs`` and so never appear in the
    result — same contract as min-label propagation over the pair graph.
    """
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # scale-adaptive width for the loop's many small shuffles: the edge list
    # is known (just materialized), so size partitions from it instead of
    # inheriting the session constant — ~4M canonical edges (two longs) per
    # partition lands in the guide's 100 MB-1 GB window, the dedup pair
    # graph at toy scale collapses to single-task rounds, and a 100 TB pair
    # graph still fans out past any core count.  The loop runs on a session
    # clone at that width (AQE can narrow a stage, never widen it), so the
    # caller's conf never moves.
    n_edges = e.count()
    width = max(1, n_edges // 4_000_000)
    if n_edges > 1_000_000:
        # non-trivial graph: never run the loop narrower than the cluster
        # (ADVICE r17) — a mid-size graph (say 50M edges on 400 cores) would
        # otherwise contract on a dozen tasks while the cluster idles.  The
        # size-derived width still wins once edges outgrow cores*4M.  Below
        # the threshold the per-task overhead dominates and a single
        # ~100 MB-max task per round is the right shape at ANY cluster size,
        # so toy/bench scales (sf0.1: ~256 edges, sf1: ~3k) are unaffected.
        width = max(width, spark.sparkContext.defaultParallelism)
    converged = False
    with isolated(spark, width) as clone:
        e = rebind(e, clone)
        for _ in range(_MAX_ROUNDS):
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            if _is_star_forest(e):
                converged = True
                break
    e = rebind(e, spark)
    if not converged:
        # a partially-contracted edge list yields WRONG component labels
        # (members of one component split across non-minimal labels) with
        # no other symptom — fail loudly instead (the codec-registry /
        # IVF-guard convention).  O(log^2 n) rounds bounds any real corpus
        # far under _MAX_ROUNDS; hitting this means the input or the
        # contraction is broken, not that the graph is merely large.
        raise RuntimeError(
            f"star_components did not converge in {_MAX_ROUNDS} rounds — "
            "refusing to emit a partially-contracted (wrong) labeling"
        )
    # converged: every edge is (component-min, node)
    members = e.select(F.col("v").alias("doc_id"), F.col("u").alias("component"))
    centers = (
        e.select(F.col("u").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
    )
    return members.unionByName(centers).distinct()
